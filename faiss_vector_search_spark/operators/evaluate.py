"""Index-quality evaluation — the recall harness an engine owner runs
before trading exactness for scan cost: for a query sample, recall@k
of every ANN/compression tier against the exact flat search.

This is the operational complement of the per-tier recall pytest
gates: the same measurement, packaged as a DataFrame report so a
pipeline can track index quality over corpus drift (re-run per
ingest batch; alert when a tier's recall dips).

Structure: the query sample is small and bounded (documented driver
loop, like BM25's query terms); every per-query search is the tier's
own scan-shaped plan; recall joins are id-set intersections at k·|Q|
rows. Nothing here shuffles the corpus beyond what each tier's
search already does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _hits(tier: str, out: DataFrame, query_id: int, id_col: str) -> DataFrame:
    return out.select(
        F.lit(tier).alias("tier"),
        F.lit(query_id).alias("query_id"),
        F.col(id_col).alias("hit_id"),
    )


def recall_report(
    emb: DataFrame,
    query_ids: tuple = (0, 1, 2),
    k: int = 10,
    nlist: int = 8,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pq_m: int = 8,
    pq_ksub: int = 16,
    pq_iters: int = 3,
    lsh_tables: int = 8,
    lsh_bits: int = 4,
    lsh_multiprobe: int = 2,
    centroids: DataFrame | None = None,
    engine: str = "sql",
    pq_train_sample: int | None = None,
    include_opq: bool = False,
    include_residual: bool = False,
) -> DataFrame:
    """Recall@k per tier, averaged over the query sample.
    ``include_residual=True`` adds the ivfpq_residual rung (FAISS
    IndexIVFPQ's default encoding: codebooks trained on x − c_list,
    search adds the ⟨c_list, q⟩ constant back per probed list).

    Tiers: flat exact (= 1.0 control), ivf, sq8, binary, the PQ
    ladder — pq_adc (compressed-domain ranking), pq_rerank (ADC
    shortlist + exact rescore), ivfpq (probe-pruned ADC: the codes
    filtered to the nprobe probed lists before ranking — the exact
    candidate set ivf.search_persisted reads via partition pruning,
    so its recall measures the persisted tier without a write) — and
    the LSH pair: lsh (home buckets only) vs lsh_multiprobe (same
    index, +``lsh_multiprobe`` bit-flip probes per table), so the
    report shows what the query-side probes buy against the same
    corpus-side index. Output: (tier, recall_at_k).

    ``engine`` routes the model-application stages (coarse
    assignment, PQ encode, and — when ``pq_train_sample`` is set — PQ
    training) through the "sql" fold or "arrow" BLAS implementations;
    the report is a production diagnostic, so run it with the same
    engines the indexes it monitors were built with.
    ``pq_train_sample`` bounds codebook training by id-stride
    (:func:`~faiss_vector_search_spark.operators.pq.pq_train`).

    ``centroids``: pass a persisted index's SAVED coarse quantizer
    (e.g. ``spark.read.parquet(f"{path}/_centroids")``) to report the
    recall that index actually delivers on the current corpus — the
    drift-monitoring deployment, where the corpus has grown past what
    the quantizer was trained on and this report is what trips
    :func:`lifecycle.should_retrain`'s operator into action. Default
    None trains seeded centroids on the corpus as before.

    ``include_opq=True`` adds the OPQ ladder rung (transform.opq_train
    rotation, same pq_m/ksub/iters/train_sample budget): ``opq_adc``
    vs ``pq_adc`` isolates what the eigenvalue-allocated rotation buys
    in the compressed domain, ``opq_rerank`` the two-stage recovery.
    Off by default so pre-r5 rehearsal artifacts stay comparable."""
    from . import binary as binary_mod
    from . import ivf as ivf_mod
    from . import knn as knn_mod
    from . import lsh as lsh_mod
    from . import pq as pq_mod
    from . import sq as sq_mod

    spark = emb.sparkSession
    cents = (
        centroids
        if centroids is not None
        else ivf_mod.seeded_centroids(emb, nlist, id_col=id_col, vec_col=vec_col)
    )
    bounds = sq_mod.sq_train(emb, vec_col=vec_col)
    codes = sq_mod.sq_encode(emb, bounds, id_col=id_col, vec_col=vec_col)
    bcodes = binary_mod.binarize(emb, vec_col=vec_col)
    books = pq_mod.pq_train(
        emb, m=pq_m, ksub=pq_ksub, iters=pq_iters,
        id_col=id_col, vec_col=vec_col,
        train_sample=pq_train_sample,
        # the arrow trainer needs the bounded-sample contract
        engine=engine if pq_train_sample is not None else "sql",
    )
    # cache(): the shared assignment feeds one ivf_search branch per
    # query plus pq_encode; without materialization each union branch
    # re-runs the full-corpus argmin in the single eager collect (only
    # the plan, not the work, was shared). Released with lsh_index.
    assigned = ivf_mod.assign_lists(
        emb, cents, vec_col=vec_col, engine=engine
    ).cache()
    pq_codes = pq_mod.pq_encode(
        assigned, books, id_col=id_col, vec_col=vec_col,
        keep_cols=("list_id",), engine=engine,
    )
    # corpus-side LSH index hashed ONCE and shared by both lsh tiers
    # across every query — the same hoist-the-encoding pattern as the
    # sq/binary/pq codes above. cache(): unlike those codegen encodes
    # this one is a Python-side matmul, and without materialization
    # the shared plan would still re-execute per search (2 tiers ×
    # |sample| times). Report-scoped working set, LRU-evictable.
    lsh_index = lsh_mod.lsh_buckets(
        emb, 64, lsh_tables, lsh_bits, 42, id_col, vec_col
    ).cache()

    res_books = res_codes = None
    if include_residual:
        # residuals from the SAME cached assignment (ivf_residual_frame
        # would re-run the full-corpus argmin); codebooks train on the
        # residual distribution — the FAISS IndexIVFPQ default, worth
        # its own rung because its value tracks quantizer quality
        # (BENCH_BASELINE: +0.19 ADC at 256 bits trained, HALVED seeded)
        resid = pq_mod._residuals(assigned, cents, id_col, vec_col)
        res_books = pq_mod.pq_train(
            resid, m=pq_m, ksub=pq_ksub, iters=pq_iters,
            id_col=id_col, vec_col=vec_col,
            train_sample=pq_train_sample,
            engine=engine if pq_train_sample is not None else "sql",
        )
        res_codes = pq_mod.pq_encode(
            resid, res_books, id_col=id_col, vec_col=vec_col,
            keep_cols=("list_id",), engine=engine,
        )
        res_lut = pq_mod.collect_codebooks(res_books)
        cent_rows = cents.orderBy("cid").collect()
        res_lists = (
            [r["cid"] for r in cent_rows],
            [[float(x) for x in r["cvec"]] for r in cent_rows],
        )

    opq_model = opq_books = opq_codes = None
    if include_opq:
        from . import transform as tf_mod

        opq_model = tf_mod.opq_train(emb, m=pq_m, vec_col=vec_col)
        rotated = tf_mod.opq_apply(
            emb, opq_model, id_col=id_col, vec_col=vec_col, out_col=vec_col
        )
        opq_books = pq_mod.pq_train(
            rotated, m=pq_m, ksub=pq_ksub, iters=pq_iters,
            id_col=id_col, vec_col=vec_col,
            train_sample=pq_train_sample,
            engine=engine if pq_train_sample is not None else "sql",
        )
        opq_codes = pq_mod.pq_encode(
            rotated, opq_books, id_col=id_col, vec_col=vec_col, engine=engine
        )

    frames = []
    exacts = []
    for qid in query_ids:  # bounded sample — documented driver loop
        q = emb.where(F.col(id_col) == qid).select(
            F.col(vec_col).alias("query_vec")
        )
        bq = bcodes.where(F.col(id_col) == qid).select(
            F.col("code").alias("query_code")
        )
        exacts.append(
            _hits("exact", knn_mod.topk(emb, q, k=k, id_col=id_col,
                                        vec_col=vec_col), qid, id_col)
        )
        frames.append(
            _hits("ivf", ivf_mod.ivf_search(
                emb, q, nlist=nlist, nprobe=nprobe, k=k,
                id_col=id_col, vec_col=vec_col, centroids=cents,
                # reuse the one shared corpus assignment instead of
                # re-assigning per query
                assigned=assigned,
            ), qid, id_col)
        )
        frames.append(
            _hits("sq8", sq_mod.sq_topk(codes, bounds, q, k=k,
                                        id_col=id_col), qid, id_col)
        )
        frames.append(
            _hits("binary", binary_mod.hamming_topk(bcodes, bq, k=k,
                                                    id_col=id_col),
                  qid, id_col)
        )
        frames.append(
            _hits("pq_adc", pq_mod.pq_topk_adc(
                pq_codes, books, q, k=k, id_col=id_col,
            ), qid, id_col)
        )
        frames.append(
            _hits("pq_rerank", pq_mod.pq_topk_rerank(
                emb, pq_codes, books, q, k=k,
                id_col=id_col, vec_col=vec_col,
            ), qid, id_col)
        )
        probed = pq_codes.join(
            F.broadcast(ivf_mod.probe_lists(q, cents, nprobe)),
            pq_codes["list_id"] == F.col("probe_cid"),
            "leftsemi",
        )
        frames.append(
            _hits("ivfpq", pq_mod.pq_topk_adc(
                probed, books, q, k=k, id_col=id_col,
            ), qid, id_col)
        )
        if include_residual:
            probed_res = res_codes.join(
                F.broadcast(ivf_mod.probe_lists(q, cents, nprobe)),
                res_codes["list_id"] == F.col("probe_cid"),
                "leftsemi",
            )
            # the persisted search's scorer: one shared LUT across
            # lists, plus each row's <c_list, q>
            score = pq_mod.adc_score(
                knn_mod.query_vector(q), res_lut, res_lists
            )
            frames.append(
                _hits("ivfpq_residual", ivf_mod._topk_scored(
                    probed_res, score, k, id_col
                ), qid, id_col)
            )
        if include_opq:
            from . import transform as tf_mod

            frames.append(
                _hits("opq_adc", pq_mod.pq_topk_adc(
                    opq_codes, opq_books,
                    tf_mod.opq_rotate_query(q, opq_model),
                    k=k, id_col=id_col,
                ), qid, id_col)
            )
            frames.append(
                _hits("opq_rerank", pq_mod.opq_topk_rerank(
                    emb, opq_codes, opq_books, q, opq_model, k=k,
                    id_col=id_col, vec_col=vec_col,
                ), qid, id_col)
            )
        for tier, mp in (("lsh", 0), ("lsh_multiprobe", lsh_multiprobe)):
            frames.append(
                _hits(tier, lsh_mod.ann_lsh_search(
                    emb, q, k=k, n_tables=lsh_tables, n_bits=lsh_bits,
                    multiprobe=mp, id_col=id_col, vec_col=vec_col,
                    corpus_buckets=lsh_index,
                ), qid, id_col)
            )

    import functools

    truth = functools.reduce(DataFrame.unionByName, exacts).select(
        "query_id", "hit_id"
    )
    tiers = functools.reduce(
        DataFrame.unionByName, frames + [e for e in exacts]
    )
    matched = tiers.join(
        truth.withColumn("is_true", F.lit(1)), ["query_id", "hit_id"], "left"
    )
    report = (
        matched.groupBy("tier")
        .agg(
            F.round(
                F.sum(F.coalesce(F.col("is_true"), F.lit(0)))
                / (len(query_ids) * k),
                4,
            ).alias("recall_at_k")
        )
        .orderBy(F.col("recall_at_k").desc(), F.col("tier").asc())
    )
    # Evaluate EAGERLY (the report is one row per tier) so the cached
    # LSH buckets can be released here instead of staying pinned in
    # executor storage for the rest of the session. The caller still
    # gets a DataFrame, just one backed by the collected rows.
    rows = report.collect()
    lsh_index.unpersist()
    assigned.unpersist()
    return spark.createDataFrame(rows, report.schema)


def retrieval_metrics(
    results: DataFrame,
    truth: DataFrame,
    k: int = 10,
    id_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Rank-aware retrieval evaluation — recall@k, MRR, and NDCG@k of
    a ranked result list against a relevant-id set: the search-quality
    harness a retrieval stack runs per release (e.g. lexical BM25
    scored against the dense-cosine truth set, or an ANN tier against
    exact top-k). The metric definitions are the standard public ones
    (Järvelin & Kekäläinen 2002 for NDCG; binary relevance).

    ``results`` carries (id, rank) with rank 1-based; ``truth``
    carries the relevant ids. Both are query-bounded (top-k lists and
    judgment sets), so the whole computation is bounded — and it is a
    UNION + one grouped pass, not a join: result rows tag ``_rel=0``,
    truth rows tag ``_rel=1``, a groupBy(id) collapses both sides to
    one row per id (duplicate judgments and duplicate result rows
    dedupe HERE — contradictory-rank result duplicates collapse to
    ``min(rank)``, so n_hits/recall can never double-count and DCG
    scores each id once at its best rank), and a global aggregate
    reads every metric ingredient — including n_relevant — off that
    one frame. The old left-join form consumed the truth frame TWICE
    (join side + n_relevant count), which planned the entire upstream
    truth engine twice; the union reads each input exactly once.
    IDCG is computed arithmetically from min(|truth|, k) — one
    in-row fold, no ideal-ranking sort. Output: one row —
    (n_relevant, n_hits, recall_at_k, mrr, ndcg_at_k).
    """
    r = results.where(F.col(rank_col) <= k).select(
        F.col(id_col),
        F.col(rank_col).cast("int").alias("_rank"),
        F.lit(0).alias("_rel"),
    )
    t = truth.select(
        F.col(id_col),
        F.lit(None).cast("int").alias("_rank"),
        F.lit(1).alias("_rel"),
    )
    pairs = r.unionByName(t).groupBy(id_col).agg(
        F.min("_rank").alias("_rank"),
        F.max("_rel").alias("_rel"),
    )
    hit = (F.col("_rel") == 1) & F.col("_rank").isNotNull()
    stats = pairs.agg(
        F.sum(
            F.when(hit, F.lit(1.0) / F.log2(F.col("_rank") + 1))
        ).alias("_dcg"),
        F.min(F.when(F.col("_rel") == 1, F.col("_rank"))).alias("_fr"),
        F.count(F.when(hit, F.lit(1))).alias("n_hits"),
        F.count(F.when(F.col("_rel") == 1, F.lit(1))).alias("n_relevant"),
    )
    idcg = F.aggregate(
        F.sequence(F.lit(1), F.least(F.col("n_relevant"), F.lit(k))),
        F.lit(0.0),
        lambda acc, i: acc + F.lit(1.0) / F.log2(i.cast("double") + 1),
    )
    # empty truth (no judgments) is degenerate: every metric reports
    # 0.0 — without the guard, sequence(1, 0) DESCENDS and the fold
    # divides by log2(1) = 0 (Infinity), and recall divides by zero
    empty = F.col("n_relevant") == 0
    return stats.select(
        F.col("n_relevant").cast("bigint").alias("n_relevant"),
        F.col("n_hits").cast("bigint").alias("n_hits"),
        F.when(empty, F.lit(0.0)).otherwise(
            F.round(
                F.col("n_hits") / F.col("n_relevant").cast("double"), 6
            )
        ).alias("recall_at_k"),
        F.round(
            F.coalesce(F.lit(1.0) / F.col("_fr"), F.lit(0.0)), 6
        ).alias("mrr"),
        F.when(empty, F.lit(0.0)).otherwise(
            F.round(F.coalesce(F.col("_dcg"), F.lit(0.0)) / idcg, 6)
        ).alias("ndcg_at_k"),
    )


def retrieval_metrics_by_query(
    results: DataFrame,
    truth: DataFrame,
    k: int = 10,
    query_col: str = "query_tag",
    id_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Suite-level retrieval evaluation — :func:`retrieval_metrics`
    generalized to a JUDGED QUERY SET: per-query recall@k / MRR /
    NDCG@k plus the macro-average row an eval harness actually tracks
    (TREC-style macro averaging: every query weighs the same
    regardless of judgment-set size).

    ``results`` carries (query, id, rank); ``truth`` carries the
    per-query relevant ids. Both are suite-bounded (|Q| top-k lists
    and judgment sets), so the whole computation is bounded — and it
    runs as a UNION + grouped passes, not joins: result rows tag
    ``_rel=0``, truth rows tag ``_rel=1``, one groupBy(query, id)
    collapses both sides (duplicate judgments and duplicate result
    rows dedupe HERE — contradictory-rank result duplicates collapse
    to ``min(rank)``, so n_hits/recall can never double-count and DCG
    scores each id once at its best rank), and a groupBy(query) reads
    every per-query ingredient — including n_relevant — off that one
    frame. The old left-join form consumed the truth frame TWICE
    (join side + per-query n_relevant), which planned the entire
    upstream truth ENGINE twice; and the macro row was a second
    aggregation branch over the per-query frame, duplicating the
    whole tree AGAIN. Here each input is read once: an explicit
    ``repartition(query)`` keys all grouped passes to one exchange
    (hash(query) satisfies every downstream clustering), and the
    macro row rides an in-row explode — each per-query row emits
    itself under its own tag AND under the macro tag, so one final
    2·|Q|-row groupBy yields per-query rows (singleton groups pass
    through exactly) and the macro average, with no second plan
    branch. The rollup key is a (is_macro, query) STRUCT, not the
    bare label: a real query named 'MACRO' stays its own row instead
    of silently merging into the average (r9 ADVICE).

    Determinism: per-query metrics round to 6 dp; the macro row
    accumulates those ROUNDED values as DECIMAL(18,6) (exact sums —
    no float summation-order drift; the singleton groups' decimal
    round-trip is lossless on 6-dp values), casts the exact sum to
    double and divides by the query count, so the macro hash is
    cross-engine stable. Output: one row per JUDGED query (query_tag,
    is_macro=false, n_relevant, n_hits, recall_at_k, mrr, ndcg_at_k)
    + one macro row (query_tag='MACRO', is_macro=true —
    n_relevant/n_hits summed, metrics macro-averaged). ``is_macro``
    exposes the struct key's flag BY VALUE (r10 ADVICE): a real query
    named 'MACRO' is distinguishable from the average row by column,
    never by row order. Result rows for queries absent from the
    judgment set drop, as in the join form.
    """
    r = results.where(F.col(rank_col) <= k).select(
        F.col(query_col), F.col(id_col),
        F.col(rank_col).cast("int").alias("_rank"),
        F.lit(0).alias("_rel"),
    )
    t = truth.select(
        F.col(query_col), F.col(id_col),
        F.lit(None).cast("int").alias("_rank"),
        F.lit(1).alias("_rel"),
    )
    pairs = (
        r.unionByName(t)
        .repartition(query_col)
        .groupBy(query_col, id_col)
        .agg(
            F.min("_rank").alias("_rank"),
            F.max("_rel").alias("_rel"),
        )
    )
    hit = (F.col("_rel") == 1) & F.col("_rank").isNotNull()
    stats = pairs.groupBy(query_col).agg(
        F.sum(
            F.when(hit, F.lit(1.0) / F.log2(F.col("_rank") + 1))
        ).alias("_dcg"),
        F.min(F.when(F.col("_rel") == 1, F.col("_rank"))).alias("_fr"),
        F.count(F.when(hit, F.lit(1))).alias("_nh"),
        F.count(F.when(F.col("_rel") == 1, F.lit(1))).alias("n_relevant"),
    ).where(F.col("n_relevant") > 0)  # unjudged queries drop
    idcg = F.aggregate(
        F.sequence(F.lit(1), F.least(F.col("n_relevant"), F.lit(k))),
        F.lit(0.0),
        lambda acc, i: acc + F.lit(1.0) / F.log2(i.cast("double") + 1),
    )
    per = stats.select(
        F.col(query_col),
        F.col("n_relevant").cast("bigint").alias("n_relevant"),
        F.col("_nh").cast("bigint").alias("n_hits"),
        F.round(
            F.col("_nh") / F.col("n_relevant").cast("double"), 6
        ).alias("recall_at_k"),
        F.round(
            F.coalesce(F.lit(1.0) / F.col("_fr"), F.lit(0.0)), 6
        ).alias("mrr"),
        F.round(
            F.coalesce(F.col("_dcg"), F.lit(0.0)) / idcg, 6
        ).alias("ndcg_at_k"),
    )

    def _macro(c: str):
        return F.round(
            F.sum(F.col(c).cast("decimal(18,6)")).cast("double")
            / F.count("*").cast("double"),
            6,
        ).alias(c)

    # rollup key is (is_macro, query), NOT the bare label: a real
    # query named 'MACRO' stays a distinct per-query row instead of
    # silently merging into the macro-average group (the struct key
    # cannot collide; the label column is only cosmetic output)
    doubled = per.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).alias("_m"), F.col(query_col).alias("_q")
                ),
                F.struct(
                    F.lit(1).alias("_m"), F.lit("MACRO").alias("_q")
                ),
            )
        ).alias("_k"),
        "n_relevant", "n_hits", "recall_at_k", "mrr", "ndcg_at_k",
    )
    return (
        doubled.groupBy("_k")
        .agg(
            F.sum("n_relevant").cast("bigint").alias("n_relevant"),
            F.sum("n_hits").cast("bigint").alias("n_hits"),
            _macro("recall_at_k"),
            _macro("mrr"),
            _macro("ndcg_at_k"),
        )
        .orderBy(F.col("_k._q").asc(), F.col("_k._m").asc())
        .select(
            F.col("_k._q").alias(query_col),
            # the struct key's macro flag, exposed BY VALUE (r10
            # ADVICE): without it a real query tagged 'MACRO' and the
            # macro-average row are distinguishable only by row order,
            # which no sink guarantees
            (F.col("_k._m") == 1).alias("is_macro"),
            "n_relevant", "n_hits", "recall_at_k", "mrr", "ndcg_at_k",
        )
    )


def embedding_drift_report(
    emb_a: DataFrame,
    emb_b: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-dimension distribution-shift report between two embedding
    populations (old snapshot vs new ingest, domain A vs domain B):
    the monitoring statistic that catches encoder regressions, corpus
    drift, and normalization bugs before they show up as recall decay
    (the quantitative companion of :func:`lifecycle.should_retrain`,
    which only watches row counts).

    Output: one row per dimension — mean_a, mean_b, and abs_shift =
    |mean_a − mean_b| — ranked by shift. A healthy re-ingest shifts
    every dim ~0; a drifted encoder or an unnormalized batch lights up
    specific dims (which is why the report is per-dim, not one cosine
    of the global means).

    Plan: one posexplode per side (the corpus moves once, as (dim, x)
    pairs), tagged union, ONE map-side-combinable groupBy(dim).
    Component sums are carried as DECIMAL so addition is exact and
    order-independent — double accumulation would make the report
    nondeterministic under partition races (the lm.py discipline).
    """
    def side(df, g):
        return df.select(
            F.posexplode(F.col(vec_col)).alias("dim", "_x")
        ).select(
            "dim",
            F.lit(g).alias("_g"),
            F.col("_x").cast("decimal(18,9)").alias("_xd"),
        )

    both = side(emb_a, 0).unionByName(side(emb_b, 1))
    agg = both.groupBy("dim").agg(
        F.sum(F.when(F.col("_g") == 0, F.col("_xd"))).alias("_sa"),
        F.count(F.when(F.col("_g") == 0, F.lit(1))).alias("_na"),
        F.sum(F.when(F.col("_g") == 1, F.col("_xd"))).alias("_sb"),
        F.count(F.when(F.col("_g") == 1, F.lit(1))).alias("_nb"),
    )
    mean_a = F.round(F.col("_sa").cast("double") / F.col("_na"), 6)
    mean_b = F.round(F.col("_sb").cast("double") / F.col("_nb"), 6)
    return (
        agg.select(
            F.col("dim").cast("int").alias("dim"),
            mean_a.alias("mean_a"),
            mean_b.alias("mean_b"),
            F.round(F.abs(mean_a - mean_b), 6).alias("abs_shift"),
        )
        .orderBy(F.col("abs_shift").desc(), F.col("dim").asc())
    )


def nprobe_for_recall(
    emb: DataFrame,
    target: float = 0.9,
    query_ids: tuple = (0, 1, 2),
    k: int = 10,
    nlist: int = 8,
    nprobe_grid: tuple | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    engine: str = "sql",
) -> dict:
    """Walk the IVF nprobe dial upward until measured recall@k over
    the query sample reaches ``target``; recommend the smallest such
    setting. The operational answer to "what do I set nprobe to?" —
    the r4 rehearsal showed the dial behaves per theory
    (0.375→0.80 at 13→64 probes on the worst-case corpus), so the
    right setting is corpus-dependent and should be MEASURED, not
    guessed.

    Cost posture: exact truth and the corpus→list assignment are each
    computed ONCE (assignment cached, released on return); every grid
    step only re-ranks the probed subset, so stepping the dial costs a
    pruned scan, not an index rebuild. Grid defaults to powers of two
    up to nlist; the walk early-stops at the first point meeting
    ``target`` (recall is monotone in nprobe up to per-point sampling
    noise — nprobe=nlist scans every list and equals the exact
    control, so a reachable target always terminates).

    Returns ``{"nprobe": int | None, "recall": float, "curve":
    {nprobe: recall}, "nlist": int, "target": float}`` — ``nprobe``
    is None when even nlist misses the target (only possible for
    target > 1.0 - sampling noise at small k·|Q|).
    """
    from . import ivf as ivf_mod
    from . import knn as knn_mod

    if nprobe_grid is None:
        g, p = [], 1
        while p < nlist:
            g.append(p)
            p *= 2
        nprobe_grid = tuple(g + [nlist])
    cents = (
        centroids
        if centroids is not None
        else ivf_mod.seeded_centroids(emb, nlist, id_col=id_col, vec_col=vec_col)
    )
    assigned = ivf_mod.assign_lists(
        emb, cents, vec_col=vec_col, engine=engine
    ).cache()
    queries = [
        (qid, emb.where(F.col(id_col) == qid).select(
            F.col(vec_col).alias("query_vec")))
        for qid in query_ids
    ]
    truth = {
        qid: {r[0] for r in knn_mod.topk(
            emb, q, k=k, id_col=id_col, vec_col=vec_col
        ).select(id_col).collect()}
        for qid, q in queries
    }
    try:
        curve: dict[int, float] = {}
        for nprobe in nprobe_grid:
            hit = 0
            for qid, q in queries:
                got = {r[0] for r in ivf_mod.ivf_search(
                    emb, q, nlist=nlist, nprobe=nprobe, k=k,
                    id_col=id_col, vec_col=vec_col,
                    centroids=cents, assigned=assigned,
                ).select(id_col).collect()}
                hit += len(got & truth[qid])
            recall = round(hit / (len(query_ids) * k), 4)
            curve[nprobe] = recall
            if recall >= target:
                return {"nprobe": nprobe, "recall": recall,
                        "curve": curve, "nlist": nlist, "target": target}
        return {"nprobe": None, "recall": max(curve.values()),
                "curve": curve, "nlist": nlist, "target": target}
    finally:
        assigned.unpersist()
