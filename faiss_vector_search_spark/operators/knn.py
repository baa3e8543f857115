"""Brute-force kNN search — the Spark re-expression of FAISS flat
indexes (reference components/core/index_service.py:84-98, 205-235 and
components/core/search_service.py:41-184, 246-349).

Design for scale
----------------
The corpus never shuffles. Queries (one row or a small set) are
broadcast; scoring is a map over corpus partitions inside whole-stage
codegen; ``ORDER BY score LIMIT k`` compiles to TakeOrderedAndProject —
each partition keeps its local top-k and only ``k × numPartitions``
rows reach the driver-side merge. That is exactly the plan you want on
a 1000-executor scan of 100 TB of vectors.

Scores are rounded to 6 decimals *before* ranking so that top-k
boundary ties resolve identically in Spark and the DuckDB oracle
(tie-break: ascending id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import vector as V

SCORE_DECIMALS = 6


def _score_col(metric: str, a, b):
    if metric == "ip":
        return V.ip_score(a, b)
    if metric == "l2":
        return V.l2_score(a, b)
    if metric == "cosine":
        return V.cosine(a, b)
    raise ValueError(f"unknown metric: {metric}")


def query_vector(query: DataFrame, query_vec_col: str = "query_vec"):
    """The vector of a one-row query frame, collected once, for a
    scorer that takes the query as a literal; None when the frame has
    no row. More rows raise: a single-query scorer would pool them."""
    rows = query.select(query_vec_col).collect()
    if len(rows) > 1:
        raise ValueError(
            "a single-query search takes exactly one query row; use "
            "knn.topk_join or ivf.ivf_search_persisted_batch for several"
        )
    return [float(x) for x in rows[0][0]] if rows else None


def score_corpus(
    corpus: DataFrame,
    query: DataFrame,
    metric: str = "ip",
    vec_col: str = "embedding",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Cross the (broadcast) single-row query onto the corpus and score.

    Returns corpus columns + ``score`` (rounded). ``query`` must have
    exactly one row; pulling the query from a table keeps the whole
    plan declarative (no collect round-trip).
    """
    q = F.broadcast(query.select(F.col(query_vec_col)))
    scored = corpus.crossJoin(q).withColumn(
        "score",
        F.round(_score_col(metric, F.col(vec_col), F.col(query_vec_col)), SCORE_DECIMALS),
    )
    return scored.drop(query_vec_col)


def topk(
    corpus: DataFrame,
    query: DataFrame,
    k: int = 10,
    metric: str = "ip",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float | None = None,
) -> DataFrame:
    """FAISS ``index.search`` + optional fixed similarity threshold
    (reference search_service.py:300-302).

    The threshold filter sits *below* the top-k so Catalyst evaluates
    it during the scan — fewer rows ever enter the ordering.
    """
    scored = score_corpus(corpus, query, metric=metric, vec_col=vec_col)
    if threshold is not None:
        scored = scored.where(F.col("score") >= threshold)
    return (
        scored.select(id_col, "score")
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def range_search(
    corpus: DataFrame,
    query: DataFrame,
    radius: float,
    metric: str = "ip",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """FAISS ``index.range_search``: every corpus vector scoring at or
    above ``radius`` — unbounded result size, no top-k cap (the FAISS
    API the reference's fixed-threshold search is built on).

    Pure scan shape: broadcast query, map-side score, filter — no
    shuffle, no ordering, no driver merge. At 100 TB this is the one
    search variant that is purely embarrassingly parallel end to end
    (output size is data-dependent, so callers stream/write it rather
    than collect)."""
    scored = score_corpus(corpus, query, metric=metric, vec_col=vec_col)
    return scored.where(F.col("score") >= radius).select(id_col, "score")


def topk_join(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    metric: str = "ip",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Batch retrieval: per-query top-k for a broadcastable query set
    (reference components2/faiss_retriever.py:82-192 serves queries one
    at a time; at scale you fan them out in one pass).

    Broadcast-nested-loop of Q queries × N corpus rows, then a window
    ranked per query. The corpus-side shuffle is on ``query_id`` after
    scoring — at 100 TB you cap Q per pass so Q×N stays scan-bound.
    """
    q = F.broadcast(queries.select(query_id_col, query_vec_col))
    scored = corpus.crossJoin(q).select(
        F.col(query_id_col),
        F.col(id_col),
        F.round(
            _score_col(metric, F.col(vec_col), F.col(query_vec_col)), SCORE_DECIMALS
        ).alias("score"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "score", "rank")
    )


def knn_classify(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    metric: str = "ip",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    weighted: bool = False,
    engine: str = "two_phase",
) -> DataFrame:
    """k-NN majority-vote classification over the embedding corpus —
    the label-propagation primitive behind weak labeling, data-mix
    tagging, and quality-transfer from a small labeled seed to a
    100 TB unlabeled pool.

    Neighbor selection runs TWO-PHASE by default (the
    :func:`topk_join_two_phase` shape): each scan partition keeps its
    local top-k per query — with the self-exclusion predicate applied
    INSIDE the local phase — so only k×partitions×|Q| survivor rows
    reach the per-query rank window, never a corpus-sized stream into
    one window partition. ``engine='window'`` keeps the single-phase
    broadcast-crossJoin + window form (the equality gate's foil and
    the shape the DuckDB oracle mirrors). Either way the vote rollup
    then runs on bounded (query × label) triples. Prediction
    = most votes, ties to the smaller label (deterministic);
    ``confidence`` = votes / actual-neighbor-count — divided by the
    neighbors that EXIST for the query (≤ k), not the constant k, so
    a unanimous vote on a small corpus reads 1.0 instead of
    understating. Only (query, label, votes) triples — never vectors —
    reach the second aggregation.

    ``weighted=True`` is the standard distance-weighted refinement:
    each neighbor votes with its similarity SCORE instead of 1 —
    closer neighbors dominate, which matters exactly when the label
    boundary falls inside the k-neighborhood. A neighbor's weight is
    ``greatest(score, 0)``: similarity weights are only well-defined
    non-negative (with metric='ip' on unnormalized vectors a raw
    score can be negative, which would make weight/total-weight fall
    outside [0, 1] or divide by a zero/negative total), so
    anti-correlated neighbors contribute zero weight — they still
    COUNT in ``votes``, they just can't subtract mass. The per-label
    weights accumulate as DECIMAL(18,6) over the already-rounded
    scores (exact — no float summation-order drift, so the hash gate
    holds), the output adds a ``weight`` column, and ``confidence``
    becomes weight / total-weight — NULL in the degenerate all-zero-
    weight neighborhood (no signal to apportion) rather than 0/0.
    Ties break on weight then the smaller label (the decimal weight
    makes the tie-break exact too).
    """
    if engine == "two_phase":
        pool = _two_phase_survivors(
            corpus, queries, k, metric, id_col, vec_col,
            query_id_col, query_vec_col,
            exclude_self=True, carry_label=True, label_col=label_col,
        )
    elif engine == "window":
        q = F.broadcast(queries.select(query_id_col, query_vec_col))
        pool = (
            corpus.crossJoin(q)
            .where(F.col(id_col) != F.col(query_id_col))
            .select(
                F.col(query_id_col),
                F.col(id_col),
                F.col(label_col),
                F.round(
                    _score_col(metric, F.col(vec_col), F.col(query_vec_col)),
                    SCORE_DECIMALS,
                ).alias("score"),
            )
        )
    else:
        raise ValueError(f"unknown engine: {engine}")
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    neighbors = pool.withColumn("_r", F.row_number().over(w)).where(
        F.col("_r") <= k
    )
    return _classify_votes(neighbors, weighted, query_id_col, label_col)


def _classify_votes(
    neighbors: DataFrame,
    weighted: bool,
    query_id_col: str,
    label_col: str,
) -> DataFrame:
    """The vote rollup shared by every k-NN classification surface:
    ``neighbors`` carries (query, label, score) rows — at most k per
    query, produced by whichever neighbor engine (two-phase flat,
    single-phase window, persisted-IVF probe) — and only bounded
    (query × label) triples ever reach the second aggregation."""
    nw = Window.partitionBy(query_id_col)
    if weighted:
        votes = neighbors.groupBy(query_id_col, label_col).agg(
            F.count("*").cast("bigint").alias("votes"),
            F.sum(
                F.greatest(F.col("score"), F.lit(0.0)).cast("decimal(18,6)")
            ).alias("_w"),
        )
        vw = Window.partitionBy(query_id_col).orderBy(
            F.col("_w").desc(), F.col(label_col).asc()
        )
        return (
            votes.withColumn("_tw", F.sum("_w").over(nw))
            .withColumn("_vr", F.row_number().over(vw))
            .where(F.col("_vr") == 1)
            .select(
                F.col(query_id_col),
                F.col(label_col).alias("pred_label"),
                F.col("votes"),
                F.round(F.col("_w").cast("double"), 6).alias("weight"),
                F.round(
                    F.col("_w").cast("double")
                    / F.nullif(F.col("_tw"), F.lit(0).cast("decimal(18,6)"))
                    .cast("double"),
                    6,
                ).alias("confidence"),
            )
        )
    votes = neighbors.groupBy(query_id_col, label_col).agg(
        F.count("*").cast("bigint").alias("votes")
    )
    vw = Window.partitionBy(query_id_col).orderBy(
        F.col("votes").desc(), F.col(label_col).asc()
    )
    return (
        votes.withColumn("_n", F.sum("votes").over(nw))
        .withColumn("_vr", F.row_number().over(vw))
        .where(F.col("_vr") == 1)
        .select(
            F.col(query_id_col),
            F.col(label_col).alias("pred_label"),
            F.col("votes"),
            F.round(F.col("votes") / F.col("_n").cast("double"), 6)
            .alias("confidence"),
        )
    )


def knn_classify_persisted(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    metric: str = "ip",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    weighted: bool = False,
) -> DataFrame:
    """k-NN classification served from a PERSISTED IVF index
    (ivf.save_ivf layout) — the label-propagation path a 100 TB
    labeled pool actually runs: neighbor candidates come from
    :func:`ivf.ivf_search_persisted_batch` (all queries share ONE
    partition-pruned scan reading nprobe/nlist of the index files),
    labels ride a second column-pruned (id, label) scan that
    broadcast-joins the bounded candidate list, and the vote rollup
    is byte-identical to :func:`knn_classify`'s
    (:func:`_classify_votes`).

    Self-exclusion stays exact: the probe fetches k+1 candidates,
    drops rows whose id equals the query id, and re-ranks the
    bounded remainder — if the query row was in the top k+1 the
    remaining k are exactly the best non-self rows, and if it wasn't,
    the global top-k already contains no self row. With
    ``nprobe == nlist`` the prediction therefore equals the exact
    :func:`knn_classify` (pytest-gated); at lower nprobe it is the
    standard IVF approximation, dialed by the same recall machinery
    as every other persisted surface (lifecycle.index_health_report).
    """
    from . import ivf as ivf_mod

    # the label scan prunes to the SAME probed lists as the candidate
    # scan (every candidate id lives in a probed list by construction),
    # so both scans read nprobe/nlist of the index files — and the
    # probe union is computed ONCE, inside the batch search
    cand, probed = ivf_mod.ivf_search_persisted_batch_probed(
        spark, path, queries, nprobe=nprobe, k=k + 1, metric=metric,
        id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col, query_vec_col=query_vec_col,
    )
    labels = ivf_mod._scan_lists(spark, path, probed).select(id_col, label_col)
    pool = labels.join(F.broadcast(cand), id_col).where(
        F.col(id_col) != F.col(query_id_col)
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    neighbors = (
        pool.withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") <= k)
        .select(query_id_col, label_col, "score")
    )
    return _classify_votes(neighbors, weighted, query_id_col, label_col)


def hard_negatives_persisted(
    spark,
    path: str,
    anchors: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    pool_mult: int = 4,
    metric: str = "ip",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    query_label_col: str = "query_label",
) -> DataFrame:
    """Hard-negative mining served from a PERSISTED IVF index — the
    FAISS-mined-negatives recipe every contrastive training pipeline
    actually runs at scale: probe the index for a candidate POOL of
    ``k × pool_mult`` per anchor (one partition-pruned scan shared by
    all anchors), attach labels from the same probed lists, drop
    same-label rows, re-rank the bounded remainder, keep k.

    The label predicate applies AFTER the probe (the index orders by
    similarity only), so the pool multiplier is the knob that absorbs
    same-label crowding — with ``nprobe == nlist`` and a pool deep
    enough to cover the crowd, the result equals the exact
    :func:`hard_negatives` (pytest-gated); production dials both like
    any ANN recall trade. The anchor row shares its own label, so it
    can never survive as its own negative.
    """
    from . import ivf as ivf_mod

    # label scan pruned to the probed lists, like knn_classify_persisted
    # (every candidate id lives in a probed list, so the prune changes
    # bytes read, never rows joined); one shared probe job
    cand, probed = ivf_mod.ivf_search_persisted_batch_probed(
        spark, path, anchors, nprobe=nprobe, k=k * pool_mult,
        metric=metric, id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col, query_vec_col=query_vec_col,
    )
    labels = ivf_mod._scan_lists(spark, path, probed).select(id_col, label_col)
    alab = F.broadcast(
        anchors.select(
            F.col(query_id_col),
            F.col(query_label_col).alias("_qlab"),
        )
    )
    pool = (
        labels.join(F.broadcast(cand), id_col)
        .join(alab, query_id_col)
        .where(F.col(label_col) != F.col("_qlab"))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        pool.withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") <= k)
        .select(
            query_id_col, id_col, "score",
            F.col("_r").cast("int").alias("rank"),
        )
    )


def training_triplets_persisted(
    spark,
    path: str,
    anchors: DataFrame,
    nprobe: int = 4,
    pool: int = 20,
    metric: str = "ip",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    query_label_col: str = "query_label",
) -> DataFrame:
    """(anchor, hardest positive, hardest negative) triplets mined
    from the PERSISTED IVF index — :func:`training_triplets` at
    serving scale: one partition-pruned probe fetches a ``pool`` of
    candidates per anchor (both labels mixed, the index orders by
    similarity only), labels attach from the same scan path, the
    anchor row drops, each (anchor, side) re-ranks its bounded slice
    and keeps its winner, and the conditional aggregation folds the
    margin exactly like the exact miner.

    Approximation surface = the probe (nprobe) and the pool depth (a
    side whose best row is crowded past ``pool`` needs a deeper pool
    — same dial as :func:`hard_negatives_persisted`); with full probe
    and a corpus-deep pool the output equals the exact miner
    (pytest-gated). Anchors missing a side in the pool surface as
    NULL pos/neg rather than silently dropping the anchor.
    """
    from . import ivf as ivf_mod

    # label scan pruned to the probed lists, like knn_classify_persisted;
    # one shared probe job
    cand, probed = ivf_mod.ivf_search_persisted_batch_probed(
        spark, path, anchors, nprobe=nprobe, k=pool, metric=metric,
        id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col, query_vec_col=query_vec_col,
    )
    labels = ivf_mod._scan_lists(spark, path, probed).select(id_col, label_col)
    alab = F.broadcast(
        anchors.select(
            F.col(query_id_col), F.col(query_label_col).alias("_qlab")
        )
    )
    pooled = (
        labels.join(F.broadcast(cand), id_col)
        .join(alab, query_id_col)
        .where(F.col(id_col) != F.col(query_id_col))
        .select(
            F.col(query_id_col),
            F.col(id_col),
            F.when(F.col(label_col) == F.col("_qlab"), F.lit("pos"))
            .otherwise(F.lit("neg"))
            .alias("side"),
            F.col("score"),
        )
    )
    w = Window.partitionBy(query_id_col, "side").orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    best = pooled.withColumn("rk", F.row_number().over(w)).where(
        F.col("rk") == 1
    )
    return (
        best.groupBy(query_id_col)
        .agg(
            F.max(F.when(F.col("side") == "pos", F.col(id_col))).alias("pos_id"),
            F.max(F.when(F.col("side") == "pos", F.col("score"))).alias("pos_score"),
            F.max(F.when(F.col("side") == "neg", F.col(id_col))).alias("neg_id"),
            F.max(F.when(F.col("side") == "neg", F.col("score"))).alias("neg_score"),
        )
        .select(
            query_id_col,
            "pos_id",
            "pos_score",
            "neg_id",
            "neg_score",
            F.round(F.col("pos_score") - F.col("neg_score"), SCORE_DECIMALS)
            .alias("margin"),
        )
    )


def _threshold_grid(
    corpus: DataFrame,
    query: DataFrame,
    k: int,
    step: float,
    metric: str,
    id_col: str,
    vec_col: str,
    initial_threshold: float,
) -> DataFrame:
    """ONE row shared by the dynamic search and the progression report:
    ``cand`` = the top-k candidates as array<struct<id, score>>, and
    ``grid`` = array<struct<hits, t>> with t = i·step for i·step ≤
    initial_threshold (in double, matching the oracle) and hits = the
    candidates scoring ≥ t. The candidate plan runs once; the hit
    counts and the final filter are array functions on that row."""
    n_steps = int(round(1.0 / step))
    cand = topk(corpus, query, k=k, metric=metric, id_col=id_col, vec_col=vec_col)
    ts = F.filter(
        F.transform(
            F.sequence(F.lit(0), F.lit(n_steps)),
            lambda i: i / F.lit(float(n_steps)),
        ),
        lambda t: t <= initial_threshold,
    )
    return cand.agg(
        F.collect_list(F.struct(id_col, "score")).alias("cand")
    ).select(
        "cand",
        F.transform(
            ts,
            lambda t: F.struct(
                F.size(F.filter("cand", lambda c: c["score"] >= t))
                .cast("long").alias("hits"),
                t.alias("t"),
            ),
        ).alias("grid"),
    )


def dynamic_threshold_search(
    corpus: DataFrame,
    query: DataFrame,
    k: int = 20,
    hit_target: int = 3,
    step: float = 0.05,
    metric: str = "ip",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    initial_threshold: float = 1.0,
    min_threshold: float = 0.0,
) -> DataFrame:
    """Set-based re-expression of the reference's iterative
    dynamic-threshold search (search_service.py:41-184; the retrieval
    orchestrator bounds the walk with min/max thresholds,
    dynamic_retriever.py:29-160).

    Reference semantics: take the top-k candidates, then walk the
    threshold down from ``initial_threshold`` by ``step`` — never
    below ``min_threshold`` — stop at the first threshold with ≥
    ``hit_target`` hits, else keep the highest threshold that
    maximized hits. Return the candidates at that final threshold.

    The loop is data-independent given the candidate scores, so ONE
    pass computes it: gather the k candidates into one row, count hits
    per grid threshold, pick the final threshold, keep the survivors.
    No iteration, no repeated scans — O(k × grid) work after the
    single corpus scan that produced the candidates.
    """
    row = _threshold_grid(
        corpus, query, k, step, metric, id_col, vec_col, initial_threshold
    )
    # a threshold no candidate reaches is never the final one
    tried = F.filter(
        "grid", lambda g: (g["hits"] > 0) & (g["t"] >= min_threshold)
    )
    # Final threshold: highest t reaching the target, else the highest
    # t among those with maximal hits (reference keeps the FIRST best
    # while walking DOWN, i.e. the highest such t).
    final_t = F.coalesce(
        F.array_max(
            F.transform(
                F.filter(tried, lambda g: g["hits"] >= hit_target),
                lambda g: g["t"],
            )
        ),
        F.array_max(tried)["t"],
    )
    return (
        row.withColumn("final_t", final_t)
        .select(
            F.inline(F.filter("cand", lambda c: c["score"] >= F.col("final_t"))),
            F.round(F.col("final_t"), SCORE_DECIMALS).alias("final_threshold"),
        )
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
    )


def topk_join_two_phase(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    metric: str = "ip",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Scale variant of :func:`topk_join` (same output contract).

    Phase 1: each scan partition computes its local top-k per query
    with one Arrow-batched numpy matmul — no shuffle, the corpus never
    leaves its partition. Phase 2: the per-query window ranks only the
    ``k × numPartitions`` survivors. The single-phase version shuffles
    all N×Q scored rows into the window; this shuffles k×P×Q.

    Ties resolve exactly like the single-phase path: scores rounded to
    6dp *before* selection, boundary ties to the lowest id.
    """
    survivors = _two_phase_survivors(
        corpus, queries, k, metric, id_col, vec_col,
        query_id_col, query_vec_col,
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        survivors.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "score", "rank")
    )


def _two_phase_survivors(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    metric: str,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
    exclude_self: bool = False,
    carry_label: bool = False,
    label_col: str = "label",
    query_label_col: str = "query_label",
    label_mode: str | None = None,
) -> DataFrame:
    """Phase 1 of every two-phase per-query top-k in this module: each
    scan partition computes its LOCAL top-k per query (per (query,
    side) when ``label_mode='split_side'``) with one Arrow-batched
    numpy matmul — the corpus never shuffles; only ``k × partitions ×
    |Q|`` survivor triples leave the scan for the global rank window.

    Selection predicates apply BEFORE the local top-k, which is what
    makes the composition exact (top-k over a union of per-partition
    top-k's of the VALID rows == global top-k of the valid rows):

    - ``exclude_self``: drop corpus rows whose id equals the query id
      (classification / positive mining never matches the query row);
    - ``label_mode='exclude_same'``: drop rows sharing the query's
      label (hard-negative mining);
    - ``label_mode='split_side'``: keep top-k per (query, SIDE) where
      side = 'pos' when labels match else 'neg' (triplet mining) — a
      ``side`` column is appended to the survivors;
    - ``carry_label``: pass the corpus label through (majority vote).

    Ties resolve exactly like the single-phase windows: scores round
    to 6dp before selection, boundary ties to the lowest id
    (np.lexsort over (id asc, score desc) == the window's ORDER BY).
    Ids and labels may be any orderable type — numeric ids ride numpy
    dtypes, string ids ride object arrays (both schemas derive from
    the input frames, and .item() unboxing guards on dtype); |Q| is
    driver-bounded like every query-side structure.
    """
    import numpy as np
    import pandas as pd

    need_qlabel = label_mode in ("exclude_same", "split_side")
    qcols = [query_id_col, query_vec_col] + (
        [query_label_col] if need_qlabel else []
    )
    qrows = queries.select(*qcols).collect()
    qids = [r[0] for r in qrows]
    qlabels = [r[2] for r in qrows] if need_qlabel else None

    in_cols = [id_col, vec_col] + ([label_col] if (carry_label or need_qlabel) else [])
    id_type = dict(corpus.dtypes)[id_col]
    # query-id type derives from the QUERY frame's schema, like the
    # corpus id's — pinning it to bigint broke string-keyed query sets
    # at runtime (the ids rode through collect() as python strings but
    # the declared schema rejected them)
    q_id_type = dict(queries.dtypes)[query_id_col]
    out_schema = f"{query_id_col} {q_id_type}, {id_col} {id_type}, score double"
    if carry_label:
        label_type = dict(corpus.dtypes)[label_col]
        out_schema += f", {label_col} {label_type}"
    if label_mode == "split_side":
        out_schema += ", side string"
    if not qrows:  # empty query set: empty survivors, same schema as
        # the window engine's empty result (np.vstack of nothing throws)
        return corpus.sparkSession.createDataFrame([], out_schema)
    qmat = np.vstack([np.asarray(r[1], dtype=np.float64) for r in qrows])

    def local_topk(batches):
        # (qi, side) -> (scores, vids[, labels]) running local top-k
        cand: dict[tuple, tuple] = {}

        def merge(key, scores, vids, labels):
            if key in cand:
                prev = cand[key]
                scores = np.concatenate([prev[0], scores])
                vids = np.concatenate([prev[1], vids])
                if labels is not None:
                    labels = np.concatenate([prev[2], labels])
            order = np.lexsort((vids, -scores))[:k]
            cand[key] = (
                scores[order], vids[order],
                labels[order] if labels is not None else None,
            )

        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            vids = pdf[id_col].to_numpy()
            labels = (
                pdf[label_col].to_numpy()
                if (carry_label or need_qlabel) else None
            )
            if metric == "ip":
                scores = mat @ qmat.T  # (b, nq)
            elif metric == "l2":
                d = (
                    (mat * mat).sum(1)[:, None]
                    - 2.0 * (mat @ qmat.T)
                    + (qmat * qmat).sum(1)[None, :]
                )
                scores = 1.0 / (1.0 + d)
            else:
                raise ValueError(f"unsupported metric: {metric}")
            scores = np.round(scores, SCORE_DECIMALS)
            keep = labels if carry_label else None
            for qi in range(len(qids)):
                s = scores[:, qi]
                valid = np.ones(len(vids), dtype=bool)
                if exclude_self:
                    valid &= vids != qids[qi]
                if label_mode == "exclude_same":
                    valid &= labels != qlabels[qi]
                if label_mode == "split_side":
                    same = labels == qlabels[qi]
                    for side, smask in (("pos", same), ("neg", ~same)):
                        m = valid & smask
                        if m.any():
                            merge((qi, side), s[m], vids[m],
                                  keep[m] if keep is not None else None)
                elif valid.any():
                    merge((qi, None), s[valid], vids[valid],
                          keep[valid] if keep is not None else None)
        rows = []
        for (qi, side), (ss, vv, ll) in cand.items():
            for j in range(len(ss)):
                # object-dtype arrays (string ids/labels) have no .item
                iv = vv[j]
                row = [qids[qi], iv.item() if hasattr(iv, "item") else iv,
                       float(ss[j])]
                if carry_label:
                    lv = ll[j]
                    row.append(lv.item() if hasattr(lv, "item") else lv)
                if label_mode == "split_side":
                    row.append(side)
                rows.append(tuple(row))
        cols = [query_id_col, id_col, "score"]
        if carry_label:
            cols.append(label_col)
        if label_mode == "split_side":
            cols.append("side")
        yield pd.DataFrame(rows, columns=cols)

    return corpus.select(*in_cols).mapInPandas(local_topk, schema=out_schema)


def dynamic_threshold_progression(
    corpus: DataFrame,
    query: DataFrame,
    k: int = 20,
    hit_target: int = 3,
    step: float = 0.05,
    metric: str = "ip",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    initial_threshold: float = 1.0,
) -> DataFrame:
    """The reference's ``threshold_progression`` stats (search_service
    .py:79-113 records (threshold, hits, target_reached) per attempt):
    one row per grid threshold — including zero-hit attempts, which the
    reference logs too — highest first. The same data its UI progress
    callbacks stream, computed in one pass."""
    row = _threshold_grid(
        corpus, query, k, step, metric, id_col, vec_col, initial_threshold
    )
    return (
        row.select(F.inline("grid"))
        .select(
            F.round(F.col("t"), SCORE_DECIMALS).alias("threshold"),
            F.col("hits"),
            (F.col("hits") >= hit_target).alias("target_reached"),
        )
        .orderBy(F.col("threshold").desc())
    )


def hard_negatives(
    corpus: DataFrame,
    anchors: DataFrame,
    k: int = 5,
    metric: str = "ip",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    query_label_col: str = "query_label",
    engine: str = "two_phase",
) -> DataFrame:
    """Hard-negative mining for contrastive embedding training: for
    each anchor, the top-k most-similar corpus vectors with a
    DIFFERENT label — the negatives that actually move a contrastive
    loss (random negatives are trivially separable; the hardest
    same-looking/different-class pairs carry the gradient signal).

    Two-phase by default (:func:`_two_phase_survivors` with
    ``label_mode='exclude_same'``): the label-mismatch predicate
    applies INSIDE each partition's local top-k — filtering after
    ranking would return fewer than k negatives whenever same-label
    rows crowd the top — and only k×partitions×|anchors| survivors
    shuffle for the per-anchor rank window, never the corpus. The
    anchor row itself shares its own label, so it can never be its
    own negative. ``engine='window'`` keeps the single-phase
    broadcast-crossJoin + window form (equality-gate foil / the
    oracle's shape). At 100 TB: anchors cap per pass (like
    topk_join's Q), the corpus scans once and never leaves its
    partitions.
    """
    if engine == "two_phase":
        scored = _two_phase_survivors(
            corpus, anchors, k, metric, id_col, vec_col,
            query_id_col, query_vec_col,
            label_col=label_col, query_label_col=query_label_col,
            label_mode="exclude_same",
        )
    elif engine == "window":
        a = F.broadcast(
            anchors.select(query_id_col, query_vec_col, query_label_col)
        )
        scored = (
            corpus.crossJoin(a)
            .where(F.col(label_col) != F.col(query_label_col))
            .select(
                F.col(query_id_col),
                F.col(id_col),
                F.round(
                    _score_col(metric, F.col(vec_col), F.col(query_vec_col)),
                    SCORE_DECIMALS,
                ).alias("score"),
            )
        )
    else:
        raise ValueError(f"unknown engine: {engine}")
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "score", F.col("rank").cast("int").alias("rank"))
    )


def training_triplets(
    corpus: DataFrame,
    anchors: DataFrame,
    metric: str = "ip",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    query_label_col: str = "query_label",
    engine: str = "two_phase",
) -> DataFrame:
    """(anchor, hardest positive, hardest negative) triplets — the
    training-pair miner for a triplet/contrastive loss: positive =
    most-similar SAME-label vector (excluding the anchor itself),
    negative = most-similar DIFFERENT-label vector
    (:func:`hard_negatives` k=1), margin = pos_score − neg_score. A
    negative margin marks the anchors currently misranked — the batch
    a hard-mining curriculum feeds first.

    One corpus scan, two-phase by default
    (:func:`_two_phase_survivors` with ``label_mode='split_side'``):
    each partition keeps its local best per (anchor, side) — the
    self-exclusion and pos/neg tagging applied inside the local phase
    — so the (anchor, side) rank window sees ≤ partitions×2×|anchors|
    survivor rows, never the corpus, and a conditional aggregation
    folds the two winners per anchor into one triplet.
    ``engine='window'`` keeps the single-phase form (equality-gate
    foil / the oracle's shape). Ties break (score desc, id asc),
    deterministic cross-engine."""
    if engine == "two_phase":
        scored = _two_phase_survivors(
            corpus, anchors, 1, metric, id_col, vec_col,
            query_id_col, query_vec_col,
            exclude_self=True,
            label_col=label_col, query_label_col=query_label_col,
            label_mode="split_side",
        )
    elif engine == "window":
        a = F.broadcast(
            anchors.select(query_id_col, query_vec_col, query_label_col)
        )
        scored = (
            corpus.crossJoin(a)
            .where(F.col(id_col) != F.col(query_id_col))
            .select(
                F.col(query_id_col),
                F.col(id_col),
                F.when(F.col(label_col) == F.col(query_label_col),
                       F.lit("pos"))
                .otherwise(F.lit("neg"))
                .alias("side"),
                F.round(
                    _score_col(metric, F.col(vec_col), F.col(query_vec_col)),
                    SCORE_DECIMALS,
                ).alias("score"),
            )
        )
    else:
        raise ValueError(f"unknown engine: {engine}")
    w = Window.partitionBy(query_id_col, "side").orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    best = scored.withColumn("rk", F.row_number().over(w)).where(
        F.col("rk") == 1
    )
    return (
        best.groupBy(query_id_col)
        .agg(
            F.max(F.when(F.col("side") == "pos", F.col(id_col))).alias("pos_id"),
            F.max(F.when(F.col("side") == "pos", F.col("score"))).alias("pos_score"),
            F.max(F.when(F.col("side") == "neg", F.col(id_col))).alias("neg_id"),
            F.max(F.when(F.col("side") == "neg", F.col("score"))).alias("neg_score"),
        )
        .select(
            query_id_col,
            "pos_id",
            "pos_score",
            "neg_id",
            "neg_score",
            F.round(F.col("pos_score") - F.col("neg_score"), SCORE_DECIMALS)
            .alias("margin"),
        )
    )


def matryoshka_rerank_search(
    corpus: DataFrame,
    query: DataFrame,
    k: int = 10,
    prefix: int = 16,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Matryoshka (prefix-dimension) coarse scan + exact full-dim
    re-rank — the MRL-embedding search ladder (Kusupati et al.,
    NeurIPS 2022): score only the first ``prefix`` dimensions to pick
    a ``shortlist``, then re-score just those rows at full dimension.

    The same two-stage posture as :func:`binary.binary_rerank_search`
    (reference search path: index_service.py:205-235 top-k), with the
    coarse code being a PREFIX of the stored vector rather than a
    separate structure — no training, no second index to maintain,
    and incremental adds are free. At 100 TB the coarse fold touches
    ``prefix/dim`` of the vector bytes per row (a column-pruned code
    layout would make that physical too), never shuffles
    (TakeOrderedAndProject), and the full-precision pass is a
    broadcast semi-join over ``shortlist`` rows.

    With embeddings that concentrate information in leading dims
    (MRL-trained, or PCA/OPQ-rotated via :mod:`transform`), a small
    ``prefix`` preserves ranking; at ``shortlist`` large enough the
    result equals the exact top-k (pytest-gated).
    """
    pre = corpus.select(
        id_col, F.slice(F.col(vec_col), 1, prefix).alias(vec_col)
    )
    qpre = query.select(
        F.slice(F.col("query_vec"), 1, prefix).alias("query_vec")
    )
    short = topk(pre, qpre, k=shortlist, metric="ip", id_col=id_col, vec_col=vec_col)
    hits = corpus.join(
        F.broadcast(short.select(id_col)), on=id_col, how="left_semi"
    )
    return topk(hits, query, k=k, metric="ip", id_col=id_col, vec_col=vec_col)
