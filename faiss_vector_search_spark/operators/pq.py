"""Product quantization (PQ) — FAISS's signature memory-compression
index family (IndexPQ / IVFPQ), re-expressed for Spark (SURVEY.md
§2a extension; the reference's FAISS build exposes flat + IVFFlat,
PQ is the next rung of the same ladder and the one that matters at
100 TB: a 64-dim float corpus is 256 B/vector, its m=8 PQ codes are
8 B/vector — a 32× smaller scan for the ADC search pass).

Design (all JVM-side Column expressions, no Python in any hot path):

- **train**: the vector splits into ``m`` subvectors of ``dsub`` dims;
  each subspace gets its own ``ksub``-centroid Lloyd quantizer. One
  distributed pass per iteration covers ALL subspaces: explode to
  (row, j, subvec), argmin over the broadcast per-subspace codebook,
  re-average via partial-aggregated groupBy(j, cid, pos). The shuffle
  carries m × ksub × dsub aggregate cells, never vectors; the driver
  holds only the codebook (model state, MLlib-style). At 100 TB,
  train on a deterministic sample (e.g. ``vec_id % s == 0``) — PQ
  codebooks converge on thousands of vectors, not billions.
- **encode**: pure map over the broadcast codebooks → ``codes``
  array<int> of length m. The corpus never shuffles.
- **search (ADC)**: asymmetric distance computation — the query
  builds an m × ksub inner-product table against the codebooks on
  the driver (:func:`adc_score`, the one PQ query score), which rides
  the codes scan as a literal; each vector's approximate score is the
  sum of m table lookups (``zip_with`` + ``aggregate``), and top-k
  compiles to TakeOrderedAndProject (per-partition top-k + driver
  merge, no corpus shuffle) exactly like the flat kNN path. A saved
  IVF-PQ index is searched by ``ivf.search_persisted``, whose index
  handle holds the collected codebooks and residual flag.

Approximate by construction → rows-only gated: tests bound ADC score
error and top-k overlap vs the exact scan (tests/test_pq.py).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import vector as V
from .knn import SCORE_DECIMALS, query_vector, topk


def _subvec(vec, j: int, dsub: int):
    """1-based slice of subspace ``j`` (static bounds → codegen)."""
    return F.slice(vec, j * dsub + 1, dsub)


def _codebook_row(codebooks: DataFrame):
    """Collapse (j, cid, cvec) rows into ONE broadcastable row:
    ``cbs[j+1][cid+1] = cvec`` — nested arrays ordered by (j, cid) so
    positions encode ids."""
    inner = codebooks.groupBy("j").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("cid"), F.col("cvec")))
        ).alias("cb")
    )
    return F.broadcast(
        inner.agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("j"), F.col("cb")))
                ),
                lambda s: F.transform(s["cb"], lambda c: c["cvec"]),
            ).alias("cbs")
        )
    )


def _argmin_code(subvec, cb):
    """Index (0-based) of the nearest centroid in ``cb`` for
    ``subvec`` — a per-row fold, ties to the lowest cid."""
    init = F.struct(
        F.lit(-1).cast("int").alias("cid"),
        F.lit(float("inf")).alias("d"),
        F.lit(0).cast("int").alias("i"),
    )

    def step(acc, cvec):
        d = V.l2_sq(subvec, cvec)
        better = d < acc["d"]
        return F.struct(
            F.when(better, acc["i"]).otherwise(acc["cid"]).alias("cid"),
            F.when(better, d).otherwise(acc["d"]).alias("d"),
            (acc["i"] + 1).alias("i"),
        )

    return F.aggregate(cb, init, step)["cid"]


def pq_train(
    corpus: DataFrame,
    m: int = 8,
    ksub: int = 16,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_sample: int | None = None,
    engine: str = "sql",
) -> DataFrame:
    """Train per-subspace codebooks → DataFrame (j, cid, cvec).

    Seeding is deterministic (subvectors of the first ``ksub`` vectors
    by id), so train → encode → search reproduces bit-identically.

    ``train_sample`` caps the training set by deterministic id-stride
    (every ``N/train_sample``-th id — covers the whole key range, no
    sort, no collect of the full corpus). This is FAISS's own posture:
    codebooks train on a bounded sample (~10⁵ vectors), never the full
    corpus, so TRAIN cost is O(sample·ksub·iters) — independent of N —
    while encode stays the one full-corpus map. Without it the r4
    rehearsal measured train at sf1 dominating the whole index build.

    ``engine``: "sql" iterates Lloyd as DataFrame aggs with the
    interpreted argmin fold (oracle-deterministic); "arrow" collects
    the (bounded — requires ``train_sample``) sample once and runs
    Lloyd in numpy/BLAS on the driver — exactly how FAISS trains, and
    how model-sized state is treated everywhere else in this repo
    (centroids/bounds/codebooks are already driver-held broadcasts).
    Both engines share seeding, the empty-cell keep-old rule, and the
    9-dp model rounding; only float summation order differs.
    """
    spark = corpus.sparkSession
    dim = len(corpus.select(vec_col).first()[0])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m

    if train_sample is not None:
        n = corpus.count()
        # ceiling division: floor gave up to ~2x train_sample rows
        # whenever n < 2*train_sample, silently voiding the bound
        stride = max(1, -(-n // train_sample))
        corpus = corpus.where(F.col(id_col) % stride == 0)
    if engine == "arrow":
        if train_sample is None:
            raise ValueError(
                "engine='arrow' trains driver-side and needs the "
                "bounded train_sample contract"
            )
        return _pq_train_numpy(
            spark, corpus, m, ksub, iters, dsub, id_col, vec_col
        )
    if engine != "sql":
        raise ValueError(f"unknown pq_train engine: {engine}")

    seed_rows = (
        corpus.orderBy(F.col(id_col).asc())
        .limit(ksub)
        .select(
            (
                F.row_number().over(Window.orderBy(F.col(id_col).asc())) - 1
            ).alias("cid"),
            F.col(vec_col).alias("v"),
        )
        .collect()
    )
    books: dict[tuple[int, int], list[float]] = {}
    for r in seed_rows:
        for j in range(m):
            books[(j, r.cid)] = [
                float(x) for x in r.v[j * dsub : (j + 1) * dsub]
            ]

    # one exploded (id, j, subvec) frame reused every iteration
    sub = corpus.select(
        F.col(id_col),
        F.posexplode(
            F.array(
                *[
                    F.transform(
                        _subvec(F.col(vec_col), j, dsub),
                        lambda x: x.cast("double"),
                    )
                    for j in range(m)
                ]
            )
        ).alias("j", "subvec"),
    )

    for _ in range(iters):
        cb_df = spark.createDataFrame(
            [(j, c, v) for (j, c), v in sorted(books.items())],
            "j int, cid int, cvec array<double>",
        )
        assigned = sub.crossJoin(_codebook_row(cb_df)).select(
            "j",
            "subvec",
            _argmin_code(
                F.col("subvec"), F.element_at(F.col("cbs"), F.col("j") + 1)
            ).alias("cid"),
        )
        cells = (
            assigned.select(
                "j", "cid", F.posexplode(F.col("subvec")).alias("pos", "x")
            )
            .groupBy("j", "cid", "pos")
            .agg(F.avg("x").alias("mean"))
            .collect()
        )
        for r in cells:
            # round the model state: distributed avg is summation-order
            # sensitive in the last bits, and partitioning differs
            # across cluster sizes; 9 decimals absorbs that wobble so
            # train -> encode reproduces bit-identically anywhere
            books[(r.j, r.cid)][r.pos] = round(r.mean, 9)
    return spark.createDataFrame(
        [(j, c, v) for (j, c), v in sorted(books.items())],
        "j int, cid int, cvec array<double>",
    )


def _pq_train_numpy(
    spark, sample: DataFrame, m, ksub, iters, dsub, id_col, vec_col
) -> DataFrame:
    """Driver-side Lloyd over the bounded training sample — the arrow
    engine of :func:`pq_train`. Same seeding / empty-cell / rounding
    contract as the sql engine."""
    rows = sample.select(id_col, vec_col).orderBy(F.col(id_col).asc()).collect()
    if len(rows) < ksub:
        raise ValueError(
            f"PQ train sample has {len(rows)} rows < ksub={ksub}; "
            "raise train_sample (the sql engine degrades to fewer "
            "codebook rows, the arrow seeding needs ksub rows)"
        )
    x = np.vstack([np.asarray(r[1], dtype=np.float64) for r in rows])
    books = np.empty((m, ksub, dsub))
    for j in range(m):
        books[j] = x[:ksub, j * dsub : (j + 1) * dsub]
    for _ in range(iters):
        for j in range(m):
            xj = x[:, j * dsub : (j + 1) * dsub]
            cb = books[j]
            d = ((cb * cb).sum(axis=1)) - 2.0 * (xj @ cb.T)
            code = np.argmin(d, axis=1)  # first min = lowest cid
            for c in range(ksub):
                hit = code == c
                if hit.any():  # empty cell keeps its old centroid
                    books[j, c] = np.round(xj[hit].mean(axis=0), 9)
    return spark.createDataFrame(
        [
            (j, c, [float(v) for v in books[j, c]])
            for j in range(m)
            for c in range(ksub)
        ],
        "j int, cid int, cvec array<double>",
    )


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: tuple[str, ...] = (),
    engine: str = "sql",
) -> DataFrame:
    """corpus → (id, codes array<int>): m nearest-centroid ids per
    vector. Map-only over the broadcast codebooks — at rest these
    codes are the index (m small ints ≈ m bytes vs 4·dim).
    ``keep_cols`` ride along unchanged (e.g. an IVF ``list_id``).

    ``engine``: "sql" = interpreted per-row argmin fold (oracle-
    deterministic); "arrow" = one BLAS argmin per subspace per Arrow
    batch (production encode — encode is the one full-corpus pass in
    a PQ build, so this is where the interpreted fold hurts at
    scale). np.argmin's first-minimum rule matches the fold's
    lowest-cid tie-break."""
    mk = codebooks.agg(
        F.max("j").alias("jmax"), F.size(F.first("cvec")).alias("dsub")
    ).first()
    m, dsub = mk.jmax + 1, mk.dsub
    if engine == "arrow":
        return _pq_encode_arrow(
            corpus, codebooks, m, dsub, id_col, vec_col, keep_cols
        )
    if engine != "sql":
        raise ValueError(f"unknown pq_encode engine: {engine}")
    return corpus.crossJoin(_codebook_row(codebooks)).select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        F.array(
            *[
                _argmin_code(
                    F.transform(
                        _subvec(F.col(vec_col), j, dsub),
                        lambda x: x.cast("double"),
                    ),
                    F.element_at(F.col("cbs"), j + 1),
                )
                for j in range(m)
            ]
        ).alias("codes"),
    )


def _pq_encode_arrow(
    corpus: DataFrame,
    codebooks: DataFrame,
    m: int,
    dsub: int,
    id_col: str,
    vec_col: str,
    keep_cols: tuple[str, ...],
) -> DataFrame:
    """Arrow engine for :func:`pq_encode`: per batch, one
    (batch × dsub) @ (dsub × ksub) matmul + argmin per subspace."""
    import pandas as pd
    from pyspark.sql import types as T

    cbs = [np.asarray(cb, dtype=np.float64)
           for cb in collect_codebooks(codebooks)]
    cnorms = [(cb * cb).sum(axis=1) for cb in cbs]
    in_fields = {f.name: f for f in corpus.schema.fields}
    out_schema = T.StructType(
        [in_fields[id_col]]
        + [in_fields[c] for c in keep_cols]
        + [T.StructField("codes", T.ArrayType(T.IntegerType()))]
    )
    cols = [id_col, *keep_cols, vec_col]

    def encode(batches):
        for pdf in batches:
            if pdf.empty:
                out = pdf[[id_col, *keep_cols]].copy()
                out["codes"] = pd.Series(dtype="object")
                yield out
                continue
            x = np.vstack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            codes = np.empty((len(pdf), m), dtype=np.int32)
            for j in range(m):
                xj = x[:, j * dsub : (j + 1) * dsub]
                codes[:, j] = np.argmin(
                    cnorms[j] - 2.0 * (xj @ cbs[j].T), axis=1
                )
            out = pdf[[id_col, *keep_cols]].copy()
            out["codes"] = list(codes)
            yield out

    return corpus.select(*cols).mapInPandas(encode, schema=out_schema)


def collect_codebooks(codebooks: DataFrame) -> list:
    """The (j, cid, cvec) codebooks on the driver (one Spark job):
    ``books[j][i]`` is subspace j's i-th centroid in cid order — the
    positions :func:`_codebook_row` gives them, so a code indexes it."""
    books: dict[int, list] = {}
    for r in codebooks.orderBy("j", "cid").collect():
        books.setdefault(r["j"], []).append([float(x) for x in r["cvec"]])
    return [books[j] for j in sorted(books)]


def adc_score(qvec, books, residual_lists=None) -> Column:
    """Every PQ search's query score: the rounded ADC score of the
    ``codes`` column, Σ_j tbl[j][codes[j]], for a driver-side query.
    The m × ksub table tbl[j][i] = ⟨q_j, books[j][i]⟩ is built on the
    driver (V.dot's fold over the query slices) and rides the plan as
    one literal, so the codes scan needs no join.

    ``residual_lists`` = ``(list ids, their centroid rows)`` scores
    residual codes: x·q = ⟨c_list, q⟩ + ⟨r, q⟩, so each row adds its
    list's constant (driver-side, V.dot's fold again) to the ADC sum
    — one shared table for all lists, the identity that makes
    IP-metric residual ADC cheap."""
    q = np.asarray(qvec, dtype=np.float64)
    dsub = len(books[0][0])
    tbl = [
        V.dot_rows(cb, q[j * dsub : (j + 1) * dsub])
        for j, cb in enumerate(books)
    ]
    adc = F.aggregate(
        F.zip_with(
            F.col("codes"),
            V.literal(tbl),
            lambda c, row: F.element_at(row, c + 1),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    if residual_lists is not None:
        ids, cvecs = residual_lists
        offsets = F.map_from_arrays(
            V.literal(ids), V.literal(V.dot_rows(cvecs, q))
        )
        adc = adc + offsets[F.col("list_id")]
    return F.round(adc, SCORE_DECIMALS)


def pq_topk_adc(
    codes: DataFrame,
    codebooks: DataFrame,
    query: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Approximate top-k by asymmetric distance: score(v) ≈
    Σ_j  ⟨q_sub_j, codebook[j][codes[j]]⟩  — m lookups into the
    query's precomputed inner-product table (:func:`adc_score`; the
    one-row query and the codebooks are collected to build it, two
    small Spark jobs). Ranking compiles to TakeOrderedAndProject over
    the codes scan; ties break to the lowest id like the exact kNN
    path."""
    qvec = query_vector(query, query_vec_col)
    if qvec is None:
        raise ValueError("pq_topk_adc takes exactly one query row, got none")
    scored = codes.select(
        F.col(id_col),
        adc_score(qvec, collect_codebooks(codebooks)).alias("score"),
    )
    return scored.orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    ).limit(k)


def pq_topk_rerank(
    corpus: DataFrame,
    codes: DataFrame,
    codebooks: DataFrame,
    query: DataFrame,
    k: int = 10,
    expand: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Two-stage PQ search: ADC shortlist of ``k * expand`` candidates
    from the compressed codes, then EXACT re-scoring of just the
    shortlist against the original vectors — the standard
    FAISS-deployment recipe that recovers near-exact top-k while the
    full-precision corpus is touched only for k·expand rows. The
    shortlist join is a broadcast semi-join (k·expand ids), so the
    100 TB corpus scan happens on the 32×-smaller codes table and the
    float table contributes an id-pruned point lookup."""
    shortlist = pq_topk_adc(
        codes, codebooks, query, k=k * expand,
        id_col=id_col, query_vec_col=query_vec_col,
    ).select(id_col)
    return _rescore(
        corpus, shortlist, query, k, id_col, vec_col, query_vec_col
    )


def _rescore(corpus, shortlist, query, k, id_col, vec_col, query_vec_col):
    """The rerank stage: exact inner-product top-k of the shortlisted
    ids (a broadcast semi-join point lookup on the float corpus)."""
    hits = corpus.join(F.broadcast(shortlist), id_col, "left_semi")
    q = query.select(F.col(query_vec_col).alias("query_vec"))
    return topk(hits, q, k=k, metric="ip", id_col=id_col, vec_col=vec_col)


def ivf_residual_frame(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign_engine: str = "sql",
) -> DataFrame:
    """(id, list_id, vec_col = x − c_list): coarse-assign, then
    subtract each vector's own centroid in-row (broadcast centroid
    join + zip_with — no Python, no extra shuffle). Residuals are what
    FAISS ``IndexIVFPQ`` quantizes by default: within a list they have
    a fraction of the raw vectors' variance, so the same codebook
    budget quantizes them much more finely on clustered data. Train
    codebooks ON this frame and pass ``residual=True`` to
    :func:`save_ivfpq` so search adds the ⟨c_list, q⟩ offset back."""
    from .ivf import assign_lists

    assigned = assign_lists(
        corpus, centroids, vec_col=vec_col, engine=assign_engine
    )
    return _residuals(assigned, centroids, id_col, vec_col)


def _residuals(assigned, centroids, id_col, vec_col) -> DataFrame:
    cents = centroids.select(
        F.col("cid").alias("list_id"), F.col("cvec").alias("_cvec")
    )
    return assigned.join(F.broadcast(cents), "list_id").select(
        F.col(id_col),
        F.col("list_id"),
        F.zip_with(
            F.col(vec_col).cast("array<double>"),
            F.col("_cvec"),
            lambda x, c: x - c,
        ).alias(vec_col),
    )


def encode_lists(
    assigned, centroids, id_col, vec_col, codebooks, residual=False,
    engine="sql",
) -> DataFrame:
    """IVF-PQ's list-encode step (:func:`save_ivfpq` and every append):
    PQ codes of the raw vector, or of x − c_list when ``residual``."""
    if residual:
        assigned = _residuals(assigned, centroids, id_col, vec_col)
    return pq_encode(
        assigned, codebooks, id_col=id_col, vec_col=vec_col,
        keep_cols=("list_id",), engine=engine,
    )


def save_ivfpq(
    corpus: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign_engine: str = "sql",
    encode_engine: str = "sql",
    residual: bool = False,
) -> None:
    """Persist an IVF-PQ index: vectors coarse-assigned to lists,
    stored as PQ CODES partitioned by ``list_id``; the coarse
    centroids and PQ codebooks save alongside so a later session
    reopens without retraining. This is FAISS ``IndexIVFPQ``'s
    posting-list layout as a parquet partitioning scheme, with both
    compressions composed: probes prune partitions (read nprobe/nlist
    of the files) AND each file holds m-byte codes instead of 4·dim
    floats — the two multiplicative scan reductions that make
    billion-vector search tractable.

    ``residual=False`` quantizes the RAW vector (one shared codebook
    valid across any probe union, scored like :func:`pq_topk_adc`);
    ``residual=True`` quantizes x − c_list (FAISS ``IndexIVFPQ``'s
    default — finer codes on clustered data for the same bits;
    codebooks must then be TRAINED on :func:`ivf_residual_frame`, and
    search adds the per-list ⟨c, q⟩ offset back, which the persisted
    flag records so a later session searches and appends correctly).
    Search it with ``ivf.search_persisted``.
    """
    from .ivf import _write_lists, assign_lists

    assigned = assign_lists(
        corpus, centroids, vec_col=vec_col, engine=assign_engine
    )
    codes = encode_lists(
        assigned, centroids, id_col, vec_col, codebooks, residual,
        engine=encode_engine,
    )
    _write_lists(
        codes, centroids, path, "pq", codebooks=codebooks, residual=residual
    )


def opq_topk_rerank(
    corpus: DataFrame,
    codes: DataFrame,
    codebooks: DataFrame,
    query: DataFrame,
    model,
    k: int = 10,
    expand: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Two-stage search over OPQ-ROTATED codes (transform.opq_train):
    the ADC shortlist probes codes built in the rotated basis with the
    rotated query — rotation is metric-preserving, so the shortlist
    approximates the same neighborhood with better-balanced
    subquantizers — while the exact re-scoring stage keeps the
    ORIGINAL vectors and ORIGINAL query (scores, and therefore oracle
    hashes, never see the rotation). Same broadcast-semi-join scan
    posture as :func:`pq_topk_rerank`."""
    from .transform import opq_rotate_query

    rq = opq_rotate_query(query, model, query_vec_col)
    shortlist = pq_topk_adc(
        codes, codebooks, rq, k=k * expand,
        id_col=id_col, query_vec_col=query_vec_col,
    ).select(id_col)
    return _rescore(
        corpus, shortlist, query, k, id_col, vec_col, query_vec_col
    )
