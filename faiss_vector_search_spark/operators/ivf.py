"""IVF (inverted-file) index — Spark re-expression of FAISS
``IndexIVFFlat`` (reference components/core/index_service.py:91-95:
quantizer + nlist; :179-185: train-on-add; search probes the nearest
``nprobe`` lists).

Scale design (100 TB)
---------------------
Centroids are tiny (nlist × dim) → *broadcast*. List assignment is a
per-row argmin over the broadcast centroid array — a pure map inside
whole-stage codegen, **no shuffle of the corpus**. For a persisted
index, :func:`save_ivf` writes the corpus *partitioned by list_id*, so
a search that probes `nprobe` of `nlist` lists prunes
``1 - nprobe/nlist`` of the parquet files at the scan (partition
pruning — the Spark analogue of FAISS scanning only probed posting
lists). This module owns that persisted layout for every tier (see
"persisted layout" below).

Serving: :func:`search_persisted` is FAISS ``index.search(q, k)`` for
every saved float tier (flat, PQ, SQ8). It opens the index through a
cached *index handle* (:func:`_open`, one per path): tier, table
schema, centroids, and the tier's model, also collected to the driver
for its one query score. Every open checks it against the file names
under ``<path>/_centroids`` (one Hadoop FS listing, no Spark job); a
build, retrain or rebuild rewrites that sidecar under new names, so
the next open reloads, while an append leaves it warm. The query is
probed on the driver (the order and fold of :func:`probe_lists`) and
scored as a literal, and the table is listed per query — so a warm
query runs one Spark job, the pruned scan with its top-k, and sees
appended files at once. The batch search keeps its Spark-side probe.

Determinism: centroids here are "seeded" = the first ``nlist`` corpus
vectors by id (a valid random-sample quantizer; FAISS also samples
training points). That keeps the whole operator expressible in ANSI
SQL for the oracle gate. K-means-refined centroids (Lloyd iterations
as DataFrame aggs) live in `ivf_kmeans` below — approximate, gated by
recall tests instead.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from ..functions import vector as V
from ..io import path_exists
from . import binary, pq, sq
from .knn import SCORE_DECIMALS, _score_col, query_vector, score_corpus


def seeded_centroids(
    corpus: DataFrame,
    nlist: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic coarse quantizer: first ``nlist`` vectors by id.

    Compiles to TakeOrdered — k·P candidate rows merge on the driver,
    so ``nlist`` must stay driver-sized (thousands, the normal IVF
    regime: FAISS guidance is nlist ≈ √N, and the centroid table must
    broadcast anyway). For an extreme nlist, sample-and-sort instead."""
    return (
        corpus.orderBy(F.col(id_col).asc())
        .limit(nlist)
        .select(
            F.row_number()
            .over(Window.orderBy(F.col(id_col).asc()))
            .cast("int")
            .alias("cid"),
            F.col(vec_col).alias("cvec"),
        )
        .withColumn("cid", F.col("cid") - 1)
    )


def _centroid_array(centroids: DataFrame):
    """Collapse centroids into ONE broadcastable row holding a
    cid-sorted array<struct<cid,cvec>> — lets assignment run as a
    per-row fold with no join/shuffle."""
    return F.broadcast(
        centroids.agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("cid"), F.col("cvec")))
            ).alias("cents")
        )
    )


def assign_lists(
    corpus: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    engine: str = "sql",
) -> DataFrame:
    """corpus + ``list_id``: argmin squared-L2 over centroids,
    ties → lowest cid (matches the SQL oracle's row_number tie-break).

    The corpus never shuffles in either engine — this is the map FAISS
    does at add() time. ``engine`` picks the per-row argmin
    implementation, the same oracle/production split semdedup's
    pair_engine and the hash operators use:

    - ``"sql"``: per-row interpreted fold over the broadcast centroid
      array. Bit-deterministic against the DuckDB oracle, but costs
      O(nlist·dim) interpreted expression evaluation per row — with
      the nlist ≈ √N sizing that is O(N^1.5·dim) total, which the r4
      100× rehearsal measured as the dominant index-build cost at
      sf1+.
    - ``"arrow"``: ``mapInPandas`` batches doing one
      (batch × dim) @ (dim × nlist) BLAS matmul + argmin per batch —
      FAISS's own add()-time strategy. Centroids ride the closure
      (driver-sized by the seeded_centroids contract). np.argmin's
      first-minimum rule reproduces the lowest-cid tie-break; only
      float-summation-order differences on exact centroid-distance
      ties can diverge from the fold, so the oracle gate keeps "sql".
    """
    if engine == "arrow":
        return _assign_lists_arrow(corpus, centroids, vec_col)
    if engine != "sql":
        raise ValueError(f"unknown assign engine: {engine}")
    init = F.struct(
        F.lit(-1).cast("int").alias("cid"),
        F.lit(float("inf")).alias("d"),
    )

    def step(acc, c):
        d = V.l2_sq(F.col(vec_col), c["cvec"])
        better = d < acc["d"]
        return F.struct(
            F.when(better, c["cid"]).otherwise(acc["cid"]).alias("cid"),
            F.when(better, d).otherwise(acc["d"]).alias("d"),
        )

    return (
        corpus.crossJoin(_centroid_array(centroids))
        .withColumn("_best", F.aggregate(F.col("cents"), init, step))
        .withColumn("list_id", F.col("_best")["cid"])
        .drop("cents", "_best")
    )


def _assign_lists_arrow(
    corpus: DataFrame, centroids: DataFrame, vec_col: str
) -> DataFrame:
    """Arrow engine for :func:`assign_lists`: argmin ||x-c||² ==
    argmin (||c||² - 2x·c) per Arrow batch via one BLAS matmul."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    rows = centroids.orderBy(F.col("cid").asc()).collect()
    cids = np.array([r.cid for r in rows], dtype=np.int64)
    cmat = np.vstack([np.asarray(r.cvec, dtype=np.float64) for r in rows])
    cnorm = (cmat * cmat).sum(axis=1)
    out_schema = T.StructType(
        list(corpus.schema.fields) + [T.StructField("list_id", T.IntegerType())]
    )

    def assign(batches):
        for pdf in batches:
            pdf = pdf.copy()
            if pdf.empty:
                pdf["list_id"] = pd.Series(dtype="int32")
                yield pdf
                continue
            x = np.vstack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            # ||x||² is constant per row — drop it from the argmin
            d = cnorm - 2.0 * (x @ cmat.T)
            pdf["list_id"] = cids[np.argmin(d, axis=1)].astype("int32")
            yield pdf

    return corpus.mapInPandas(assign, schema=out_schema)


def probe_lists(
    query: DataFrame,
    centroids: DataFrame,
    nprobe: int,
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """The ``nprobe`` nearest centroid ids for a single query vector."""
    return (
        query.crossJoin(F.broadcast(centroids))
        .select(
            F.col("cid"),
            V.l2_sq(F.col(query_vec_col), F.col("cvec")).alias("cdist"),
        )
        .orderBy(F.col("cdist").asc(), F.col("cid").asc())
        .limit(nprobe)
        .select(F.col("cid").alias("probe_cid"))
    )


def kmeans_centroids(
    corpus: DataFrame,
    nlist: int,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_sample: int | None = None,
    engine: str = "sql",
) -> DataFrame:
    """Lloyd-refined quantizer — the Spark analogue of FAISS
    ``IndexIVFFlat.train`` (reference index_service.py:179-185 trains
    when ≥ 100 vectors are available).

    Each iteration is two distributed steps: (1) assignment = per-row
    argmin over the *broadcast* centroid array (map-only, no corpus
    shuffle), (2) new means via ``posexplode`` → partial-aggregated
    ``groupBy(list_id, pos).avg`` — the shuffle carries only
    nlist × dim aggregate cells, never vectors. The driver holds just
    the model state (nlist × dim doubles), exactly like MLlib KMeans;
    empty lists keep their previous centroid.

    Scale knobs (same contract as :func:`pq_train`): ``train_sample``
    caps the training set by deterministic id-stride — FAISS trains
    coarse quantizers on a bounded sample, never the full corpus —
    and ``engine`` picks the per-iteration assignment implementation
    (:func:`assign_lists`; "arrow" = BLAS argmin; "mllib" delegates
    the whole training loop to ``pyspark.ml.clustering.KMeans`` —
    the stock distributed trainer with k-means|| init, seeded for
    reproducibility within a Spark version. Same (cid, cvec) output
    contract either way, so save_ivf / ivf_search / retrain_ivf
    compose with any engine; quantizer-quality and recall gates are
    the cross-engine contract, not byte equality).
    """
    spark = corpus.sparkSession
    if train_sample is not None:
        n = corpus.count()
        # ceiling division keeps the sample <= train_sample (floor
        # admitted up to ~2x whenever n < 2*train_sample)
        stride = max(1, -(-n // train_sample))
        corpus = corpus.where(F.col(id_col) % stride == 0)
    if engine == "mllib":
        return _kmeans_mllib(spark, corpus, nlist, iters, vec_col)
    cents = {
        r.cid: [float(x) for x in r.cvec]
        for r in seeded_centroids(corpus, nlist, id_col, vec_col).collect()
    }
    for _ in range(iters):
        cents_df = spark.createDataFrame(
            sorted(cents.items()), "cid int, cvec array<double>"
        )
        assigned = assign_lists(
            corpus, cents_df, vec_col=vec_col, engine=engine
        )
        mean_rows = (
            assigned.select(
                "list_id",
                F.posexplode(
                    F.transform(F.col(vec_col), lambda x: x.cast("double"))
                ).alias("pos", "x"),
            )
            .groupBy("list_id", "pos")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        by_list: dict[int, dict[int, float]] = {}
        for r in mean_rows:
            by_list.setdefault(r.list_id, {})[r.pos] = r.m
        for cid, dims in by_list.items():
            cents[cid] = [dims[p] for p in range(len(dims))]
    return spark.createDataFrame(
        sorted(cents.items()), "cid int, cvec array<double>"
    )


def _kmeans_mllib(spark, corpus: DataFrame, nlist: int, iters: int,
                  vec_col: str) -> DataFrame:
    """MLlib engine for :func:`kmeans_centroids`: array column →
    ml Vector UDF → ``pyspark.ml.clustering.KMeans`` (k-means||
    init, fixed seed) → centers back as the (cid, cvec) contract.
    The stock distributed trainer the BASELINE "MLlib batch index
    build" approach names — tree-aggregated updates, no driver-side
    iteration state beyond the model."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = corpus.select(
        array_to_vector(
            F.transform(F.col(vec_col), lambda x: x.cast("double"))
        ).alias("features")
    )
    model = KMeans(
        k=nlist, maxIter=iters, seed=42, initMode="k-means||"
    ).fit(feats)
    centers = [
        (cid, [float(x) for x in c])
        for cid, c in enumerate(model.clusterCenters())
    ]
    return spark.createDataFrame(centers, "cid int, cvec array<double>")


def ivf_search(
    corpus: DataFrame,
    query: DataFrame,
    nlist: int = 16,
    nprobe: int = 4,
    k: int = 10,
    metric: str = "ip",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    assigned: DataFrame | None = None,
    assign_engine: str = "sql",
) -> DataFrame:
    """End-to-end IVF search (seeded quantizer by default, or pass
    ``centroids`` e.g. from :func:`kmeans_centroids`).

    Plan shape: broadcast centroids → map-side assignment → semi-join
    on the (broadcast) probe set → score only surviving rows → local
    top-k. With a persisted index the assignment step is replaced by
    partition pruning on ``list_id``.

    ``assigned``: pass a precomputed :func:`assign_lists` frame (must
    match ``centroids``) to skip the per-call corpus assignment —
    what a caller searching the same corpus repeatedly (e.g.
    :func:`~faiss_vector_search_spark.operators.evaluate.recall_report`
    across tiers and queries) should always do. ``assign_engine`` →
    :func:`assign_lists` when assignment does run here.
    """
    cents = (
        centroids
        if centroids is not None
        else seeded_centroids(corpus, nlist, id_col=id_col, vec_col=vec_col)
    )
    if assigned is None:
        assigned = assign_lists(
            corpus, cents, vec_col=vec_col, engine=assign_engine
        )
    probes = probe_lists(query, cents, nprobe)
    candidates = assigned.join(
        F.broadcast(probes),
        assigned["list_id"] == probes["probe_cid"],
        "leftsemi",
    )
    scored = score_corpus(candidates, query, metric=metric, vec_col=vec_col)
    return _topk_scored(scored, F.col("score"), k, id_col)


def _topk_scored(
    rows: DataFrame, score: Column, k: int, id_col: str
) -> DataFrame:
    """(id, list_id, score) top-k of list-assigned rows — the ranking
    every single-query IVF search shares."""
    return (
        rows.select(
            F.col(id_col),
            F.col("list_id").cast("int").alias("list_id"),
            score.alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def ivf_kmeans_search(
    corpus: DataFrame,
    query: DataFrame,
    nlist: int = 16,
    nprobe: int = 4,
    k: int = 10,
    iters: int = 5,
    metric: str = "ip",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF search over a k-means-trained quantizer (SURVEY §2a #7).
    Approximate — gated by recall tests, not the SQL oracle."""
    cents = kmeans_centroids(corpus, nlist, iters, id_col, vec_col)
    return ivf_search(
        corpus, query, nlist, nprobe, k, metric, id_col, vec_col, centroids=cents
    )


# --- persisted layout: every module reads and writes it through these ------
# <path>/vectors (flat) or <path>/codes (PQ / SQ8 / binary), partitioned by
# list_id, plus one-row-or-small parquet sidecars: _centroids, _codebooks
# (PQ), _bounds (SQ8), _meta (PQ residual flag), _trained_on (watermark).
# Readers go through a cached index handle (:func:`_open`): the sidecars
# (collected to the driver for the query scorers) and the table schema
# are read once per build, the table's files are listed fresh on every
# scan.


def _table(tier: str) -> str:
    return "vectors" if tier == "flat" else "codes"


def _tier(spark, path: str) -> str:
    """The tier of the index at ``path``, read from its layout with
    driver-side existence checks (no Spark job; one check for flat)."""
    if path_exists(spark, f"{path}/vectors"):
        return "flat"
    if not path_exists(spark, f"{path}/codes"):
        raise ValueError(f"no persisted IVF index at {path}")
    if path_exists(spark, f"{path}/_codebooks"):
        return "pq"
    return "sq8" if path_exists(spark, f"{path}/_bounds") else "binary"


def _read_sidecar(spark, path: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{path}/_{name}")


def _write_sidecar(df: DataFrame, path: str, name: str) -> None:
    df.write.mode("overwrite").parquet(f"{path}/_{name}")


def _sidecar_value(spark, path: str, name: str, field: str):
    """``field`` of a one-row sidecar; None when the sidecar is absent
    or does not carry ``field``. A sidecar that exists but cannot be
    read raises."""
    if not path_exists(spark, f"{path}/_{name}"):
        return None
    df = _read_sidecar(spark, path, name)
    row = df.first() if field in df.columns else None
    return row[field] if row else None


def _read_model(spark, path: str, tier: str) -> dict:
    """The tier's saved ``encode_lists`` keyword arguments (no residual
    flag, a pre-residual PQ layout, reads as raw codes)."""
    if tier == "pq":
        return {"codebooks": _read_sidecar(spark, path, "codebooks"),
                "residual": bool(_sidecar_value(spark, path, "meta", "residual"))}
    if tier == "sq8":
        return {"bounds": _read_sidecar(spark, path, "bounds")}
    return {}


def _query_model(tier: str, model: dict) -> tuple:
    """The tier's saved model collected to the driver, as its query
    scorer takes it: PQ ``(codebooks, residual)``, SQ8 ``(mn, mx)``."""
    if tier == "pq":
        return pq.collect_codebooks(model["codebooks"]), model["residual"]
    if tier == "sq8":
        return sq.collect_bounds(model["bounds"])
    return ()


class _Handle(NamedTuple):
    """What a query needs of a persisted index besides its list files."""

    spark: object            # the session the frames below belong to
    path: str
    stamp: tuple             # file names under <path>/_centroids
    tier: str
    schema: StructType       # the table's, so a scan infers nothing
    centroids: DataFrame     # the _centroids sidecar
    cids: list               # centroid ids, ascending
    cvecs: np.ndarray        # one row per cid, in ``cids`` order
    model: dict              # :func:`_read_model` of the tier
    query_model: tuple       # the model on the driver, for its scorer


_HANDLES: dict[str, _Handle] = {}


def _centroid_stamp(spark, path: str) -> tuple:
    """Names of the files under ``<path>/_centroids``: one Hadoop FS
    listing, no Spark job. Every build, retrain or rebuild rewrites the
    sidecar under new part-file names; appends never touch it."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(f"{path}/_centroids")
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        raise ValueError(f"no persisted IVF index at {path}")
    return tuple(sorted(s.getPath().getName() for s in fs.listStatus(jpath)))


def _open(spark, path: str, tier: str | None = None) -> _Handle:
    """The index handle for ``path``, reloaded when the ``_centroids``
    file names differ from the cached ones (or the session does). A
    plain dict keyed by path: one entry per index a process opens."""
    stamp = _centroid_stamp(spark, path)
    h = _HANDLES.get(path)
    if h is None or h.stamp != stamp or h.spark is not spark:
        t = _tier(spark, path)
        cents = _read_sidecar(spark, path, "centroids")
        rows = sorted(cents.collect(), key=lambda r: r["cid"])
        model = _read_model(spark, path, t)
        h = _HANDLES[path] = _Handle(
            spark, path, stamp, t,
            spark.read.parquet(f"{path}/{_table(t)}").schema, cents,
            [r["cid"] for r in rows],
            np.array([r["cvec"] for r in rows], dtype=np.float64),
            model, _query_model(t, model),
        )
    if tier is not None and h.tier != tier:
        raise ValueError(
            f"{path} is an IVF-{h.tier.upper()} index, not IVF-"
            f"{tier.upper()}: rebuild it from the source corpus with the "
            "tier's save_* builder (ivf.save_ivf, pq.save_ivfpq, "
            "sq.save_ivfsq, binary.save_ivfbin)"
        )
    return h


def _trained_on(spark, path: str):
    """The train watermark, or None (indexes written before it had its
    own sidecar kept it in ``_meta``)."""
    return _sidecar_value(spark, path, "trained_on", "trained_on") or (
        _sidecar_value(spark, path, "meta", "trained_on")
    )


def _write_trained_on(spark, path: str, trained_on: int) -> None:
    df = spark.createDataFrame([(int(trained_on),)], "trained_on bigint")
    _write_sidecar(df, path, "trained_on")


def _index_exists(spark, path: str) -> bool:
    return path_exists(spark, f"{path}/_centroids")


def _scan(h: _Handle, list_ids=None) -> DataFrame:
    """The handle's table, listed now, pruned to ``list_ids`` (every
    list when None): the ``IN`` filter on the partition column reaches
    the parquet scan as a partition filter, so other list directories
    are never read."""
    rows = h.spark.read.schema(h.schema).parquet(f"{h.path}/{_table(h.tier)}")
    if list_ids is None:
        return rows
    return rows.where(F.col("list_id").isin(list_ids))


def _scan_lists(spark, path: str, list_ids=None) -> DataFrame:
    return _scan(_open(spark, path), list_ids)


def _literal_score(metric: str, vec_col: str, qvec) -> Column:
    """The flat tier's query score: rounded score of ``vec_col``
    against a driver-side query vector — :func:`knn.score_corpus`'s
    score with the query as a literal instead of a broadcast cross
    join."""
    return F.round(
        _score_col(metric, F.col(vec_col), V.literal(qvec or [])),
        SCORE_DECIMALS,
    )


def _probe(h: _Handle, qvec, nprobe: int) -> list:
    """The ``nprobe`` list ids :func:`probe_lists` gives ``qvec``
    ((cdist, cid) order, the same sequential fold), computed on the
    driver over the handle's centroids; a None vector probes no list."""
    if qvec is None or not h.cids:
        return []
    d = V.l2_sq_rows(h.cvecs, qvec).tolist()
    return [c for _, c in sorted(zip(d, h.cids))[:nprobe]]


def _open_probed(spark, path: str, qvec, nprobe: int, tier: str = "flat"):
    """Open a persisted index of ``tier`` for one driver-side query
    vector: ``(handle, table pruned to the probed lists, probe ids)``."""
    h = _open(spark, path, tier)
    probe_ids = _probe(h, qvec, nprobe)
    return h, _scan(h, probe_ids), probe_ids


def _write_lists(
    rows: DataFrame, centroids: DataFrame, path: str, tier: str = "flat",
    **model,
) -> None:
    """Overwrite the index: ``rows`` partitioned by ``list_id`` under
    the tier's table, then the centroids and the ``model`` sidecars."""
    rows.write.mode("overwrite").partitionBy("list_id").parquet(
        f"{path}/{_table(tier)}"
    )
    if "residual" in model:
        model["meta"] = centroids.sparkSession.createDataFrame(
            [(bool(model.pop("residual")),)], "residual boolean"
        )
    for name, df in {"centroids": centroids, **model}.items():
        _write_sidecar(df, path, name)


def _append(
    spark, path: str, new: DataFrame, id_col: str, vec_col: str
) -> list[int]:
    """Every tier's incremental add: assign ``new`` against the SAVED
    centroids (no retrain), apply the tier's ``encode_lists`` (its
    save_* builder's step) with the saved model, dedup by id against
    the touched list partitions only, and append new files to just
    those partitions. Returns the touched list ids."""
    h = _open(spark, path)
    rows = assign_lists(new, h.centroids, vec_col=vec_col)
    if h.tier != "flat":
        encode = {"pq": pq, "sq8": sq, "binary": binary}[h.tier].encode_lists
        rows = encode(rows, h.centroids, id_col, vec_col, **h.model)
    # the batch plan (e.g. chunk + embed + assign) runs once, with the
    # partitioning adaptive execution gives it (a cached plan keeps
    # the shuffle's, which wrote up to 1.5x the files per append)
    rows = rows.localCheckpoint()
    touched = sorted(
        r.list_id for r in rows.select("list_id").distinct().collect()
    )
    if touched:
        existing = _scan(h, touched).select(id_col)
        rows.join(existing, on=id_col, how="left_anti").write.mode(
            "append"
        ).partitionBy("list_id").parquet(f"{path}/{_table(h.tier)}")
    return touched


def save_ivf(
    corpus: DataFrame,
    centroids: DataFrame,
    path: str,
    vec_col: str = "embedding",
    assign_engine: str = "sql",
) -> None:
    """Assign lists and persist the index *partitioned by list_id* —
    the FAISS posting-list layout as a parquet partitioning scheme.
    Centroids save alongside (``<path>/_centroids``) so a later
    session reopens the index without retraining.
    ``assign_engine`` → :func:`assign_lists` (production builds use
    "arrow")."""
    _write_lists(
        assign_lists(corpus, centroids, vec_col=vec_col, engine=assign_engine),
        centroids, path,
    )


def search_persisted(
    spark,
    path: str,
    query: DataFrame,
    nprobe: int = 4,
    k: int = 10,
    metric: str = "ip",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """FAISS ``index.search(q, k)`` on a saved IVF index of any float
    tier, read from its layout: ``(id, list_id, score)``, best first,
    ties to the lowest id. The probe set becomes an ``IN`` filter on
    the partition column, so the scan reads only the ``nprobe`` probed
    list directories (FAISS scanning only the probed posting lists).
    The query row is collected once and scored as a literal by the
    tier's query score (:func:`_literal_score`, :func:`pq.adc_score`,
    :func:`sq.sq_score`) with the handle's model, so a warm call runs
    the pruned scan plus, if it takes one, the job collecting
    ``query``. A frame with no row returns no row. PQ/SQ8 codes score
    inner product only and binary codes rank by Hamming distance
    (``binary.ivfbin_search_persisted``): either raises, naming the
    tier."""
    h = _open(spark, path)
    if h.tier == "binary":
        raise ValueError(
            f"{path} is an IVF-BINARY index: it ranks by Hamming distance, "
            "search it with binary.ivfbin_search_persisted"
        )
    if h.tier != "flat" and metric != "ip":
        raise ValueError(
            f"{path} is an IVF-{h.tier.upper()} index: its codes score "
            f"inner product only (metric='ip'), not metric={metric!r}"
        )
    qvec = query_vector(query, query_vec_col)
    probe_ids = _probe(h, qvec, nprobe)
    if qvec is None:
        score = F.lit(None).cast("double")
    elif h.tier == "pq":
        books, residual = h.query_model
        lists = None
        if residual:  # the probed lists' centroids, for their <c, q>
            lists = (probe_ids, h.cvecs[[h.cids.index(c) for c in probe_ids]])
        score = pq.adc_score(qvec, books, lists)
    elif h.tier == "sq8":
        score = sq.sq_score(qvec, *h.query_model)
    else:
        score = _literal_score(metric, vec_col, qvec)
    return _topk_scored(_scan(h, probe_ids), score, k, id_col)


def ivf_search_persisted_batch(
    spark,
    path: str,
    queries: DataFrame,
    nprobe: int = 4,
    k: int = 10,
    metric: str = "ip",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Batched search over a persisted IVF index: N queries share ONE
    partition-pruned scan — the serving-path optimization FAISS gets
    from batching ``index.search(xq)`` calls, here as a plan shape.

    Per-query probe sets compute in one window over the broadcast
    centroids (queries are bounded, like every query-side structure);
    their UNION becomes the partition-pruning ``IN`` filter, so the
    scan reads each probed list directory ONCE even when several
    queries probe it. The (query, list, query_vec) probe map then
    BROADCAST-joins the scan on ``list_id``: a row scores only
    against the queries that actually probed its list — per-row work
    matches the one-query-at-a-time loop, while scan bytes drop by
    the probe-overlap factor. Only (query_id, id, score) triples
    shuffle for the per-query rank window.

    Equality with the per-query :func:`search_persisted` loop and
    the partition-prune plan fact are pytest-gated.
    """
    df, _ = ivf_search_persisted_batch_probed(
        spark, path, queries, nprobe=nprobe, k=k, metric=metric,
        id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col, query_vec_col=query_vec_col,
    )
    return df


def ivf_search_persisted_batch_probed(
    spark,
    path: str,
    queries: DataFrame,
    nprobe: int = 4,
    k: int = 10,
    metric: str = "ip",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
):
    """:func:`ivf_search_persisted_batch` plus the probe-set union it
    already computed, as ``(topk_df, sorted_list_ids)`` — for callers
    (the persisted k-NN classifier and miners) whose label join-back
    scan prunes to the SAME probed lists: sharing the union keeps the
    whole mining call at ONE bounded centroid-probe job instead of
    re-running the crossJoin + window + collect a second time."""
    cents = _open(spark, path).centroids
    probes = (
        queries.select(query_id_col, query_vec_col)
        .crossJoin(F.broadcast(cents))
        .select(
            F.col(query_id_col),
            F.col("cid"),
            V.l2_sq(F.col(query_vec_col), F.col("cvec")).alias("cdist"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cdist").asc(), F.col("cid").asc()
    )
    probe_map = (
        probes.withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") <= nprobe)
        .select(query_id_col, F.col("cid"))
    )
    pm = probe_map.collect()  # bounded: Q x nprobe rows
    all_lists = sorted({r["cid"] for r in pm})
    # derive the query-id field type from the caller's frame: the
    # pipeline is type-agnostic (string keys are legal), so the probe
    # map must not pin bigint
    qid_field = StructType([
        queries.schema[query_id_col],
        StructField("_probe_cid", IntegerType(), False),
    ])
    qmap = (
        spark.createDataFrame(
            [(r[query_id_col], r["cid"]) for r in pm], qid_field,
        )
        .join(queries.select(query_id_col, query_vec_col), on=query_id_col)
    )
    index = _scan_lists(spark, path, all_lists)
    score = _score_col(metric, F.col(vec_col), F.col(query_vec_col))
    scored = index.join(
        F.broadcast(qmap), index["list_id"] == qmap["_probe_cid"]
    ).select(
        F.col(query_id_col),
        F.col(id_col),
        F.round(score, SCORE_DECIMALS).alias("score"),
    )
    rw = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    topk = (
        scored.withColumn("rank", F.row_number().over(rw))
        .where(F.col("rank") <= k)
        .select(
            query_id_col, id_col, "score",
            F.col("rank").cast("int").alias("rank"),
        )
    )
    return topk, all_lists
