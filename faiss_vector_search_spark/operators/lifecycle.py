"""Persisted-index lifecycle — incremental adds and retrain guards for
the IVF-family indexes, the cluster-scale analogue of the reference's
add-to-trained-index behavior (components/core/index_service.py:143-203
``add_vectors``: append vectors + train-if-needed + persist).

The flat store already has :func:`index_store.add_vectors` (union +
anti-join). :func:`append` extends the same append semantics to the
PERSISTED, list-partitioned tiers (ivf.save_ivf / pq.save_ivfpq /
sq.save_ivfsq / binary.save_ivfbin), where the point of the layout is
that a write must not touch what a probe would not read. The layout
itself — the list-partitioned ``vectors``/``codes`` table plus the
``_centroids``, ``_codebooks`` (PQ), ``_bounds`` (SQ8), ``_meta`` (PQ
residual flag) and ``_trained_on`` (train watermark) sidecars — is
owned by :mod:`.ivf`; this module reads and writes it only through
ivf's helpers, and one append serves every tier (``ivf._append``
reads the tier from the layout):

- **append**: the new batch coarse-assigns against the SAVED centroids
  (map-only, no retrain), runs the tier's ``encode_lists`` (the step
  its save_* builder runs) with the SAVED codebooks/flag/bounds,
  id-dedups against ONLY the touched list partitions, and lands as
  *appended files in just those partitions* — untouched lists are
  never read, never rewritten. Append-mode file
  adds beat a dynamic-partition overwrite here: no read-modify-write of
  existing rows (and no self-overwrite hazard of rewriting a path that
  is also the read source). Many small appended files are the normal
  parquet trade — `maintenance.compact_parquet` is the periodic fix.
- **dedup contract**: an identical (id, vector) re-add is always caught
  — deterministic assignment sends it to the same list the original
  lives in. A *changed* vector under an existing id may assign to a
  different list and is NOT caught: that is an update, not an append —
  remove_vectors + append, or rebuild.
- **retrain guard**: the reference trains its IVF quantizer once a
  big-enough batch arrives (index_service.py:179-185, ``len(vectors) >=
  100``). At cluster scale the analogous trigger is drift: when the
  corpus outgrows what the current centroids were trained on, list
  sizes skew and fixed-nprobe recall decays. :func:`should_retrain`
  flags that from persisted metadata; :func:`retrain_ivf` re-runs Lloyd
  on the current corpus and rewrites the index + train-size watermark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def append(
    spark: SparkSession,
    path: str,
    new: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[int]:
    """Incremental add into a persisted IVF index of any tier (flat,
    PQ, SQ8, binary — read from the layout at ``path``): assign with
    the saved centroids, encode as the tier's builder does, append to
    the touched list partitions. Returns the touched list ids."""
    from .ivf import _append

    return _append(spark, path, new, id_col, vec_col)


def write_train_meta(
    spark: SparkSession, path: str, trained_on: int
) -> None:
    """Record the corpus size the current quantizer was trained on —
    the watermark :func:`should_retrain` compares against."""
    from .ivf import _write_trained_on

    _write_trained_on(spark, path, trained_on)


def _retrain_due(
    ntotal: int, trained_on, growth_factor: float = 4.0,
    min_train_points: int = 100,
) -> bool:
    """:func:`should_retrain`'s rule on counts the caller already has."""
    if not trained_on:
        return ntotal >= min_train_points
    return ntotal >= growth_factor * trained_on


def should_retrain(
    spark: SparkSession,
    path: str,
    growth_factor: float = 4.0,
    min_train_points: int = 100,
) -> bool:
    """Drift guard for a persisted IVF-family index of any tier.

    Reference behavior (index_service.py:179-185): an untrained IVF
    quantizer trains once ≥100 vectors arrive. The persisted-tier
    analogue: retrain when ntotal has grown past ``growth_factor ×``
    the size the centroids were trained on (watermark in
    ``<path>/_trained_on``; absent watermark falls back to the
    reference's min-points rule). The count is a metadata-only scan of
    the partitioned table — no vector data is read."""
    from .ivf import _scan_lists, _trained_on

    ntotal = _scan_lists(spark, path).count()
    return _retrain_due(
        ntotal, _trained_on(spark, path), growth_factor, min_train_points
    )


def index_health_report(
    spark: SparkSession,
    path: str,
    query_ids: tuple = (0, 1, 2, 3),
    k: int = 10,
    nprobe: int = 4,
    target_recall: float = 0.9,
    nprobe_grid: tuple | None = None,
    growth_factor: float = 4.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One-call health check for a persisted IVF-FLAT index: the
    reference's get_stats echo + train-when-needed loop
    (index_service.py:179-185) run END TO END against the on-disk
    index, as a (metric, value) DataFrame an operator can alert on.

    Sections (all bounded, none scan unprobed lists more than once):

    - **layout**: ntotal + per-list row counts from one group-by over
      the partition column (n_lists rows to the driver). ``list_
      balance`` = max/avg list size — the skew number that predicts
      probe-tail latency at 1000 executors.
    - **recall at the current dial**: exact truth for the sampled
      queries (ONE corpus scan, all queries batched via a broadcast
      cross-join + per-query rank window), then
      :func:`ivf.ivf_search_persisted_batch` at ``nprobe`` — N queries
      share one partition-pruned scan.
    - **nprobe recommendation**: walk the dial grid (powers of two up
      to nlist by default) with the same batched probe, early-stopping
      at ``target_recall`` — the :func:`evaluate.nprobe_for_recall`
      walk, but over the PERSISTED assignment: the build already paid
      for list_id, so each grid step costs one pruned scan, never a
      re-assignment. ``recommended_nprobe`` = -1 if even a full scan
      misses the target (only possible under sampling noise).
    - **retrain verdict**: :func:`should_retrain`'s rule over the counts
      above (growth_ratio = -1 when no ``_trained_on`` watermark).

    Rows-only by design (kmeans assignment + probe recall have no SQL
    twin); gated by tests/test_lifecycle.py properties instead. A
    PQ/SQ8/binary index raises a ValueError naming its tier.
    """
    from .ivf import _open, _scan_lists, _trained_on, ivf_search_persisted_batch
    from .knn import topk_join

    _open(spark, path, "flat")
    vecs = _scan_lists(spark, path)
    sizes = {
        r["list_id"]: r["n"]
        for r in vecs.groupBy("list_id").agg(F.count("*").alias("n")).collect()
    }
    ntotal = sum(sizes.values())
    n_lists = len(sizes)
    avg_sz = ntotal / n_lists if n_lists else 0.0

    qdf = (
        vecs.where(F.col(id_col).isin(list(query_ids)))
        .select(F.col(id_col).alias("query_id"),
                F.col(vec_col).alias("query_vec"))
    )
    # exact truth ranked like the probed search it grades (6-dp scores,
    # id tie-break), so a full probe always reads recall 1.0
    exact = topk_join(vecs, qdf, k=k, id_col=id_col, vec_col=vec_col)
    truth: dict = {}
    for r in exact.collect():
        truth.setdefault(r["query_id"], set()).add(r[id_col])
    denom = max(1, sum(len(v) for v in truth.values()))

    def recall_at(p: int) -> float:
        got = ivf_search_persisted_batch(
            spark, path, qdf, nprobe=p, k=k,
            id_col=id_col, vec_col=vec_col,
        ).select("query_id", id_col).collect()
        hit = sum(1 for r in got if r[id_col] in truth.get(r["query_id"], ()))
        return round(hit / denom, 4)

    if nprobe_grid is None:
        g, p = [], 1
        while p < n_lists:
            g.append(p)
            p *= 2
        nprobe_grid = tuple(g + [n_lists])
    recall_current = recall_at(min(nprobe, n_lists))
    curve: dict[int, float] = {min(nprobe, n_lists): recall_current}
    recommended, rec_recall = -1, max(curve.values())
    for p in nprobe_grid:
        rc = curve.get(p)
        if rc is None:
            rc = recall_at(p)
            curve[p] = rc
        if rc >= target_recall:
            recommended, rec_recall = p, rc
            break
        rec_recall = max(rec_recall, rc)

    trained_on = _trained_on(spark, path)
    growth = round(ntotal / trained_on, 4) if trained_on else -1.0
    retrain = _retrain_due(ntotal, trained_on, growth_factor)

    rows = [
        ("n_vectors", float(ntotal)),
        ("n_lists", float(n_lists)),
        ("list_rows_min", float(min(sizes.values()) if sizes else 0)),
        ("list_rows_max", float(max(sizes.values()) if sizes else 0)),
        ("list_rows_avg", round(avg_sz, 4)),
        ("list_balance", round(max(sizes.values()) / avg_sz, 4)
         if sizes and avg_sz else -1.0),
        ("current_nprobe", float(min(nprobe, n_lists))),
        ("recall_at_current", recall_current),
        ("target_recall", float(target_recall)),
        ("recommended_nprobe", float(recommended)),
        ("recall_at_recommended", float(rec_recall)),
        ("trained_on", float(trained_on) if trained_on else -1.0),
        ("growth_ratio", float(growth)),
        ("should_retrain", 1.0 if retrain else 0.0),
    ]
    return spark.createDataFrame(rows, "metric string, value double")


def retrain_ivf(
    spark: SparkSession,
    path: str,
    nlist: int | None = None,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    engine: str = "sql",
    train_sample: int | None = None,
) -> DataFrame:
    """Retrain a persisted IVF-FLAT index on its CURRENT corpus: Lloyd
    refinement seeded from the saved centroids' count, full reassign,
    rewrite, watermark update. Returns the new centroids.

    The flat tier stores the original vectors, so retraining is
    self-contained; the compressed tiers (PQ/SQ8/binary) store codes
    only — retrain those from the source corpus via their save_*
    builders. The corpus is localCheckpoint-ed before the overwrite
    (Spark cannot overwrite a path it is still reading); a production
    deployment would instead write a new snapshot version
    (maintenance.write_snapshot) and flip readers atomically."""
    from .ivf import _open, _scan_lists, kmeans_centroids, save_ivf

    cids = _open(spark, path, "flat").cids
    vecs = _scan_lists(spark, path).drop("list_id").localCheckpoint()
    if nlist is None:
        nlist = len(cids)
    # engine/train_sample: the production retrain profile (arrow BLAS
    # Lloyd over a bounded id-strided sample) — the same knobs the
    # scale rehearsal forced on first-time training
    cents = kmeans_centroids(
        vecs, nlist, iters, id_col, vec_col,
        train_sample=train_sample, engine=engine,
    )
    save_ivf(vecs, cents, path, vec_col=vec_col, assign_engine=engine)
    write_train_meta(spark, path, vecs.count())
    return cents
