"""Drift → decay → retrain → recovery at rehearsal scale (VERDICT r4
ask #4): the full lifecycle story the operators were built for, played
out on the sf1 corpus instead of a toy fixture.

Scenario (all data from `_scaledata/sf1`, 20k vectors = 10 isometry
replicas of the sf0.1 base):

1. BUILD: persist an IVF-flat index over replicas 0-8 (18k vectors),
   kmeans-trained with the arrow engine, watermarked via
   write_train_meta.
2. DRIFT: append replica 9 (2k vectors — a rotation the quantizer
   never saw, i.e. a new domain arriving in ingest) through
   lifecycle.append: map-only assignment against the SAVED
   centroids, appended files in touched list partitions only.
3. DECAY: recall_report(centroids=saved) with queries drawn from the
   NEW batch — the drift-monitoring deployment from the
   recall_report docstring. The ivf tier's recall on drifted queries
   is the number that sags.
4. GUARD: lifecycle.should_retrain trips on the growth watermark.
5. RETRAIN: lifecycle.retrain_ivf with the arrow engine and a bounded
   train sample; recall_report again with the NEW centroids.

Prints one JSON line per stage; append stdout to
artifacts/scale_rehearsal/sf1_drift.jsonl.

Usage: python scripts/scale_drift.py [SF_DIR] [CPUS]
"""

from __future__ import annotations

import json
import math
import sys
import tempfile
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from faiss_vector_search_spark import io as fio  # noqa: E402
from faiss_vector_search_spark.operators import (  # noqa: E402
    evaluate,
    ivf as ivf_mod,
    lifecycle,
)
from faiss_vector_search_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/_scaledata/sf1"
    cpus = sys.argv[2] if len(sys.argv) > 2 else "32"
    spark = get_spark(
        app_name="fvs-scale-drift",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")

    emb = fio.load_table(spark, sf_dir, "embeddings").cache()
    n = emb.count()
    clustered = sf_dir.rstrip("/").endswith("c")
    if clustered:
        # clustered corpus: the WHOLE corpus is the trained base; the
        # drift batch is synthesized from 10 brand-new mixture
        # components (salted hash streams) — a new domain arriving in
        # ingest, which is the scenario where retraining actually has
        # structure to recover (the replica corpus is near-random, so
        # its retrain delta is small by information theory, not by
        # implementation; both rows are recorded side by side)
        sys.path.insert(0, "scripts")
        from make_scale_data import clustered_embeddings_df

        n_base, n_batch = n, n // 10
        base = emb
        drift = clustered_embeddings_df(
            spark, n_batch, n_clusters=10, salt="drift", id_offset=n
        )
        drift_qids = tuple(n + 2 + i * (n_batch // 4) for i in range(4))
    else:
        n_batch = n // 10
        n_base = n - n_batch
        base = emb.where(F.col("vec_id") < n_base)
        drift = emb.where(F.col("vec_id") >= n_base)
        # queries FROM the drifted batch: the vectors the stale
        # quantizer has never seen are where recall decays
        drift_qids = tuple(n_base + 2 + i * (n_batch // 4) for i in range(4))
    nlist = max(16, int(math.sqrt(n_base)))
    base_qids = tuple(2 + i * (n_base // 4) for i in range(4))

    def ivf_recall(corpus, cents, qids) -> float:
        # the scale_recall.py production dial: ~3% scan fraction.
        # On a trained quantizer each cluster co-locates in one list
        # so few probes suffice; a STALE quantizer scatters drifted
        # clusters across many lists, which is exactly what a small
        # probe budget exposes (a wide-open nprobe hides the decay
        # by brute force).
        report = evaluate.recall_report(
            corpus, query_ids=qids, k=10, nlist=nlist,
            nprobe=max(4, nlist // 32), centroids=cents,
            engine="arrow", pq_train_sample=10_000,
            lsh_bits=8, lsh_tables=8,
        )
        return {r.tier: r.recall_at_k for r in report.collect()}["ivf"]

    path = tempfile.mkdtemp(prefix="fvs_drift_") + "/ivf"
    t0 = time.time()
    cents0 = ivf_mod.kmeans_centroids(
        base, nlist, iters=4, train_sample=10_000, engine="arrow"
    )
    ivf_mod.save_ivf(base, cents0, path, assign_engine="arrow")
    lifecycle.write_train_meta(spark, path, n_base)
    print(json.dumps({
        "stage": "build", "sf": sf_dir.rstrip("/").rsplit("/", 1)[-1],
        "n_base": n_base, "nlist": nlist,
        "sec": round(time.time() - t0, 1),
    }), flush=True)

    saved_cents = spark.read.parquet(f"{path}/_centroids")
    r_healthy = ivf_recall(base, saved_cents, base_qids)
    print(json.dumps({
        "stage": "pre_drift",
        "ivf_recall_base_queries": r_healthy,
    }), flush=True)

    t0 = time.time()
    touched = lifecycle.append(spark, path, drift)
    grown = spark.read.parquet(f"{path}/vectors").drop("list_id")
    r_decay = ivf_recall(grown, saved_cents, drift_qids)
    trip = lifecycle.should_retrain(spark, path, growth_factor=1.05)
    print(json.dumps({
        "stage": "drift_appended", "n_appended": n_batch,
        "touched_lists": len(touched),
        "append_sec": round(time.time() - t0, 1),
        "ivf_recall_drift_queries_stale_quantizer": r_decay,
        "should_retrain_growth_1.05": trip,
    }), flush=True)

    t0 = time.time()
    new_cents = lifecycle.retrain_ivf(
        spark, path, iters=4, engine="arrow", train_sample=10_000
    )
    # re-read: retrain_ivf rewrote <path>/vectors, so the pre-retrain
    # lazy plan over that path now points at deleted files
    grown = spark.read.parquet(f"{path}/vectors").drop("list_id")
    r_post = ivf_recall(grown, new_cents, drift_qids)
    print(json.dumps({
        "stage": "retrained", "retrain_sec": round(time.time() - t0, 1),
        "ivf_recall_drift_queries_retrained": r_post,
        "recovered": r_post > r_decay,
    }), flush=True)


if __name__ == "__main__":
    main()
