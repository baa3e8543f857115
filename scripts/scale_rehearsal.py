"""100x-scale rehearsal (VERDICT r3 item 5): run the heavy curation /
dedup / persisted-index operators at sf1 (10x bench SF) and sf10
(100x bench SF, generated by scripts/make_scale_data.py) and record

- steady-state wall time per op (bench.py protocol: noop-sink
  materialization, one warm-up run, then min-of-3),
- one-time index/model BUILD cost, separated from query cost the same
  way bench.py separates them,
- the plan gates that must HOLD at scale: no cartesian in the dedup
  pair stages, partition pruning (PartitionFilters) on every
  persisted-index search, value-filter pushdown (PushedFilters) in
  the curation scan,
- output cardinalities, so superlinear result growth (a sign of a
  quadratic candidate stage) is visible next to the times.

Index parameters follow the committed scale guidance instead of the
small-SF bench constants: nlist ≈ √N (FAISS IVF sizing, the same rule
semdedup's docstring commits to), centroids sampled id-strided across
the corpus (seeded_centroids' documented sample-and-sort variant for
large nlist — the first-nlist-ids default would draw every centroid
from the replica-0 key range).

Usage: python scripts/scale_rehearsal.py SF_DIR [CPUS]
Prints one JSON line per op plus a trailing summary JSON line.
"""

from __future__ import annotations

import contextlib
import io as pyio
import json
import math
import os
import re
import sys
import tempfile
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from faiss_vector_search_spark import io as fio  # noqa: E402
from faiss_vector_search_spark.operators import (  # noqa: E402
    binary as bin_mod,
    dedup,
    ivf as ivf_mod,
    lsh,
    pq as pq_mod,
    sq as sq_mod,
)
from faiss_vector_search_spark.session import get_spark  # noqa: E402
from pyspark.sql import Window  # noqa: E402


def strided_centroids(emb, nlist, id_col="vec_id", vec_col="embedding"):
    """Sample-and-sort coarse quantizer: every (N/nlist)-th id, so
    centroids cover the full key range (and, in replicated rehearsal
    data, every replica's orientation)."""
    n = emb.count()
    stride = max(1, n // nlist)
    return (
        emb.where(F.col(id_col) % stride == 0)
        .orderBy(F.col(id_col).asc())
        .limit(nlist)
        .select(
            (F.row_number().over(Window.orderBy(F.col(id_col).asc())) - 1)
            .cast("int")
            .alias("cid"),
            F.col(vec_col).alias("cvec"),
        )
    )


def main() -> None:
    sf_dir = sys.argv[1]
    cpus = sys.argv[2] if len(sys.argv) > 2 else "32"
    label = os.path.basename(sf_dir.rstrip("/"))

    spark = get_spark(
        app_name="fvs-scale-rehearsal",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")

    emb = fio.load_table(spark, sf_dir, "embeddings")
    n_vec = emb.count()
    n_docs = fio.load_table(spark, sf_dir, "documents").count()
    nlist = max(16, int(math.sqrt(n_vec)))

    def plan_facts(df):
        """Static-plan facts (AQE off for the explain only, like
        scripts/plan_audit.py)."""
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            buf = pyio.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("simple")
            simple = buf.getvalue()
            buf = pyio.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            formatted = buf.getvalue()
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", "true")
        return {
            "exchanges": simple.count("Exchange hashpartitioning"),
            "cartesian": bool(re.search(r"CartesianProduct", simple)),
            "partition_pruned": bool(
                re.search(r"PartitionFilters: \[[^\]]*list_id", formatted)
            ),
            "pushed_filters": bool(
                re.search(
                    r"PushedFilters: \[[^\]]*(LessThan|GreaterThan|EqualTo)",
                    formatted,
                )
            ),
        }

    def run(name, fn, gates=(), runs=3):
        df = fn()
        facts = plan_facts(df)
        df.write.mode("overwrite").format("noop").save()  # warm-up/compile
        best = float("inf")
        for _ in range(runs):
            t0 = time.time()
            df.write.mode("overwrite").format("noop").save()
            best = min(best, time.time() - t0)
        rows = df.count()
        gate_ok = all(
            (facts["partition_pruned"] if g == "prune" else
             facts["pushed_filters"] if g == "pushdown" else
             not facts["cartesian"] if g == "no_cartesian" else False)
            for g in gates
        )
        rec = {
            "op": name, "sf": label, "sec": round(best, 3), "rows": rows,
            "gates": list(gates), "gates_ok": gate_ok, **facts,
        }
        print(json.dumps(rec), flush=True)
        return rec

    def timed_build(name, fn):
        t0 = time.time()
        out = fn()
        sec = round(time.time() - t0, 3)
        print(json.dumps({"op": name, "sf": label, "build_sec": sec}),
              flush=True)
        return out

    results = []
    qs = entrymod.queries()

    # --- curation / text dedup ---------------------------------------
    results.append(run(
        "curation_pipeline",
        lambda: qs["curation_pipeline"](spark, sf_dir),
        gates=("no_cartesian", "pushdown"),
    ))
    results.append(run(
        "dedup_minhash_lsh",
        lambda: dedup.minhash_lsh_pairs(
            fio.load_table(spark, sf_dir, "documents"),
            n=3, num_hashes=16, bands=4, threshold=0.8, hash_fn="xxhash64",
        ),
        gates=("no_cartesian",),
    ))
    results.append(run(
        "dedup_simhash",
        lambda: dedup.simhash_pairs(
            fio.load_table(spark, sf_dir, "documents"),
            max_hamming=3, bands=4, hash_fn="xxhash64",
        ),
        gates=("no_cartesian",),
    ))
    results.append(run(
        "repeated_spans",
        lambda: dedup.repeated_spans(
            fio.load_table(spark, sf_dir, "documents"),
            w=8, min_count=2, hash_fn="xxhash64",
        ),
        gates=("no_cartesian",),
    ))
    results.append(run(
        "fuzzy_decontaminate",
        lambda: dedup.fuzzy_decontaminate(
            fio.load_table(spark, sf_dir, "documents"),
            fio.load_table(spark, sf_dir, "documents").where(
                F.col("doc_id") % 50 == 0
            ),
            threshold=0.8, hash_fn="xxhash64",
        ),
        gates=("no_cartesian",),
    ))

    # --- embedding dedup ---------------------------------------------
    # Production LSH sizing: bits grow with log2(N) so bucket size —
    # and per-vector candidate cost — is pinned (lsh.lsh_bits_for;
    # the fixed small-SF default n_bits=5 measured 54x slower at 10x
    # vectors). Threshold 0.9 is the near-duplicate regime hyperplane
    # LSH is built for; weak-similarity graphs belong to semdedup.
    n_bits = lsh.lsh_bits_for(n_vec, target_bucket_size=64)
    results.append(run(
        "dedup_embedding_lsh",
        lambda: lsh.near_dup_lsh(
            emb, threshold=0.9, dim=64, n_bits=n_bits,
            max_bucket_size=4096, engine="arrow",
        ),
        gates=("no_cartesian",),
    ))
    results.append(run(
        "semdedup_arrow",
        lambda: dedup.semdedup(
            emb, nlist=nlist, threshold=0.4, pair_engine="arrow",
        ),
        gates=("no_cartesian",),
    ))

    # --- persisted index ladder: build once, then probe-pruned search
    cents = timed_build(
        f"centroids[nlist={nlist}]",
        lambda: strided_centroids(emb, nlist).cache(),
    )
    cents.count()

    q_float = emb.where(F.col("vec_id") == 2).select(
        F.col("embedding").alias("query_vec")
    )

    base = tempfile.mkdtemp(prefix=f"fvs_rehearsal_{label}_")

    timed_build("build_ivf_flat", lambda: ivf_mod.save_ivf(
        emb, cents, f"{base}/ivf", assign_engine="arrow"))
    results.append(run(
        "ivf_search_persisted",
        lambda: ivf_mod.search_persisted(
            spark, f"{base}/ivf", q_float, nprobe=8, k=10),
        gates=("prune",), runs=5,
    ))

    bounds = timed_build("train_sq_bounds", lambda: sq_mod.sq_train(emb))
    timed_build("build_ivf_sq8", lambda: sq_mod.save_ivfsq(
        emb, cents, bounds, f"{base}/ivfsq", assign_engine="arrow"))
    results.append(run(
        "ivfsq_search_persisted",
        lambda: ivf_mod.search_persisted(
            spark, f"{base}/ivfsq", q_float, nprobe=8, k=10),
        gates=("prune",), runs=5,
    ))

    books = timed_build("train_pq_codebooks", lambda: pq_mod.pq_train(
        emb, m=16, ksub=64, iters=4, train_sample=20_000, engine="arrow"))
    timed_build("build_ivf_pq", lambda: pq_mod.save_ivfpq(
        emb, cents, books, f"{base}/ivfpq",
        assign_engine="arrow", encode_engine="arrow"))
    results.append(run(
        "ivfpq_search_persisted",
        lambda: ivf_mod.search_persisted(
            spark, f"{base}/ivfpq", q_float, nprobe=8, k=10),
        gates=("prune",), runs=5,
    ))

    timed_build("build_ivf_binary", lambda: bin_mod.save_ivfbin(
        emb, cents, f"{base}/ivfbin", assign_engine="arrow"))
    results.append(run(
        "ivfbin_search_persisted",
        lambda: bin_mod.ivfbin_search_persisted(
            spark, f"{base}/ivfbin", q_float, nprobe=8, k=10),
        gates=("prune",), runs=5,
    ))

    total = round(sum(r["sec"] for r in results), 3)
    bad = [r["op"] for r in results if not r["gates_ok"]]
    print(json.dumps({
        "metric": "scale_rehearsal_total_sec", "value": total, "unit": "sec",
        "sf": label, "n_docs": n_docs, "n_vec": n_vec, "nlist": nlist,
        "gates_failed": bad,
    }), flush=True)


if __name__ == "__main__":
    main()
