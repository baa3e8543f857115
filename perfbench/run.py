"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload serve_exact --seed 1 --seconds 12 --trace 0

Run from the root of a checkout of the repository. Builds the inputs
from ``--seed``, starts a local Spark session on half the CPUs the
process may use, sets up the workload's store, measures for ``--seconds`` and
checks every output against the numpy oracles. With ``--trace 0`` the
result carries the end-to-end metrics; with ``--trace 1`` it runs the
loop untraced for half the window and traced for the other half, prints a per-layer table, writes the
spans to ``.perfbench_out/`` and carries the per-layer metrics.
Everything the run writes besides that goes under ``.perfbench_work/``
and is removed when it ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PER_LAYER = (
    "spark.start_s", "spark.jobs_per_request", "spark.tasks_per_request",
    "index_store.open_s", "index_store.files", "index_store.list_dirs",
    "index_store.bytes",
    "ivf.probe_s", "ivf.scan_s", "ivf.lists_probed",
    "ivf.rows_scanned_per_result", "ivf.train_s", "ivf.assign_s",
    "knn.topk_s", "knn.dynamic_select_s", "knn.rows_scored",
    "knn.hits_per_request", "knn.final_threshold",
    "chunking.s", "chunking.chunks_per_doc",
    "embed.chunks_s", "embed.query_s",
    "lifecycle.append_s", "lifecycle.files_written",
    "lifecycle.bytes_written_per_input_byte", "lifecycle.dedup_dropped_ratio",
    "index_store.self_s", "ivf.self_s", "knn.self_s", "chunking.self_s",
    "embed.self_s", "call.self_s", "trace.overhead_s",
)
PER_LAYER_UNITS = {"files": "count", "list_dirs": "count", "bytes": "bytes",
                   "lists_probed": "count", "rows_scanned_per_result": "ratio",
                   "rows_scored": "count", "hits_per_request": "count",
                   "final_threshold": "score", "chunks_per_doc": "ratio",
                   "files_written": "count", "bytes_written_per_input_byte": "ratio",
                   "dedup_dropped_ratio": "ratio", "jobs_per_request": "count",
                   "tasks_per_request": "count"}


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def cpu_times() -> list[int]:
    """Aggregate CPU jiffies from /proc/stat (user .. steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def configure_env(work: str) -> None:
    """Keep Spark's scratch files inside ``work`` and let Spark's Python
    workers import the engine package from this checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # Spark tasks get half the CPUs: the rest stay free for the Python
    # driver, the JVM's compiler and GC threads and the Python workers,
    # so a CPU lost to a neighbour slows a request less
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(max(1, len(os.sched_getaffinity(0)) // 2)))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell")
    sys.path.insert(0, ROOT)


def run(args, work: str, t_start: float) -> dict:
    from faiss_vector_search_spark.session import get_spark
    from perfbench.trace import Tracer, format_table
    from perfbench.workloads import WORKLOADS

    spark = get_spark(master=f"local[{os.environ['SPARK_GRAFT_CPUS']}]")
    session_s = time.perf_counter() - t_start
    spark.sparkContext.setLogLevel("ERROR")
    jvm = spark.sparkContext._gateway.proc
    try:
        tracer = Tracer(spark, enabled=bool(args.trace))
        wl = WORKLOADS[args.workload](spark, args.seed, work, tracer)
        setup = []
        for rep in range(wl.setup_reps):
            t = time.perf_counter()
            wl.setup(rep)
            setup.append(time.perf_counter() - t)
        wl.after_setup()
        setup_s = session_s + sorted(setup)[len(setup) // 2]
        tracer.enabled = False
        t_warm = time.perf_counter()
        wl.warmup()
        wl.reset_measurements()
        amplification = wl.storage_amplification()
        cpu0 = cpu_times()
        t_loop = time.perf_counter()
        # a traced run splits its window: untraced half, then traced half
        window = args.seconds / 2 if args.trace else args.seconds
        wl.loop(window, wl.MIN_STEPS)
        t_end = time.perf_counter()
        cpu1 = cpu_times()
        untraced_p50 = wl.metrics(setup_s, 0.0, amplification)["latency_p50_s"][0]
        if args.trace:
            tracer.enabled = True
            wl.reset_measurements()
            wl.loop(window)
        rss = vm_hwm_mb("self") + vm_hwm_mb(jvm.pid)
        if args.trace:
            metrics = layer_metrics(wl, tracer, session_s, untraced_p50)
            print(f"{args.workload}: per-layer spans of the traced loop")
            print(format_table(tracer.layer_table()))
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            tracer.dump(os.path.join(out, f"spans-{args.workload}-seed{args.seed}.jsonl"))
        else:
            metrics = {k: {"value": v, "unit": u}
                       for k, (v, u) in wl.metrics(setup_s, rss, amplification).items()}
            busy = [b - a for a, b in zip(cpu0, cpu1)]
            print(f"{args.workload}: {len(wl.latencies)} requests, tail is "
                  f"p{wl.tail_percentile:g}; setup runs {[round(s, 3) for s in setup]}; "
                  f"cpu steal {100 * busy[7] / max(sum(busy), 1):.1f}% "
                  f"idle {100 * busy[3] / max(sum(busy), 1):.1f}% while measuring; "
                  f"warm-up {t_loop - t_warm:.1f}s, loop {t_end - t_loop:.1f}s; "
                  f"latencies {[round(x, 2) for x in wl.latencies]}; "
                  f"writes {[round(x, 2) for x in wl.writes]}")
    finally:
        spark.stop()
        spark.sparkContext._gateway.shutdown()
        jvm.stdin.close()
        jvm.wait(timeout=60)
        print(f"session stopped {time.perf_counter() - t_start:.1f}s after start")
    for why in wl.failures:
        print("FAILED:", why)
    return {"correct": wl.failed == 0 and not wl.failures,
            "attempted": wl.attempted, "failed": wl.failed, "metrics": metrics}


def layer_metrics(wl, tracer, session_s: float, untraced_p50: float) -> dict:
    from perfbench.workloads import median

    vals = {name: 0.0 for name in PER_LAYER}
    vals["spark.start_s"] = session_s
    calls = [s for s in tracer.spans
             if s["name"] == wl.REQUEST_CALL and "spark.jobs" in s["counts"]]
    vals["spark.jobs_per_request"] = median([s["counts"]["spark.jobs"] for s in calls])
    vals["spark.tasks_per_request"] = median([s["counts"]["spark.tasks"] for s in calls])
    for key in ("files", "list_dirs", "bytes"):
        vals[f"index_store.{key}"] = wl.index_stats()[key]
    vals.update(wl.layer_metrics())
    for row in tracer.layer_table():
        if f"{row['layer']}.self_s" in vals:
            vals[f"{row['layer']}.self_s"] = row["self_s"]
    vals["trace.overhead_s"] = median(tracer.durations(wl.REQUEST_SPAN)) - untraced_p50
    return {k: {"value": float(v), "unit": unit_of(k)} for k, v in vals.items()}


def unit_of(name: str) -> str:
    leaf = name.split(".", 1)[1]
    return "s" if leaf.endswith("_s") or leaf == "s" else PER_LAYER_UNITS[leaf]


def main(argv=None) -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=("serve_exact", "ingest_docs"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "faiss_vector_search_spark")):
        print("run.py: no faiss_vector_search_spark package beside perfbench/; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        configure_env(work)
        result = run(args, work, t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
