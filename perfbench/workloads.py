"""Benchmark workloads: closed loops with one client, checked against
the oracles in :mod:`perfbench.oracle`.

Each workload builds its inputs from the run's seed, sets up its store,
discards warm-up requests (the first call of every plan shape pays code
generation), then issues requests until the measured window ends. Every
request is checked; a failed check counts the request as failed.

In a traced run the same loop runs twice: untraced first, then with
spans around calls into each layer's public functions. Spans that time
a layer in isolation sit beside the real call (named ``call.*``) inside
the request's span; the real call's time minus the isolated layers'
times is reported as the derived remainder.
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pandas as pd
import pyarrow.dataset as pads
import pyarrow.parquet as pq

from faiss_vector_search_spark.operators import (
    chunking, embed, index_store, ivf, knn,
)
from perfbench import gen, oracle
from perfbench.trace import Tracer

TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs) -> tuple[float, float]:
    """(percentile, value): the highest listed percentile with at least
    ten samples beyond it; the median when there are fewer than 20."""
    for p in TAIL_PERCENTILES:
        if len(xs) * (1 - p / 100) >= 10:
            return p, float(np.percentile(xs, p))
    return 50.0, median(xs)


def fs_stats(spark, path: str) -> dict:
    """Files, list directories and bytes under ``path``, read through
    the session's Hadoop FileSystem (no Spark job)."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    files = 0
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        if it.next().getPath().getName().endswith(".parquet"):
            files += 1
    dirs = sum(1 for st in fs.listStatus(jpath) if st.isDirectory())
    return {"files": files, "list_dirs": dirs,
            "bytes": int(fs.getContentSummary(jpath).getLength())}


def parquet_rows(path: str) -> int:
    return pads.dataset(path, format="parquet", partitioning="hive").count_rows()


class Workload:
    """Shared loop, bookkeeping and metric assembly."""

    setup_reps = 1

    def __init__(self, spark, seed: int, work: str, tracer: Tracer):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.tr = tracer
        self.latencies: list[float] = []
        self.recalls: list[float] = []
        self.writes: list[float] = []      # seconds per index write
        self.written: list[int] = []       # items per index write
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.rid = 0

    def check(self, ok: bool, what: str) -> bool:
        if not ok:
            self.failures.append(what)
        return ok

    def op(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1

    def loop(self, seconds: float, min_steps: int = 1) -> None:
        """Run steps for ``seconds``: a step starts while at least half
        of a median step's time is left, so the window ends within half
        a step of ``seconds`` whether steps are short or long."""
        end = time.perf_counter() + seconds
        took: list[float] = []
        while len(took) < min_steps or end - time.perf_counter() > median(took) / 2:
            t = time.perf_counter()
            self.rid += 1
            self.step()
            took.append(time.perf_counter() - t)

    def warmup(self) -> None:
        # the first call compiles the plan; the JIT keeps speeding the
        # generated code up over the next few calls
        for _ in range(5):
            self.rid += 1
            self.step()

    def reset_measurements(self) -> None:
        self.latencies, self.recalls = [], []
        self.writes, self.written = [], []

    def index_stats(self) -> dict:
        return fs_stats(self.spark, self.store_path())

    def metrics(self, setup_s: float, peak_rss_mb: float,
                amplification: float) -> dict:
        p, lat_tail = tail(self.latencies)
        self.tail_percentile = p
        return {
            "setup_s": (setup_s, "s"),
            "latency_p50_s": (median(self.latencies), "s"),
            "latency_tail_s": (lat_tail, "s"),
            "recall_at_10": (float(np.mean(self.recalls)), "ratio"),
            "docs_per_s": (sum(self.written) / sum(self.writes) if self.writes else 0.0, "1/s"),
            "append_p50_s": (median(self.writes), "s"),
            "storage_amplification": (amplification, "ratio"),
            "peak_rss_mb": (peak_rss_mb, "MB"),
            "success_ratio": (1 - self.failed / max(self.attempted, 1), "ratio"),
        }


# --------------------------------------------------------------------
class ServeExact(Workload):
    """One query at a time through ``knn.dynamic_threshold_search`` over
    a persisted flat store — the reference's own retrieval semantics —
    each followed by a ``save_index`` write of the store, the write
    side of the metrics."""

    N, DIM, CLUSTERS = 20_000, 64, 100
    K, HIT_TARGET, STEP = 20, 3, 0.05
    N_QUERIES = 400
    setup_reps = 3
    MIN_STEPS = 1
    REQUEST_SPAN, REQUEST_CALL = "request", "call.dynamic_threshold_search"

    def setup(self, rep: int) -> None:
        rng = np.random.default_rng(self.seed)
        with self.tr.span("setup.generate", rid=rep):
            x = gen.clustered_vectors(rng, self.N, self.DIM, self.CLUSTERS)
            pdf = pd.DataFrame({"vec_id": np.arange(self.N, dtype=np.int64),
                                "embedding": list(x)})
            df = self.spark.createDataFrame(
                pdf, "vec_id bigint, embedding array<float>")
        self.path = f"{self.work}/flat{rep}"
        t = time.perf_counter()
        with self.tr.span("index_store.save_index", rid=rep):
            index_store.save_index(df, self.path, partition_by=None)
        self.df = df
        self.x = x
        self.queries = gen.perturbed_queries(rng, x, self.N_QUERIES)

    def after_setup(self) -> None:
        with self.tr.span("index_store.load_index") as rec:
            self.store = index_store.load_index(self.spark, self.path)
        rec["counts"].update(fs_stats(self.spark, self.path))
        n = self.store.count()
        self.op(self.check(n == self.N, f"store holds {n} rows, want {self.N}"))
        self.ids = np.arange(self.N, dtype=np.int64)

    def store_path(self) -> str:
        return self.path

    def storage_amplification(self) -> float:
        return fs_stats(self.spark, self.path)["bytes"] / (self.N * self.DIM * 4)

    def step(self) -> None:
        q = self.queries[self.rid % len(self.queries)]
        top = None
        with self.tr.span("request", rid=self.rid):
            t = time.perf_counter()
            qdf = self.spark.createDataFrame([(q.tolist(),)], "query_vec array<double>")
            if self.tr.enabled:
                with self.tr.span("knn.topk", rid=self.rid):
                    top = knn.topk(self.store, qdf, k=self.K).collect()
                t = time.perf_counter()
            with self.tr.span("call.dynamic_threshold_search", rid=self.rid,
                              spark_counts=True) as rec:
                rows = knn.dynamic_threshold_search(
                    self.store, qdf, k=self.K, hit_target=self.HIT_TARGET,
                    step=self.STEP).collect()
            lat = time.perf_counter() - t
        got = [(r["vec_id"], r["score"], r["final_threshold"]) for r in rows]
        raw = oracle.seq_dot(self.x, q)
        ok = self.check(
            oracle.check_dynamic(got, self.ids, raw, self.K, self.HIT_TARGET, self.STEP),
            f"dynamic search for query {self.rid} differs from the oracle")
        if top is not None:
            ok = self.check(oracle.check_exact_topk(
                [(r["vec_id"], r["score"]) for r in top], self.ids, raw, self.K),
                f"top-k for query {self.rid} differs from the oracle") and ok
        _, want = oracle.dynamic_expected(self.ids, raw, self.K, self.HIT_TARGET, self.STEP)
        self.op(ok)
        self.latencies.append(lat)
        self.recalls.append(oracle.recall([i for i, _, _ in got][:10], want[:10]))
        rec["counts"].update({
            "knn.rows_scored": self.N, "knn.hits": len(rows),
            "knn.final_threshold": rows[0]["final_threshold"] if rows else 0.0,
        })
        # the loop's write side: persist the store again (overwrite), so
        # the write metrics are sampled over the same window as the reads
        t = time.perf_counter()
        with self.tr.span("index_store.save_index", rid=self.rid):
            index_store.save_index(self.df, f"{self.work}/rewrite", partition_by=None)
        self.writes.append(time.perf_counter() - t)
        self.written.append(self.N)

    def layer_metrics(self) -> dict:
        tr = self.tr
        call = tr.durations("call.dynamic_threshold_search")
        return {
            "index_store.open_s": median(tr.durations("index_store.load_index")),
            "knn.topk_s": median(tr.durations("knn.topk")),
            "knn.dynamic_select_s": median(call) - median(tr.durations("knn.topk")),
            "knn.rows_scored": median(tr.counts("knn.rows_scored")),
            "knn.hits_per_request": median(tr.counts("knn.hits")),
            "knn.final_threshold": median(tr.counts("knn.final_threshold")),
        }


# --------------------------------------------------------------------
class IngestDocs(Workload):
    """Writes beside reads on a persisted chunk index: each round
    appends a batch of new documents, then issues text queries, one of
    them on a chunk the round just appended."""

    BASE_DOCS, BATCH_DOCS = 300, 10
    NLIST, NPROBE, K, DIM = 16, 8, 10, 64
    MIN_SIZE, MAX_SIZE, OVERLAP = 100, 250, 20
    PARAPHRASE_QUERIES = 1
    # at least three rounds, so every run has three appends and six
    # queries, however near a round ends to the end of the window
    MIN_STEPS = 3
    WARMUP_ROUNDS, WARMUP_QUERIES = 1, 3
    REQUEST_SPAN, REQUEST_CALL = "query", "call.chunk_search_persisted"

    def setup(self, rep: int) -> None:
        rng = np.random.default_rng(self.seed)
        with self.tr.span("setup.generate", rid=rep):
            self.docgen = gen.DocGenerator(rng)
            docs = self.docgen.docs(self.BASE_DOCS)
            df = self.docs_frame(0, docs)
        self.path = f"{self.work}/chunks{rep}"
        if self.tr.enabled:
            self.trace_build_layers(df)
        t = time.perf_counter()
        with self.tr.span("call.chunk_index_build", rid=rep):
            embed.chunk_index_build(df, self.path, nlist=self.NLIST,
                                    min_size=self.MIN_SIZE, max_size=self.MAX_SIZE,
                                    overlap=self.OVERLAP, dim=self.DIM)
        self.writes.append(time.perf_counter() - t)
        self.written.append(self.BASE_DOCS)
        self.base_docs = docs
        self.rng = rng

    def docs_frame(self, first_id: int, docs: list[str]):
        pdf = pd.DataFrame({"doc_id": np.arange(first_id, first_id + len(docs),
                                                dtype=np.int64),
                            "text": docs})
        return self.spark.createDataFrame(pdf, "doc_id bigint, text string")

    def trace_build_layers(self, df) -> None:
        """Time the quantizer training and list assignment of the build
        on materialised chunk rows, apart from chunking and embedding."""
        chunks = chunking.chunk_greedy(df, self.MIN_SIZE, self.MAX_SIZE, self.OVERLAP)
        keyed = chunks.selectExpr("named_struct('d', doc_id, 'c', chunk_id) AS _ckey",
                                  "chunk")
        rows = embed.embed_documents(keyed, dim=self.DIM, id_col="_ckey",
                                     text_col="chunk", hash_fn="md5").join(keyed, "_ckey")
        rows = self.spark.createDataFrame(rows.collect(), rows.schema)
        with self.tr.span("ivf.seeded_centroids"):
            cents = ivf.seeded_centroids(rows, self.NLIST, id_col="_ckey").collect()
        cents = self.spark.createDataFrame(cents, "cid int, cvec array<double>")
        with self.tr.span("ivf.assign_lists"):
            ivf.assign_lists(rows, cents).write.format("noop").mode("overwrite").save()

    def after_setup(self) -> None:
        # oracle state: every chunk's key, text and embedding, the saved
        # centroids, and each chunk's list under the probe contract
        cent = pq.read_table(f"{self.path}/_centroids").to_pydict()
        order = np.argsort(cent["cid"])
        self.cids = np.asarray(cent["cid"])[order]
        self.cents = np.asarray(cent["cvec"], dtype=np.float64)[order]
        self.keys, self.texts, self.embs, self.lists = [], {}, [], []
        self.row_of: dict[int, int] = {}
        self.next_id = 0
        n = self.register(self.base_docs)
        rows = parquet_rows(f"{self.path}/vectors")
        self.op(self.check(rows == n, f"index holds {rows} rows, want {n}"))

    def register(self, docs: list[str]) -> int:
        """Chunk and embed ``docs`` with the oracle; returns the chunk
        count."""
        n = 0
        for text in docs:
            for c, chunk in enumerate(oracle.greedy_chunks(
                    text, self.MIN_SIZE, self.MAX_SIZE, self.OVERLAP)):
                key = self.next_id * 1000 + c
                e = oracle.embed_text(chunk, self.DIM)
                self.row_of[key] = len(self.keys)
                self.keys.append(key)
                self.texts[key] = chunk
                self.embs.append(e)
                self.lists.append(oracle.probe_set(self.cents, self.cids, e, 1)[0])
                n += 1
            self.next_id += 1
        self.emb_mat = np.vstack(self.embs)
        self.key_arr = np.asarray(self.keys, dtype=np.int64)
        return n

    def store_path(self) -> str:
        return f"{self.path}/vectors"

    def storage_amplification(self) -> float:
        raw = sum(len(t.encode()) for t in self.texts.values())
        raw += len(self.keys) * self.DIM * 4
        return fs_stats(self.spark, f"{self.path}/vectors")["bytes"] / raw

    def append(self, docs: list[str], first_id: int,
               traced: bool) -> tuple[float, int, int]:
        """Append ``docs`` through ``chunk_index_append``: (seconds, rows
        added, chunks the oracle expects)."""
        df = self.docs_frame(first_id, docs)
        before = parquet_rows(f"{self.path}/vectors")
        if traced:
            self.trace_append_layers(df, len(docs))
        fs0 = fs_stats(self.spark, f"{self.path}/vectors") if traced else None
        t = time.perf_counter()
        with self.tr.span("call.chunk_index_append", rid=self.rid,
                          spark_counts=True) as rec:
            embed.chunk_index_append(self.spark, self.path, df,
                                     min_size=self.MIN_SIZE, max_size=self.MAX_SIZE,
                                     overlap=self.OVERLAP, dim=self.DIM)
        secs = time.perf_counter() - t
        added = parquet_rows(f"{self.path}/vectors") - before
        want = sum(len(oracle.greedy_chunks(d, self.MIN_SIZE, self.MAX_SIZE, self.OVERLAP))
                   for d in docs)
        if traced:
            fs1 = fs_stats(self.spark, f"{self.path}/vectors")
            rec["counts"].update({
                "lifecycle.files_written": fs1["files"] - fs0["files"],
                "lifecycle.bytes_written": fs1["bytes"] - fs0["bytes"],
                "lifecycle.input_bytes": sum(len(d.encode()) for d in docs),
                "lifecycle.rows_offered": want, "lifecycle.rows_added": added,
            })
        return secs, added, want

    def trace_append_layers(self, df, n_docs: int) -> None:
        with self.tr.span("chunking.chunk_greedy", rid=self.rid) as rec:
            chunks = chunking.chunk_greedy(
                df, self.MIN_SIZE, self.MAX_SIZE, self.OVERLAP).collect()
        rec["counts"].update({"chunking.chunks": len(chunks),
                              "chunking.docs": n_docs})
        keyed = self.spark.createDataFrame(
            [((r["doc_id"], r["chunk_id"]), r["chunk"]) for r in chunks],
            "_ckey struct<d:bigint,c:int>, chunk string")
        with self.tr.span("embed.embed_documents", rid=self.rid):
            embed.embed_documents(keyed, dim=self.DIM, id_col="_ckey",
                                  text_col="chunk", hash_fn="md5").collect()

    def step(self) -> None:
        traced = self.tr.enabled
        docs = self.docgen.docs(self.BATCH_DOCS)
        with self.tr.span("round", rid=self.rid):
            secs, added, want = self.append(docs, self.next_id, traced)
            self.op(self.check(added == want,
                               f"append {self.rid} added {added} rows, want {want}"))
            self.writes.append(secs)
            self.written.append(len(docs))
            n_before = len(self.keys)
            self.register(docs)
            fresh = self.keys[n_before + int(self.rng.integers(len(self.keys) - n_before))]
            self.query(self.texts[fresh], fresh, traced)
            for _ in range(self.PARAPHRASE_QUERIES):
                self.query(self.paraphrase(), None, traced)

    def warmup(self) -> None:
        """Unmeasured rounds (the first append to write rows compiles
        the write path), a re-append of the first stored documents,
        which must add no rows, then unmeasured queries: query latency
        keeps falling over the first several queries of a run, while
        appends settle after the first."""
        for _ in range(self.WARMUP_ROUNDS):
            self.rid += 1
            self.step()
        _, again, _ = self.append(self.base_docs[:self.BATCH_DOCS], 0, traced=False)
        self.op(self.check(again == 0, f"re-append of stored documents added {again} rows"))
        for _ in range(self.WARMUP_QUERIES):
            self.query(self.paraphrase(), None, traced=False)

    def paraphrase(self) -> str:
        """A stored chunk's words with about a third dropped, plus two
        vocabulary words: a query near stored text but not equal to it."""
        words = self.texts[self.keys[int(self.rng.integers(len(self.keys)))]].split()
        kept = [w for w in words if self.rng.random() > 0.35]
        return " ".join(kept) + " " + self.docgen.query_text(2)

    def query(self, text: str, fresh_key, traced: bool) -> None:
        qe = oracle.embed_text(text, self.DIM)
        with self.tr.span("query", rid=self.rid):
            if traced:
                self.trace_query_layers(text)
            t = time.perf_counter()
            with self.tr.span("call.chunk_search_persisted", rid=self.rid,
                              spark_counts=True) as rec:
                rows = embed.chunk_search_persisted(
                    self.spark, self.path, text, k=self.K, nprobe=self.NPROBE,
                    dim=self.DIM).collect()
            lat = time.perf_counter() - t
        probes = oracle.probe_set(self.cents, self.cids, qe, self.NPROBE)
        probed_rows = sum(1 for li in self.lists if li in probes)
        rec["counts"].update({"ivf.lists_probed": len(probes),
                              "ivf.rows_probed": probed_rows})
        hits = [(r["doc_id"] * 1000 + r["chunk_id"], r["score"]) for r in rows]

        def score_of(key):
            if key not in self.texts:
                return None
            return oracle.round6(oracle.seq_dot(
                self.emb_mat[self.row_of[key]][None, :], qe)[0])

        ok = oracle.check_ann(hits, score_of, self.K, probed_rows)
        ok = ok and all(self.texts.get(r["doc_id"] * 1000 + r["chunk_id"]) == r["chunk_text"]
                        for r in rows)
        if fresh_key is not None:
            ok = ok and any(k == fresh_key and s == 1.0 for k, s in hits)
        self.op(self.check(ok, f"query in round {self.rid} fails its checks"))
        self.latencies.append(lat)
        want = oracle.topk(self.key_arr, oracle.seq_dot(self.emb_mat, qe), 10)
        self.recalls.append(oracle.recall([k for k, _ in hits][:10], want))

    def trace_query_layers(self, text: str) -> None:
        qdf = self.spark.createDataFrame([(0, text)], "qid int, text string")
        with self.tr.span("embed.embed_documents_query", rid=self.rid):
            vec = embed.embed_documents(qdf, dim=self.DIM, id_col="qid",
                                        hash_fn="md5").collect()[0]["embedding"]
        with self.tr.span("index_store.load_index", rid=self.rid) as rec:
            index_store.load_index(self.spark, f"{self.path}/vectors")
        rec["counts"].update(fs_stats(self.spark, f"{self.path}/vectors"))
        with self.tr.span("ivf.probe_lists", rid=self.rid):
            cents = self.spark.read.parquet(f"{self.path}/_centroids")
            qv = self.spark.createDataFrame([(vec,)], "query_vec array<double>")
            ivf.probe_lists(qv, cents, self.NPROBE).collect()

    def layer_metrics(self) -> dict:
        tr = self.tr
        chunk_s = median(tr.durations("chunking.chunk_greedy"))
        embed_s = median(tr.durations("embed.embed_documents"))
        query_s = median(tr.durations("embed.embed_documents_query"))
        open_s = median(tr.durations("index_store.load_index"))
        probe_s = median(tr.durations("ivf.probe_lists"))
        search = median(tr.durations("call.chunk_search_persisted"))
        docs = sum(tr.counts("chunking.docs"))
        offered = sum(tr.counts("lifecycle.rows_offered"))
        return {
            "index_store.open_s": open_s,
            "ivf.probe_s": probe_s,
            "ivf.scan_s": search - query_s - open_s - probe_s,
            "ivf.lists_probed": median(tr.counts("ivf.lists_probed")),
            "ivf.rows_scanned_per_result": median(tr.counts("ivf.rows_probed")) / self.K,
            "ivf.train_s": median(tr.durations("ivf.seeded_centroids")),
            "ivf.assign_s": median(tr.durations("ivf.assign_lists")),
            "chunking.s": chunk_s,
            "chunking.chunks_per_doc": sum(tr.counts("chunking.chunks")) / docs if docs else 0.0,
            "embed.chunks_s": embed_s,
            "embed.query_s": query_s,
            "lifecycle.append_s": median(tr.durations("call.chunk_index_append")) - chunk_s - embed_s,
            "lifecycle.files_written": median(tr.counts("lifecycle.files_written")),
            "lifecycle.bytes_written_per_input_byte":
                sum(tr.counts("lifecycle.bytes_written")) / max(sum(tr.counts("lifecycle.input_bytes")), 1),
            "lifecycle.dedup_dropped_ratio":
                1 - sum(tr.counts("lifecycle.rows_added")) / offered if offered else 0.0,
        }


WORKLOADS = {"serve_exact": ServeExact, "ingest_docs": IngestDocs}
