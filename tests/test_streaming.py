"""Streaming gates (SURVEY.md §2c #35/#36): the windowed streaming agg
equals its batch twin over the same data, and the incremental index
add applies id-deduplicated appends across micro-batches."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from faiss_vector_search_spark import io as fio
from faiss_vector_search_spark.operators import analytics
from faiss_vector_search_spark.streaming import streams


@pytest.fixture()
def events_stream_dir(spark, sf_small, tmp_path):
    """Events split into 3 files so the file source sees multiple
    micro-batches (maxFilesPerTrigger=1)."""
    src = fio.load_table(spark, sf_small, "events")
    out = tmp_path / "events_in"
    src.repartition(3).write.parquet(str(out))
    return str(out)


def test_streaming_tumbling_equals_batch(spark, sf_small, events_stream_dir):
    stream = streams.stream_events(spark, events_stream_dir)
    agg = streams.streaming_tumbling_agg(stream, watermark="100 days")
    streams.run_to_completion(agg, "stream_agg")

    got = {
        (r.hour, r.event_type): (r.n_events, float(r.sum_value))
        for r in spark.table("stream_agg").collect()
    }
    want = {
        (r.hour, r.event_type): (r.n_events, float(r.sum_value))
        for r in analytics.tumbling_window_agg(
            fio.load_table(spark, sf_small, "events")
        ).collect()
    }
    assert got == want


def test_incremental_index_add_dedups_across_batches(spark, sf_small, tmp_path):
    emb = fio.load_table(spark, sf_small, "embeddings")
    src = tmp_path / "incoming"
    idx = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")

    # batch 1: ids 0-199; batch 2: ids 100-299 (100 dupes); batch 3:
    # ids 250-299 again (all dupes)
    emb.where("vec_id < 200").coalesce(1).write.parquet(str(src / "b1"))
    shutil.move(str(next((src / "b1").glob("*.parquet"))), str(src / "f1.parquet"))
    emb.where("vec_id >= 100 AND vec_id < 300").coalesce(1).write.parquet(str(src / "b2"))
    shutil.move(str(next((src / "b2").glob("*.parquet"))), str(src / "f2.parquet"))
    emb.where("vec_id >= 250 AND vec_id < 300").coalesce(1).write.parquet(str(src / "b3"))
    shutil.move(str(next((src / "b3").glob("*.parquet"))), str(src / "f3.parquet"))
    for d in ("b1", "b2", "b3"):
        shutil.rmtree(str(src / d))

    q = streams.incremental_index_add(spark, str(src), idx, checkpoint=ckpt)
    q.awaitTermination()

    final = spark.read.parquet(idx)
    assert final.count() == 300
    assert final.select("vec_id").distinct().count() == 300
    assert final.agg(F.min("vec_id"), F.max("vec_id")).first() == (0, 299)



def test_incremental_index_add_raises_on_unreadable_index(
    spark, sf_small, tmp_path
):
    """An index directory that exists but does not read as parquet is
    not a first batch: the stream fails instead of appending rows with
    no id dedup."""
    emb = fio.load_table(spark, sf_small, "embeddings")
    src = tmp_path / "incoming"
    emb.where("vec_id < 50").write.parquet(str(src))
    idx = tmp_path / "index"
    idx.mkdir()
    (idx / "stray.txt").write_text("not parquet")

    q = streams.incremental_index_add(
        spark, str(src), str(idx), checkpoint=str(tmp_path / "ckpt")
    )
    with pytest.raises(StreamingQueryException):
        q.awaitTermination()
    assert sorted(os.listdir(idx)) == ["stray.txt"]

def test_stateful_sessionize_matches_batch(spark, sf_small, tmp_path):
    """applyInPandasWithState sessionization over time-ordered
    micro-batches equals the batch operator."""
    src = fio.load_table(spark, sf_small, "events")
    ts_us = F.unix_micros("ts")
    mid1, mid2 = src.select(ts_us.alias("us")).approxQuantile(
        "us", [0.33, 0.66], 0.001
    )
    out = tmp_path / "events_by_time"
    for i, cond in enumerate(
        (
            ts_us < mid1,
            (ts_us >= mid1) & (ts_us < mid2),
            ts_us >= mid2,
        )
    ):
        src.where(cond).coalesce(1).write.parquet(str(out / f"b{i}"))
        part = next((out / f"b{i}").glob("*.parquet"))
        part.rename(out / f"f{i}.parquet")
        shutil.rmtree(str(out / f"b{i}"))

    stream = streams.stream_events(spark, str(out))
    sess = streams.streaming_sessionize(stream, gap_minutes=30)
    streams.run_to_completion(sess, "stream_sessions", mode="update")

    # update mode: latest row per user is the answer
    updates = spark.table("stream_sessions").toPandas()
    got = {
        int(r.user_id): (int(r.n_sessions), int(r.n_events))
        for _, r in updates.iterrows()  # later updates overwrite
    }
    want = {
        r.user_id: (r.n_sessions, r.n_events)
        for r in analytics.sessionize(src).collect()
    }
    assert got == want


def test_streaming_dedup_is_exactly_once(spark, sf_small, tmp_path):
    """Redelivered events (duplicate files across micro-batches)
    collapse to one row per event_id."""
    src = fio.load_table(spark, sf_small, "events").where("event_id < 300")
    out = tmp_path / "dup_events"
    src.coalesce(1).write.parquet(str(out / "b1"))
    p1 = next((out / "b1").glob("*.parquet"))
    p1.rename(out / "f1.parquet")
    import shutil as sh
    sh.rmtree(str(out / "b1"))
    sh.copy(str(out / "f1.parquet"), str(out / "f2.parquet"))  # redelivery

    stream = streams.stream_events(spark, str(out))
    deduped = streams.streaming_dedup(stream, watermark="100 days")
    streams.run_to_completion(deduped, "stream_dedup", mode="append")

    got = spark.table("stream_dedup")
    n = src.count()
    assert got.count() == n
    assert got.select("event_id").distinct().count() == n


def test_streaming_interval_join_matches_batch(spark, sf_medium, tmp_path):
    # sf0.01: dense enough that ±60s error/click pairs exist
    sf_small = sf_medium
    src = fio.load_table(spark, sf_medium, "events")
    out = tmp_path / "events_in"
    src.repartition(3).write.parquet(str(out))
    events_stream_dir = str(out)
    stream = streams.stream_events(spark, events_stream_dir)
    joined = streams.streaming_interval_join(stream, window_seconds=60,
                                             watermark="100 days")
    streams.run_to_completion(joined, "stream_ij", mode="append")
    got = {
        (r.l_id, r.r_id) for r in spark.table("stream_ij").collect()
    }

    ev = fio.load_table(spark, sf_small, "events")
    base = ev.select(
        "event_id", analytics._ts_us(ev).alias("ts_us"), "event_type"
    )
    left = base.where("event_type = 'error'").select(
        F.col("event_id").alias("l_id"), F.col("ts_us").alias("l_us")
    )
    right = base.where("event_type = 'click'").select(
        F.col("event_id").alias("r_id"), F.col("ts_us").alias("r_us")
    )
    want = {
        (r.l_id, r.r_id)
        for r in left.join(
            right, F.abs(F.col("r_us") - F.col("l_us")) <= 60_000_000
        ).collect()
    }
    assert got == want
    assert want, "corpus must produce interval-join pairs"


def test_streaming_rollup_sink_equals_batch(spark, sf_small, events_stream_dir, tmp_path):
    """The materialized parquet rollup after draining the stream must
    equal the batch tumbling agg — across micro-batches the keyed
    merge replaces updated (hour, type) rows instead of duplicating
    or dropping them."""
    path = str(tmp_path / "rollup")
    q = streams.streaming_rollup_sink(
        streams.stream_events(spark, events_stream_dir),
        path,
        checkpoint=str(tmp_path / "ckpt"),
        watermark="100 days",
    )
    q.awaitTermination()

    got = {
        (r.hour, r.event_type): (r.n_events, float(r.sum_value))
        for r in spark.read.parquet(path).collect()
    }
    want = {
        (r.hour, r.event_type): (r.n_events, float(r.sum_value))
        for r in analytics.tumbling_window_agg(
            fio.load_table(spark, sf_small, "events")
        ).collect()
    }
    assert got == want
    # partition layout: hour-date directories for pruning
    import os

    assert any(d.startswith("hour_date=") for d in os.listdir(path))


def test_upsert_merge_replaces_by_key_preserves_others(spark, tmp_path):
    from faiss_vector_search_spark.operators import maintenance

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [("d1", "a", 1.0), ("d1", "b", 2.0), ("d2", "a", 3.0)],
        "day string, k string, v double",
    )
    maintenance.upsert_merge(spark, base, path, "day", ["day", "k"])
    upd = spark.createDataFrame(
        [("d1", "b", 20.0)], "day string, k string, v double"
    )
    maintenance.upsert_merge(spark, upd, path, "day", ["day", "k"])
    rows = {(r.day, r.k): r.v for r in spark.read.parquet(path).collect()}
    # (01, b) replaced; (01, a) survived in the same partition;
    # (02, a) partition untouched
    assert rows == {("d1", "a"): 1.0, ("d1", "b"): 20.0, ("d2", "a"): 3.0}


def test_streaming_enrich_matches_batch_join(spark, sf_small, events_stream_dir):
    batch = fio.load_table(spark, sf_small, "events")
    dim = (
        batch.groupBy("event_type")
        .agg(F.round(F.avg("value"), 6).alias("type_avg"))
    )
    dim_static = spark.createDataFrame(dim.collect(), dim.schema)
    stream = streams.stream_events(spark, events_stream_dir)
    enriched = streams.streaming_enrich(stream, dim_static)
    streams.run_to_completion(enriched, "enriched_sink", mode="append")
    got = spark.table("enriched_sink")
    assert got.count() == batch.count()
    assert got.where(F.col("type_avg").isNull()).count() == 0
    one = got.where("event_type = 'click'").select("type_avg").first()
    want = dim_static.where("event_type = 'click'").first().type_avg
    assert one.type_avg == want


def test_watermark_drops_late_events(spark, sf_small, tmp_path):
    """The documented late-data policy must actually fire: after the
    watermark advances past them (checkpointed across restarts), a
    batch of far-older events contributes nothing to the windowed agg
    — bounded state is real, not just configured."""
    src = fio.load_table(spark, sf_small, "events")
    hi = src.agg(F.max(F.unix_micros("ts"))).first()[0]
    cutoff_us = hi - 24 * 3600 * 1_000_000  # last day = on-time run
    out = tmp_path / "late_in"
    ckpt = str(tmp_path / "ckpt")
    on_time = src.where(F.unix_micros("ts") >= cutoff_us)
    late = src.where(F.unix_micros("ts") < cutoff_us)  # >23h older
    assert on_time.count() > 0 and late.count() > 0

    sink = str(tmp_path / "sink")

    def run():
        # file sink: the one append-mode sink that supports
        # checkpoint recovery (memory sink does not)
        q = (
            streams.streaming_tumbling_agg(
                streams.stream_events(spark, str(out)), watermark="1 hour"
            )
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    out.mkdir()
    on_time.coalesce(1).write.parquet(str(out / "b1"))
    next((out / "b1").glob("*.parquet")).rename(out / "f1.parquet")
    shutil.rmtree(str(out / "b1"))
    run()
    emitted1 = {r.hour for r in spark.read.parquet(sink).collect()}
    assert emitted1  # on-time windows below the final watermark emitted

    # second run restores the advanced watermark from the checkpoint;
    # every event in this file is far below it
    late.coalesce(1).write.parquet(str(out / "b2"))
    next((out / "b2").glob("*.parquet")).rename(out / "f2.parquet")
    shutil.rmtree(str(out / "b2"))
    run()
    emitted2 = {r.hour for r in spark.read.parquet(sink).collect()}
    # the boundary hour holds both on-time and late events, so
    # compare on hours that are EXCLUSIVELY late
    on_time_hours = {
        r.h
        for r in on_time.select(F.date_trunc("hour", "ts").alias("h"))
        .distinct()
        .collect()
    }
    late_only_hours = {
        r.h
        for r in late.select(F.date_trunc("hour", "ts").alias("h"))
        .distinct()
        .collect()
    } - on_time_hours
    assert late_only_hours
    assert not (emitted2 & late_only_hours)  # late data fully dropped
    assert emitted2 == emitted1  # run 2 added no rows at all


def test_streaming_curation_ingest_filters_and_dedups(spark, sf_small, tmp_path):
    """The streamed curated corpus equals the batch composition:
    gopher-keep docs, one copy per distinct text, keep-lowest-id —
    across micro-batches AND across duplicate redelivery."""
    from faiss_vector_search_spark.operators import textstats

    docs = fio.load_table(spark, sf_small, "documents")
    src = tmp_path / "docs_in"
    # batch 1: first half; batch 2: second half PLUS a redelivery of
    # part of batch 1 (at-least-once upstream)
    docs.where("doc_id < 250").coalesce(1).write.mode("append").parquet(str(src))
    docs.where("doc_id >= 250").unionByName(
        docs.where("doc_id < 50")
    ).coalesce(1).write.mode("append").parquet(str(src))

    out = tmp_path / "curated"
    q = streams.streaming_curation_ingest(
        spark, str(src), str(out), checkpoint=str(tmp_path / "ckpt")
    )
    q.awaitTermination()

    curated = spark.read.parquet(str(out))
    # batch twin
    keep_ids = {
        r.doc_id
        for r in textstats.gopher_rules(docs).where("keep").collect()
    }
    batch_twin = {}
    for r in docs.collect():
        if r.doc_id in keep_ids:
            h = r.text
            if h not in batch_twin or r.doc_id < batch_twin[h]:
                batch_twin[h] = r.doc_id
    got = {(r.text, r.doc_id) for r in curated.select("text", "doc_id").collect()}
    assert got == set(batch_twin.items())
    # re-running over the same input adds nothing (append-only dedup)
    q2 = streams.streaming_curation_ingest(
        spark, str(src), str(out), checkpoint=str(tmp_path / "ckpt2")
    )
    q2.awaitTermination()
    assert spark.read.parquet(str(out)).count() == len(batch_twin)


def test_streaming_topk_matches_batch(spark, sf_small, tmp_path):
    """Running top-k over streamed candidate batches converges to the
    batch top-k over everything seen, with the same tie-break."""
    from faiss_vector_search_spark.operators import knn

    emb = fio.load_table(spark, sf_small, "embeddings")
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    scored_all = knn.topk_join(emb, queries, k=10_000).select(
        "query_id", "vec_id", F.col("score").cast("double").alias("score")
    )
    src = tmp_path / "scored_in"
    # 3 micro-batches of candidates in arbitrary id slices
    for lo, hi in ((0, 150), (150, 320), (320, 10_000)):
        scored_all.where(
            (F.col("vec_id") >= lo) & (F.col("vec_id") < hi)
        ).coalesce(1).write.mode("append").parquet(str(src))

    stream = (
        spark.readStream.schema("query_id bigint, vec_id bigint, score double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = streams.streaming_topk(stream, k=5)
    streams.run_to_completion(out, "topk_stream", mode="update")
    # update mode: keep the LAST emission per (query_id, rank) —
    # selected by the emitted state_version, NOT by sink row order
    # (memory-sink ordering across micro-batches is not a contract)
    final = {}
    best_version = {}
    for r in spark.sql("SELECT * FROM topk_stream").collect():
        k_ = (r.query_id, r.rank)
        if r.state_version > best_version.get(k_, 0):
            best_version[k_] = r.state_version
            final[k_] = (r.vec_id, r.score)
    batch = knn.topk_join(emb, queries, k=5).collect()
    for r in batch:
        assert final[(r.query_id, r.rank)] == (r.vec_id, float(r.score)), (
            r.query_id, r.rank
        )


def test_streaming_decontaminate_matches_batch(spark, sf_small, tmp_path):
    """The streamed clean/quarantine split equals the batch
    decontaminate over the union of batches, and redelivered docs
    land as a no-op in both outputs."""
    from faiss_vector_search_spark.operators import dedup

    docs = fio.load_table(spark, sf_small, "documents")
    bench = docs.where(F.col("doc_id") % 50 == 0)
    src = tmp_path / "docs_in"
    docs.where("doc_id < 250").coalesce(1).write.mode("append").parquet(str(src))
    docs.where("doc_id >= 250").unionByName(
        docs.where("doc_id < 50")  # at-least-once redelivery
    ).coalesce(1).write.mode("append").parquet(str(src))

    out = tmp_path / "clean"
    q = streams.streaming_decontaminate(
        spark, str(src), bench, str(out),
        checkpoint=str(tmp_path / "ckpt"), n=8,
    )
    q.awaitTermination()

    contaminated = {
        r.doc_id
        for r in dedup.decontaminate(docs, bench, n=8, hash_fn="xxhash64")
        .collect()
    }
    all_ids = {r.doc_id for r in docs.select("doc_id").collect()}
    got_clean = {
        r.doc_id for r in spark.read.parquet(str(out)).collect()
    }
    got_quarantine = {
        r.doc_id
        for r in spark.read.parquet(str(out) + "_quarantine").collect()
    }
    assert got_clean == all_ids - contaminated
    assert got_quarantine == contaminated
    # every doc landed exactly once despite redelivery
    assert spark.read.parquet(str(out)).count() == len(got_clean)
    assert (
        spark.read.parquet(str(out) + "_quarantine").count()
        == len(got_quarantine)
    )
    # quarantine keeps the overlap accounting for audit
    cols = set(spark.read.parquet(str(out) + "_quarantine").columns)
    assert {"n_shared_grams", "n_benchmark_docs"} <= cols


def test_streaming_quality_filter_matches_batch(spark, sf_small, tmp_path):
    """The streamed keep/reject split equals batch classifier scoring
    over the union of batches; redelivered docs land as a no-op; the
    rejects store keeps the logit for audit."""
    from faiss_vector_search_spark.operators import classifier

    model = classifier.load_model()
    docs = fio.load_table(spark, sf_small, "documents")
    src = tmp_path / "docs_in"
    docs.where("doc_id < 250").coalesce(1).write.mode("append").parquet(str(src))
    docs.where("doc_id >= 250").unionByName(
        docs.where("doc_id < 50")  # at-least-once redelivery
    ).coalesce(1).write.mode("append").parquet(str(src))

    out = tmp_path / "kept"
    q = streams.streaming_quality_filter(
        spark, str(src), model, str(out),
        checkpoint=str(tmp_path / "ckpt"), hash_fn="md5",
    )
    q.awaitTermination()

    batch = classifier.score_quality_classifier(docs, model, hash_fn="md5")
    keep_ids = {r.doc_id for r in batch.where(F.col("keep")).collect()}
    all_ids = {r.doc_id for r in docs.select("doc_id").collect()}
    got_keep = {r.doc_id for r in spark.read.parquet(str(out)).collect()}
    rejects = spark.read.parquet(str(out) + "_rejects")
    got_reject = {r.doc_id for r in rejects.collect()}
    assert got_keep == keep_ids
    assert got_reject == all_ids - keep_ids
    # exactly-once despite redelivery
    assert spark.read.parquet(str(out)).count() == len(got_keep)
    assert rejects.count() == len(got_reject)
    assert "logit" in set(rejects.columns)


def test_streaming_funnel_matches_batch(spark, sf_small, tmp_path):
    """Stateful funnel progression over time-ordered micro-batches
    equals the batch conditional-min cascade."""
    src = fio.load_table(spark, sf_small, "events")
    ts_us = F.unix_micros("ts")
    mid1, mid2 = src.select(ts_us.alias("us")).approxQuantile(
        "us", [0.33, 0.66], 0.001
    )
    out = tmp_path / "funnel_events"
    for i, cond in enumerate(
        (
            ts_us < mid1,
            (ts_us >= mid1) & (ts_us < mid2),
            ts_us >= mid2,
        )
    ):
        src.where(cond).coalesce(1).write.parquet(str(out / f"b{i}"))
        part = next((out / f"b{i}").glob("*.parquet"))
        part.rename(out / f"f{i}.parquet")
        shutil.rmtree(str(out / f"b{i}"))

    stream = streams.stream_events(spark, str(out))
    fun = streams.streaming_funnel(stream)
    streams.run_to_completion(fun, "stream_funnel", mode="update")

    updates = spark.table("stream_funnel").toPandas()
    progress = {
        int(r.user_id): int(r.steps_completed)
        for _, r in updates.iterrows()  # later updates overwrite
    }
    want = {
        r["step_idx"]: r["n_users"]
        for r in analytics.event_funnel(src).collect()
    }
    for i in (1, 2, 3):
        got_i = sum(1 for v in progress.values() if v >= i)
        assert got_i == want[i], (i, got_i, want[i])

    # horizoned twin: same micro-batches, 48h conversion window —
    # must equal the batch cascade with the same horizon (which is
    # strictly tighter than the unbounded counts on this corpus)
    fun_h = streams.streaming_funnel(
        streams.stream_events(spark, str(out)), horizon_s=48 * 3600
    )
    streams.run_to_completion(fun_h, "stream_funnel_h", mode="update")
    updates_h = spark.table("stream_funnel_h").toPandas()
    progress_h = {
        int(r.user_id): int(r.steps_completed)
        for _, r in updates_h.iterrows()
    }
    want_h = {
        r["step_idx"]: r["n_users"]
        for r in analytics.event_funnel(src, horizon_s=48 * 3600).collect()
    }
    assert any(want_h[i] < want[i] for i in (2, 3))  # horizon binds
    for i in (1, 2, 3):
        got_i = sum(1 for v in progress_h.values() if v >= i)
        assert got_i == want_h[i], (i, got_i, want_h[i])


def test_streaming_chunk_index_ingest_builds_appends_dedups(
    spark, sf_small, tmp_path
):
    """Streamed chunk-index ingest equals the one-shot build: batch 1
    builds (and seeds the quantizer), batch 2 appends — including an
    at-least-once REDELIVERY of batch-1 docs, which the struct-key
    anti-join must no-op — and full-probe serving equals brute-force
    over the whole corpus."""
    from faiss_vector_search_spark.operators import embed

    docs = fio.load_table(spark, sf_small, "documents")
    src = tmp_path / "docs_in"
    docs.where("doc_id < 250").coalesce(1).write.mode("append").parquet(str(src))
    docs.where("doc_id >= 250").unionByName(
        docs.where("doc_id < 50")
    ).coalesce(1).write.mode("append").parquet(str(src))

    idx = str(tmp_path / "chunk_index")
    q = streams.streaming_chunk_index_ingest(
        spark, str(src), idx, checkpoint=str(tmp_path / "ckpt"), nlist=8
    )
    q.awaitTermination()

    query = "batch window vector hash fast stream"
    got = embed.chunk_search_persisted(spark, idx, query, k=5, nprobe=8)
    want = embed.chunk_text_search(docs, query, k=5)
    assert [(r.doc_id, r.chunk_id, r.chunk_text, r.score)
            for r in got.collect()] == \
        [(r.doc_id, r.chunk_id, r.chunk_text, r.score)
         for r in want.collect()]

    n = spark.read.parquet(f"{idx}/vectors").count()
    # every chunk exactly once despite the redelivery
    from faiss_vector_search_spark.operators.chunking import chunk_greedy

    assert n == chunk_greedy(docs, 100, 250, 20).count()

    # re-running the whole stream adds nothing (append-only dedup)
    q2 = streams.streaming_chunk_index_ingest(
        spark, str(src), idx, checkpoint=str(tmp_path / "ckpt2"), nlist=8
    )
    q2.awaitTermination()
    assert spark.read.parquet(f"{idx}/vectors").count() == n


def test_streaming_percolate_matches_batch(spark, sf_small, tmp_path):
    """The union of micro-batch alert rows equals batch percolation
    over the union of batches (exact: the operator holds no
    cross-document state); redelivered docs land as a no-op."""
    from faiss_vector_search_spark.operators import lexical

    queries = [
        ("q_batch_window", "batch window"),
        ("q_vector_stream", "vector stream"),
    ]
    docs = fio.load_table(spark, sf_small, "documents")
    src = tmp_path / "docs_in"
    docs.where("doc_id < 250").coalesce(1).write.mode("append").parquet(str(src))
    docs.where("doc_id >= 250").unionByName(
        docs.where("doc_id < 50")  # at-least-once redelivery
    ).coalesce(1).write.mode("append").parquet(str(src))

    out = tmp_path / "alerts"
    q = streams.streaming_percolate(
        spark, str(src), queries, str(out),
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()

    want = {
        (r["query_id"], r["doc_id"], r["n_matched"], r["n_terms"])
        for r in lexical.percolate(docs, queries).collect()
    }
    got_rows = spark.read.parquet(str(out)).collect()
    got = {
        (r["query_id"], r["doc_id"], r["n_matched"], r["n_terms"])
        for r in got_rows
    }
    assert got == want
    # exactly-once despite redelivery
    assert len(got_rows) == len(got)
