"""Persisted chunk ANN index gates (r7 verdict ask #2): the durable
build must serve row-identically to the in-memory engine, prune
partitions at the scan, and append without rewriting untouched lists."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from faiss_vector_search_spark import io as fio
from faiss_vector_search_spark.operators import embed


@pytest.fixture(scope="module")
def docs(spark, sf_small):
    return fio.load_table(spark, sf_small, "documents")


QUERY = "batch window vector hash fast stream"


def _partition_files(table_path: str) -> dict[str, set]:
    out: dict[str, set] = {}
    for d in os.listdir(table_path):
        if d.startswith("list_id="):
            out[d] = set(os.listdir(os.path.join(table_path, d)))
    return out


def test_persisted_matches_in_memory_engine(spark, docs, tmp_path):
    path = str(tmp_path / "idx")
    embed.chunk_index_build(docs, path, nlist=16)
    got = embed.chunk_search_persisted(
        spark, path, QUERY, k=5, nprobe=4
    ).collect()
    want = embed.chunk_text_search_ivf(
        docs, QUERY, k=5, nlist=16, nprobe=4
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_full_probe_equals_brute_force(spark, docs, tmp_path):
    path = str(tmp_path / "idx")
    embed.chunk_index_build(docs, path, nlist=8)
    got = embed.chunk_search_persisted(
        spark, path, QUERY, k=5, nprobe=8
    ).collect()
    want = embed.chunk_text_search(docs, QUERY, k=5).collect()
    # same hits and scores; the persisted row adds list_id
    assert [(r.doc_id, r.chunk_id, r.chunk_text, r.score) for r in got] == \
        [(r.doc_id, r.chunk_id, r.chunk_text, r.score) for r in want]


def test_probe_scan_prunes_partitions(spark, docs, tmp_path):
    path = str(tmp_path / "idx")
    embed.chunk_index_build(docs, path, nlist=16)
    df = embed.chunk_search_persisted(spark, path, QUERY, k=5, nprobe=4)
    import contextlib
    import io as pyio

    buf = pyio.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    formatted = buf.getvalue()
    assert "PartitionFilters: [" in formatted
    import re

    assert not re.search(r"PartitionFilters: \[\]", formatted), (
        "probe IN-filter must reach the scan as a partition filter"
    )


def test_append_touches_only_probed_lists_and_serves_new_docs(
    spark, docs, tmp_path
):
    path = str(tmp_path / "idx")
    initial = docs.where(F.col("doc_id") % 3 != 0)
    batch = docs.where(F.col("doc_id") % 3 == 0)
    embed.chunk_index_build(initial, path, nlist=8)
    before = _partition_files(f"{path}/vectors")

    touched = embed.chunk_index_append(spark, path, batch)
    assert touched
    after = _partition_files(f"{path}/vectors")
    for d, files in before.items():
        if int(d.split("=")[1]) not in touched:
            assert after[d] == files  # untouched lists stay byte-stable

    # full-probe serve over the appended index == one-shot build over
    # the full corpus (append must not change retrieval semantics)
    full = str(tmp_path / "full")
    embed.chunk_index_build(docs, full, nlist=8)
    got = embed.chunk_search_persisted(
        spark, path, QUERY, k=5, nprobe=8).collect()
    want = embed.chunk_search_persisted(
        spark, full, QUERY, k=5, nprobe=8).collect()
    assert [(r.doc_id, r.chunk_id, r.chunk_text, r.score) for r in got] == \
        [(r.doc_id, r.chunk_id, r.chunk_text, r.score) for r in want]


def test_append_dedupes_existing_chunk_keys(spark, docs, tmp_path):
    path = str(tmp_path / "idx")
    embed.chunk_index_build(docs, path, nlist=8)
    n0 = spark.read.parquet(f"{path}/vectors").count()
    # appending the same documents must be a no-op (anti-join on the
    # struct chunk key against the touched partitions)
    embed.chunk_index_append(spark, path, docs)
    assert spark.read.parquet(f"{path}/vectors").count() == n0


def test_retrain_guard_composes_with_chunk_index(spark, docs, tmp_path):
    """The chunk index carries the lifecycle train watermark: a small
    seed build that then ingests a much larger corpus trips
    should_retrain, exactly like every other IVF-family store."""
    from faiss_vector_search_spark.operators import lifecycle

    path = str(tmp_path / "idx")
    seed = docs.where(F.col("doc_id") < 40)
    embed.chunk_index_build(seed, path, nlist=4)
    assert lifecycle.should_retrain(spark, path, growth_factor=4.0) is False

    embed.chunk_index_append(
        spark, path, docs.where(F.col("doc_id") >= 40)
    )
    assert lifecycle.should_retrain(spark, path, growth_factor=4.0) is True


PARITY_TEXTS = [
    "",
    "!!! ... ??? --- ;;",
    "spark spark spark 42 42 7 spark 007 x1y2 x1y2",
    # İ and the Kelvin sign (U+212A) lowercase to ASCII i and k
    "İstanbul ıi KELVIN \u212aelvin 5\u212a naïve Straße 数据 çà ÉCOLE",
    " ".join(f"word{i % 37} Token{i % 11} 9{i}" for i in range(200))[:2048],
]


@pytest.mark.parametrize("hash_fn", ["md5", "xxhash64"])
def test_driver_query_embedding_matches_jvm_embedder(spark, hash_fn):
    """The driver-side query vector chunk_search_persisted folds into
    its scan equals embed_documents' row bit for bit; a text with no
    token has no row in either."""
    assert len(PARITY_TEXTS[-1]) == 2048
    df = spark.createDataFrame(
        list(enumerate(PARITY_TEXTS)), "doc_id bigint, text string"
    )
    jvm = {
        r.doc_id: list(r.embedding)
        for r in embed.embed_documents(df, hash_fn=hash_fn).collect()
    }
    for i, text in enumerate(PARITY_TEXTS):
        assert embed.query_embedding_hash(text, 64, hash_fn) == jvm.get(i), i
    assert 0 not in jvm and 1 not in jvm


@pytest.mark.parametrize("hash_fn", ["md5", "xxhash64"])
def test_rows_sharing_an_id_embed_one_vector_each(spark, hash_fn):
    """One vector per input text, like a model's encode(batch): two
    rows with the same id are embedded apart, and keep_cols comes
    through unchanged beside each vector."""
    texts = ["stream batch window stream", "vector hash vector 42"]
    df = spark.createDataFrame(
        [(7, text, pos) for pos, text in enumerate(texts)],
        "doc_id bigint, text string, pos int",
    )
    out = embed.embed_documents(df, hash_fn=hash_fn, keep_cols=("text", "pos"))
    assert out.columns == ["doc_id", "embedding", "text", "pos"]
    got = sorted(out.collect(), key=lambda r: r.pos)
    assert [(r.doc_id, r.text, r.pos) for r in got] == [
        (7, text, pos) for pos, text in enumerate(texts)
    ]
    for r in got:
        assert list(r.embedding) == embed.query_embedding_hash(
            r.text, 64, hash_fn
        )


def test_chunk_index_rows_chunk_once(docs):
    """The build/append head runs the chunker once and joins nothing
    back: chunk text rides its embedding row, and the one exchange is
    the repartition on the chunk key that feeds the list writer."""
    rows = embed._chunk_index_rows(
        docs, 100, 250, 20, 64, "md5", "doc_id", "text"
    )
    plan = rows._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1, plan
    assert "Join" not in plan and "Aggregate" not in plan, plan
    assert plan.count("Exchange") == 1, plan


def test_no_token_query_returns_no_rows(spark, docs, tmp_path):
    path = str(tmp_path / "idx")
    embed.chunk_index_build(docs, path, nlist=8)
    for text in ("", "!!! ... ???"):
        assert embed.chunk_search_persisted(
            spark, path, text, k=5, nprobe=8
        ).collect() == []
