"""Persisted IVF layout gates (operators/ivf.py owns the layout): every
tier's persisted search prunes its scan to exactly the probed lists,
the IVF scorers accept only the metrics knn scores (PQ/SQ8 codes: inner
product), and a warm query on the cached index handle runs one job."""

from __future__ import annotations

import itertools
import re

import pytest
from pyspark.sql import functions as F

from faiss_vector_search_spark import io as fio
from faiss_vector_search_spark.operators import (
    binary, embed, ivf, knn, pq, sq,
)

NLIST, NPROBE = 8, 2
QUERY_TEXT = "batch window vector hash fast stream"


@pytest.fixture(scope="module")
def emb(spark, sf_small):
    return fio.load_table(spark, sf_small, "embeddings").cache()


@pytest.fixture(scope="module")
def query(emb):
    return emb.where(F.col("vec_id") == 3).select(
        F.col("embedding").alias("query_vec")
    )


@pytest.fixture(scope="module")
def cents(emb):
    return ivf.seeded_centroids(emb, NLIST).cache()


def _build_and_search(spark, tier, emb, cents, query, docs, path):
    """(persisted search frame, query frame it probed with)."""
    if tier == "chunk":
        embed.chunk_index_build(docs, path, nlist=NLIST)
        qv = embed.embed_documents(
            spark.createDataFrame([(0, QUERY_TEXT)], "qid int, text string"),
            id_col="qid",
        ).select(F.col("embedding").alias("query_vec"))
        return embed.chunk_search_persisted(
            spark, path, QUERY_TEXT, k=5, nprobe=NPROBE
        ), qv
    if tier == "binary":
        binary.save_ivfbin(emb, cents, path)
        return binary.ivfbin_search_persisted(
            spark, path, query, nprobe=NPROBE, k=5
        ), query
    _save(tier, emb, cents, path)
    return ivf.search_persisted(spark, path, query, nprobe=NPROBE, k=5), query


def _save(tier, emb, cents, path):
    """Build a float-tier index: flat, PQ (raw or residual) or SQ8."""
    if tier == "ivf":
        ivf.save_ivf(emb, cents, path)
    elif tier in ("pq", "pq_residual"):
        residual = tier == "pq_residual"
        train = pq.ivf_residual_frame(emb, cents) if residual else emb
        books = pq.pq_train(train, m=4, ksub=16, iters=2)
        pq.save_ivfpq(emb, cents, books, path, residual=residual)
    else:
        sq.save_ivfsq(emb, cents, sq.sq_train(emb), path)


@pytest.mark.parametrize("tier", ["ivf", "chunk", "pq", "sq", "binary"])
def test_persisted_search_prunes_to_probe_set(
    spark, sf_small, emb, cents, query, tier, tmp_path
):
    docs = fio.load_table(spark, sf_small, "documents")
    path = str(tmp_path / tier)
    out, qv = _build_and_search(spark, tier, emb, cents, query, docs, path)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    probes = {
        r.probe_cid
        for r in ivf.probe_lists(
            qv, spark.read.parquet(f"{path}/_centroids"), NPROBE
        ).collect()
    }
    filters = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    pruned = [f for f in filters if "list_id" in f]
    assert pruned, f"{tier}: no list_id partition filter in\n{plan}"
    for f in pruned:
        m = re.search(r"list_id#\d+ IN \(([^)]*)\)", f)
        assert m, f"{tier}: list_id filter is not a probe IN-list: {f}"
        assert {int(x) for x in m.group(1).split(",")} == probes


def test_search_persisted_refuses_other_tiers_and_metrics(
    spark, emb, cents, query, tmp_path
):
    """A binary index ranks by Hamming distance and PQ/SQ8 codes score
    inner product only: either mismatch names the tier."""
    path = str(tmp_path / "binary")
    binary.save_ivfbin(emb, cents, path)
    with pytest.raises(ValueError, match="IVF-BINARY.*ivfbin_search_persisted"):
        ivf.search_persisted(spark, path, query, nprobe=NPROBE)
    for tier, name in (("pq", "IVF-PQ"), ("sq", "IVF-SQ8")):
        path = str(tmp_path / tier)
        _save(tier, emb, cents, path)
        with pytest.raises(ValueError, match=f"{name} index.*metric='l2'"):
            ivf.search_persisted(spark, path, query, metric="l2")


def test_driver_literals_match_the_jvm(spark):
    """What a persisted query computes on the driver enters the plan
    unchanged: V.literal doubles parse back bit for bit, and
    binary.sign_code packs a vector exactly as binarize does (a short
    last word, zeros, -0.0 and NaN included)."""
    import math
    import struct

    from faiss_vector_search_spark.functions import vector as V

    vals = [0.1, 1 / 3, -0.0, 5e-324, -2.5e-308, 1.7976931348623157e308,
            -1e22, 123456789.123456789, float("inf"), float("-inf")]
    got = spark.range(1).select(V.literal(vals)).first()[0]
    assert [struct.pack("d", x) for x in got] == [
        struct.pack("d", x) for x in vals
    ]
    assert math.isnan(spark.range(1).select(
        V.literal([float("nan")])).first()[0][0])
    vecs = [
        [0.5, -1.0, 0.0, -0.0, float("nan")] * 14,   # 70 dims: 3 words
        [-1.0] * 32,
        [1.0] * 31,
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "i int, embedding array<double>"
    )
    want = {r.i: list(r.code) for r in binary.binarize(df).collect()}
    assert {i: binary.sign_code(v) for i, v in enumerate(vecs)} == want


def test_unknown_metric_raises(emb, query):
    with pytest.raises(ValueError, match="unknown metric"):
        ivf.ivf_search(emb, query, nlist=NLIST, nprobe=NPROBE, metric="bogus")


def test_cosine_full_probe_equals_exact_topk(emb, query, cents):
    got = ivf.ivf_search(
        emb, query, nlist=NLIST, nprobe=NLIST, k=10, metric="cosine",
        centroids=cents,
    )
    want = knn.topk(emb, query, k=10, metric="cosine")
    assert [(r.vec_id, r.score) for r in got.collect()] == [
        (r.vec_id, r.score) for r in want.collect()
    ]


# --- the cached index handle (ivf._open) --------------------------------


_GROUPS = itertools.count()


def _jobs(spark, run) -> int:
    """Spark jobs one call of ``run`` starts (StatusTracker job group)."""
    sc = spark.sparkContext
    group = f"ivf-layout-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        run()
    finally:
        sc.setJobGroup("", "")
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df):
    return [tuple(r) for r in df.collect()]


def test_handle_reloads_after_rebuild(spark, sf_small, tmp_path):
    """A rebuild of the same path with other centroids (another corpus
    and nlist) is served at once: the next query equals the in-memory
    engine over the new build, not the cached handle's old centroids."""
    docs = fio.load_table(spark, sf_small, "documents")
    path = str(tmp_path / "chunks")
    for corpus, nlist in ((docs, 8), (docs.where(F.col("doc_id") % 2 == 1), 4)):
        embed.chunk_index_build(corpus, path, nlist=nlist)
        assert _rows(embed.chunk_search_persisted(
            spark, path, QUERY_TEXT, k=5, nprobe=NPROBE
        )) == _rows(embed.chunk_text_search_ivf(
            corpus, QUERY_TEXT, k=5, nlist=nlist, nprobe=NPROBE
        ))


def test_handle_serves_appended_chunks(spark, sf_small, tmp_path):
    """Appends leave the handle warm and are served by the next query:
    an appended chunk's own text finds it at score 1.0 with one probe."""
    docs = fio.load_table(spark, sf_small, "documents")
    path = str(tmp_path / "chunks")
    embed.chunk_index_build(docs, path, nlist=NLIST)
    embed.chunk_search_persisted(spark, path, QUERY_TEXT, nprobe=1).collect()
    new_id = 10**9
    text = ("zebra quokka axolotl narwhal okapi pangolin tapir "
            "capybara wombat ibex")
    embed.chunk_index_append(spark, path, spark.createDataFrame(
        [(new_id, text)], "doc_id bigint, text string"
    ))
    chunk = (
        spark.read.parquet(f"{path}/vectors")
        .where(F.col("_ckey.d") == new_id).first()["chunk"]
    )
    hits = embed.chunk_search_persisted(
        spark, path, chunk, k=3, nprobe=1
    ).collect()
    assert (hits[0].doc_id, hits[0].score) == (new_id, 1.0)


def test_chunk_append_runs_at_most_eight_jobs(spark, sf_small, tmp_path):
    """A 10-doc chunk append chunks and embeds its batch in one pass:
    no join back to the chunk text, so no second chunker run."""
    docs = fio.load_table(spark, sf_small, "documents")
    path = str(tmp_path / "chunks")
    embed.chunk_index_build(
        docs.where(F.col("doc_id") >= 10), path, nlist=NLIST
    )
    batch = docs.where(F.col("doc_id") < 10)
    assert batch.count() == 10

    def append():
        assert embed.chunk_index_append(spark, path, batch)

    assert _jobs(spark, append) <= 8


def test_warm_persisted_queries_run_one_job(
    spark, sf_small, emb, cents, tmp_path
):
    """A warm chunk query is one Spark job (the pruned scan with its
    top-k); a query on any other tier (flat, raw or residual PQ, SQ8,
    binary) whose vector comes from createDataFrame adds at most the
    job that collects it: the handle holds the tier's model, so no
    query reads it again."""
    docs = fio.load_table(spark, sf_small, "documents")
    chunks = str(tmp_path / "chunks")
    embed.chunk_index_build(docs, chunks, nlist=NLIST)

    def chunk_query():
        embed.chunk_search_persisted(
            spark, chunks, QUERY_TEXT, k=5, nprobe=NPROBE
        ).collect()

    chunk_query()
    assert _jobs(spark, chunk_query) == 1

    qvec = emb.where(F.col("vec_id") == 3).first()["embedding"]
    query = spark.createDataFrame([(qvec,)], "query_vec array<double>")
    for tier in ("ivf", "pq", "pq_residual", "sq", "binary"):
        path = str(tmp_path / tier)
        if tier == "binary":
            binary.save_ivfbin(emb, cents, path)
            search = binary.ivfbin_search_persisted
        else:
            _save(tier, emb, cents, path)
            search = ivf.search_persisted

        def tier_query(search=search, path=path):
            search(spark, path, query, nprobe=NPROBE).collect()

        tier_query()
        assert _jobs(spark, tier_query) <= 2, tier
