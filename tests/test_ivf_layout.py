"""Persisted IVF layout gates (operators/ivf.py owns the layout): every
tier's persisted search prunes its scan to exactly the probed lists,
and the IVF scorers accept only the metrics knn scores."""

from __future__ import annotations

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
    if tier == "ivf":
        ivf.save_ivf(emb, cents, path)
        return ivf.ivf_search_persisted(
            spark, path, query, nprobe=NPROBE, k=5
        ), query
    if tier == "pq":
        books = pq.pq_train(emb, m=4, ksub=16, iters=2)
        pq.save_ivfpq(emb, cents, books, path)
        return pq.ivfpq_search_persisted(
            spark, path, query, nprobe=NPROBE, k=5
        ), query
    if tier == "sq":
        sq.save_ivfsq(emb, cents, sq.sq_train(emb), path)
        return sq.ivfsq_search_persisted(
            spark, path, query, nprobe=NPROBE, k=5
        ), query
    binary.save_ivfbin(emb, cents, path)
    qcode = binary.binarize(
        query.select(F.col("query_vec").alias("embedding"))
    ).select(F.col("code").alias("query_code"))
    return binary.ivfbin_search_persisted(
        spark, path, query, qcode, nprobe=NPROBE, k=5
    ), query


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


def _jobs(spark, run) -> int:
    """Spark jobs one call of ``run`` starts (StatusTracker job group)."""
    sc = spark.sparkContext
    group = f"ivf-layout-{id(run)}"
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


def test_warm_persisted_queries_run_one_job(
    spark, sf_small, emb, cents, tmp_path
):
    """A warm chunk query is one Spark job (the pruned scan with its
    top-k); a flat query whose vector comes from createDataFrame adds
    at most the job that collects it."""
    docs = fio.load_table(spark, sf_small, "documents")
    chunks = str(tmp_path / "chunks")
    embed.chunk_index_build(docs, chunks, nlist=NLIST)

    def chunk_query():
        embed.chunk_search_persisted(
            spark, chunks, QUERY_TEXT, k=5, nprobe=NPROBE
        ).collect()

    chunk_query()
    assert _jobs(spark, chunk_query) == 1

    flat = str(tmp_path / "flat")
    ivf.save_ivf(emb, cents, flat)
    qvec = emb.where(F.col("vec_id") == 3).first()["embedding"]
    query = spark.createDataFrame([(qvec,)], "query_vec array<double>")

    def flat_query():
        ivf.ivf_search_persisted(spark, flat, query, nprobe=NPROBE).collect()

    flat_query()
    assert _jobs(spark, flat_query) <= 2
