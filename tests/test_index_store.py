"""Index lifecycle round-trip (SURVEY.md §2a #12, reference
index_service.py:103-141 save/load/clear) plus the scale property the
layout exists for: probing an IVF-partitioned index prunes partitions
at the parquet scan."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from faiss_vector_search_spark import io as fio
from faiss_vector_search_spark.operators import index_store, ivf


@pytest.fixture(scope="module")
def emb(spark, sf_small):
    return fio.load_table(spark, sf_small, "embeddings").cache()


@pytest.fixture(scope="module")
def assigned(spark, emb):
    cents = ivf.seeded_centroids(emb, 8)
    return ivf.assign_lists(emb, cents).cache()


def test_save_load_round_trip(spark, assigned, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("idx") / "index")
    index_store.save_index(assigned, path)
    loaded = index_store.load_index(spark, path)
    assert loaded.count() == assigned.count()
    assert set(loaded.columns) == set(assigned.columns)
    a = sorted(r.vec_id for r in loaded.select("vec_id").collect())
    b = sorted(r.vec_id for r in assigned.select("vec_id").collect())
    assert a == b
    # vectors survive byte-identically
    orig = {r.vec_id: r.embedding for r in assigned.collect()}
    assert all(orig[r.vec_id] == r.embedding for r in loaded.collect())


def test_partitioned_layout_prunes_on_probe(spark, assigned, tmp_path_factory):
    """A list_id filter on the saved index must hit partition pruning:
    the scan's partition filters mention list_id, and only the probed
    directories are read."""
    path = str(tmp_path_factory.mktemp("idx") / "index_part")
    index_store.save_index(assigned, path)
    loaded = index_store.load_index(spark, path)
    probed = loaded.where(F.col("list_id").isin(1, 3))
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "list_id" in plan
    got = {r.list_id for r in probed.select("list_id").distinct().collect()}
    assert got == {1, 3}


def test_clear_index_keeps_schema(spark, assigned, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("idx") / "index_clear")
    index_store.save_index(assigned, path, partition_by=None)
    index_store.clear_index(spark, path)
    cleared = index_store.load_index(spark, path)
    assert cleared.count() == 0
    assert set(cleared.columns) == set(assigned.columns)
    # add after clear still binds by schema
    readded = index_store.add_vectors(cleared, assigned.limit(10))
    assert readded.count() == 10


def test_persisted_ivf_search_matches_in_memory(spark, emb, tmp_path_factory):
    """save_ivf → search_persisted ≡ in-memory ivf_search, with
    the probe filter pruning partitions at the scan."""
    path = str(tmp_path_factory.mktemp("idx") / "ivf")
    cents = ivf.seeded_centroids(emb, 8)
    ivf.save_ivf(emb, cents, path)

    q = emb.where(F.col("vec_id") == 3).select(
        F.col("embedding").alias("query_vec")
    )
    persisted = ivf.search_persisted(spark, path, q, nprobe=2, k=5)
    plan = persisted._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "list_id" in plan

    in_mem = ivf.ivf_search(emb, q, nlist=8, nprobe=2, k=5, centroids=cents)
    got = [(r.vec_id, r.list_id, r.score) for r in persisted.collect()]
    want = [(r.vec_id, r.list_id, r.score) for r in in_mem.collect()]
    assert got == want
