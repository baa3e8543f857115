"""SQ8 scalar-quantization gates: bound coverage, code range,
reconstruction error vs the quantization step, recall vs the exact
flat scan, and the map-only/no-shuffle plan shapes the 100 TB story
depends on."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from faiss_vector_search_spark import io as fio
from faiss_vector_search_spark.functions import vector as V
from faiss_vector_search_spark.operators import ivf, sq


@pytest.fixture(scope="module")
def emb(spark, sf_medium):
    return fio.load_table(spark, sf_medium, "embeddings").cache()


@pytest.fixture(scope="module")
def bounds(emb):
    return sq.sq_train(emb).cache()


@pytest.fixture(scope="module")
def codes(emb, bounds):
    return sq.sq_encode(emb, bounds).cache()


def _query(emb, qid):
    return emb.where(F.col("vec_id") == qid).select(
        F.col("embedding").alias("query_vec")
    )


def test_bounds_cover_every_dimension(emb, bounds):
    dim = emb.select(F.size("embedding")).first()[0]
    rows = bounds.collect()
    assert {r.pos for r in rows} == set(range(dim))
    assert all(r.vmin < r.vmax for r in rows)
    outside = (
        emb.select(F.posexplode("embedding").alias("pos", "x"))
        .join(bounds, "pos")
        .where(
            (F.col("x").cast("double") < F.col("vmin"))
            | (F.col("x").cast("double") > F.col("vmax"))
        )
        .count()
    )
    assert outside == 0


def test_codes_are_uint8_range(emb, codes):
    assert codes.count() == emb.count()
    bad = codes.where(
        F.exists("codes", lambda c: (c < 0) | (c > 255))
    ).count()
    assert bad == 0


def test_reconstruction_error_within_step(emb, bounds, codes):
    """Midpoint decode is within one quantization step of the input
    on every dimension of every vector."""
    joined = emb.join(codes, "vec_id").crossJoin(sq._bounds_row(bounds))
    dec = sq.sq_decode_expr(F.col("codes"), F.col("mn_arr"), F.col("mx_arr"))
    viol = joined.select(
        F.exists(
            F.sequence(F.lit(0), F.size("codes") - 1),
            lambda i: F.abs(
                F.get(dec, i) - F.get("embedding", i).cast("double")
            )
            > (F.get("mx_arr", i) - F.get("mn_arr", i)) / 256.0,
        ).alias("v")
    ).where(F.col("v")).count()
    assert viol == 0


def test_recall_vs_exact_topk(emb, bounds, codes):
    """SQ8 top-10 recalls >= 8/10 of the exact flat-IP top-10 across
    several queries (near-lossless at 8 bits on this corpus)."""
    total, hit = 0, 0
    for qid in (0, 3, 11):
        q = _query(emb, qid)
        approx = {
            r.vec_id for r in sq.sq_topk(codes, bounds, q, k=10).collect()
        }
        exact = {
            r.vec_id
            for r in emb.crossJoin(F.broadcast(q))
            .select(
                "vec_id",
                V.dot(F.col("embedding"), F.col("query_vec")).alias("s"),
            )
            .orderBy(F.col("s").desc(), F.col("vec_id").asc())
            .limit(10)
            .collect()
        }
        total += 10
        hit += len(approx & exact)
    assert hit / total >= 0.8, f"recall {hit}/{total}"


def test_encode_plan_is_map_only(emb, bounds):
    plan = (
        sq.sq_encode(emb, bounds)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange hashpartitioning(vec_id" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row bounds broadcast


def test_search_plan_take_ordered_no_shuffle(emb, bounds, codes):
    plan = (
        sq.sq_topk(codes, bounds, _query(emb, 0), k=10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan
    # the only hash exchange allowed is the dim-row bounds model agg
    # (pos-keyed); the codes/corpus stream itself must never shuffle
    assert "Exchange hashpartitioning(vec_id" not in plan
    assert "Exchange hashpartitioning(codes" not in plan


class TestIVFSQPersisted:
    """IVF-SQ8 (FAISS IndexIVFScalarQuantizer posting-list layout):
    probes prune the partitioned codes scan; a full-probe search
    equals the flat SQ8 search exactly."""

    @pytest.fixture(scope="class")
    def index_path(self, spark, emb, bounds, tmp_path_factory):
        from faiss_vector_search_spark.operators import ivf

        path = str(tmp_path_factory.mktemp("ivfsq") / "idx")
        cents = ivf.seeded_centroids(emb, nlist=8)
        sq.save_ivfsq(emb, cents, bounds, path)
        return path

    def test_probe_prunes_partitions(self, spark, emb, index_path):
        q = emb.where(F.col("vec_id") == 2).select(
            F.col("embedding").alias("query_vec")
        )
        from faiss_vector_search_spark.operators import ivf

        cents = spark.read.parquet(f"{index_path}/_centroids")
        probes = [r.probe_cid for r in ivf.probe_lists(q, cents, 2).collect()]
        probed = spark.read.parquet(f"{index_path}/codes").where(
            F.col("list_id").isin(probes)
        )
        plan = probed._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan and "list_id" in plan
        got = {r.list_id for r in probed.select("list_id").distinct().collect()}
        assert got == set(probes) and len(got) == 2
        out = ivf.search_persisted(spark, index_path, q, nprobe=2, k=10)
        assert out.count() == 10

    def test_full_probe_equals_flat_sq(self, spark, emb, bounds, codes, index_path):
        q = emb.where(F.col("vec_id") == 2).select(
            F.col("embedding").alias("query_vec")
        )
        got = [
            (r.vec_id, r.score)
            for r in ivf.search_persisted(
                spark, index_path, q, nprobe=8, k=10
            ).collect()
        ]
        want = [
            (r.vec_id, r.score)
            for r in sq.sq_topk(codes, bounds, q, k=10).collect()
        ]
        assert got == want

    def test_probed_results_subset_of_probed_lists(self, spark, emb, index_path):
        from faiss_vector_search_spark.operators import ivf

        q = emb.where(F.col("vec_id") == 2).select(
            F.col("embedding").alias("query_vec")
        )
        cents = spark.read.parquet(f"{index_path}/_centroids")
        probe_ids = {
            r.probe_cid for r in ivf.probe_lists(q, cents, 2).collect()
        }
        assigned = ivf.assign_lists(emb, cents)
        allowed = {
            r.vec_id
            for r in assigned.where(
                F.col("list_id").isin(*probe_ids)
            ).collect()
        }
        out = ivf.search_persisted(spark, index_path, q, nprobe=2, k=10)
        assert {r.vec_id for r in out.collect()} <= allowed


def test_sq_topk_arrow_matches_sql(emb, bounds, codes):
    """Production BLAS decode+matvec returns the same ranked rows —
    ids AND 6-dp scores — as the oracle fold, for several queries."""
    for qid in (0, 7, 42):
        q = _query(emb, qid)
        a = sq.sq_topk(codes, bounds, q, k=10).collect()
        b = sq.sq_topk(codes, bounds, q, k=10, engine="arrow").collect()
        assert [(r.vec_id, r.score) for r in a] == [
            (r.vec_id, r.score) for r in b
        ]


def test_sq_topk_unknown_engine_raises(emb, bounds, codes):
    with pytest.raises(ValueError, match="unknown sq_topk engine"):
        sq.sq_topk(codes, bounds, _query(emb, 0), engine="bogus")
