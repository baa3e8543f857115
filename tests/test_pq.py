"""Gates for product quantization (operators/pq.py): code shape and
determinism, ADC shortlist quality, exact-rerank recall, and the
plan shapes the 100 TB story depends on (no corpus shuffle, no
Python in the search path).

Params (m=16, ksub=64) are tuned for this corpus's near-random
embeddings (top-10 neighbor cosines 0.21-0.37 — the worst regime for
any quantizer); real corpora cluster tighter and do better.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from faiss_vector_search_spark import io as fio
from faiss_vector_search_spark.operators import knn, pq

M, KSUB = 16, 64


@pytest.fixture(scope="module")
def emb(spark, sf_medium):
    return fio.load_table(spark, sf_medium, "embeddings").cache()


@pytest.fixture(scope="module")
def books(emb):
    return pq.pq_train(emb, m=M, ksub=KSUB, iters=4)


@pytest.fixture(scope="module")
def codes(emb, books):
    return pq.pq_encode(emb, books).cache()


def _query(emb, vid):
    return emb.where(F.col("vec_id") == vid).select(
        F.col("embedding").alias("query_vec")
    )


def test_codebook_shape(books):
    rows = books.collect()
    assert len(rows) == M * KSUB
    assert {r.j for r in rows} == set(range(M))
    assert all(len(r.cvec) == 64 // M for r in rows)


def test_codes_shape_and_range(emb, codes):
    assert codes.count() == emb.count()
    bad = codes.where(
        (F.size("codes") != M)
        | F.exists("codes", lambda c: (c < 0) | (c >= KSUB))
    ).count()
    assert bad == 0


def test_encode_deterministic(emb, books, codes):
    again = pq.pq_encode(emb, books)
    assert codes.exceptAll(again).count() == 0


def test_train_rejects_indivisible_dim(emb):
    with pytest.raises(ValueError, match="not divisible"):
        pq.pq_train(emb, m=7)


@pytest.mark.parametrize("vid", [0, 7, 42])
def test_adc_shortlist_overlaps_exact(emb, books, codes, vid):
    q = _query(emb, vid)
    exact = {r.vec_id for r in knn.topk(emb, q, k=10, metric="ip").collect()}
    adc = {r.vec_id for r in pq.pq_topk_adc(codes, books, q, k=10).collect()}
    assert len(adc & exact) / 10 >= 0.4, (vid, adc & exact)


@pytest.mark.parametrize("vid", [0, 7, 42])
def test_rerank_recovers_exact_topk(emb, books, codes, vid):
    q = _query(emb, vid)
    exact = {r.vec_id for r in knn.topk(emb, q, k=10, metric="ip").collect()}
    got = {
        r.vec_id
        for r in pq.pq_topk_rerank(
            emb, codes, books, q, k=10, expand=3
        ).collect()
    }
    assert len(got & exact) / 10 >= 0.9, (vid, got & exact)


def test_adc_search_plan_no_corpus_shuffle(emb, books, codes):
    q = _query(emb, 0)
    plan_buf = pq.pq_topk_adc(codes, books, q, k=10)._jdf.queryExecution()
    plan = plan_buf.executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    # the only exchange allowed is the m×ksub codebook-model agg (on
    # "j"); the codes corpus itself must never shuffle
    assert "Exchange hashpartitioning(vec_id" not in plan
    assert "Exchange hashpartitioning(codes" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_encode_plan_is_map_only(emb, books):
    df = pq.pq_encode(emb, books)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning(vec_id" not in plan
    assert "Exchange hashpartitioning(embedding" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestIVFPQ:
    @pytest.fixture(scope="class")
    def index_path(self, emb, books, tmp_path_factory):
        from faiss_vector_search_spark.operators import ivf

        cents = ivf.seeded_centroids(emb, 8)
        path = str(tmp_path_factory.mktemp("ivfpq") / "index")
        pq.save_ivfpq(emb, cents, books, path)
        return path

    def test_layout_roundtrip(self, spark, emb, index_path):
        codes = spark.read.parquet(f"{index_path}/codes")
        assert codes.count() == emb.count()
        assert set(codes.columns) == {"vec_id", "list_id", "codes"}
        assert spark.read.parquet(f"{index_path}/_codebooks").count() == M * KSUB
        assert spark.read.parquet(f"{index_path}/_centroids").count() == 8

    def test_probe_prunes_partitions(self, spark, index_path):
        codes = spark.read.parquet(f"{index_path}/codes")
        probed = codes.where(F.col("list_id").isin(0, 2))
        plan = probed._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan and "list_id" in plan
        got = {r.list_id for r in probed.select("list_id").distinct().collect()}
        assert got == {0, 2}
        assert codes.select("list_id").distinct().count() > 2

    def test_search_equals_adc_on_probe_union(self, spark, emb, books, index_path):
        """IVF-PQ search == plain ADC restricted to the probed lists —
        the pruning changes WHAT is scanned, never the scoring."""
        from faiss_vector_search_spark.operators import ivf

        q = _query(emb, 0)
        got = pq.ivfpq_search_persisted(spark, index_path, q, nprobe=3, k=10)
        cents = spark.read.parquet(f"{index_path}/_centroids")
        probes = [
            r.probe_cid for r in ivf.probe_lists(q, cents, 3).collect()
        ]
        manual = pq.pq_topk_adc(
            spark.read.parquet(f"{index_path}/codes").where(
                F.col("list_id").isin(probes)
            ),
            books,
            q,
            k=10,
        )
        assert [
            (r.vec_id, r.score) for r in got.collect()
        ] == [(r.vec_id, r.score) for r in manual.collect()]

    def test_full_probe_equals_flat_adc(self, spark, emb, books, codes, index_path):
        """nprobe = nlist degenerates to the flat PQ scan."""
        q = _query(emb, 7)
        got = {
            r.vec_id
            for r in pq.ivfpq_search_persisted(
                spark, index_path, q, nprobe=8, k=10
            ).collect()
        }
        flat = {
            r.vec_id for r in pq.pq_topk_adc(codes, books, q, k=10).collect()
        }
        assert got == flat


def test_encode_arrow_matches_sql(emb, books, codes):
    """Production BLAS encode must emit the same codes as the
    oracle-deterministic fold (same argmin + lowest-cid tie-break)."""
    sql_codes = {r.vec_id: list(r.codes) for r in codes.collect()}
    arrow_codes = {
        r.vec_id: list(r.codes)
        for r in pq.pq_encode(emb, books, engine="arrow").collect()
    }
    assert sql_codes == arrow_codes


def test_encode_arrow_keeps_keep_cols(emb, books):
    out = pq.pq_encode(
        emb.withColumn("list_id", F.lit(3)), books,
        keep_cols=("list_id",), engine="arrow",
    )
    assert out.columns == ["vec_id", "list_id", "codes"]
    assert out.where(F.col("list_id") != 3).count() == 0


def test_train_sample_full_stride_equals_unsampled(emb):
    """train_sample >= N keeps stride 1 — identical codebooks to the
    unsampled train (the cap is a no-op below its threshold)."""
    n = emb.count()
    full = pq.pq_train(emb, m=M, ksub=KSUB, iters=2)
    capped = pq.pq_train(emb, m=M, ksub=KSUB, iters=2, train_sample=n)
    assert sorted(map(tuple, full.collect())) == sorted(
        map(tuple, capped.collect())
    )


def test_train_arrow_codebooks_usable_and_close(emb):
    """The driver-side numpy trainer shares seeding/rounding with the
    sql engine; codebooks agree to float tolerance and the ADC
    shortlist built from them overlaps the exact top-k."""
    sql_books = pq.pq_train(emb, m=M, ksub=KSUB, iters=2, train_sample=500)
    np_books = pq.pq_train(
        emb, m=M, ksub=KSUB, iters=2, train_sample=500, engine="arrow"
    )
    a = {(r.j, r.cid): r.cvec for r in sql_books.collect()}
    b = {(r.j, r.cid): r.cvec for r in np_books.collect()}
    assert a.keys() == b.keys()
    worst = max(
        abs(x - y) for k in a for x, y in zip(a[k], b[k])
    )
    assert worst < 1e-6, worst


def test_train_arrow_requires_sample(emb):
    with pytest.raises(ValueError, match="train_sample"):
        pq.pq_train(emb, m=M, ksub=KSUB, engine="arrow")


def test_encode_unknown_engine_raises(emb, books):
    with pytest.raises(ValueError, match="unknown pq_encode engine"):
        pq.pq_encode(emb, books, engine="bogus")


class TestResidualIVFPQ:
    """Residual encoding (FAISS IndexIVFPQ's default): codes quantize
    x − c_list, search adds ⟨c_list, q⟩ back. Gates: the decomposition
    is numerically faithful, recall beats raw encoding on clustered
    data with a TRAINED quantizer, and pre-residual index layouts
    (no _meta) still open."""

    @pytest.fixture(scope="class")
    def clustered(self, spark):
        import numpy as np

        rng = np.random.RandomState(3)
        centers = rng.randn(8, 32)
        centers /= np.linalg.norm(centers, axis=1, keepdims=True)
        x = np.repeat(centers, 150, axis=0) + 0.15 * rng.randn(1200, 32)
        x /= np.linalg.norm(x, axis=1, keepdims=True)
        df = spark.createDataFrame(
            [(i, v.tolist()) for i, v in enumerate(x)],
            "vec_id long, embedding array<double>",
        ).cache()
        df.count()
        return df

    @pytest.fixture(scope="class")
    def trained(self, clustered):
        from faiss_vector_search_spark.operators import ivf

        cents = ivf.kmeans_centroids(clustered, 16, iters=5).cache()
        cents.count()
        return cents

    def test_residual_beats_raw_on_clustered(
        self, spark, clustered, trained, tmp_path_factory
    ):
        from faiss_vector_search_spark.operators import knn

        base = str(tmp_path_factory.mktemp("resivfpq"))
        books_raw = pq.pq_train(clustered, m=8, ksub=32, iters=4)
        res_frame = pq.ivf_residual_frame(clustered, trained)
        books_res = pq.pq_train(res_frame, m=8, ksub=32, iters=4)
        pq.save_ivfpq(clustered, trained, books_raw, f"{base}/raw")
        pq.save_ivfpq(
            clustered, trained, books_res, f"{base}/res", residual=True
        )
        hits = {"raw": 0, "res": 0}
        for qid in (0, 400, 801, 1100):
            q = clustered.where(F.col("vec_id") == qid).select(
                F.col("embedding").alias("query_vec")
            )
            truth = {r.vec_id for r in knn.topk(clustered, q, k=10).collect()}
            for name in ("raw", "res"):
                got = {
                    r.vec_id
                    for r in pq.ivfpq_search_persisted(
                        spark, f"{base}/{name}", q, nprobe=4, k=10
                    ).collect()
                }
                hits[name] += len(truth & got)
        assert hits["res"] >= hits["raw"]
        assert hits["res"] >= 20  # at least recall 0.5 on easy clusters

    def test_residual_scores_approximate_exact_ip(
        self, spark, clustered, trained, tmp_path_factory
    ):
        """⟨c,q⟩ + residual-ADC must track x·q closely — the identity
        the offset column implements."""
        import numpy as np

        base = str(tmp_path_factory.mktemp("resivfpq2"))
        res_frame = pq.ivf_residual_frame(clustered, trained)
        books = pq.pq_train(res_frame, m=8, ksub=32, iters=4)
        pq.save_ivfpq(clustered, trained, books, f"{base}/i", residual=True)
        q = clustered.where(F.col("vec_id") == 7).select(
            F.col("embedding").alias("query_vec")
        )
        got = pq.ivfpq_search_persisted(
            spark, f"{base}/i", q, nprobe=16, k=10
        ).collect()
        vecs = {
            r.vec_id: np.asarray(r.embedding)
            for r in clustered.collect()
        }
        qv = vecs[7]
        for r in got:
            assert abs(r.score - float(vecs[r.vec_id] @ qv)) < 0.25

    def test_pre_meta_layout_still_opens(
        self, spark, clustered, trained, tmp_path_factory
    ):
        import shutil

        base = str(tmp_path_factory.mktemp("resivfpq3"))
        books = pq.pq_train(clustered, m=8, ksub=32, iters=4)
        pq.save_ivfpq(clustered, trained, books, f"{base}/i")
        shutil.rmtree(f"{base}/i/_meta")  # simulate an r4-era index
        q = clustered.where(F.col("vec_id") == 3).select(
            F.col("embedding").alias("query_vec")
        )
        out = pq.ivfpq_search_persisted(spark, f"{base}/i", q, nprobe=4, k=5)
        assert out.count() == 5

    def test_train_watermark_keeps_residual_flag(
        self, spark, clustered, trained, tmp_path_factory
    ):
        """The train watermark and the residual flag are separate
        sidecars: recording the watermark on a residual index leaves
        its search results unchanged, and should_retrain reads it."""
        from faiss_vector_search_spark.operators import lifecycle

        path = str(tmp_path_factory.mktemp("resivfpq4") / "i")
        res_frame = pq.ivf_residual_frame(clustered, trained)
        books = pq.pq_train(res_frame, m=8, ksub=32, iters=4)
        pq.save_ivfpq(clustered, trained, books, path, residual=True)
        q = clustered.where(F.col("vec_id") == 7).select(
            F.col("embedding").alias("query_vec")
        )

        def search():
            return [
                (r.vec_id, r.score)
                for r in pq.ivfpq_search_persisted(
                    spark, path, q, nprobe=4, k=5
                ).collect()
            ]

        before = search()
        # no watermark yet: the reference's 100-point rule decides
        assert lifecycle.should_retrain(spark, path)
        lifecycle.write_train_meta(spark, path, 1200)
        assert search() == before
        # 1200 rows against a 1200-row watermark: no retrain
        assert not lifecycle.should_retrain(spark, path)

    def test_residual_append_matches_rebuild(
        self, spark, clustered, trained, tmp_path_factory
    ):
        """An append into a residual index encodes x − c_list exactly as
        the build does: build on ids < 1100 + append ids 1100-1199
        searches like a full residual rebuild, appended rows included."""
        from faiss_vector_search_spark.operators import lifecycle

        base = str(tmp_path_factory.mktemp("resivfpq5"))
        books = pq.pq_train(
            pq.ivf_residual_frame(clustered, trained), m=8, ksub=32, iters=4
        )
        pq.save_ivfpq(
            clustered.where(F.col("vec_id") < 1100), trained, books,
            f"{base}/inc", residual=True,
        )
        lifecycle.append(
            spark, f"{base}/inc", clustered.where(F.col("vec_id") >= 1100)
        )
        pq.save_ivfpq(clustered, trained, books, f"{base}/full", residual=True)
        for qid in (7, 1150):
            q = clustered.where(F.col("vec_id") == qid).select(
                F.col("embedding").alias("query_vec")
            )
            got, want = (
                pq.ivfpq_search_persisted(
                    spark, f"{base}/{name}", q, nprobe=16, k=10
                ).collect()
                for name in ("inc", "full")
            )
            assert got == want
