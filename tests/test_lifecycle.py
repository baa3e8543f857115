"""Persisted-index lifecycle gates (SURVEY §2 round-3: incremental
append to the IVF-family persisted tiers + retrain drift guard).

Contracts under test, per tier:
- appending N vectors writes files ONLY under the touched list
  partitions (untouched list dirs keep their exact file sets);
- search over (initial build + append) equals search over a full
  rebuild with the same quantizer state;
- identical (id, vector) re-adds dedup to a no-op;
- should_retrain trips on watermark-relative growth and retrain_ivf
  recovers low-nprobe recall after a distribution shift.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from faiss_vector_search_spark import io as fio
from faiss_vector_search_spark.operators import (
    binary as binary_mod,
    ivf as ivf_mod,
    knn as knn_mod,
    lifecycle,
    pq as pq_mod,
    sq as sq_mod,
)


def _partition_files(table_path: str) -> dict[str, set]:
    out: dict[str, set] = {}
    for d in os.listdir(table_path):
        if d.startswith("list_id="):
            out[d] = set(os.listdir(os.path.join(table_path, d)))
    return out


@pytest.fixture(scope="module")
def emb(spark, sf_small):
    return fio.load_table(spark, sf_small, "embeddings")


@pytest.fixture(scope="module")
def split(emb):
    initial = emb.where(F.col("vec_id") % 3 != 0)
    batch = emb.where(F.col("vec_id") % 3 == 0)
    return initial, batch


def _query(emb, qid=7):
    return emb.where(F.col("vec_id") == qid).select(
        F.col("embedding").alias("query_vec")
    )


def test_ivf_append_touched_only_and_full_parity(
    spark, emb, split, tmp_path
):
    initial, batch = split
    cents = ivf_mod.seeded_centroids(emb, 8)
    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    ivf_mod.save_ivf(initial, cents, inc)
    before = _partition_files(f"{inc}/vectors")

    touched = lifecycle.append(spark, inc, batch)
    assert touched
    after = _partition_files(f"{inc}/vectors")
    for d, files in before.items():
        if int(d.split("=")[1]) not in touched:
            assert after[d] == files  # untouched lists: no new files

    ivf_mod.save_ivf(emb, cents, full)
    q = _query(emb)
    got = ivf_mod.ivf_search_persisted(spark, inc, q, nprobe=8).collect()
    want = ivf_mod.ivf_search_persisted(spark, full, q, nprobe=8).collect()
    assert got == want


def test_ivf_append_dedups_identical_readds(spark, emb, split, tmp_path):
    initial, batch = split
    cents = ivf_mod.seeded_centroids(emb, 8)
    p = str(tmp_path / "dedup")
    ivf_mod.save_ivf(initial, cents, p)
    lifecycle.append(spark, p, batch)
    n1 = spark.read.parquet(f"{p}/vectors").count()
    lifecycle.append(spark, p, batch)  # identical re-add
    assert spark.read.parquet(f"{p}/vectors").count() == n1 == emb.count()


def test_ivfpq_append_parity(spark, emb, split, tmp_path):
    initial, batch = split
    cents = ivf_mod.seeded_centroids(emb, 8)
    books = pq_mod.pq_train(initial, m=8, ksub=8, iters=2)
    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    pq_mod.save_ivfpq(initial, cents, books, inc)
    before = _partition_files(f"{inc}/codes")
    touched = lifecycle.append(spark, inc, batch)
    after = _partition_files(f"{inc}/codes")
    for d, files in before.items():
        if int(d.split("=")[1]) not in touched:
            assert after[d] == files

    pq_mod.save_ivfpq(emb, cents, books, full)
    q = _query(emb)
    got = pq_mod.ivfpq_search_persisted(spark, inc, q, nprobe=8).collect()
    want = pq_mod.ivfpq_search_persisted(spark, full, q, nprobe=8).collect()
    assert got == want


def test_ivfsq_append_parity(spark, emb, split, tmp_path):
    initial, batch = split
    cents = ivf_mod.seeded_centroids(emb, 8)
    bounds = sq_mod.sq_train(initial)
    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    sq_mod.save_ivfsq(initial, cents, bounds, inc)
    lifecycle.append(spark, inc, batch)
    sq_mod.save_ivfsq(emb, cents, bounds, full)
    q = _query(emb)
    got = sq_mod.ivfsq_search_persisted(spark, inc, q, nprobe=8).collect()
    want = sq_mod.ivfsq_search_persisted(spark, full, q, nprobe=8).collect()
    assert got == want


def test_ivfbin_append_parity(spark, emb, split, tmp_path):
    initial, batch = split
    cents = ivf_mod.seeded_centroids(emb, 8)
    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    binary_mod.save_ivfbin(initial, cents, inc)
    lifecycle.append(spark, inc, batch)
    binary_mod.save_ivfbin(emb, cents, full)
    q = _query(emb)
    qcode = binary_mod.binarize(
        _query(emb).select(F.col("query_vec").alias("embedding"))
    ).select(F.col("code").alias("query_code"))
    got = binary_mod.ivfbin_search_persisted(
        spark, inc, q, qcode, nprobe=8
    ).collect()
    want = binary_mod.ivfbin_search_persisted(
        spark, full, q, qcode, nprobe=8
    ).collect()
    assert got == want


def test_should_retrain_watermark(spark, emb, split, tmp_path):
    initial, batch = split
    cents = ivf_mod.seeded_centroids(initial, 8)
    p = str(tmp_path / "wm")
    ivf_mod.save_ivf(initial, cents, p)
    n0 = initial.count()
    lifecycle.write_train_meta(spark, p, n0)
    assert not lifecycle.should_retrain(spark, p)  # no growth yet
    lifecycle.append(spark, p, batch)
    # grown by ~1.5x: below the 4x default, above a 1.2x guard
    assert not lifecycle.should_retrain(spark, p, growth_factor=4.0)
    assert lifecycle.should_retrain(spark, p, growth_factor=1.2)
    # absent watermark: the reference's >=100-points rule
    q = str(tmp_path / "nometa")
    ivf_mod.save_ivf(initial, cents, q)
    assert lifecycle.should_retrain(spark, q)  # ntotal >= 100, no meta



def test_retrain_ivf_refuses_compressed_tier(spark, emb, tmp_path):
    """A codes-only tier cannot retrain from itself: the error names the
    tier and the builders instead of a missing-path failure."""
    p = str(tmp_path / "sq")
    cents = ivf_mod.seeded_centroids(emb, 8)
    sq_mod.save_ivfsq(emb, cents, sq_mod.sq_train(emb), p)
    with pytest.raises(ValueError, match="IVF-SQ8.*save_ivfsq"):
        lifecycle.retrain_ivf(spark, p)

def _recall_at_k(spark, path, emb, qid, nprobe, k=10):
    q = emb.where(F.col("vec_id") == qid).select(
        F.col("embedding").alias("query_vec")
    )
    truth = {
        r.vec_id
        for r in knn_mod.topk(emb, q, k=k).collect()
    }
    got = {
        r.vec_id
        for r in ivf_mod.ivf_search_persisted(
            spark, path, q, nprobe=nprobe, k=k
        ).collect()
    }
    return len(got & truth) / k


def test_retrain_recovers_recall_after_drift(spark, emb, tmp_path):
    # drift scenario: quantizer trained while only labels {0,1} existed;
    # the corpus then grows to all labels — old centroids cover the new
    # mass badly, so fixed-nprobe recall on a new-label query decays.
    initial = emb.where(F.col("label") < 2)
    drift = emb.where(F.col("label") >= 2)
    p = str(tmp_path / "drift")
    cents0 = ivf_mod.kmeans_centroids(initial, 8, iters=3)
    ivf_mod.save_ivf(initial, cents0, p)
    lifecycle.write_train_meta(spark, p, initial.count())
    lifecycle.append(spark, p, drift)
    assert lifecycle.should_retrain(spark, p, growth_factor=2.0)

    qid = drift.agg(F.max("vec_id")).first()[0]
    before = _recall_at_k(spark, p, emb, qid, nprobe=2)
    lifecycle.retrain_ivf(spark, p, iters=3)
    after = _recall_at_k(spark, p, emb, qid, nprobe=2)
    assert after >= before
    assert after >= 0.5
    # watermark moved: immediately after retrain, no retrain needed
    assert not lifecycle.should_retrain(spark, p, growth_factor=2.0)


def test_recall_report_drives_the_retrain_story(spark, emb, tmp_path):
    """The full drift user story through the OPERATOR surface: build +
    watermark -> lifecycle.append a shifted distribution -> recall_report
    (with the SAVED quantizer) shows the ivf tier degraded ->
    should_retrain trips -> retrain_ivf -> the same report shows the
    tier recovered and the guard re-arms. Wires evaluate.recall_report,
    lifecycle.append and lifecycle.should_retrain/retrain_ivf into
    one gate."""
    from faiss_vector_search_spark.operators import evaluate

    initial = emb.where(F.col("label") < 2)
    drift = emb.where(F.col("label") >= 2)
    p = str(tmp_path / "drift_report")
    cents0 = ivf_mod.kmeans_centroids(initial, 8, iters=3)
    ivf_mod.save_ivf(initial, cents0, p)
    lifecycle.write_train_meta(spark, p, initial.count())
    assert not lifecycle.should_retrain(spark, p, growth_factor=2.0)

    lifecycle.append(spark, p, drift)
    assert lifecycle.should_retrain(spark, p, growth_factor=2.0)

    qids = tuple(
        r.vec_id
        for r in drift.orderBy(F.col("vec_id").desc()).limit(3).collect()
    )

    def report(cents):
        rows = evaluate.recall_report(
            emb, query_ids=qids, k=10, nprobe=2,
            centroids=cents,
        ).collect()
        return {r.tier: r.recall_at_k for r in rows}

    saved = spark.read.parquet(f"{p}/_centroids")
    before = report(saved)
    assert before["exact"] == 1.0  # control stays exact
    new_cents = lifecycle.retrain_ivf(spark, p, iters=3)
    after = report(new_cents)
    assert after["exact"] == 1.0
    # degradation visible in the report, recovery after retrain (the
    # synthetic label clusters are loose, so the lift is real but
    # modest: 0.4667 -> 0.5333 at nprobe=2/nlist=8, deterministic)
    assert before["ivf"] <= 0.6
    assert after["ivf"] > before["ivf"]
    assert after["ivf"] >= 0.5
    # the guard re-arms: watermark moved to the retrain corpus size
    assert not lifecycle.should_retrain(spark, p, growth_factor=2.0)


class TestIndexHealthReport:
    """One-call persisted-index health check (r5 verdict ask #7):
    layout stats + measured recall + nprobe recommendation + retrain
    verdict, composed over the persisted assignment."""

    @pytest.fixture(scope="class")
    def store(self, spark, emb, tmp_path_factory):
        p = str(tmp_path_factory.mktemp("health") / "idx")
        cents = ivf_mod.seeded_centroids(emb, 8)
        ivf_mod.save_ivf(emb, cents, p)
        lifecycle.write_train_meta(spark, p, emb.count())
        return p

    def _report(self, spark, store, **kw):
        return {
            r.metric: r.value
            for r in lifecycle.index_health_report(spark, store, **kw).collect()
        }

    def test_layout_section_exact(self, spark, emb, store):
        rep = self._report(spark, store, query_ids=(0, 7), k=5, nprobe=2)
        n = emb.count()
        assert rep["n_vectors"] == float(n)
        assert rep["n_lists"] == 8.0
        assert rep["list_rows_min"] <= rep["list_rows_avg"] <= rep["list_rows_max"]
        assert abs(rep["list_rows_avg"] - n / 8) < 1e-6
        assert rep["list_balance"] >= 1.0

    def test_full_probe_reaches_exact_recall(self, spark, store):
        # nprobe = nlist scans every list -> recall 1.0 by construction,
        # so the dial walk always terminates and recommends <= nlist
        rep = self._report(
            spark, store, query_ids=(0, 7, 13), k=5, nprobe=8,
            target_recall=1.0,
        )
        assert rep["recall_at_current"] == 1.0
        assert rep["recommended_nprobe"] == 8.0 or rep["recommended_nprobe"] < 8.0
        assert rep["recall_at_recommended"] == 1.0

    def test_recommendation_monotone_and_bounded(self, spark, store):
        rep = self._report(
            spark, store, query_ids=(0, 7, 13), k=5, nprobe=1,
            target_recall=0.6,
        )
        assert 0.0 <= rep["recall_at_current"] <= 1.0
        assert rep["recommended_nprobe"] >= 1.0  # 0.6 reachable: full scan is 1.0
        assert rep["recall_at_recommended"] >= 0.6
        # the recommended dial never underperforms the current one
        assert rep["recall_at_recommended"] >= rep["recall_at_current"]

    def test_retrain_verdict_follows_watermark(self, spark, emb, store, tmp_path):
        rep = self._report(spark, store, query_ids=(0,), k=3, nprobe=2)
        assert rep["should_retrain"] == 0.0
        assert rep["growth_ratio"] == 1.0
        assert rep["trained_on"] == float(emb.count())
        # a stale watermark flips the verdict
        p2 = str(tmp_path / "stale")
        cents = ivf_mod.seeded_centroids(emb, 8)
        ivf_mod.save_ivf(emb, cents, p2)
        lifecycle.write_train_meta(spark, p2, max(1, emb.count() // 10))
        rep2 = self._report(spark, p2, query_ids=(0,), k=3, nprobe=2)
        assert rep2["should_retrain"] == 1.0
        assert rep2["growth_ratio"] > 4.0

    def test_no_watermark_reports_minus_one(self, spark, emb, tmp_path):
        p = str(tmp_path / "nometa")
        cents = ivf_mod.seeded_centroids(emb, 8)
        ivf_mod.save_ivf(emb, cents, p)
        rep = self._report(spark, p, query_ids=(0,), k=3, nprobe=2)
        assert rep["trained_on"] == -1.0
        assert rep["growth_ratio"] == -1.0
        # reference min-points rule: >=100 vectors with no watermark
        assert rep["should_retrain"] == 1.0


def test_health_report_refuses_compressed_tier(spark, emb, tmp_path):
    """The health report grades the flat tier's stored vectors: on a
    codes-only index it names the tier and the builders, like
    retrain_ivf, instead of failing on a missing ``vectors`` path."""
    p = str(tmp_path / "sq")
    cents = ivf_mod.seeded_centroids(emb, 8)
    sq_mod.save_ivfsq(emb, cents, sq_mod.sq_train(emb), p)
    with pytest.raises(ValueError, match="IVF-SQ8.*save_ivfsq"):
        lifecycle.index_health_report(spark, p, query_ids=(0,), k=3)
