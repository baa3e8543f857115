"""Round-3 operator gates (SURVEY.md §2e): FAISS API completions
(range_search / reconstruct / remove_ids), TPC-H Q6/Q8/Q18 shapes,
and native session windows (batch + streaming twin)."""

from __future__ import annotations

import contextlib
import io as pyio

import pytest
from pyspark.sql import functions as F

from faiss_vector_search_spark import io as fio
from faiss_vector_search_spark.operators import analytics, index_store, knn


def plan_of(df, mode: str = "formatted") -> str:
    buf = pyio.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def emb(spark, sf_small):
    return fio.load_table(spark, sf_small, "embeddings")


@pytest.fixture(scope="module")
def query(emb):
    return emb.where(F.col("vec_id") == 0).select(
        F.col("embedding").alias("query_vec")
    )


# --- range_search ---------------------------------------------------------


def test_range_search_equals_unbounded_threshold_topk(emb, query):
    n = emb.count()
    got = {
        (r.vec_id, r.score)
        for r in knn.range_search(emb, query, radius=0.15).collect()
    }
    want = {
        (r.vec_id, r.score)
        for r in knn.topk(emb, query, k=n, threshold=0.15).collect()
    }
    assert got == want
    assert got, "radius must admit hits on this corpus"


def test_range_search_plan_has_no_shuffle_no_sort(emb, query):
    plan = plan_of(knn.range_search(emb, query, radius=0.15))
    assert "Exchange hashpartitioning" not in plan
    assert "Sort" not in plan
    assert "TakeOrderedAndProject" not in plan  # truly uncapped


# --- reconstruct / remove_vectors ----------------------------------------


def test_reconstruct_roundtrips_stored_components(emb):
    ids = emb.where(F.col("vec_id") == 11)
    out = index_store.reconstruct(emb, ids).orderBy("pos").collect()
    want = [round(float(x), 6) for x in emb.where(
        F.col("vec_id") == 11
    ).first().embedding]
    assert [r.component for r in out] == want
    assert [r.pos for r in out] == list(range(1, len(want) + 1))


def test_remove_vectors_drops_exactly_the_id_set(emb):
    doomed = emb.where(F.col("vec_id") < 10)
    kept = index_store.remove_vectors(emb, doomed)
    assert kept.count() == emb.count() - 10
    assert kept.where(F.col("vec_id") < 10).count() == 0


def test_remove_vectors_is_broadcast_anti_join(emb):
    doomed = emb.where(F.col("vec_id") < 10)
    plan = plan_of(index_store.remove_vectors(emb, doomed))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "Exchange hashpartitioning" not in plan  # corpus never shuffles


# --- TPC-H Q6 / Q18 / Q8 shapes ------------------------------------------


def test_q6_all_predicates_pushed_to_scan(spark, sf_small):
    li = fio.load_table(spark, sf_small, "lineitem")
    plan = plan_of(analytics.discount_revenue_delta(li))
    assert "PushedFilters" in plan
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert f"IsNotNull({col})" in plan
    # projection pruned to the three columns the agg needs
    assert "l_extendedprice" in plan and "l_tax" not in plan


def test_q6_matches_manual_fold(spark, sf_medium):
    li = fio.load_table(spark, sf_medium, "lineitem")
    row = analytics.discount_revenue_delta(li).first()
    rows = li.where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    ).collect()
    assert row.n_lines == len(rows) > 0
    assert row.revenue_delta == round(
        sum(r.l_extendedprice * r.l_discount for r in rows), 2
    ) or abs(
        row.revenue_delta
        - sum(r.l_extendedprice * r.l_discount for r in rows)
    ) < 0.02  # summation-order slack


def test_q18_every_order_exceeds_threshold(spark, sf_medium):
    out = analytics.large_volume_customers(
        fio.load_table(spark, sf_medium, "customer"),
        fio.load_table(spark, sf_medium, "orders"),
        fio.load_table(spark, sf_medium, "lineitem"),
        qty_threshold=300.0,
    ).collect()
    assert out, "threshold must admit orders at sf0.01"
    assert all(r.total_qty > 300.0 for r in out)
    # descending by totalprice with orderkey tie-break
    keys = [(-r.totalprice, r.o_orderkey) for r in out]
    assert keys == sorted(keys)


def test_q18_rollup_join_is_broadcast(spark, sf_small):
    plan = plan_of(
        analytics.large_volume_customers(
            fio.load_table(spark, sf_small, "customer"),
            fio.load_table(spark, sf_small, "orders"),
            fio.load_table(spark, sf_small, "lineitem"),
        )
    )
    assert "BroadcastHashJoin" in plan


def test_market_share_bounded_and_target_consistent(spark, sf_medium):
    tables = {
        n: fio.load_table(spark, sf_medium, n)
        for n in ("region", "nation", "customer", "supplier", "orders", "lineitem")
    }
    out = analytics.nation_market_share(
        tables["region"], tables["nation"], tables["customer"],
        tables["supplier"], tables["orders"], tables["lineitem"],
        region_name="ASIA",
    ).collect()
    assert len(out) >= 5  # one row per order year
    assert all(0.0 <= r.mkt_share <= 1.0 for r in out)
    assert all(r.total_revenue > 0 for r in out)


# --- native session windows ----------------------------------------------


def test_session_window_agg_matches_manual_session_stats(spark, sf_small):
    """The native session_window operator must produce the same
    sessions as the manual lag/running-sum formulation (start = first
    event, end = last event + gap, same membership)."""
    ev = fio.load_table(spark, sf_small, "events")
    gap_us = 30 * 60 * 1_000_000
    got = {
        (r.user_id, r.start_us, r.end_us, r.n_events, r.sum_value)
        for r in analytics.session_window_agg(ev, gap_minutes=30).collect()
    }
    want = {
        (r.user_id, r.start_us, r.end_us + gap_us, r.n_events, r.sum_value)
        for r in analytics.session_stats(ev, gap_minutes=30).collect()
    }
    assert got == want


def test_streaming_session_window_equals_batch(spark, sf_small, tmp_path):
    from faiss_vector_search_spark.streaming import streams

    src = fio.load_table(spark, sf_small, "events")
    out = tmp_path / "events_in"
    src.repartition(3).write.parquet(str(out))
    stream = streams.stream_events(spark, str(out))
    agg = streams.streaming_session_window_agg(stream, watermark="100 days")
    streams.run_to_completion(agg, "stream_sessions_native")

    got = {
        (r.user_id, r.start_us, r.end_us, r.n_events, float(r.sum_value))
        for r in spark.table("stream_sessions_native").collect()
    }
    want = {
        (r.user_id, r.start_us, r.end_us, r.n_events, float(r.sum_value))
        for r in analytics.session_window_agg(src).collect()
    }
    assert got == want


# --- binary hamming index -------------------------------------------------


def test_binarize_packs_sign_bits_msb_first(spark):
    from faiss_vector_search_spark.operators import binary

    df = spark.createDataFrame(
        [(1, [1.0, -1.0, 0.5, 0.0] + [0.0] * 28 + [2.0] * 32)],
        "vec_id bigint, embedding array<double>",
    )
    code = binary.binarize(df).first().code
    # word 0: bits for [+,-,+,0,...0] MSB-first = 1010 followed by 28 zeros
    assert code == [0b1010 << 28, (1 << 32) - 1]


def test_hamming_topk_matches_python_popcount(emb):
    from faiss_vector_search_spark.operators import binary

    codes = binary.binarize(emb)
    q = codes.where(F.col("vec_id") == 0).select(F.col("code").alias("query_code"))
    got = [(r.vec_id, r.hamming) for r in binary.hamming_topk(codes, q, k=5).collect()]

    rows = {r.vec_id: r.code for r in codes.collect()}
    qc = rows[0]
    dist = {
        vid: sum(bin(a ^ b).count("1") for a, b in zip(c, qc))
        for vid, c in rows.items()
    }
    want = sorted(dist.items(), key=lambda kv: (kv[1], kv[0]))[:5]
    assert got == [(v, d) for v, d in want]
    assert got[0] == (0, 0)  # self-match at distance zero


def test_hamming_search_is_take_ordered_no_corpus_shuffle(emb):
    from faiss_vector_search_spark.operators import binary

    codes = binary.binarize(emb)
    q = codes.where(F.col("vec_id") == 0).select(F.col("code").alias("query_code"))
    plan = plan_of(binary.hamming_topk(codes, q, k=5))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange hashpartitioning" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# --- char entropy ---------------------------------------------------------


def test_char_entropy_known_values(spark):
    from faiss_vector_search_spark.operators import textstats

    docs = spark.createDataFrame(
        [(1, "aaaa"), (2, "abab"), (3, "abcd")],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r.entropy_bits for r in textstats.char_entropy(docs).collect()}
    assert out[1] == 0.0       # single symbol: zero bits
    assert out[2] == 1.0       # two equiprobable symbols
    assert out[3] == 2.0       # four equiprobable symbols


def test_char_entropy_no_shuffle_no_python(spark, sf_small):
    from faiss_vector_search_spark.operators import textstats

    docs = fio.load_table(spark, sf_small, "documents")
    plan = plan_of(textstats.char_entropy(docs))
    assert "Exchange" not in plan  # strictly per-row
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# --- PCA (FAISS PCAMatrix) ------------------------------------------------


def test_pca_components_orthonormal_and_variance_descending(emb):
    from faiss_vector_search_spark.operators import transform

    model = transform.pca_train(emb, k=8)
    c = model.components
    assert c.shape == (64, 8)
    import numpy as np

    assert np.allclose(c.T @ c, np.eye(8), atol=1e-9)
    ev = model.explained_variance
    assert all(ev[i] >= ev[i + 1] for i in range(len(ev) - 1))


def test_pca_matches_numpy_reference(emb):
    from faiss_vector_search_spark.operators import transform
    import numpy as np

    model = transform.pca_train(emb, k=8)
    rows = emb.orderBy("vec_id").collect()
    x = np.array([r.embedding for r in rows], dtype=np.float64)
    want = (x - model.mean) @ model.components

    got = transform.pca_apply(emb, model).orderBy("vec_id").collect()
    gotm = np.array([r.pca for r in got])
    assert np.allclose(gotm, want, atol=1e-9)
    # projected variance per component ~= explained variance
    assert np.allclose(gotm.var(axis=0), model.explained_variance, rtol=1e-6)


def test_pca_apply_is_codegen_no_python_no_shuffle(emb):
    from faiss_vector_search_spark.operators import transform

    model = transform.pca_train(emb, k=4)
    plan = plan_of(transform.pca_apply(emb, model))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# --- MMR rerank -----------------------------------------------------------


def test_mmr_demotes_redundant_candidate(spark):
    from faiss_vector_search_spark.operators import rerank

    rows = [
        (1, 10, 0.90, [1.0, 0.0]),
        (1, 11, 0.89, [0.99, 0.01]),  # near-duplicate of 10
        (1, 20, 0.50, [0.0, 1.0]),    # orthogonal
    ]
    df = spark.createDataFrame(
        rows, "query_id bigint, vec_id bigint, score double, embedding array<double>"
    )
    out = rerank.mmr_rerank(df, k=3, lambda_=0.5).orderBy("mmr_rank").collect()
    assert [r.vec_id for r in out] == [10, 20, 11]


def test_mmr_groups_queries_independently(spark, sf_small):
    from faiss_vector_search_spark import io as fio_
    from faiss_vector_search_spark.operators import knn, rerank

    emb = fio_.load_table(spark, sf_small, "embeddings")
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    shortlist = knn.topk_join(emb, queries, k=20).join(
        emb.select("vec_id", "embedding"), "vec_id"
    )
    out = rerank.mmr_rerank(shortlist, k=5).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {0, 1, 2}
    for q, rows in by_q.items():
        assert sorted(r.mmr_rank for r in rows) == [1, 2, 3, 4, 5]
        # rank 1 is the raw best (no redundancy penalty applies yet)
        top = max(rows, key=lambda r: r.score)
        assert next(r for r in rows if r.mmr_rank == 1).vec_id == top.vec_id


def test_mmr_matches_independent_reference(spark, sf_small):
    import numpy as np

    from faiss_vector_search_spark import io as fio_
    from faiss_vector_search_spark.operators import knn, rerank

    emb = fio_.load_table(spark, sf_small, "embeddings")
    queries = emb.where(F.col("vec_id") == 7).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    shortlist = knn.topk_join(emb, queries, k=15).join(
        emb.select("vec_id", "embedding"), "vec_id"
    )
    lam = 0.7
    got = [
        r.vec_id
        for r in rerank.mmr_rerank(shortlist, k=6, lambda_=lam)
        .orderBy("mmr_rank")
        .collect()
    ]

    cand = shortlist.collect()
    cand.sort(key=lambda r: (-r.score, r.vec_id))
    u = np.array([r.embedding for r in cand], dtype=np.float64)
    u /= np.linalg.norm(u, axis=1)[:, None]
    sims = u @ u.T
    picked, rem = [], list(range(len(cand)))
    while rem and len(picked) < 6:
        vals = []
        for i in rem:
            red = max((sims[i, j] for j in picked), default=0.0)
            vals.append((lam * cand[i].score - (1 - lam) * red, -cand[i].vec_id, i))
        vals.sort(reverse=True)
        picked.append(vals[0][2])
        rem.remove(vals[0][2])
    assert got == [cand[i].vec_id for i in picked]


# --- bloom-filter semi-join ----------------------------------------------


def test_bloom_semi_join_equals_exact_semi_join(spark, sf_medium):
    from faiss_vector_search_spark.functions import bloom

    li = fio.load_table(spark, sf_medium, "lineitem")
    keys = fio.load_table(spark, sf_medium, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    ).select(F.col("o_orderkey").alias("l_orderkey"))
    exact = li.join(keys, "l_orderkey", "left_semi")
    got = bloom.bloom_semi_join(li, keys, "l_orderkey", bits=1 << 18)
    assert got.count() == exact.count() > 0


def test_bloom_prefilter_has_no_false_negatives_small_bitmap(spark):
    from faiss_vector_search_spark.functions import bloom

    keys = spark.range(500).select((F.col("id") * 7).alias("k"))
    fact = spark.range(20000).select((F.col("id") % 4000).alias("k"))
    # deliberately tiny bitmap -> real false positives, never negatives
    pre = bloom.bloom_semi_join(fact, keys, "k", bits=1 << 12, exact=False)
    exact = fact.join(keys, "k", "left_semi")
    assert exact.exceptAll(pre).count() == 0
    assert pre.count() >= exact.count()


def test_bloom_prefilter_fact_side_never_shuffles(spark, sf_small):
    from faiss_vector_search_spark.functions import bloom

    li = fio.load_table(spark, sf_small, "lineitem")
    keys = fio.load_table(spark, sf_small, "orders").select(
        F.col("o_orderkey").alias("l_orderkey")
    )
    pre = bloom.bloom_semi_join(li, keys, "l_orderkey", exact=False)
    plan = plan_of(pre)
    # the only exchange is the keys-side bitmap build; the fact
    # stream meets the 1-row bitmap via broadcast
    assert "BroadcastNestedLoopJoin" in plan
    fact_section = plan.split("BroadcastNestedLoopJoin")[0]
    assert "Exchange hashpartitioning" not in fact_section


# --- filtered vector search ----------------------------------------------


def test_filtered_knn_pushes_label_filter_to_scan(spark, sf_small):
    # other modules cache embeddings, and the cache manager matches a
    # fresh read of the same path by plan — drop caches so the
    # parquet scan this asserts on is actually in the plan (cached
    # frames re-materialize lazily on their next action)
    spark.catalog.clearCache()
    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    q = emb.where(F.col("vec_id") == 1).select(
        F.col("embedding").alias("query_vec")
    )
    plan = plan_of(knn.topk(emb.where(F.col("label") == 3), q, k=10))
    assert "PushedFilters: [IsNotNull(label), EqualTo(label,3)]" in plan
    assert "TakeOrderedAndProject" in plan


def test_filtered_knn_results_respect_the_slice(spark, sf_small):
    emb = fio.load_table(spark, sf_small, "embeddings")
    q = emb.where(F.col("vec_id") == 1).select(
        F.col("embedding").alias("query_vec")
    )
    out = knn.topk(emb.where(F.col("label") == 3), q, k=10).collect()
    allowed = {r.vec_id for r in emb.where(F.col("label") == 3).collect()}
    assert out and all(r.vec_id in allowed for r in out)


# --- mergeable sketch store ----------------------------------------------


def test_sketch_store_incremental_union_matches_exact(spark, sf_small, tmp_path):
    from faiss_vector_search_spark.operators import sketches

    ev = fio.load_table(spark, sf_small, "events")
    p = str(tmp_path / "sk")
    sketches.save_distinct_sketches(ev.where("event_id % 2 = 0"), p)
    sketches.save_distinct_sketches(ev.where("event_id % 2 = 1"), p)
    out = sketches.union_distinct_counts(spark, p).collect()

    exact_total = ev.select("user_id").distinct().count()
    total = next(r.approx_distinct for r in out if r.event_type is None)
    assert abs(total - exact_total) / exact_total < 0.05

    exact_by = {
        r.event_type: r.cnt
        for r in ev.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("cnt"))
        .collect()
    }
    for r in out:
        if r.event_type is not None:
            assert abs(r.approx_distinct - exact_by[r.event_type]) <= max(
                1, 0.05 * exact_by[r.event_type]
            )


def test_sketch_slice_filter_prunes_store(spark, sf_small, tmp_path):
    from faiss_vector_search_spark.operators import sketches

    ev = fio.load_table(spark, sf_small, "events")
    p = str(tmp_path / "sk")
    sketches.save_distinct_sketches(ev, p)
    out = sketches.union_distinct_counts(
        spark, p, slices=["click", "view"]
    ).collect()
    types = {r.event_type for r in out}
    assert types == {"click", "view", None}


def test_bigram_heavy_hitters_match_exact_counts(spark, sf_small):
    from faiss_vector_search_spark.operators import sketches

    docs = fio.load_table(spark, sf_small, "documents")
    got = {r.bigram: r.n for r in sketches.bigram_heavy_hitters(docs, k=10).collect()}
    # exact recount of the returned items must agree (sketch tracked
    # far more than distinct bigrams, so counts are exact here)
    from faiss_vector_search_spark.functions.text import tokens

    toks = tokens(F.col("text"))
    bigrams = F.transform(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda t, i: F.concat_ws(" ", t, F.element_at(toks, i + 2)),
    )
    counts = {
        r.bigram: r.n
        for r in docs.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc())
        .limit(50)
        .collect()
    }
    assert got
    for b, n in got.items():
        assert counts.get(b) == n
    # every returned count is >= the true 11th-highest (valid top-k
    # under ties)
    kth = sorted(counts.values(), reverse=True)[10]
    assert all(n >= kth for n in got.values())


# --- plan gates: Q8 / native session window ------------------------------


def test_market_share_dims_broadcast_scalar_cross_only(spark, sf_small):
    tables = {
        n: fio.load_table(spark, sf_small, n)
        for n in ("region", "nation", "customer", "supplier", "orders", "lineitem")
    }
    # "simple" mode: each operator appears once (formatted mode lists
    # operators twice — tree + details — which breaks counting)
    plan = plan_of(
        analytics.nation_market_share(
            tables["region"], tables["nation"], tables["customer"],
            tables["supplier"], tables["orders"], tables["lineitem"],
        ),
        mode="simple",
    )
    # every dim leg broadcasts; the ONLY nested-loop is the 1-row
    # scalar target-nation cross join
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert plan.count("BroadcastHashJoin") >= 5


def test_session_window_agg_is_native_operator_one_shuffle(spark, sf_small):
    ev = fio.load_table(spark, sf_small, "events")
    df = analytics.session_window_agg(ev)
    df.collect()
    # the executed-plan string appends the pre-AQE "Initial Plan";
    # count only the final section
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("Initial Plan")[0]
    assert "session_window" in final            # native merging agg key
    assert final.count("Exchange hashpartitioning") <= 1
    assert "RunningWindowFunction" not in final  # not the lag/cumsum shape


# --- recall report --------------------------------------------------------


def test_recall_report_control_and_bounds(emb):
    from faiss_vector_search_spark.operators import evaluate

    out = {r.tier: r.recall_at_k for r in
           evaluate.recall_report(emb, query_ids=(0, 1, 2), k=10).collect()}
    assert set(out) == {
        "exact", "ivf", "sq8", "binary", "pq_adc", "pq_rerank", "ivfpq",
        "lsh", "lsh_multiprobe",
    }
    assert out["exact"] == 1.0             # control: flat vs itself
    # query-side probes against the SAME index can only add candidates
    assert out["lsh_multiprobe"] >= out["lsh"]
    assert out["sq8"] >= 0.8               # 8-bit decode is near-exact
    # exact rescore of the ADC shortlist can only improve on raw ADC
    assert out["pq_rerank"] >= out["pq_adc"]
    assert out["pq_rerank"] >= 0.5
    # NOTE: ivfpq vs pq_adc is NOT monotone — pruning drops true
    # neighbors in unprobed lists but also drops ADC false positives
    # that outrank true ones, so recall can move either way.
    assert out["ivfpq"] > 0.0
    for tier, r in out.items():
        assert 0.0 <= r <= 1.0


def test_recall_report_residual_tier(spark):
    """ivfpq_residual (FAISS IndexIVFPQ default encoding) joins the
    ladder: on clustered data with a TRAINED quantizer, residual codes
    must not lose to raw codes at the same dial (the measured
    BENCH_BASELINE finding this rung exists to track)."""
    import numpy as np

    from faiss_vector_search_spark.operators import evaluate, ivf

    rng = np.random.RandomState(3)
    # 64-dim: recall_report's LSH tier hashes at the corpus dim (64)
    centers = rng.randn(8, 64)
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    x = np.repeat(centers, 150, axis=0) + 0.15 * rng.randn(1200, 64)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    emb_c = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(x)],
        "vec_id long, embedding array<double>",
    ).cache()
    cents = ivf.kmeans_centroids(emb_c, 16, iters=4)
    out = {r.tier: r.recall_at_k for r in
           evaluate.recall_report(
               emb_c, query_ids=(2, 500, 1100), k=10, nlist=16, nprobe=4,
               pq_m=16, pq_ksub=64, centroids=cents,
               include_residual=True,
           ).collect()}
    assert "ivfpq_residual" in out
    assert out["exact"] == 1.0
    assert out["ivfpq_residual"] >= out["ivfpq"] - 1e-9
    emb_c.unpersist()


def test_recall_report_opq_tiers(emb):
    from faiss_vector_search_spark.operators import evaluate

    out = {r.tier: r.recall_at_k for r in
           evaluate.recall_report(
               emb, query_ids=(0, 1), k=10, include_opq=True
           ).collect()}
    assert {"opq_adc", "opq_rerank"} <= set(out)
    # exact rescore of a shortlist ⊇ the ADC top-k keeps every truth
    # member the shortlist contains — rerank recall is monotone in ADC
    assert out["opq_rerank"] >= out["opq_adc"]
    assert 0.0 <= out["opq_adc"] <= 1.0


# --- IVF-binary persisted index -------------------------------------------


class TestIVFBinaryPersisted:
    @pytest.fixture(scope="class")
    def bin_index(self, spark, emb, tmp_path_factory):
        from faiss_vector_search_spark.operators import binary, ivf

        path = str(tmp_path_factory.mktemp("ivfbin") / "idx")
        cents = ivf.seeded_centroids(emb, nlist=8)
        binary.save_ivfbin(emb, cents, path)
        return path

    def test_probe_prunes_and_full_probe_equals_flat(self, spark, emb, bin_index):
        from faiss_vector_search_spark.operators import binary, ivf

        q = emb.where(F.col("vec_id") == 2).select(
            F.col("embedding").alias("query_vec")
        )
        qc = binary.binarize(
            emb.where(F.col("vec_id") == 2)
        ).select(F.col("code").alias("query_code"))

        cents = spark.read.parquet(f"{bin_index}/_centroids")
        probes = [r.probe_cid for r in ivf.probe_lists(q, cents, 2).collect()]
        probed = spark.read.parquet(f"{bin_index}/codes").where(
            F.col("list_id").isin(probes)
        )
        plan = probed._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan and "list_id" in plan
        assert {
            r.list_id for r in probed.select("list_id").distinct().collect()
        } == set(probes)

        got = [
            (r.vec_id, r.hamming)
            for r in binary.ivfbin_search_persisted(
                spark, bin_index, q, nprobe=8, k=10
            ).collect()
        ]
        flat = binary.binarize(emb)
        want = [
            (r.vec_id, r.hamming)
            for r in binary.hamming_topk(flat, qc, k=10).collect()
        ]
        assert got == want


# --- round-3 ADVICE regression gates -------------------------------------


def test_bloom_semi_join_mismatched_key_types_no_false_negatives(spark):
    # xxhash64 is type-sensitive: int keys vs bigint fact must still
    # canonicalize to the same hash positions (probe cast to build type)
    from faiss_vector_search_spark.functions import bloom

    keys = spark.range(300).select((F.col("id") * 3).cast("int").alias("k"))
    fact = spark.range(5000).select((F.col("id") % 1000).alias("k"))  # bigint
    exact = fact.join(keys.select(F.col("k").cast("bigint")), "k", "left_semi")
    got = bloom.bloom_semi_join(fact, keys, "k", bits=1 << 14)
    assert got.count() == exact.count() > 0
    pre = bloom.bloom_semi_join(fact, keys, "k", bits=1 << 14, exact=False)
    assert exact.exceptAll(pre).count() == 0


def test_mmr_rerank_string_ids(spark):
    from faiss_vector_search_spark.operators import rerank

    rows = [
        ("qa", "doc-b", 0.90, [1.0, 0.0]),
        ("qa", "doc-a", 0.90, [0.0, 1.0]),  # score tie -> lower id first
        ("qa", "doc-c", 0.50, [0.5, 0.5]),
    ]
    df = spark.createDataFrame(
        rows, "query_id string, vec_id string, score double, embedding array<double>"
    )
    out = (
        rerank.mmr_rerank(df, k=3, lambda_=1.0)
        .orderBy("mmr_rank")
        .collect()
    )
    assert [r.vec_id for r in out] == ["doc-a", "doc-b", "doc-c"]
    assert out[0].query_id == "qa"


def test_sketch_store_non_string_slice_col(spark, tmp_path):
    from faiss_vector_search_spark.operators import sketches

    ev = spark.range(1000).select(
        (F.col("id") % 4).alias("bucket"), (F.col("id") % 97).alias("user_id")
    )
    p = str(tmp_path / "sk_int")
    sketches.save_distinct_sketches(ev, p, slice_col="bucket")
    out = sketches.union_distinct_counts(spark, p, slice_col="bucket").collect()
    assert {r.bucket for r in out} == {0, 1, 2, 3, None}
    total = next(r.approx_distinct for r in out if r.bucket is None)
    assert abs(total - 97) <= 5


def test_nprobe_for_recall_walks_dial_to_target(emb):
    from faiss_vector_search_spark.operators import evaluate

    out = evaluate.nprobe_for_recall(
        emb, target=0.9, query_ids=(0, 1, 2), k=10, nlist=8
    )
    assert out["nprobe"] is not None
    assert out["recall"] >= 0.9
    assert out["nprobe"] in out["curve"]
    # the walk stops at the FIRST grid point meeting the target, so
    # every earlier point must have missed it
    for p, r in out["curve"].items():
        if p < out["nprobe"]:
            assert r < 0.9
    # nprobe = nlist scans every list = the exact control; a 1.0
    # target is therefore always reachable
    full = evaluate.nprobe_for_recall(
        emb, target=1.0, query_ids=(0, 1, 2), k=10, nlist=8,
        nprobe_grid=(8,),
    )
    assert full["nprobe"] == 8 and full["recall"] == 1.0


def test_char_entropy_arrow_engine_equals_sql(spark, sf_medium):
    from faiss_vector_search_spark.operators import textstats

    docs = fio.load_table(spark, sf_medium, "documents")
    hostile = spark.createDataFrame(
        [(100001, "aaaa"), (100002, "ümläut 中文 İ mixed"),
         (100003, None), (100004, ""), (100005, "a\nb\tc a\nb\tc")],
        "doc_id long, text string",
    )
    both = docs.select("doc_id", "text").unionByName(hostile)
    sql = {(r.doc_id, r.n_chars, r.entropy_bits)
           for r in textstats.char_entropy(both).collect()}
    arrow = {(r.doc_id, r.n_chars, r.entropy_bits)
             for r in textstats.char_entropy(both, engine="arrow").collect()}
    assert sql == arrow and len(sql) > 400


def test_char_entropy_unknown_engine_raises(spark, sf_small):
    from faiss_vector_search_spark.operators import textstats

    docs = fio.load_table(spark, sf_small, "documents")
    with pytest.raises(ValueError, match="unknown char_entropy engine"):
        textstats.char_entropy(docs, engine="bogus")


class TestWinnowArrowEngine:
    def _py_reference(self, text, k, w):
        """Plain-Python same-family reference: loops, no numpy."""
        if text is None:
            return []
        units = [u for u in text.encode("utf-16-le")]
        # reassemble uint16 little-endian units
        units = [units[i] | (units[i + 1] << 8)
                 for i in range(0, len(units), 2)]
        B, MASK = 1000003, (1 << 64) - 1

        def fmix(x):
            x ^= x >> 33
            x = (x * 0xFF51AFD7ED558CCD) & MASK
            x ^= x >> 33
            return x

        def poly(g):
            h = 0
            for u in g:
                h = (h * B + u) & MASK
            return fmix(h)

        L = len(units)
        if L >= k:
            h = [poly(units[i:i + k]) for i in range(L - k + 1)]
        else:
            h = [poly(units)]
        mins = [min(h[i:i + w]) for i in range(len(h))]
        signed = [m - (1 << 64) if m >= (1 << 63) else m for m in mins]
        return sorted(set(signed))

    def test_vectorized_matches_python_reference(self, spark, sf_small):
        from faiss_vector_search_spark.operators import textstats

        docs = fio.load_table(spark, sf_small, "documents")
        texts = [r.text for r in docs.limit(50).collect()]
        texts += ["", "ab", "aaaaaaaaaaaa", "ümläut 中文 winnow",
                  "x" * 7, "x" * 8, "x" * 9]
        for t in texts:
            assert textstats.winnow_numpy_doc(t, 8, 4) == \
                self._py_reference(t, 8, 4), repr(t[:40])

    def test_shared_substring_shares_fingerprints(self):
        """The Schleimer guarantee: any shared substring of length
        >= k + w - 1 forces at least one shared fingerprint."""
        from faiss_vector_search_spark.operators import textstats

        shared = "the quick brown fox jumps over the lazy dog"
        a = set(textstats.winnow_numpy_doc("AAAA " + shared + " BBBB", 8, 4))
        b = set(textstats.winnow_numpy_doc("cccccc " + shared, 8, 4))
        c = set(textstats.winnow_numpy_doc("entirely different words here", 8, 4))
        assert a & b
        assert not (a & c)

    def test_engine_summary_contract(self, spark, sf_small):
        from faiss_vector_search_spark.operators import textstats

        docs = fio.load_table(spark, sf_small, "documents")
        out = textstats.winnow_fingerprints(docs, engine="arrow")
        assert out.columns == ["doc_id", "n_fingerprints", "min_fp", "max_fp"]
        rows = out.collect()
        assert len(rows) == docs.count()
        assert all(r.n_fingerprints >= 1 and r.min_fp <= r.max_fp
                   for r in rows)

    def test_unknown_engine_raises(self, spark, sf_small):
        from faiss_vector_search_spark.operators import textstats

        docs = fio.load_table(spark, sf_small, "documents")
        with pytest.raises(ValueError, match="unknown winnow engine"):
            textstats.winnow_fingerprints(docs, engine="bogus")
