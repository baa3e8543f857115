"""Round-7 wave operators: the funnel conversion window and the
multi-query (suite-level) retrieval evaluation. Both are oracle-gated
in __spark_entry__.py; these tests pin the SEMANTICS on hand-built
inputs (the cases a hash gate can't localize)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F


def _ts(day, hour=0, minute=0):
    return dt.datetime(2024, 1, day, hour, minute)


class TestEventFunnelHorizon:
    def _events(self, spark, rows):
        return spark.createDataFrame(
            [(i, t, u, e) for i, (u, e, t) in enumerate(rows)],
            "event_id long, ts timestamp, user_id long, event_type string",
        )

    def _counts(self, df):
        return {r["step"]: r["n_users"] for r in df.collect()}

    def test_horizon_excludes_late_steps(self, spark):
        from faiss_vector_search_spark.operators import analytics

        events = self._events(spark, [
            # user 1: full funnel inside 48h of the view anchor
            (1, "view", _ts(1)), (1, "click", _ts(1, 6)),
            (1, "purchase", _ts(2)),
            # user 2: click happens 3 days after the view anchor —
            # ordered (so the UNBOUNDED funnel counts it) but outside
            # the 48h window
            (2, "view", _ts(1)), (2, "click", _ts(4)),
            (2, "purchase", _ts(4, 6)),
        ])
        unbounded = self._counts(analytics.event_funnel(events))
        assert unbounded == {"view": 2, "click": 2, "purchase": 2}
        windowed = self._counts(
            analytics.event_funnel(events, horizon_s=48 * 3600)
        )
        assert windowed == {"view": 2, "click": 1, "purchase": 1}

    def test_anchor_is_earliest_step1_occurrence(self, spark):
        from faiss_vector_search_spark.operators import analytics

        # the user views on day 1 AND day 3; the click on day 4 is
        # within 48h of the SECOND view, but the anchor is the
        # earliest qualifying step-1 event (min ts), so it is out
        events = self._events(spark, [
            (1, "view", _ts(1)), (1, "view", _ts(3)),
            (1, "click", _ts(4)),
        ])
        windowed = self._counts(
            analytics.event_funnel(events, horizon_s=48 * 3600,
                                   steps=("view", "click"))
        )
        assert windowed == {"view": 1, "click": 0}

    def test_boundary_is_inclusive_and_order_still_strict(self, spark):
        from faiss_vector_search_spark.operators import analytics

        events = self._events(spark, [
            # click exactly AT anchor+horizon counts (<=)
            (1, "view", _ts(1)), (1, "click", _ts(3)),
            # click strictly BEFORE the view never counts, even
            # inside the window
            (2, "click", _ts(1)), (2, "view", _ts(1, 1)),
        ])
        windowed = self._counts(
            analytics.event_funnel(events, horizon_s=48 * 3600,
                                   steps=("view", "click"))
        )
        assert windowed == {"view": 2, "click": 1}


QUERIES = [("q1", "batch window vector hash fast stream"),
           ("q2", "table scan merge sort"),
           ("q3", "zzz_nowhere_token")]


class TestMultiQueryRetrieval:
    """The one-corpus-pass suite engines must be hash-identical,
    per tag, to the single-query forms they fuse."""

    def test_bm25_multi_matches_single(self, spark, sf_small):
        from faiss_vector_search_spark.io import load_table
        from faiss_vector_search_spark.operators import lexical

        docs = load_table(spark, sf_small, "documents")
        multi = lexical.bm25_search_multi(docs, QUERIES, k=10)
        got = {
            t: [(r["doc_id"], r["score"], r["rank"])
                for r in multi.where(F.col("query_tag") == t)
                .orderBy("rank").collect()]
            for t, _ in QUERIES
        }
        for i, (tag, q) in enumerate(QUERIES):
            single = [
                (r["doc_id"], r["score"], j + 1)
                for j, r in enumerate(
                    lexical.bm25_search(docs, q, k=10)
                    .orderBy(F.col("score").desc(), F.col("doc_id").asc())
                    .collect()
                )
            ]
            assert got[tag] == single, tag
        assert got["q3"] == []  # no-hit query yields no rows

    def test_dense_multi_matches_single(self, spark, sf_small):
        from faiss_vector_search_spark.io import load_table
        from faiss_vector_search_spark.operators import embed

        docs = load_table(spark, sf_small, "documents")
        multi = embed.text_search_multi(docs, QUERIES, dim=64, k=5)
        got = {
            t: sorted(
                (r["doc_id"], r["score"])
                for r in multi.where(F.col("query_tag") == t).collect()
            )
            for t, _ in QUERIES
        }
        for tag, q in QUERIES:
            single = sorted(
                (r["doc_id"], r["score"])
                for r in embed.text_search(docs, q, dim=64, k=5).collect()
            )
            assert got[tag] == single, tag

    def test_multi_without_scorable_queries_is_empty(self, spark, sf_small):
        from faiss_vector_search_spark.io import load_table
        from faiss_vector_search_spark.operators import embed

        docs = load_table(spark, sf_small, "documents")
        for queries in ([], [("q", "!!! ...")]):
            df = embed.text_search_multi(docs, queries, dim=64, k=5)
            assert df.columns == ["query_tag", "doc_id", "score"]
            assert df.collect() == []

    def test_multi_is_one_corpus_aggregation(self, spark, sf_small):
        from faiss_vector_search_spark.io import load_table
        from faiss_vector_search_spark.operators import embed

        docs = load_table(spark, sf_small, "documents")
        df = embed.text_search_multi(docs, QUERIES[:2], dim=64, k=5)
        plan = df._jdf.queryExecution().executedPlan().toString()
        final = plan.split("Initial Plan")[0]
        # the documents parquet is scanned exactly once — the |Q| dot
        # products ride the single bucket-count aggregation
        assert final.count("Scan parquet") <= 1
        assert "CartesianProduct" not in final


class TestChunkSearchIvf:
    def test_full_probe_equals_brute_force(self, spark, sf_small):
        from faiss_vector_search_spark.io import load_table
        from faiss_vector_search_spark.operators import embed
        from faiss_vector_search_spark.operators import knn
        from faiss_vector_search_spark.operators.chunking import chunk_greedy

        docs = load_table(spark, sf_small, "documents")
        q = "batch window vector hash fast stream"
        ivf_hits = embed.chunk_text_search_ivf(
            docs, q, k=5, nlist=8, nprobe=8,  # full probe -> exact
        ).collect()
        # brute force over the SAME chunk embeddings (identical
        # arithmetic: normalized hash embedding + rounded IP)
        chunks = chunk_greedy(docs, 100, 250, 20)
        keyed = chunks.select(
            F.struct(F.col("doc_id").alias("d"),
                     F.col("chunk_id").alias("c")).alias("_ckey"),
            F.col("chunk"),
        )
        cemb = embed.embed_documents(
            keyed, dim=64, id_col="_ckey", text_col="chunk")
        qv = embed.embed_documents(
            spark.createDataFrame([(0, q)], "qid int, text string"),
            dim=64, id_col="qid", text_col="text",
        ).select(F.col("embedding").alias("query_vec"))
        brute = knn.topk(cemb, qv, k=5, metric="ip", id_col="_ckey").collect()
        assert [
            (r["doc_id"], r["chunk_id"], r["score"]) for r in ivf_hits
        ] == [
            (r["_ckey"]["d"], r["_ckey"]["c"], r["score"]) for r in brute
        ]

    def test_partial_probe_subset_and_attribution(self, spark, sf_small):
        from faiss_vector_search_spark.io import load_table
        from faiss_vector_search_spark.operators import embed

        docs = load_table(spark, sf_small, "documents")
        q = "batch window vector hash fast stream"
        full = embed.chunk_text_search_ivf(docs, q, k=10, nlist=8, nprobe=8)
        part = embed.chunk_text_search_ivf(docs, q, k=10, nlist=8, nprobe=2)
        full_ids = {(r["doc_id"], r["chunk_id"]) for r in full.collect()}
        part_rows = part.collect()
        # probed lists are a subset of the corpus: every hit must be a
        # real chunk with its text attached, scores descending
        assert part_rows
        scores = [r["score"] for r in part_rows]
        assert scores == sorted(scores, reverse=True)
        for r in part_rows:
            assert r["chunk_text"]
        # sanity: partial probe finds mostly the same heads on this
        # corpus (recall, not equality — it IS approximate)
        part_ids = {(r["doc_id"], r["chunk_id"]) for r in part_rows}
        assert len(part_ids & full_ids) >= 3


class TestHybridRrfMulti:
    def test_matches_single_query_fusion_per_tag(self, spark, sf_small):
        from faiss_vector_search_spark.io import load_table
        from faiss_vector_search_spark.operators import embed, lexical

        docs = load_table(spark, sf_small, "documents")
        qs = QUERIES[:2]
        lex = lexical.bm25_search_multi(docs, qs, k=20).select(
            "query_tag", "doc_id", "score")
        den = embed.text_search_multi(docs, qs, dim=64, k=20).select(
            "query_tag", "doc_id", "score")
        multi = lexical.hybrid_rrf_multi(lex, den, k=10)
        got = {
            t: [(r["doc_id"], r["rrf_score"])
                for r in multi.where(F.col("query_tag") == t).collect()]
            for t, _ in qs
        }
        for tag, q in qs:
            single = [
                (r["doc_id"], r["rrf_score"])
                for r in lexical.hybrid_rrf(
                    lexical.bm25_search(docs, q, k=20),
                    embed.text_search(docs, q, dim=64, k=20),
                    k=10,
                ).collect()
            ]
            assert got[tag] == single, tag


class TestKnnClassifyWeighted:
    def test_closer_neighbor_dominates_count_tie(self, spark):
        from faiss_vector_search_spark.operators import knn

        # labels tie 1-1 on counts; the weighted vote must follow the
        # higher-similarity neighbor (label 9), the unweighted one
        # breaks the count tie to the smaller label (3)
        emb = spark.createDataFrame(
            [(0, [1.0, 0.0], 0),
             (1, [0.99, 0.14], 9),   # closer, label 9
             (2, [0.7, 0.71], 3)],   # farther, label 3
            "vec_id long, embedding array<double>, label int",
        )
        q = emb.where(F.col("vec_id") == 0).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        (u,) = knn.knn_classify(emb, q, k=2).collect()
        assert u["pred_label"] == 3  # count tie -> smaller label
        (w,) = knn.knn_classify(emb, q, k=2, weighted=True).collect()
        assert w["pred_label"] == 9
        assert w["votes"] == 1
        assert 0.5 < w["confidence"] < 1.0
        assert w["weight"] == pytest.approx(0.99, abs=0.02)

    def test_unanimous_weighted_confidence_is_one(self, spark):
        from faiss_vector_search_spark.operators import knn

        emb = spark.createDataFrame(
            [(0, [1.0, 0.0], 5), (1, [0.9, 0.1], 5), (2, [0.8, 0.2], 5)],
            "vec_id long, embedding array<double>, label int",
        )
        q = emb.where(F.col("vec_id") == 0).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        (w,) = knn.knn_classify(emb, q, k=5, weighted=True).collect()
        assert w["pred_label"] == 5 and w["confidence"] == 1.0


class TestCrossEncoderRerank:
    def test_self_query_ranks_first_and_deterministic(self, spark, sf_small):
        from faiss_vector_search_spark.io import load_table
        from faiss_vector_search_spark.operators import rerank

        docs = load_table(spark, sf_small, "documents")
        qtext = docs.where(F.col("doc_id") == 7).first().text
        out = rerank.cross_encoder_rerank(
            docs, qtext, k=5, shortlist=20
        ).collect()
        assert out[0]["doc_id"] == 7
        scores = [r["score_model"] for r in out]
        assert scores == sorted(scores, reverse=True)
        assert [r["rank"] for r in out] == [1, 2, 3, 4, 5]
        again = rerank.cross_encoder_rerank(
            docs, qtext, k=5, shortlist=20
        ).collect()
        assert list(map(tuple, out)) == list(map(tuple, again))

    def test_pair_stage_sees_only_shortlist_batches(self, spark, sf_small):
        # the scale contract: the Python pair-scoring stage consumes
        # shortlist rows, never the corpus — the broadcast semi-join
        # prunes BEFORE the Arrow slot
        from faiss_vector_search_spark.io import load_table
        from faiss_vector_search_spark.operators import embed as embed_mod
        from faiss_vector_search_spark.operators import rerank

        docs = load_table(spark, sf_small, "documents")
        n_corpus = docs.count()
        stage1 = embed_mod.text_search(
            docs, "batch window vector", k=10
        ).select("doc_id")
        sub = docs.join(F.broadcast(stage1), "doc_id", "left_semi")
        assert sub.count() == 10 < n_corpus
        df = rerank.cross_encoder_rerank(
            docs, "batch window vector", k=5, shortlist=10
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        final = plan.split("Initial Plan")[0]
        assert "SortMergeJoin" not in final
        assert "CartesianProduct" not in final
        assert len(df.collect()) == 5

    def test_pair_score_is_cosine_plus_bounded_interaction(self, spark,
                                                           sf_small):
        # the committed pair head refines the bi-encoder cosine by a
        # bounded interaction term — scores stay within 0.1·|w2|·1 of
        # the stage-1 cosine on the same feature space
        import numpy as np
        from faiss_vector_search_spark.io import load_table
        from faiss_vector_search_spark.operators import rerank

        _, _, w2 = rerank._cross_weights()
        bound = 0.1 * float(np.abs(w2).sum()) + 1e-9
        docs = load_table(spark, sf_small, "documents")
        out = rerank.cross_encoder_rerank(
            docs, "batch window vector", k=10, shortlist=10
        ).collect()
        for r in out:
            assert abs(r["score_model"] - r["score_stage1"]) <= bound


class TestRetrievalMetricsByQuery:
    def _suite(self, spark, results, truth):
        from faiss_vector_search_spark.operators import evaluate as ev

        r = spark.createDataFrame(
            results, "query_tag string, doc_id long, rank int"
        )
        t = spark.createDataFrame(truth, "query_tag string, doc_id long")
        out = ev.retrieval_metrics_by_query(r, t, k=10)
        return {row["query_tag"]: row for row in out.collect()}

    def test_per_query_and_macro(self, spark):
        rows = self._suite(
            spark,
            # q1: both relevant docs retrieved at ranks 1,2 (perfect)
            # q2: one of two relevant docs, at rank 2
            [("q1", 10, 1), ("q1", 11, 2), ("q1", 12, 3),
             ("q2", 20, 1), ("q2", 21, 2)],
            [("q1", 10), ("q1", 11), ("q2", 21), ("q2", 99)],
        )
        assert set(rows) == {"q1", "q2", "MACRO"}
        q1, q2, mac = rows["q1"], rows["q2"], rows["MACRO"]
        assert (q1["n_relevant"], q1["n_hits"]) == (2, 2)
        assert q1["recall_at_k"] == 1.0 and q1["mrr"] == 1.0
        assert q1["ndcg_at_k"] == 1.0
        assert (q2["n_relevant"], q2["n_hits"]) == (2, 1)
        assert q2["recall_at_k"] == 0.5 and q2["mrr"] == 0.5
        # q2 dcg = 1/log2(3); idcg = 1 + 1/log2(3)
        import math
        exp_ndcg = round(
            (1 / math.log2(3)) / (1 + 1 / math.log2(3)), 6
        )
        assert q2["ndcg_at_k"] == pytest.approx(exp_ndcg, abs=1e-9)
        # macro: counts sum, metrics average the per-query values
        assert (mac["n_relevant"], mac["n_hits"]) == (4, 3)
        assert mac["recall_at_k"] == 0.75 and mac["mrr"] == 0.75
        # (1.0 + 0.386853)/2 = 0.6934265 exactly — Spark (and DuckDB)
        # ROUND is half-up on the decimal boundary: 0.693427, NOT
        # python's banker's 0.693426
        assert mac["ndcg_at_k"] == 0.693427

    def test_zero_hit_query_pulls_macro_down(self, spark):
        rows = self._suite(
            spark,
            [("q1", 10, 1), ("q2", 20, 1)],
            [("q1", 10), ("q2", 99)],
        )
        q2, mac = rows["q2"], rows["MACRO"]
        assert q2["n_hits"] == 0 and q2["recall_at_k"] == 0.0
        assert q2["mrr"] == 0.0 and q2["ndcg_at_k"] == 0.0
        assert mac["recall_at_k"] == 0.5

    def test_query_without_results_scores_zero(self, spark):
        # judged query with an empty result list (retriever returned
        # nothing): metrics are 0, not NULL, and the row still exists
        rows = self._suite(
            spark,
            [("q1", 10, 1)],
            [("q1", 10), ("q2", 50)],
        )
        q2 = rows["q2"]
        assert (q2["n_hits"], q2["recall_at_k"], q2["mrr"],
                q2["ndcg_at_k"]) == (0, 0.0, 0.0, 0.0)
        assert rows["MACRO"]["recall_at_k"] == 0.5
