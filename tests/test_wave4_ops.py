"""Property gates for the r5 wave-4 operators: matryoshka /
PCA-IVF rerank searches, n-gram novelty, curriculum ordering, CCNet
perplexity buckets, and ColBERT-style maxsim retrieval."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from faiss_vector_search_spark.io import load_table
from faiss_vector_search_spark.operators import knn, textstats, transform
from faiss_vector_search_spark.operators.lexical import maxsim_search


def _emb(spark, sf):
    return load_table(spark, sf, "embeddings")


def _docs_df(spark, rows):
    return spark.createDataFrame(
        [(i, t, "src%d" % (i % 2)) for i, t in enumerate(rows)],
        "doc_id long, text string, source string",
    )


def _topk_ids(df):
    return [r["vec_id"] for r in df.collect()]


class TestMatryoshkaRerank:
    def test_exact_at_full_shortlist(self, spark, sf_small):
        emb = _emb(spark, sf_small)
        q = emb.where(F.col("vec_id") == 0).select(
            F.col("embedding").alias("query_vec")
        )
        n = emb.count()
        exact = knn.topk(emb, q, k=10)
        mat = knn.matryoshka_rerank_search(emb, q, k=10, prefix=16, shortlist=n)
        assert _topk_ids(mat) == _topk_ids(exact)
        # scores identical too (the rerank is the exact scorer)
        assert [r["score"] for r in mat.collect()] == [
            r["score"] for r in exact.collect()
        ]

    def test_recall_at_small_shortlist(self, spark, sf_small):
        emb = _emb(spark, sf_small)
        q = emb.where(F.col("vec_id") == 3).select(
            F.col("embedding").alias("query_vec")
        )
        exact = set(_topk_ids(knn.topk(emb, q, k=10)))
        got = set(
            _topk_ids(
                knn.matryoshka_rerank_search(emb, q, k=10, prefix=16, shortlist=50)
            )
        )
        # prefix-16 of 64 dims on a near-random corpus: a loose floor,
        # but the shortlist contains the true top-10 often enough that
        # recall must clear it
        assert len(got & exact) / 10 >= 0.3

    def test_prefix_equals_dim_is_exact(self, spark, sf_small):
        """prefix = full dim -> coarse IS exact, any shortlist >= k works."""
        emb = _emb(spark, sf_small)
        q = emb.where(F.col("vec_id") == 5).select(
            F.col("embedding").alias("query_vec")
        )
        exact = _topk_ids(knn.topk(emb, q, k=10))
        got = _topk_ids(
            knn.matryoshka_rerank_search(emb, q, k=10, prefix=64, shortlist=10)
        )
        assert got == exact


class TestPcaIvfSearch:
    def test_exact_at_full_probe_full_shortlist(self, spark, sf_small):
        emb = _emb(spark, sf_small)
        q = emb.where(F.col("vec_id") == 0).select(
            F.col("embedding").alias("query_vec")
        )
        n = emb.count()
        exact = knn.topk(emb, q, k=10)
        got = transform.pca_ivf_search(
            emb, q, out_dim=16, nlist=8, nprobe=8, k=10, shortlist=n
        )
        assert _topk_ids(got) == _topk_ids(exact)

    def test_recall_at_partial_probe(self, spark, sf_small):
        emb = _emb(spark, sf_small)
        q = emb.where(F.col("vec_id") == 2).select(
            F.col("embedding").alias("query_vec")
        )
        exact = set(_topk_ids(knn.topk(emb, q, k=10)))
        got = set(
            _topk_ids(
                transform.pca_ivf_search(
                    emb, q, out_dim=16, nlist=8, nprobe=4, k=10, shortlist=100
                )
            )
        )
        assert len(got & exact) / 10 >= 0.3


class TestNgramNovelty:
    def test_duplicate_docs_have_zero_novelty(self, spark):
        text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        uniq = "one two three four five six seven eight nine ten"
        docs = _docs_df(spark, [text, text, uniq])
        out = {
            r["doc_id"]: (r["n_grams"], r["novelty"])
            for r in textstats.ngram_novelty(docs, w=8).collect()
        }
        # 10 tokens -> 3 windows of 8
        assert out[0] == (3, 0.0) and out[1] == (3, 0.0)
        assert out[2] == (3, 1.0)

    def test_short_docs_emit_no_row(self, spark):
        docs = _docs_df(spark, ["too short", "a b c d e f g h i"])
        out = textstats.ngram_novelty(docs, w=8).collect()
        assert {r["doc_id"] for r in out} == {1}

    def test_within_doc_repeat_not_novel(self, spark):
        # the same 8-gram twice INSIDE one doc -> corpus count 2
        gram = "a b c d e f g h"
        docs = _docs_df(spark, [f"{gram} {gram}"])
        rows = textstats.ngram_novelty(docs, w=8).collect()
        (r,) = rows
        # windows: 9 total, the two pure copies of the gram collide
        assert r["n_novel"] < r["n_grams"]


class TestCurriculumOrder:
    def test_positions_match_global_sort(self, spark, sf_small):
        docs = load_table(spark, sf_small, "documents")
        out = textstats.curriculum_order(docs).collect()
        n = len(out)
        assert sorted(r["pos"] for r in out) == list(range(1, n + 1))
        # arithmetic positions == the literal ORDER BY (rank, source)
        expected = sorted(out, key=lambda r: (r["rank"], r["source"]))
        for want_pos, r in enumerate(expected, start=1):
            assert r["pos"] == want_pos

    def test_round_robin_head(self, spark):
        docs = _docs_df(
            spark,
            [
                "the quick brown fox jumps over the lazy dog again",
                "a much worse doc ,,,, !!!! ???? ....",
                "another good document with the usual words in it",
                "zz !!!! ,,,, xx",
            ],
        )
        out = {r["pos"]: r["source"] for r in
               textstats.curriculum_order(docs).collect()}
        # first round: one doc from each domain, domain-ascending
        assert out[1] == "src0" and out[2] == "src1"


class TestCcnetBuckets:
    def test_terciles_balanced_and_ordered(self, spark, sf_small):
        docs = load_table(spark, sf_small, "documents")
        out = textstats.ccnet_buckets(docs).collect()
        by_src = {}
        for r in out:
            by_src.setdefault(r["source"], []).append(r)
        for src, rows in by_src.items():
            sizes = [0, 0, 0]
            for r in rows:
                sizes[r["tercile"] - 1] += 1
            assert max(sizes) - min(sizes) <= 1, (src, sizes)
            heads = [r["fluency"] for r in rows if r["bucket"] == "head"]
            tails = [r["fluency"] for r in rows if r["bucket"] == "tail"]
            if heads and tails:
                assert min(heads) >= max(tails)

    def test_labels_map_terciles(self, spark, sf_small):
        docs = load_table(spark, sf_small, "documents")
        for r in textstats.ccnet_buckets(docs).collect():
            assert r["bucket"] == {1: "head", 2: "middle", 3: "tail"}[r["tercile"]]


class TestMaxsimSearch:
    def test_exact_token_doc_wins(self, spark):
        docs = _docs_df(
            spark,
            [
                "batch window vector hash fast stream",
                "batch window vector hash",
                "nothing shared here at all qqq www",
            ],
        )
        out = maxsim_search(docs, "batch window vector hash fast stream", k=3)
        rows = out.collect()
        ids = [r["doc_id"] for r in rows]
        assert ids[0] == 0
        # all six query tokens match doc 0 exactly -> score 6.0
        assert abs(rows[0]["score"] - 6.0) < 1e-9
        # doc 2 shares no token; trigram sets may still overlap by
        # accident of hashing, but strictly less than doc 1
        score = {r["doc_id"]: r["score"] for r in rows}
        assert score[0] > score[1]
        if 2 in score:
            assert score[1] > score[2]

    def test_typo_still_matches(self, spark):
        docs = _docs_df(
            spark,
            ["the vectr databse is fast", "completely unrelated words qqq"],
        )
        out = {r["doc_id"]: r["score"] for r in
               maxsim_search(docs, "vector database", k=2).collect()}
        # 'vectr'/'databse' share most trigrams with the query tokens
        assert out.get(0, 0.0) > 0.8
        assert out.get(0, 0.0) > out.get(1, 0.0)

    def test_production_hash_profile_runs(self, spark):
        docs = _docs_df(spark, ["fast vector search", "slow scalar scan"])
        out = maxsim_search(docs, "vector search", k=2, hash_fn="xxhash64")
        assert out.count() >= 1


class TestProfileDelta:
    """Incremental ANALYZE over the versioned snapshot store."""

    COLS = ("text", "n")

    def _store(self, spark, tmp_path, rows0, rows1):
        from faiss_vector_search_spark.operators import maintenance as mt

        path = str(tmp_path / "snap")
        df0 = spark.createDataFrame(rows0, "doc_id long, text string, n long")
        df1 = spark.createDataFrame(rows1, "doc_id long, text string, n long")
        v0 = mt.write_snapshot(df0, path)
        v1 = mt.write_snapshot(df1, path)
        return mt, path, v0, v1, df0, df1

    def _full_profile(self, df, cols):
        from faiss_vector_search_spark.operators import analytics

        return {
            r["column"]: r
            for r in analytics.table_profile(df, cols=cols).collect()
        }

    def test_append_only_is_exact(self, spark, tmp_path):
        rows0 = [(1, "aa", 5), (2, "bb", 7)]
        rows1 = rows0 + [(3, "cc", 3), (4, None, 9)]
        mt, path, v0, v1, df0, df1 = self._store(spark, tmp_path, rows0, rows1)
        from faiss_vector_search_spark.operators import analytics

        old = analytics.table_profile(df0, cols=self.COLS)
        out = {
            r["column"]: r
            for r in mt.profile_delta(
                spark, path, v0, v1, old, cols=self.COLS
            ).collect()
        }
        want = self._full_profile(df1, self.COLS)
        for c in self.COLS:
            assert out[c]["n_rows"] == want[c]["n_rows"]
            assert out[c]["n_nulls"] == want[c]["n_nulls"]
            assert out[c]["min_value"] == want[c]["min_value"]
            assert out[c]["max_value"] == want[c]["max_value"]
            assert out[c]["minmax_exact"] is True

    def test_interior_removal_stays_exact(self, spark, tmp_path):
        rows0 = [(1, "aa", 5), (2, "mm", 7), (3, "zz", 9)]
        rows1 = [(1, "aa", 5), (3, "zz", 9)]  # interior row removed
        mt, path, v0, v1, df0, df1 = self._store(spark, tmp_path, rows0, rows1)
        from faiss_vector_search_spark.operators import analytics

        old = analytics.table_profile(df0, cols=self.COLS)
        out = {
            r["column"]: r
            for r in mt.profile_delta(
                spark, path, v0, v1, old, cols=self.COLS
            ).collect()
        }
        want = self._full_profile(df1, self.COLS)
        for c in self.COLS:
            assert out[c]["n_rows"] == want[c]["n_rows"]
            assert out[c]["min_value"] == want[c]["min_value"]
            assert out[c]["max_value"] == want[c]["max_value"]
        # 'mm'/7 were not boundaries -> still exact
        assert out["text"]["minmax_exact"] is True
        assert out["n"]["minmax_exact"] is True

    def test_boundary_removal_flags_and_contains(self, spark, tmp_path):
        rows0 = [(1, "aa", 5), (2, "mm", 7), (3, "zz", 9)]
        rows1 = [(2, "mm", 7), (3, "zz", 9)]  # the min text/n row removed
        mt, path, v0, v1, df0, df1 = self._store(spark, tmp_path, rows0, rows1)
        from faiss_vector_search_spark.operators import analytics

        old = analytics.table_profile(df0, cols=self.COLS)
        out = {
            r["column"]: r
            for r in mt.profile_delta(
                spark, path, v0, v1, old, cols=self.COLS
            ).collect()
        }
        want = self._full_profile(df1, self.COLS)
        for c in self.COLS:
            # counts exact even when bounds go stale
            assert out[c]["n_rows"] == want[c]["n_rows"]
            assert out[c]["minmax_exact"] is False
            # stale bounds still CONTAIN the truth (never narrower)
            assert out[c]["min_value"] <= want[c]["min_value"]
            assert out[c]["max_value"] >= want[c]["max_value"]

    def test_changed_rows_update_counts(self, spark, tmp_path):
        rows0 = [(1, "aa", 5), (2, "bb", None)]
        rows1 = [(1, "aa", 5), (2, "bb", 8)]  # null filled in
        mt, path, v0, v1, df0, df1 = self._store(spark, tmp_path, rows0, rows1)
        from faiss_vector_search_spark.operators import analytics

        old = analytics.table_profile(df0, cols=self.COLS)
        out = {
            r["column"]: r
            for r in mt.profile_delta(
                spark, path, v0, v1, old, cols=self.COLS
            ).collect()
        }
        assert out["n"]["n_nulls"] == 0
        assert out["n"]["n_rows"] == 2


class TestFimTransform:
    def _docs(self, spark, texts):
        return spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )

    def test_parts_partition_text_exactly(self, spark, sf_small):
        from faiss_vector_search_spark.operators import chunking

        docs = load_table(spark, sf_small, "documents")
        out = chunking.fim_transform(docs, rate_permille=1000).collect()
        src = {r["doc_id"]: r["text"] for r in docs.collect()}
        applied = 0
        for r in out:
            if r["fim"]:
                applied += 1
                assert r["prefix"] + r["middle"] + r["suffix"] == src[r["doc_id"]]
                assert r["fim_text"] == (
                    "<PRE>" + r["prefix"] + "<SUF>" + r["suffix"]
                    + "<MID>" + r["middle"]
                )
        assert applied > 0

    def test_cut_bounds(self, spark, sf_small):
        from faiss_vector_search_spark.operators import chunking

        docs = load_table(spark, sf_small, "documents")
        out = chunking.fim_transform(docs, rate_permille=1000).collect()
        src = {r["doc_id"]: r["text"] for r in docs.collect()}
        for r in out:
            if not r["fim"]:
                continue
            n = len(src[r["doc_id"]])
            c1 = len(r["prefix"])
            c2 = c1 + len(r["middle"])
            assert n // 10 <= c1 < n // 10 + max(n * 4 // 10, 1) + 1
            assert c1 <= c2 <= max(9 * n // 10, c1 + 1)

    def test_rate_and_determinism(self, spark, sf_small):
        from faiss_vector_search_spark.operators import chunking

        docs = load_table(spark, sf_small, "documents")
        a = chunking.fim_transform(docs, rate_permille=500).collect()
        b = chunking.fim_transform(docs, rate_permille=500).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))
        n_applied = sum(1 for r in a if r["fim"])
        # hash gate: roughly half (loose band, deterministic value)
        assert 0.35 * len(a) < n_applied < 0.65 * len(a)

    def test_short_docs_pass_through(self, spark):
        from faiss_vector_search_spark.operators import chunking

        docs = self._docs(spark, ["tiny", "x" * 100])
        out = {r["doc_id"]: r for r in
               chunking.fim_transform(docs, rate_permille=1000).collect()}
        assert out[0]["fim"] is False and out[0]["fim_text"] is None
        assert out[1]["fim"] is True
        # pass-through rows carry the original text: the training mixer
        # consumes coalesce(fim_text, text) with no join back
        assert out[0]["text"] == "tiny"
        assert out[1]["text"] == "x" * 100


class TestZipfProfile:
    def _metrics(self, spark, texts):
        from faiss_vector_search_spark.operators import textstats as ts

        docs = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        return {r["metric"]: r["value"] for r in ts.zipf_profile(docs).collect()}

    def test_exact_counts_tiny_corpus(self, spark):
        m = self._metrics(spark, ["a a a b b c", "c b a"])
        # a:4 b:3 c:2 -> 9 tokens, vocab 3, hapax 0
        assert m["n_tokens"] == 9.0
        assert m["vocab_size"] == 3.0
        assert m["hapax_count"] == 0.0
        assert m["top_coverage"] == 1.0

    def test_uniform_corpus_slope_zero(self, spark):
        # every token appears exactly twice -> ln(count) constant ->
        # least-squares slope is exactly 0
        m = self._metrics(spark, ["aa bb cc dd", "dd cc bb aa"])
        assert m["zipf_slope"] == 0.0
        assert m["hapax_count"] == 0.0

    def test_zipfian_corpus_slope_negative(self, spark, sf_small):
        from faiss_vector_search_spark.operators import textstats as ts

        docs = load_table(spark, sf_small, "documents")
        m = {r["metric"]: r["value"] for r in ts.zipf_profile(docs).collect()}
        assert m["zipf_slope"] < -0.1  # natural-ish text: decaying head
        assert 0.0 <= m["hapax_frac"] <= 1.0
        assert m["vocab_size"] <= m["n_tokens"]


class TestBucketedSnapshotDiff:
    """bucket_by snapshot layout: the CDC diff's full outer join must
    be exchange-free and sort-free, with identical results to the
    plain-parquet store."""

    def _rows(self, tag):
        return [(i, f"text {i} {tag if i % 5 == 0 else ''}") for i in range(40)]

    def test_diff_exchange_free_and_equal(self, spark, tmp_path):
        from faiss_vector_search_spark.operators import maintenance as mt

        rows0 = self._rows("a")
        rows1 = [(i, t) for i, t in self._rows("b") if i % 7 != 0]
        schema = "doc_id long, text string"
        plain = str(tmp_path / "plain")
        mt.write_snapshot(spark.createDataFrame(rows0, schema), plain)
        mt.write_snapshot(spark.createDataFrame(rows1, schema), plain)
        bucketed = str(tmp_path / "bucketed")
        mt.write_snapshot(
            spark.createDataFrame(rows0, schema), bucketed,
            bucket_by=("doc_id", 8),
        )
        mt.write_snapshot(
            spark.createDataFrame(rows1, schema), bucketed,
            bucket_by=("doc_id", 8),
        )

        d_plain = mt.snapshot_diff(spark, plain, 0, 1)
        d_bucketed = mt.snapshot_diff(spark, bucketed, 0, 1)
        got_p = sorted(map(tuple, d_plain.collect()))
        got_b = sorted(map(tuple, d_bucketed.collect()))
        assert got_b == got_p and got_b  # same change set, non-empty

        plan = d_bucketed._jdf.queryExecution().executedPlan().toString()
        final = plan.split("Initial Plan")[0]
        # the claim is NO NETWORK: both version scans read co-located
        # buckets, the full outer join never shuffles. (A LOCAL
        # per-bucket sort remains — Spark's bucketed reader drops the
        # written sortBy order unless a legacy conf restores it.)
        assert "Exchange" not in final, final
        assert "Bucketed: true" in final, final
        # and the plain store DOES shuffle, so the layout is what
        # removed it
        plain_plan = d_plain._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in plain_plan

    def test_plain_reads_unaffected(self, spark, tmp_path):
        from faiss_vector_search_spark.operators import maintenance as mt

        path = str(tmp_path / "p2")
        df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        v = mt.write_snapshot(df, path)
        assert mt.read_snapshot(spark, path, v).count() == 1


class TestIvfBatchPersisted:
    """N queries over the persisted IVF index in one pruned scan."""

    @pytest.fixture(scope="class")
    def store(self, spark, sf_small, tmp_path_factory):
        from faiss_vector_search_spark.operators import ivf as ivf_mod

        emb = load_table(spark, sf_small, "embeddings")
        cents = ivf_mod.seeded_centroids(emb, nlist=8)
        path = str(tmp_path_factory.mktemp("ivfb") / "idx")
        ivf_mod.save_ivf(emb, cents, path)
        return path, emb

    def test_equals_per_query_loop(self, spark, store):
        from faiss_vector_search_spark.operators import ivf as ivf_mod

        path, emb = store
        qids = [0, 3, 7]
        queries = emb.where(F.col("vec_id").isin(qids)).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        batched = ivf_mod.ivf_search_persisted_batch(
            spark, path, queries, nprobe=3, k=5
        ).collect()
        got = {}
        for r in batched:
            got.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"], r["score"]))
        for qid in qids:
            q1 = emb.where(F.col("vec_id") == qid).select(
                F.col("embedding").alias("query_vec")
            )
            solo = ivf_mod.search_persisted(
                spark, path, q1, nprobe=3, k=5
            ).collect()
            want = [(i + 1, r["vec_id"], r["score"]) for i, r in enumerate(solo)]
            assert sorted(got[qid]) == want, qid

    def test_string_query_ids(self, spark, store):
        # the probe map derives the id type from the caller's frame —
        # string keys must work, not just bigint (r5 ADVICE item)
        from faiss_vector_search_spark.operators import ivf as ivf_mod

        path, emb = store
        queries = emb.where(F.col("vec_id").isin([0, 3])).select(
            F.concat(F.lit("q-"), F.col("vec_id")).alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        out = ivf_mod.ivf_search_persisted_batch(
            spark, path, queries, nprobe=2, k=5
        ).collect()
        assert {r["query_id"] for r in out} == {"q-0", "q-3"}
        assert all(isinstance(r["query_id"], str) for r in out)

    def test_partition_pruned_single_scan(self, spark, store):
        from faiss_vector_search_spark.operators import ivf as ivf_mod

        path, emb = store
        queries = emb.where(F.col("vec_id").isin([0, 3])).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        df = ivf_mod.ivf_search_persisted_batch(
            spark, path, queries, nprobe=2, k=5
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        final = plan.split("Initial Plan")[0]
        # the INDEX scan appears exactly once (N queries share it) and
        # partition-prunes on list_id; the query/centroid side scans
        # are bounded metadata
        vec_scans = [
            ln for ln in final.splitlines()
            if "Scan parquet" in ln and "/vectors" in ln
        ]
        assert len(vec_scans) == 1, final
        assert "PartitionFilters: [" in vec_scans[0]
        assert "PartitionFilters: []" not in vec_scans[0]
        assert "CartesianProduct" not in final


class TestSelfSimilarity:
    def _report(self, spark, texts, k=40):
        from faiss_vector_search_spark.operators import dedup

        docs = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        (row,) = dedup.self_similarity_report(
            docs, sample_k=k, shingle_n=2
        ).collect()
        return row

    def test_template_corpus_high_similarity(self, spark):
        # a generator stuck in a template: one word varies
        texts = [f"the quick brown fox jumps over the lazy dog {i}"
                 for i in range(10)]
        r = self._report(spark, texts, k=10)
        assert r["n_pairs"] == 45
        assert r["mean_jaccard"] > 0.6
        assert r["n_pairs_over_50"] == 45

    def test_diverse_corpus_low_similarity(self, spark):
        texts = [
            "alpha beta gamma delta",
            "epsilon zeta eta theta",
            "iota kappa lambda mu",
            "nu xi omicron pi rho",
        ]
        r = self._report(spark, texts, k=4)
        assert r["n_pairs"] == 6
        assert r["mean_jaccard"] == 0.0
        assert r["n_pairs_over_50"] == 0

    def test_identical_pair_maxes_at_one(self, spark):
        texts = ["one two three four", "one two three four", "five six seven"]
        r = self._report(spark, texts, k=3)
        assert r["max_jaccard"] == 1.0

    def test_deterministic_sample(self, spark, sf_small):
        from faiss_vector_search_spark.operators import dedup

        docs = load_table(spark, sf_small, "documents")
        a = dedup.self_similarity_report(docs).collect()
        b = dedup.self_similarity_report(docs).collect()
        assert list(map(tuple, a)) == list(map(tuple, b))


class TestSplitKl:
    def test_healthy_split_near_zero(self, spark, sf_small):
        from faiss_vector_search_spark.operators import lm

        docs = load_table(spark, sf_small, "documents")
        out = {r["split"]: r for r in lm.split_kl_report(docs).collect()}
        assert set(out) <= {"train", "val", "test"}
        # content-blind hash split: every bucket tracks the corpus
        for r in out.values():
            assert r["kl_nats"] < 0.5, dict(r.asDict())
        # train is the largest bucket and the closest to the corpus
        assert out["train"]["kl_nats"] == min(v["kl_nats"] for v in out.values())

    def test_content_correlated_ids_spike(self, spark):
        from faiss_vector_search_spark.operators import lm

        # ids assigned per-content-block: low ids all-alpha vocabulary,
        # high ids all-numeric vocabulary -> the val/test buckets see a
        # different distribution than train
        rows = []
        for i in range(200):
            rows.append((i, "alpha beta gamma delta " * 3))
        for i in range(200, 250):
            rows.append((i, "seven eight nine zero one " * 3))
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        healthy = {
            r["split"]: r["kl_nats"]
            for r in lm.split_kl_report(docs).collect()
        }
        # the hash split stays near zero even on this corpus — the
        # FAILURE mode needs id-correlated assignment, modeled by a
        # range split (first 80% of ids = train)
        from pyspark.sql import functions as FF
        from faiss_vector_search_spark.operators.lm import domain_kl_report

        range_split = docs.select(
            "doc_id", "text",
            FF.when(FF.col("doc_id") < 200, "train").otherwise("val")
            .alias("split"),
        )
        skewed = {
            r["split"]: r["kl_nats"]
            for r in domain_kl_report(range_split, group_col="split").collect()
        }
        assert skewed["val"] > 10 * max(healthy.values(), default=0.001)


class TestCrossDomainDups:
    def test_planted_cross_and_within(self, spark):
        from faiss_vector_search_spark.operators import dedup

        text1 = "the quick brown fox jumps over the lazy dog today again"
        text2 = "completely different content about vector search engines ok"
        rows = [
            (0, text1, "en", "srcA", len(text1)),
            (1, text1, "en", "srcB", len(text1)),   # cross-domain dup
            (2, text2, "en", "srcA", len(text2)),
            (3, text2, "en", "srcA", len(text2)),   # within-domain dup
            (4, "unrelated words entirely here now", "en", "srcB", 33),
        ]
        docs = spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )
        out = {
            (r["source_x"], r["source_y"]): r
            for r in dedup.cross_domain_dup_report(docs).collect()
        }
        ab = out[("srcA", "srcB")]
        assert ab["n_pairs"] == 1 and ab["n_cross_domain"] == 1
        assert ab["max_jaccard"] == 1.0
        aa = out[("srcA", "srcA")]
        assert aa["n_pairs"] == 1 and aa["n_cross_domain"] == 0

    def test_no_dups_empty(self, spark):
        from faiss_vector_search_spark.operators import dedup

        docs = spark.createDataFrame(
            [(i, f"totally unique document number {i} with words {i*7}",
              "en", "s", 10) for i in range(6)],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        assert dedup.cross_domain_dup_report(docs).count() == 0


class TestBpeFertility:
    def test_per_language_fertility(self, spark):
        from faiss_vector_search_spark.operators import bpe

        rows = [
            (0, "the cat sat on the mat with the hat", "en"),
            (1, "the cat sat on the mat", "en"),
            (2, "zqx wvj kpt bqz xjw", "xx"),  # out-of-distribution
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
        merges = bpe.bpe_train(docs.where("lang = 'en'"), num_merges=50)
        out = {r["lang"]: r for r in
               bpe.bpe_fertility_report(docs, merges).collect()}
        # english words are mostly merged back to whole words ->
        # low fertility; the unseen-alphabet language shreds
        assert out["en"]["fertility"] < out["xx"]["fertility"]
        assert out["en"]["n_docs"] == 2 and out["xx"]["n_docs"] == 1
        for r in out.values():
            assert r["fertility"] >= 1.0
            assert r["chars_per_piece"] > 0

    def test_chars_match_piece_stream(self, spark):
        from faiss_vector_search_spark.operators import bpe

        docs = spark.createDataFrame(
            [(0, "aaa bbb aaa bbb", "en")], "doc_id long, text string, lang string"
        )
        merges = bpe.bpe_train(docs, num_merges=10)
        (r,) = bpe.bpe_fertility_report(docs, merges).collect()
        # the report's char mass equals the actual piece stream's
        # (pieces carry the </w> word-boundary marker, so this is NOT
        # the raw text length)
        pieces = bpe.bpe_encode(docs, merges).collect()[0]["pieces"]
        want = sum(len(p) for p in pieces)
        assert r["n_pieces"] * r["chars_per_piece"] == float(want)


class TestIndexSizeReport:
    def test_ladder_ordering(self, spark, sf_small, tmp_path):
        from faiss_vector_search_spark.io import load_table
        from faiss_vector_search_spark.operators import binary as bin_mod
        from faiss_vector_search_spark.operators import index_store, sq

        emb = load_table(spark, sf_small, "embeddings")
        flat_p = str(tmp_path / "flat")
        emb.write.parquet(flat_p)
        sq_p = str(tmp_path / "sq")
        bounds = sq.sq_train(emb)
        sq.sq_encode(emb, bounds).write.parquet(sq_p)
        bin_p = str(tmp_path / "bin")
        bin_mod.binarize(emb.select("vec_id", "embedding")).write.parquet(bin_p)
        out = {
            r["tier"]: r
            for r in index_store.index_size_report(
                spark, {"flat": flat_p, "sq8": sq_p, "binary": bin_p}
            ).collect()
        }
        n = emb.count()
        for r in out.values():
            assert r["n_rows"] == n and r["n_bytes"] > 0
        # the compression ladder holds on disk, not just in theory
        assert out["binary"]["bytes_per_row"] < out["sq8"]["bytes_per_row"]
        assert out["sq8"]["bytes_per_row"] < out["flat"]["bytes_per_row"]


class TestFingerprintOverlap:
    def test_planted_plagiarism_found(self, spark):
        from faiss_vector_search_spark.operators import textstats as ts

        original = ("the quick brown fox jumps over the lazy dog while "
                    "the band played on through the long warm evening")
        edited = ("the quick brown fox jumps over the lazy dog while "
                  "a trumpet played on through the long warm evening")
        docs = spark.createDataFrame(
            [(0, original), (1, edited),
             (2, "completely unrelated text about spark query plans")],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r for r in
               ts.fingerprint_overlap_search(docs, 0, min_shared=2).collect()}
        assert 1 in out                      # the edited copy is found
        assert out[1]["containment"] > 0.5   # most fingerprints survive the edit
        # the unrelated doc shares at most noise
        assert out.get(2, None) is None or out[2]["n_shared"] < out[1]["n_shared"]

    def test_self_excluded_and_deterministic(self, spark, sf_small):
        from faiss_vector_search_spark.io import load_table
        from faiss_vector_search_spark.operators import textstats as ts

        docs = load_table(spark, sf_small, "documents")
        a = ts.fingerprint_overlap_search(docs, 3).collect()
        b = ts.fingerprint_overlap_search(docs, 3).collect()
        assert list(map(tuple, a)) == list(map(tuple, b))
        assert all(r["doc_id"] != 3 for r in a)
        for r in a:
            assert 0.0 < r["containment"] <= 1.0

    def test_top_bounds_the_report(self, spark, sf_small):
        from faiss_vector_search_spark.io import load_table
        from faiss_vector_search_spark.operators import textstats as ts

        docs = load_table(spark, sf_small, "documents")
        full = ts.fingerprint_overlap_search(docs, 3).collect()
        assert len(full) > 3
        top = ts.fingerprint_overlap_search(docs, 3, top=3).collect()
        assert list(map(tuple, top)) == list(map(tuple, full[:3]))
