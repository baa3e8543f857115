"""Headline benchmark: runs the engine's flagship queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Queries run in the PRODUCTION profile (SURVEY.md §3): the hash-heavy
operators use xxhash64 (one JVM intrinsic per value) instead of the
md5-derived hashing the DuckDB oracle gate needs for cross-engine
determinism, and embedding near-dup runs the LSH-blocked scale path
instead of the O(n²) exact oracle variant. Same operators, same plan
shapes — only the hash primitive / candidate-generation strategy
switch, exactly as they would on a real cluster.

Each query is forced to full materialization with the noop sink (so
column pruning can't skip the measured work). Each query runs twice
and reports the second (steady-state) time: the first run is
dominated by whole-stage-codegen *compilation* (~1-3 s per plan,
independent of data size), which a real cluster amortizes over
thousands of tasks and repeated query shapes — steady-state is the
number that extrapolates to 100 TB.
"""

from __future__ import annotations

import json
import os
import sys
import time

# The driver keeps only the LAST 2000 chars of stdout and parses the
# summary from that tail — a longer final line gets head-truncated into
# unparseable JSON (BENCH_r03/r04/r05 all "parsed": null). Budget with
# margin for the trailing newline and any stray log byte.
_TAIL_BUDGET = 1980


def final_summary_line(summary: dict, timings: dict[str, float],
                       budget: int = _TAIL_BUDGET) -> str:
    """Render the one-line JSON summary, guaranteed <= budget chars.

    Degrade ladder: full 3dp map -> 2dp -> 1dp -> top-10 slowest only
    (with n_queries + queries_truncated markers). The last rung is
    query-count-independent: 10 keys of bounded length always fit, so
    the driver's 2000-char tail capture parses at ANY query count.
    Full-precision detail always lands in artifacts/bench_last.json
    before this line is printed.
    """
    summary = dict(summary)
    line = json.dumps(summary, separators=(",", ":"))
    for nd in (2, 1):
        if len(line) <= budget:
            return line
        summary["queries"] = {k: round(v, nd) for k, v in timings.items()}
        summary["value"] = round(sum(timings.values()), nd)
        line = json.dumps(summary, separators=(",", ":"))
    if len(line) <= budget:
        return line
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:10])
    summary["queries"] = {k: round(v, 2) for k, v in slowest.items()}
    summary["n_queries"] = len(timings)
    summary["queries_truncated"] = True
    summary["value"] = round(sum(timings.values()), 2)
    line = json.dumps(summary, separators=(",", ":"))
    if len(line) > budget:  # pathological key lengths: keep the headline
        summary["queries"] = {}
        line = json.dumps(summary, separators=(",", ":"))
    return line


def build_headline(cpus: str = "32") -> dict:
    """The bench's (key -> callable(spark, sf_dir)) map, importable so
    scripts/floor_protocol.py measures EXACTLY the bench's queries
    under the interleaved-sanity floor protocol (r10 verdict ask #1).
    Session-independent: every callable takes (spark, sf_dir)."""
    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod
    from faiss_vector_search_spark import io as fio
    from faiss_vector_search_spark.operators import (
        chunking,
        dedup,
        embed,
        lexical,
        lsh,
        textstats,
    )
    from faiss_vector_search_spark.operators import classifier as clf_mod
    from faiss_vector_search_spark.operators import lm as lm_mod

    # Oracle-profile queries reused as-is (already production-shaped).
    qs = entrymod.queries()

    # Production-profile overrides: xxhash64 hot paths + LSH scale path.
    def p_minhash(spark, sf):
        docs = fio.load_table(spark, sf, "documents")
        return dedup.minhash_lsh_pairs(
            docs, n=3, num_hashes=16, bands=4, threshold=0.8, hash_fn="xxhash64"
        )

    def p_simhash(spark, sf):
        docs = fio.load_table(spark, sf, "documents")
        return dedup.simhash_pairs(docs, max_hamming=3, bands=4, hash_fn="xxhash64")

    def p_fingerprint(spark, sf):
        # production engine (r5): vectorized rolling-hash winnowing —
        # 2x at sf0.1 / 3.6x at sf1 over one interpreted JVM hash
        # call per char-gram; same algorithm, numpy hash family,
        # reference-gated (tests TestWinnowArrowEngine). md5 stays
        # the oracle profile.
        docs = fio.load_table(spark, sf, "documents")
        return textstats.winnow_fingerprints(docs, k=8, w=4, engine="arrow")

    def p_chunk_ivf_pruned(spark, sf):
        # the contract key's per-SF chunk store, served at the
        # production pruned-probe dial (the key itself runs full
        # probe for the oracle gate since r9)
        if sf not in entrymod._CHUNK_INDEX_PATHS:
            entrymod.q_chunk_search_ivf(spark, sf)  # builds + caches
        return embed.chunk_search_persisted(
            spark, entrymod._CHUNK_INDEX_PATHS[sf],
            "batch window vector hash fast stream", k=5, nprobe=4,
        )

    def p_embedding_near_dup(spark, sf):
        emb = fio.load_table(spark, sf, "embeddings")
        # production sizing: bucket bits grow with log2(N) so the
        # candidate stage stays linear (lsh_bits_for docstring; at
        # the bench SF n=2000 this resolves to 5 = the old constant,
        # so the committed floor is unchanged)
        bits = lsh.lsh_bits_for(emb.count(), target_bucket_size=64)
        # engine="arrow" (r5): per-bucket Gram verify — the sql
        # per-pair fold ships 2 vectors per candidate pair (113.8 s
        # at sf10 vs 14.9 s arrow, 7.6x); pair-set equality gated in
        # tests/test_lsh.py. sql remains the oracle profile.
        return lsh.near_dup_lsh(
            emb, threshold=0.45, dim=64, n_bits=bits, engine="arrow"
        )

    def p_ann_lsh(spark, sf):
        emb = fio.load_table(spark, sf, "embeddings")
        q = emb.where(F.col("vec_id") == 0).select(
            F.col("embedding").alias("query_vec")
        )
        return lsh.ann_lsh_search(emb, q, k=10, dim=64)

    def p_knn_batch_two_phase(spark, sf):
        from faiss_vector_search_spark.operators import knn

        emb = fio.load_table(spark, sf, "embeddings")
        queries = emb.where(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        return knn.topk_join_two_phase(emb, queries, k=3)

    def p_chunk_greedy(spark, sf):
        docs = fio.load_table(spark, sf, "documents")
        return chunking.chunk_greedy(docs, min_size=100, max_size=250, overlap=20)

    def p_pack_sequences(spark, sf):
        docs = fio.load_table(spark, sf, "documents")
        return chunking.pack_sequences(docs, max_tokens=256, n_shards=int(cpus))

    # Persisted-IVF search: the 100 TB story is the parquet scan
    # pruning to nprobe/nlist of the list-id partitions. Index build
    # happens ONCE outside the timer (build is the amortized cost).
    import tempfile

    from faiss_vector_search_spark.operators import ivf as ivf_mod

    _ivf_paths: dict[str, str] = {}

    # All index BUILDS below run with the production arrow engines —
    # they happen ONCE outside the timer (the amortized cost), and
    # arrow==sql equality is pytest-gated, so the timed search scans
    # identical bytes either way. (Before r4 they used the sql folds;
    # at the rehearsal SFs that made the untimed build phase dominate
    # the whole bench run — pq_train alone ~40 min at sf10.)
    def p_char_entropy_arrow(spark, sf):
        from faiss_vector_search_spark.operators import textstats

        return textstats.char_entropy(
            fio.load_table(spark, sf, "documents"), engine="arrow"
        )

    def p_ivf_arrow(spark, sf):
        # production engine for the in-memory IVF path (r5): the sql
        # assignment fold is the ORACLE profile (interpreted argmin,
        # µs/row); production assigns with the arrow BLAS engine —
        # the same key-measures-production convention semdedup
        # adopted in r4. Floors: r1 1.389 s (sql).
        emb = fio.load_table(spark, sf, "embeddings")
        q = emb.where(F.col("vec_id") == 2).select(
            F.col("embedding").alias("query_vec")
        )
        return ivf_mod.ivf_search(
            emb, q, nlist=16, nprobe=4, k=10, assign_engine="arrow"
        )

    def p_ivf_persisted(spark, sf):
        if sf not in _ivf_paths:
            emb = fio.load_table(spark, sf, "embeddings")
            cents = ivf_mod.seeded_centroids(emb, 16)
            path = tempfile.mkdtemp(prefix="fvs_ivf_bench_")
            ivf_mod.save_ivf(emb, cents, path, assign_engine="arrow")
            _ivf_paths[sf] = path
        emb = fio.load_table(spark, sf, "embeddings")
        q = emb.where(F.col("vec_id") == 2).select(
            F.col("embedding").alias("query_vec")
        )
        return ivf_mod.search_persisted(
            spark, _ivf_paths[sf], q, nprobe=4, k=10
        )

    # PQ: codebooks + codes are the persisted index (train/encode are
    # the amortized build cost, outside the timer like the IVF path);
    # the timed query is the ADC scan over the 32x-compressed codes.
    from faiss_vector_search_spark.operators import pq as pq_mod

    _pq_state: dict[str, tuple] = {}

    def p_pq_adc(spark, sf):
        if sf not in _pq_state:
            emb = fio.load_table(spark, sf, "embeddings")
            books = pq_mod.pq_train(
                emb, m=16, ksub=64, iters=4,
                train_sample=20_000, engine="arrow",
            )
            codes = pq_mod.pq_encode(emb, books, engine="arrow").cache()
            codes.count()
            _pq_state[sf] = (books, codes)
        books, codes = _pq_state[sf]
        emb = fio.load_table(spark, sf, "embeddings")
        q = emb.where(F.col("vec_id") == 0).select(
            F.col("embedding").alias("query_vec")
        )
        return pq_mod.pq_topk_adc(codes, books, q, k=10)

    _opq_state: dict[str, tuple] = {}

    def p_opq_rerank(spark, sf):
        """OPQ-rotated ADC shortlist + exact rerank. Rotation + PQ
        train + encode are the amortized build (outside the timer,
        arrow engines); timed = rotated-query ADC scan over cached
        codes + broadcast-semi-join rerank on originals."""
        from faiss_vector_search_spark.operators import transform as tf_mod

        if sf not in _opq_state:
            emb = fio.load_table(spark, sf, "embeddings")
            model = tf_mod.opq_train(emb, m=16)
            rotated = tf_mod.opq_apply(emb, model)
            books = pq_mod.pq_train(
                rotated, m=16, ksub=64, iters=4,
                train_sample=20_000, engine="arrow",
            )
            codes = pq_mod.pq_encode(rotated, books, engine="arrow").cache()
            codes.count()
            _opq_state[sf] = (model, books, codes)
        model, books, codes = _opq_state[sf]
        emb = fio.load_table(spark, sf, "embeddings")
        q = emb.where(F.col("vec_id") == 0).select(
            F.col("embedding").alias("query_vec")
        )
        return pq_mod.opq_topk_rerank(emb, codes, books, q, model, k=10, expand=5)

    _ivfpq_paths: dict[str, str] = {}

    def p_ivfpq_persisted(spark, sf):
        """Both scan reductions composed: nprobe/nlist partition
        pruning x 32x PQ code compression. Build outside the timer."""
        if sf not in _ivfpq_paths:
            emb = fio.load_table(spark, sf, "embeddings")
            books, _ = _pq_state.get(sf) or (None, None)
            if books is None:
                books = pq_mod.pq_train(
                    emb, m=16, ksub=64, iters=4,
                    train_sample=20_000, engine="arrow",
                )
            cents = ivf_mod.seeded_centroids(emb, 16)
            path = tempfile.mkdtemp(prefix="fvs_ivfpq_bench_")
            pq_mod.save_ivfpq(
                emb, cents, books, path,
                assign_engine="arrow", encode_engine="arrow",
            )
            _ivfpq_paths[sf] = path
        emb = fio.load_table(spark, sf, "embeddings")
        q = emb.where(F.col("vec_id") == 2).select(
            F.col("embedding").alias("query_vec")
        )
        return ivf_mod.search_persisted(
            spark, _ivfpq_paths[sf], q, nprobe=4, k=10
        )

    _ivfpq_res_paths: dict[str, str] = {}

    def p_ivfpq_residual_persisted(spark, sf):
        """FAISS-default residual encoding: codes quantize x − c_list
        (trained quantizer — residual value depends on it; see
        BENCH_BASELINE), search adds ⟨c,q⟩ back. Same timed shape as
        the raw tier: probe-pruned ADC over persisted codes."""
        if sf not in _ivfpq_res_paths:
            emb = fio.load_table(spark, sf, "embeddings")
            cents = ivf_mod.kmeans_centroids(
                emb, 16, iters=4, train_sample=20_000, engine="arrow"
            )
            res = pq_mod.ivf_residual_frame(
                emb, cents, assign_engine="arrow"
            )
            books = pq_mod.pq_train(
                res, m=16, ksub=64, iters=4,
                train_sample=20_000, engine="arrow",
            )
            path = tempfile.mkdtemp(prefix="fvs_ivfpqres_bench_")
            pq_mod.save_ivfpq(
                emb, cents, books, path, residual=True,
                assign_engine="arrow", encode_engine="arrow",
            )
            _ivfpq_res_paths[sf] = path
        emb = fio.load_table(spark, sf, "embeddings")
        q = emb.where(F.col("vec_id") == 2).select(
            F.col("embedding").alias("query_vec")
        )
        return ivf_mod.search_persisted(
            spark, _ivfpq_res_paths[sf], q, nprobe=4, k=10
        )

    _ivfsq_paths: dict[str, str] = {}

    def p_ivfsq_persisted(spark, sf):
        """IVF-SQ8: nprobe/nlist partition pruning x 4x uint8
        compression with hash-deterministic decode. Build outside the
        timer."""
        from faiss_vector_search_spark.operators import sq as sq_mod

        if sf not in _ivfsq_paths:
            emb = fio.load_table(spark, sf, "embeddings")
            bounds = sq_mod.sq_train(emb)
            cents = ivf_mod.seeded_centroids(emb, 16)
            path = tempfile.mkdtemp(prefix="fvs_ivfsq_bench_")
            sq_mod.save_ivfsq(
                emb, cents, bounds, path, assign_engine="arrow"
            )
            _ivfsq_paths[sf] = path
        emb = fio.load_table(spark, sf, "embeddings")
        q = emb.where(F.col("vec_id") == 2).select(
            F.col("embedding").alias("query_vec")
        )
        return ivf_mod.search_persisted(
            spark, _ivfsq_paths[sf], q, nprobe=4, k=10
        )

    def p_semdedup_arrow(spark, sf):
        emb = fio.load_table(spark, sf, "embeddings")
        return dedup.semdedup(emb, nlist=16, threshold=0.4, pair_engine="arrow")

    def p_decontaminate(spark, sf):
        docs = fio.load_table(spark, sf, "documents")
        bench_set = docs.where(F.col("doc_id") % 50 == 0)
        return dedup.decontaminate(docs, bench_set, n=8, hash_fn="xxhash64")

    def p_fuzzy_decontaminate(spark, sf):
        docs = fio.load_table(spark, sf, "documents")
        bench_set = docs.where(F.col("doc_id") % 50 == 0)
        return dedup.fuzzy_decontaminate(docs, bench_set, hash_fn="xxhash64")

    def p_repeated_spans(spark, sf):
        docs = fio.load_table(spark, sf, "documents")
        return dedup.repeated_spans(docs, w=8, min_count=2, hash_fn="xxhash64")

    _ndidx_paths: dict[str, str] = {}

    def p_neardup_index_query(spark, sf):
        """Dedup-as-a-service probe: a 50-doc ingest batch asks the
        persisted band index for near-dup matches. Build (index save)
        is the amortized cost outside the timer; the timed probe reads
        only the batch's (band, bucket) partitions."""
        docs = fio.load_table(spark, sf, "documents")
        if sf not in _ndidx_paths:
            path = tempfile.mkdtemp(prefix="fvs_ndidx_bench_")
            dedup.neardup_index_save(docs, f"{path}/i")
            _ndidx_paths[sf] = f"{path}/i"
        batch = docs.where(F.col("doc_id") < 50)
        return dedup.neardup_index_query(spark, _ndidx_paths[sf], batch)

    def p_strip_repeated_spans(spark, sf):
        docs = fio.load_table(spark, sf, "documents")
        return dedup.strip_repeated_spans(
            docs, w=8, min_count=2, hash_fn="xxhash64"
        )

    headline = {
        "knn_topk_ip": qs["knn_topk_ip"],
        "knn_batch": qs["knn_batch"],
        "knn_batch_two_phase": p_knn_batch_two_phase,
        "ivf_search": p_ivf_arrow,
        "ivf_search_persisted": p_ivf_persisted,
        "ann_lsh_search": p_ann_lsh,
        "pq_adc_search": p_pq_adc,
        "opq_rerank_search": p_opq_rerank,
        "ivfpq_search_persisted": p_ivfpq_persisted,
        "ivfpq_residual_persisted": p_ivfpq_residual_persisted,
        "ivfsq_search_persisted": p_ivfsq_persisted,
        # sq_search stays on the sql decode fold: at bench SFs the
        # plan is train+encode-dominated and the arrow matvec adds
        # Arrow-transfer overhead without a win (measured r5: 0.52 s
        # arrow vs 0.34-0.49 s sql at sf0.1); the arrow engine's 7.1x
        # applies to CACHED codes at sf10 (r4 note) and the persisted
        # sq_topk(engine="arrow") is the path for that regime.
        "sq_search": qs["sq_search"],
        "dedup_exact": qs["dedup_exact"],
        "dedup_minhash_lsh": p_minhash,
        "dedup_simhash": p_simhash,
        "dedup_embedding_lsh": p_embedding_near_dup,
        "lang_id": qs["lang_id"],
        "quality_score": qs["quality_score"],
        "doc_fingerprint": p_fingerprint,
        "chunk_fixed": qs["chunk_fixed"],
        "chunk_greedy": p_chunk_greedy,
        "events_sessionize": qs["events_sessionize"],
        "events_asof_join": qs["events_asof_join"],
        "events_range_join": qs["events_range_join"],
        "events_tumbling": qs["events_tumbling"],
        "tpch_q1": qs["tpch_q1"],
        "top_customers_by_nation": qs["top_customers_by_nation"],
        "shipping_priority": qs["shipping_priority"],
        "regional_supplier_volume": qs["regional_supplier_volume"],
        # production hash profile (xxhash64), like the dedup family —
        # qs["text_search"] keeps md5 only because the oracle needs it
        "text_search": lambda spark, sf: embed.text_search(
            fio.load_table(spark, sf, "documents"),
            "batch window vector hash fast stream",
            dim=64, k=5, hash_fn="xxhash64",
        ),
        "bm25_search": qs["bm25_search"],
        "hybrid_search": qs["hybrid_search"],
        # §2d round-2 additions
        "rolling_user_activity": qs["rolling_user_activity"],
        "events_hopping": qs["events_hopping"],
        "tfidf_topk_terms": qs["tfidf_topk_terms"],
        "bigram_counts": qs["bigram_counts"],
        "json_props_rollup": qs["json_props_rollup"],
        "pack_sequences": p_pack_sequences,
        "pricing_cube": qs["pricing_cube"],
        "nation_trade_volume": qs["nation_trade_volume"],
        "disjunctive_revenue": qs["disjunctive_revenue"],
        "events_gap_fill": qs["events_gap_fill"],
        "doc_quality_deciles": qs["doc_quality_deciles"],
        "promo_profit_by_nation": qs["promo_profit_by_nation"],
        "events_grouping_sets": qs["events_grouping_sets"],
        "repetition_score": qs["repetition_score"],
        "redact_pii": qs["redact_pii"],
        "decontaminate": p_decontaminate,
        "fuzzy_decontaminate": p_fuzzy_decontaminate,
        "repeated_spans": p_repeated_spans,
        "strip_repeated_spans": p_strip_repeated_spans,
        "neardup_index_query": p_neardup_index_query,
        "dsir_sample": qs["dsir_sample"],
        "normalize_text": qs["normalize_text"],
        "bpe_tokenize": qs["bpe_tokenize"],
        "table_profile": qs["table_profile"],
        "customer_order_distribution": qs["customer_order_distribution"],
        "returned_item_report": qs["returned_item_report"],
        "sole_returned_supplier": qs["sole_returned_supplier"],
        "line_dedup": lambda spark, sf: dedup.line_dedup(
            fio.load_table(spark, sf, "documents"), hash_fn="xxhash64"
        ),
        # §2e round-3 additions
        "range_search": qs["range_search"],
        "tpch_q6": qs["tpch_q6"],
        "large_volume_customers": qs["large_volume_customers"],
        "nation_market_share": qs["nation_market_share"],
        "session_window_agg": qs["session_window_agg"],
        "binary_hamming_search": qs["binary_hamming_search"],
        # production arrow engine (r5): np.unique histogram per doc
        # vs the interpreted in-row sort+fold — 4.7x at sf0.1, 6.1x
        # at sf1, BIT-identical output (equality pytest-gated incl.
        # hostile unicode). sql stays the oracle profile.
        "char_entropy": p_char_entropy_arrow,
        "bloom_semi_join": qs["bloom_semi_join"],
        "curation_pipeline": qs["curation_pipeline"],
        "knn_filtered_search": qs["knn_filtered_search"],
        "bigram_heavy_hitters": qs["bigram_heavy_hitters"],
        "mmr_rerank": qs["mmr_rerank"],
        "pca_project": qs["pca_project"],
        # §2e round-3 second wave
        "min_cost_supplier": qs["min_cost_supplier"],
        "important_parts": qs["important_parts"],
        "ship_delay_priority": qs["ship_delay_priority"],
        "excess_parts": qs["excess_parts"],
        # semdedup headline = the production arrow engine (per-cluster
        # BLAS Gram matmul); the md5/sql profile that the DuckDB oracle
        # gate requires stays measured as semdedup_oracle. r4 rename:
        # BENCH keys before r4 tracked the sql profile as "semdedup"
        # (r3 floor 3.79s) — the arrow engine's r3 measurement was
        # "semdedup_arrow" (1.68s), which is this key's floor now.
        "semdedup": p_semdedup_arrow,
        "semdedup_oracle": qs["semdedup"],
        "gopher_quality": qs["gopher_quality"],
        "merge_indexes": qs["merge_indexes"],
        "binary_rerank_search": qs["binary_rerank_search"],
        "bigram_lm_score": qs["bigram_lm_score"],
        "event_type_pivot": qs["event_type_pivot"],
        "churned_buyers": qs["churned_buyers"],
        "weighted_sample": qs["weighted_sample"],
        "time_range_rolling": qs["time_range_rolling"],
        "value_rank_profile": qs["value_rank_profile"],
        "unpivot_user_matrix": qs["unpivot_user_matrix"],
        "phrase_search": qs["phrase_search"],
        "near_search": qs["near_search"],
        "corpus_profile": qs["corpus_profile"],
        # r5 third wave
        # committed-model profile (md5 features — the model was
        # trained with md5 so the hash must match; a production
        # deployment trains its own xxhash64 model, same plan shape)
        "quality_classifier": qs["quality_classifier"],
        "hard_negatives": qs["hard_negatives"],
        "token_budget_sample": qs["token_budget_sample"],
        "training_triplets": qs["training_triplets"],
        # production profile: xxhash64 classifier features over a
        # runtime-trained model would match; the committed md5 model is
        # what the oracle pins, so the bench measures that profile
        "curation_score": qs["curation_score"],
        # versioned-store CDC read (snapshot build amortized in the
        # first call, outside min-of-3)
        "snapshot_diff": qs["snapshot_diff"],
        "pmi_collocations": qs["pmi_collocations"],
        "domain_kl": qs["domain_kl"],
        # production hash profile (xxhash64); qs key keeps md5 for the
        # oracle, same split as pack_sequences
        "length_batches": lambda spark, sf: chunking.length_bucket_batches(
            fio.load_table(spark, sf, "documents"),
            batch_size=32, bucket_width=64, n_shards=8, hash_fn="xxhash64",
        ),
        # search-as-a-service probe (build amortized, same posture as
        # neardup_index_query / ivf_search_persisted)
        "bm25_index_search": qs["bm25_index_search"],
        # r5 wave 4 — production hash profiles where a hash_fn exists
        "ngram_novelty": lambda spark, sf: textstats.ngram_novelty(
            fio.load_table(spark, sf, "documents"), w=8, hash_fn="xxhash64",
        ),
        "curriculum_order": qs["curriculum_order"],
        "ccnet_buckets": qs["ccnet_buckets"],
        "maxsim_search": lambda spark, sf: lexical.maxsim_search(
            fio.load_table(spark, sf, "documents"),
            "batch window vector hash fast stream",
            k=10, hash_fn="xxhash64",
        ),
        "matryoshka_rerank_search": qs["matryoshka_rerank_search"],
        "pca_ivf_search": qs["pca_ivf_search"],
        "fim_transform": lambda spark, sf: chunking.fim_transform(
            fio.load_table(spark, sf, "documents"),
            rate_permille=500, min_chars=20, hash_fn="xxhash64",
        ),
        "zipf_profile": qs["zipf_profile"],
        "profile_delta": qs["profile_delta"],
        # 4 queries, one partition-pruned scan (store build amortized
        # in the wrapper's first call, outside min-of-3)
        "ivf_batch_query": qs["ivf_batch_query"],
        # r6: health check over the same persisted store (layout stats
        # + dial walk of batched pruned scans + retrain verdict)
        "index_health": qs["index_health"],
        # r6 wave: rule filters / lookup / classify / drift / funnel
        "c4_rules": qs["c4_rules"],
        "ngram_lookup": qs["ngram_lookup"],
        "knn_classify": qs["knn_classify"],
        "embedding_drift": qs["embedding_drift"],
        "domain_boilerplate": qs["domain_boilerplate"],
        "event_funnel": qs["event_funnel"],
        "event_funnel_horizon": qs["event_funnel_horizon"],
        "retrieval_eval": qs["retrieval_eval"],
        "retrieval_eval_suite": qs["retrieval_eval_suite"],
        "hybrid_search_suite": qs["hybrid_search_suite"],
        "knn_classify_weighted": qs["knn_classify_weighted"],
        "chunk_search": qs["chunk_search"],
        "domain_temperature": qs["domain_temperature"],
        "model_rerank": qs["model_rerank"],
        "cross_rerank": qs["cross_rerank"],
        "chunk_search_ivf": qs["chunk_search_ivf"],
        # production pruned-probe dial: the contract key serves at
        # FULL probe since r9 (oracle-gated exactness); this measures
        # the nprobe/nlist partition-pruned scan a deployment runs,
        # against the same per-SF store (build amortized)
        "chunk_search_ivf_pruned": p_chunk_ivf_pruned,
        "knn_classify_ivf": qs["knn_classify_ivf"],
        "hard_negatives_ivf": qs["hard_negatives_ivf"],
        "training_triplets_ivf": qs["training_triplets_ivf"],
        "training_shards": qs["training_shards"],
        "self_similarity": qs["self_similarity"],
        "dataset_card": qs["dataset_card"],
        # production hash profile for the winnow pipeline; engine=
        # "arrow" (r11) runs the SAME xxhash64 family vectorized
        # (functions/xxh.py reproduces Spark's XXH64 bit-for-bit;
        # output byte-identical, gated in tests/test_opt_r11.py) —
        # the in-row form paid one interpreted hash expression per
        # char position, 2.6 s of the key's 2.45-2.62 s at sf0.1
        "fingerprint_overlap": lambda spark, sf: textstats.fingerprint_overlap_search(
            fio.load_table(spark, sf, "documents"),
            query_doc_id=7, gram=8, w=4, min_shared=2, hash_fn="xxhash64",
            engine="arrow",
        ),
        "cross_domain_dups": lambda spark, sf: dedup.cross_domain_dup_report(
            fio.load_table(spark, sf, "documents"),
            threshold=0.8, hash_fn="xxhash64",
        ),
        # r9 additions: contamination attribution runs the production
        # xxhash64 gram profile; calibration scores the COMMITTED
        # md5-trained model (the quality_classifier rationale above)
        "contamination_report": lambda spark, sf: dedup.contamination_report(
            fio.load_table(spark, sf, "documents").where(
                F.col("doc_id") % 50 != 0),
            fio.load_table(spark, sf, "documents").where(
                F.col("doc_id") % 50 == 0),
            n=8, hash_fn="xxhash64",
        ),
        "classifier_calibration": qs["classifier_calibration"],
        # r10: the 100 TB dials of the two global-sort decilers —
        # edges="approx" bins by a SINGLE-SCAN fixed-grid histogram
        # (quality grid / clamped-logit grid): decile edges come from
        # cumulative counts over the tiny histogram, no ntile window,
        # no global sort (textstats.quality_deciles /
        # classifier.quality_calibration_report); production xxhash64
        # logit; floored here so the scale path can't rot
        "classifier_calibration_approx": lambda spark, sf:
            clf_mod.quality_calibration_report(
                fio.load_table(spark, sf, "documents"),
                clf_mod.load_model(),
                n_bins=10, hash_fn="xxhash64", edges="approx",
            ),
        "doc_quality_deciles_approx": lambda spark, sf:
            textstats.quality_deciles(
                fio.load_table(spark, sf, "documents"), edges="approx",
            ),
        # r10 new operators: the LM ranking family, the percolator,
        # and typo-tolerant fuzzy retrieval
        "ql_search": qs["ql_search"],
        "percolate": qs["percolate"],
        "fuzzy_search": qs["fuzzy_search"],
        "prf_search": qs["prf_search"],
        # promoted to the contract in r11 (oracle = per-tag union of
        # the ql_search CTE chain); the bench key now measures the
        # contract key directly
        "ql_search_multi": qs["ql_search_multi"],
        # r11: fuzzy served index-only — the _terms dictionary probe +
        # pruned posting-bucket scoring (index build amortized in the
        # entry's per-SF cache, the bm25_index_search posture)
        "fuzzy_index_search": qs["fuzzy_index_search"],
        # r11: Dirichlet QL served index-only (the LM-family twin of
        # bm25_index_search; same amortized per-SF index)
        "ql_index_search": qs["ql_index_search"],
        # production hash profile (xxhash64 split assignment)
        "split_kl": lambda spark, sf: lm_mod.split_kl_report(
            fio.load_table(spark, sf, "documents"), hash_fn="xxhash64",
        ),
    }
    return headline


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from faiss_vector_search_spark.session import get_spark

    spark = get_spark(
        app_name="fvs-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")

    headline = build_headline(cpus)

    # Scaling-sweep knobs (default: off — the driver's per-round run
    # measures every key). SPARK_GRAFT_SKIP / SPARK_GRAFT_ONLY take
    # comma-separated keys; used by the r4 100x rehearsal to exclude
    # the documented small-SF-only oracle profiles (semdedup_oracle's
    # interpreted pair fold at FIXED nlist=16 is quadratic per
    # cluster — ~25 min/run at sf1 — and the bench
    # dedup_embedding_lsh override pins the small-SF n_bits=5) when
    # benchmarking at sf1/sf10.
    skip = set(filter(None, os.environ.get("SPARK_GRAFT_SKIP", "").split(",")))
    only = set(filter(None, os.environ.get("SPARK_GRAFT_ONLY", "").split(",")))
    # semdedup_oracle (md5/sql pair-fold, r4 floor 5.7s) is opt-in
    # rather than a default headline: it is the documented
    # small-SF-only oracle profile (excluded from every scale sweep;
    # the production twin "semdedup" stays measured), and its bytes
    # helped push the r3/r4 summary line past the driver's 2000-char
    # tail capture (BENCH_r03/r04 "parsed": null).
    if not only:
        skip.add("semdedup_oracle")

    def run(fn) -> float:
        df = fn(spark, sf_dir)
        df.write.mode("overwrite").format("noop").save()  # codegen compile
        best = float("inf")
        for _ in range(3):  # min-of-3 damps GC and co-tenant load noise
            t0 = time.time()
            df.write.mode("overwrite").format("noop").save()
            best = min(best, time.time() - t0)
        return best

    timings: dict[str, float] = {}
    for name, fn in headline.items():
        if name in skip or (only and name not in only):
            continue
        timings[name] = round(run(fn), 3)
        # one small self-contained JSON line per query, flushed as it
        # completes: each parses on its own, so a tail-capture that
        # cannot hold the full summary still records per-key numbers
        print(json.dumps({"query": name, "sec": timings[name]}),
              flush=True)

    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    summary = {
        "metric": "headline_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
    }
    # full-precision copy on disk first: survives any stdout capture
    try:
        os.makedirs("artifacts", exist_ok=True)
        with open("artifacts/bench_last.json", "w") as fh:
            json.dump(summary, fh, indent=1)
            fh.write("\n")
    except OSError:
        pass  # read-only checkout: stdout lines still carry everything
    print(final_summary_line(summary, timings), flush=True)


if __name__ == "__main__":
    sys.exit(main())
