"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` / ``oracle_sql()`` pairs implement SURVEY.md §2; the
driver hash-compares each Spark result with its DuckDB oracle at
sf=0.01. Float outputs are emitted as ROUND(_, n)-ed DOUBLE in BOTH
engines: the rounded doubles are bit-identical across engines, and a
plain float64 surfaces identically from Spark's ``toPandas`` and
DuckDB's ``.df()`` (a DECIMAL output would surface as
``decimal.Decimal('1.000000')`` vs float64 ``1.0`` and fail the
driver's string-level value hash even when values are equal).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from faiss_vector_search_spark import io as fio
from faiss_vector_search_spark.operators import (
    analytics,
    chunking,
    dedup,
    embed,
    index_store,
    ivf,
    knn,
    lexical,
    lsh,
    pq,
    sq,
    textstats,
)

DBL = "double"  # final output cast: scores are pre-rounded in operators


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return fio.load_table(spark, sf_dir, name)


def _query_vec(emb: DataFrame, vec_id: int = 0) -> DataFrame:
    return emb.where(F.col("vec_id") == vec_id).select(
        F.col("embedding").alias("query_vec")
    )


# --- §2a reference parity -------------------------------------------------


def q_knn_topk_ip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flat-IP top-10 (ref index_service.py:84-87, 205-235)."""
    emb = _t(spark, sf_dir, "embeddings")
    out = knn.topk(emb, _query_vec(emb), k=10, metric="ip")
    return out.select("vec_id", F.col("score").cast(DBL).alias("score"))


def q_knn_topk_l2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flat-L2 top-10, score = 1/(1+d) (ref search_service.py:336-349)."""
    emb = _t(spark, sf_dir, "embeddings")
    out = knn.topk(emb, _query_vec(emb, vec_id=7), k=10, metric="l2")
    return out.select("vec_id", F.col("score").cast(DBL).alias("score"))


def q_knn_fixed_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed similarity threshold (ref search_service.py:300-302)."""
    emb = _t(spark, sf_dir, "embeddings")
    out = knn.topk(emb, _query_vec(emb, vec_id=3), k=50, metric="ip", threshold=0.2)
    return out.select("vec_id", F.col("score").cast(DBL).alias("score"))


def q_knn_dynamic_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-threshold search (ref search_service.py:41-184)."""
    emb = _t(spark, sf_dir, "embeddings")
    out = knn.dynamic_threshold_search(
        emb, _query_vec(emb, vec_id=5), k=20, hit_target=3, step=0.05
    )
    return out.select(
        "vec_id",
        F.col("score").cast(DBL).alias("score"),
        F.col("final_threshold").cast(DBL).alias("final_threshold"),
    )


def q_knn_threshold_progression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """threshold_progression stats (ref search_service.py:79-113)."""
    emb = _t(spark, sf_dir, "embeddings")
    return knn.dynamic_threshold_progression(
        emb, _query_vec(emb, vec_id=5), k=20, hit_target=3, step=0.05
    ).select(
        F.col("threshold").cast(DBL).alias("threshold"),
        "hits",
        "target_reached",
    )


def q_knn_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch retrieval: top-3 per query for queries vec_id < 5.

    Gated on the two-phase plan (knn.topk_join_two_phase): partition-
    local top-k then a window over only k·P·Q survivors — identical
    output contract and tie-break as the declarative topk_join, but
    the corpus-sized N×Q shuffle never happens (~2× faster at sf0.1,
    and the plan that survives 100× data)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = knn.topk_join_two_phase(emb, queries, k=3, metric="ip")
    return out.select(
        "query_id", "vec_id", F.col("score").cast(DBL).alias("score"), "rank"
    )


def q_ivf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFFlat search, seeded quantizer (ref index_service.py:91-95)."""
    emb = _t(spark, sf_dir, "embeddings")
    out = ivf.ivf_search(
        emb, _query_vec(emb, vec_id=2), nlist=16, nprobe=4, k=10, metric="ip"
    )
    return out.select(
        "vec_id",
        F.col("list_id").cast("int").alias("list_id"),
        F.col("score").cast(DBL).alias("score"),
    )


def q_ivf_kmeans_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF over a Lloyd-trained quantizer (SURVEY §2a #7) — rows-only;
    recall + objective gated by tests/test_ivf_kmeans.py."""
    emb = _t(spark, sf_dir, "embeddings")
    out = ivf.ivf_kmeans_search(
        emb, _query_vec(emb, vec_id=2), nlist=16, nprobe=12, k=10, iters=3
    )
    return out.select(
        "vec_id",
        F.col("list_id").cast("int").alias("list_id"),
        F.col("score").cast(DBL).alias("score"),
    )


def q_vector_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """encode(normalize=True) parity (ref embedding_service.py:92-96):
    scale each vector by (label+1), re-normalize, emit components."""
    from faiss_vector_search_spark.functions.vector import normalize

    emb = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 20)
    scaled = F.transform(
        F.col("embedding"), lambda x: x.cast("double") * (F.col("label") + 1)
    )
    return emb.select(
        "vec_id", F.posexplode(normalize(scaled)).alias("pos", "val")
    ).select(
        "vec_id",
        (F.col("pos") + 1).cast("int").alias("pos"),
        F.round(F.col("val"), 6).cast(DBL).alias("val"),
    )


def q_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """get_stats parity (ref faiss_retriever.py:297-321)."""
    emb = _t(spark, sf_dir, "embeddings")
    out = index_store.index_stats(emb)
    return out.select(
        "num_documents",
        F.col("dimension").cast("int").alias("dimension"),
        F.col("avg_norm").cast(DBL).alias("avg_norm"),
        "distinct_ids",
    )


def q_add_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """add_vectors append + id-dedup semantics (ref
    index_service.py:143-203): new batch = label-0 vectors re-keyed
    (+100000, fresh) plus label-1 vectors with original ids (dupes,
    dropped)."""
    emb = _t(spark, sf_dir, "embeddings")
    new = (
        emb.where(F.col("label") == 0)
        .select((F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label")
        .unionByName(emb.where(F.col("label") == 1))
    )
    combined = index_store.add_vectors(emb, new)
    return combined.agg(
        F.count("*").alias("num_total"),
        F.count_distinct("vec_id").alias("num_distinct"),
    )


def q_embed_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hash embedding, long form (stand-in for
    embedding_service.encode, ref embedding_service.py:64-105)."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    out = embed.token_buckets(docs, dim=64, hash_fn="md5")
    return out.select(
        "doc_id",
        F.col("bucket").cast("int").alias("bucket"),
        F.col("cnt").cast("int").alias("cnt"),
    )


RAG_QUERY = "batch window vector hash fast stream"


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 lexical top-10 for the standard query."""
    out = lexical.bm25_search(_t(spark, sf_dir, "documents"), RAG_QUERY, k=10)
    return out.select("doc_id", F.col("score").cast(DBL).alias("score"))


def q_ql_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirichlet query-likelihood top-10 (Zhai & Lafferty 2001) — the
    LM ranking family next to BM25, same query, same tables (SURVEY
    §2 #210). Per-term collection stats ride the corpus-stats pass as
    in-row array_remove aggregates: no term-keyed window anywhere."""
    out = lexical.ql_search(
        _t(spark, sf_dir, "documents"), RAG_QUERY, k=10, mu=1000.0
    )
    return out.select("doc_id", F.col("score").cast(DBL).alias("score"))


_QL_MULTI_QUERIES = [
    ("q1", RAG_QUERY),
    ("q2", "table scan merge sort"),
    ("q3", "hash agg row batch"),
    ("q4", "spark line sort win slow"),
]


def q_ql_search_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirichlet query-likelihood for a 4-query SET in one corpus
    scoring pass (SURVEY §2 #197 one-pass discipline applied to the
    LM family; promoted to oracle-gated per the r10 verdict ask #5):
    collection stats for the union term set come from ONE bounded
    stats job, per-tag |q_eff| rides the fold as a literal CASE, and
    the scoring pass runs once for all tags — 2 corpus scans total,
    independent of |Q|. The oracle is the per-tag union of the
    ql_search CTE chain."""
    out = lexical.ql_search_multi(
        _t(spark, sf_dir, "documents"), _QL_MULTI_QUERIES, k=10, mu=1000.0
    )
    return out.select(
        "query_tag",
        "doc_id",
        F.col("score").cast(DBL).alias("score"),
        F.col("rank").cast("int").alias("rank"),
    )


_PERC_QUERIES = [
    ("q_batch_window", "batch window"),
    ("q_vector_stream", "vector stream"),
    ("q_hash_fast_batch", "hash fast batch"),
]


def q_percolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standing-query matching (Elasticsearch-percolator shape,
    SURVEY §2 #211): which of the 3 stored boolean-AND topic queries
    does each document satisfy. Stored-query side broadcasts as a
    literal frame; per doc only tokens in the stored-term union
    explode."""
    return lexical.percolate(
        _t(spark, sf_dir, "documents"), _PERC_QUERIES,
        min_should_match=1.0,
    )


def q_prf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance-feedback top-10 (SURVEY §2 #213): BM25 →
    top-5 feedback docs → RM1-ranked expansion terms with rank-decay
    rational weights → weighted-BM25 re-rank."""
    out = lexical.prf_search(
        _t(spark, sf_dir, "documents"), RAG_QUERY, k=10,
        fb_docs=5, fb_terms=10, lam=0.6,
    )
    return out.select("doc_id", F.col("score").cast(DBL).alias("score"))


FUZZY_QUERY = "bath windov vektor"  # one-edit typos of corpus terms


def q_fuzzy_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo-tolerant lexical top-10 (SURVEY §2 #212): each query term
    expands to the corpus-vocabulary terms within one Levenshtein
    edit (codegen'd length-window + levenshtein prefilter on the
    token stream), then plain BM25 ranks the expanded set."""
    out = lexical.fuzzy_search(
        _t(spark, sf_dir, "documents"), FUZZY_QUERY, k=10, max_dist=1
    )
    return out.select("doc_id", F.col("score").cast(DBL).alias("score"))


def q_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RRF fusion of BM25 and dense (feature-hash cosine) retrieval."""
    docs = _t(spark, sf_dir, "documents")
    lex = lexical.bm25_search(docs, RAG_QUERY, k=20)
    den = embed.text_search(docs, RAG_QUERY, dim=64, k=20, hash_fn="md5")
    out = lexical.hybrid_rrf(lex, den, k=10)
    return out.select(
        "doc_id", F.col("rrf_score").cast(DBL).alias("rrf_score")
    )


def q_text_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end retrieval: query text → feature-hash embed → cosine
    top-5 docs (ref search_service.py:246-334 search_detailed)."""
    out = embed.text_search(
        _t(spark, sf_dir, "documents"), RAG_QUERY, dim=64, k=5, hash_fn="md5"
    )
    return out.select("doc_id", F.col("score").cast(DBL).alias("score"))


# --- §2b dedup family -----------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return dedup.exact_dedup(docs)


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    out = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.8)
    return out.select("doc_a", "doc_b", F.col("jaccard").cast(DBL).alias("jaccard"))


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    out = dedup.minhash_lsh_pairs(
        docs, n=3, num_hashes=16, bands=4, threshold=0.8, hash_fn="md5"
    )
    return out.select("doc_a", "doc_b", F.col("jaccard").cast(DBL).alias("jaccard"))


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    out = dedup.simhash_pairs(docs, max_hamming=3, bands=4, hash_fn="md5")
    return out.select(
        "doc_a", "doc_b", F.col("hamming").cast("int").alias("hamming")
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters = connected components of the minhash-LSH
    pair graph. Oracle-gated: the DuckDB side replays the same md5
    minhash pipeline and closes the pair graph with a WITH RECURSIVE
    transitive closure + min-label aggregate; union-find exactness is
    additionally gated by tests/test_dedup_clusters.py. (Production
    profile uses hash_fn="xxhash64"; md5 here for cross-engine
    determinism.)"""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(
        docs, n=3, num_hashes=16, bands=4, threshold=0.8, hash_fn="md5"
    )
    return dedup.dedup_clusters(docs, pairs)


def q_ann_lsh_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH ANN top-10 (SURVEY §2b #23) — approximate, so
    rows-only here; recall/precision gated by tests/test_lsh.py."""
    emb = _t(spark, sf_dir, "embeddings")
    out = lsh.ann_lsh_search(emb, _query_vec(emb), k=10, dim=64)
    return out.select("vec_id", F.col("score").cast(DBL).alias("score"))


def q_dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale variant of dedup_embedding_cosine: LSH-bucket blocking +
    exact in-bucket verify. Rows-only (approximate candidate gen)."""
    emb = _t(spark, sf_dir, "embeddings")
    out = lsh.near_dup_lsh(emb, threshold=0.45, dim=64)
    return out.select("id_a", "id_b", F.col("cosine").cast(DBL).alias("cosine"))


def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    out = dedup.embedding_cosine_pairs(emb, threshold=0.45)
    return out.select("id_a", "id_b", F.col("cosine").cast(DBL).alias("cosine"))


# --- §2b text analysis + chunking ----------------------------------------


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keeping the best copy per cluster (longest text)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.exact_dedup_keep_best(docs, F.col("n_chars"))


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 20% per-language sample (train-set curation)."""
    return textstats.stratified_sample(
        _t(spark, sf_dir, "documents"), fraction=0.2, strata_col="lang"
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.lang_id(_t(spark, sf_dir, "documents"))


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = textstats.quality_score(_t(spark, sf_dir, "documents"))
    return out.select(
        "doc_id", "n_tokens", F.col("quality").cast(DBL).alias("quality")
    )


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.token_count(_t(spark, sf_dir, "documents"))


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.winnow_fingerprints(
        _t(spark, sf_dir, "documents"), k=8, w=4, hash_fn="md5"
    )


def q_chunk_documents_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-style greedy chunking (SURVEY §2a #13/#15), oracle-
    gated: the DuckDB side replays the same two-level greedy fold
    (paragraph packing with char overlap, then sentence-splitting of
    oversized chunks) as recursive CTEs. The conversational K:/V:
    branch only fires on marker docs — none exist in the corpus — and
    stays pytest-gated (tests/test_chunking.py)."""
    return chunking.chunk_greedy(
        _t(spark, sf_dir, "documents"), min_size=100, max_size=250, overlap=20
    )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing (SURVEY §2b #29e), oracle-gated:
    the DuckDB side replays per-shard first-fit-decreasing as a
    recursive CTE carrying the open-bin capacity list. md5 shard hash
    (seed 21) for cross-engine determinism; invariants (coverage,
    budget, fill) additionally gated by tests/test_chunking.py."""
    out = chunking.pack_sequences(
        _t(spark, sf_dir, "documents"), max_tokens=256, n_shards=8, hash_fn="md5"
    )
    return out.select("bin_id", "total_tokens", "n_docs")


def q_chunk_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chunking.chunk_fixed(
        _t(spark, sf_dir, "documents"), size=200, overlap=50
    )


# --- §2c analytics --------------------------------------------------------


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.pricing_summary(_t(spark, sf_dir, "lineitem"))


def q_top_customers_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.top_customers_by_nation(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "nation"),
        top_n=3,
    )


def q_part_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.part_revenue_share(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part")
    )


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.shipping_priority(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
    )


def q_regional_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.regional_supplier_volume(
        _t(spark, sf_dir, "region"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
    )


def q_order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.order_priority_check(
        _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem")
    )


def q_events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join: each purchase matched to the latest view
    at-or-before it per user."""
    return analytics.asof_join_events(_t(spark, sf_dir, "events"))


def q_events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketized range join: clicks within ±60s of each error."""
    return analytics.range_join_events(_t(spark, sf_dir, "events"))


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.sessionize(_t(spark, sf_dir, "events"))


def q_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.tumbling_window_agg(_t(spark, sf_dir, "events"))


# --- §2d round-2 additions ------------------------------------------------


def q_rolling_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user rolling count/avg over the last 5 events (ROWS frame)."""
    return analytics.rolling_user_activity(_t(spark, sf_dir, "events"))


def q_events_hopping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping windows: 1h length, 30min hop (2 windows per event)."""
    return analytics.hopping_window_agg(_t(spark, sf_dir, "events"))


def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: anti-join rollup of rich never-ordered customers."""
    return analytics.customers_without_orders(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    )


def q_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: below-half-average-quantity revenue per brand."""
    return analytics.small_quantity_revenue(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part")
    )


def q_pricing_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets with grouping-level bitmask."""
    return analytics.pricing_rollup(_t(spark, sf_dir, "lineitem"))


def q_minmax_scale_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type min-max feature scaling of event values."""
    return analytics.minmax_scale_events(_t(spark, sf_dir, "events"))


def q_distinct_users_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct-user rollup (oracle twin of the HLL sketch)."""
    return analytics.distinct_users_by_type(_t(spark, sf_dir, "events"))


def q_approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct users — approximate, so rows-only;
    error vs the exact twin bounded by tests/test_round2_ops.py."""
    return analytics.approx_distinct_users(_t(spark, sf_dir, "events"))


def q_json_props_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON payload extraction + rollup (get_json_object, JVM-side)."""
    return analytics.json_props_rollup(_t(spark, sf_dir, "events"))


def q_event_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per event type."""
    return analytics.event_value_quantiles(_t(spark, sf_dir, "events"))


def q_tfidf_topk_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF keywords per document."""
    return lexical.tfidf_topk_terms(_t(spark, sf_dir, "documents"), k=5)


def q_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-50 bigram frequencies."""
    return lexical.bigram_counts(_t(spark, sf_dir, "documents"), top_n=50)


def q_doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-length histogram (50-char buckets, capped at 20)."""
    return textstats.doc_length_histogram(_t(spark, sf_dir, "documents"))


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split by id hash."""
    return textstats.hash_split(_t(spark, sf_dir, "documents"), hash_fn="md5")


def q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-grained rollup: bounds, size, value sum per session."""
    return analytics.session_stats(_t(spark, sf_dir, "events"))


def q_near_dup_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup removal: LSH pairs → components → one
    surviving representative per cluster (min id) + cluster size."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(
        docs, n=3, num_hashes=16, bands=4, threshold=0.8, hash_fn="md5"
    )
    return dedup.near_dup_dedup(docs, pairs)


def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid vectors (sorted-fold deterministic sums)."""
    return embed.label_centroids(_t(spark, sf_dir, "embeddings"))


_PQ_BOOKS: dict[str, object] = {}


def _pq_books(spark: SparkSession, sf_dir: str):
    """Train-once codebook cache (model state, like the bench's
    persisted IVF index — training is the amortized cost)."""
    if sf_dir not in _PQ_BOOKS:
        emb = _t(spark, sf_dir, "embeddings")
        _PQ_BOOKS[sf_dir] = pq.pq_train(emb, m=16, ksub=64, iters=4)
    return _PQ_BOOKS[sf_dir]


def q_pq_adc_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ADC top-10 on the compressed codes — approximate by
    construction, so rows-only; shortlist quality gated by
    tests/test_pq.py."""
    emb = _t(spark, sf_dir, "embeddings")
    books = _pq_books(spark, sf_dir)
    codes = pq.pq_encode(emb, books)
    return pq.pq_topk_adc(codes, books, _query_vec(emb), k=10)


def q_pq_rerank_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ADC shortlist + exact re-rank — recovers the exact top-10
    on this corpus, so it shares the flat-IP oracle: the hash gate
    proves the two-stage path is lossless here. The expand factor
    widens on tiny corpora, where codebooks trained on few points
    quantize coarsely enough that a k*5 shortlist can miss true
    neighbors (seen at sf0.001)."""
    emb = _t(spark, sf_dir, "embeddings")
    books = _pq_books(spark, sf_dir)
    codes = pq.pq_encode(emb, books)
    expand = 10 if emb.count() < 1000 else 5
    out = pq.pq_topk_rerank(
        emb, codes, books, _query_vec(emb), k=10, expand=expand
    )
    return out.select("vec_id", F.col("score").cast(DBL).alias("score"))


_OPQ_STATE: dict[str, tuple] = {}


def _opq_state(spark: SparkSession, sf_dir: str):
    """Train-once (rotation, rotated-codebooks) cache — OPQ model
    state, amortized like _pq_books."""
    if sf_dir not in _OPQ_STATE:
        from faiss_vector_search_spark.operators import transform

        emb = _t(spark, sf_dir, "embeddings")
        model = transform.opq_train(emb, m=16)
        rotated = transform.opq_apply(emb, model)
        books = pq.pq_train(rotated, m=16, ksub=64, iters=4)
        _OPQ_STATE[sf_dir] = (model, books)
    return _OPQ_STATE[sf_dir]


def q_opq_rerank_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ-rotated PQ shortlist + exact re-rank (transform.opq_train:
    eigenvalue-allocated rotation balances subquantizer variance).
    Codes and the ADC probe live in the rotated basis; the re-rank
    scores ORIGINAL vectors against the ORIGINAL query, so like
    q_pq_rerank_search it recovers the exact top-10 and shares the
    flat-IP oracle."""
    from faiss_vector_search_spark.operators import transform

    emb = _t(spark, sf_dir, "embeddings")
    model, books = _opq_state(spark, sf_dir)
    rotated = transform.opq_apply(emb, model)
    codes = pq.pq_encode(rotated, books)
    expand = 10 if emb.count() < 1000 else 5
    out = pq.opq_topk_rerank(
        emb, codes, books, _query_vec(emb), model, k=10, expand=expand
    )
    return out.select("vec_id", F.col("score").cast(DBL).alias("score"))


def q_pricing_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets with grouping-level bitmask."""
    return analytics.pricing_cube(_t(spark, sf_dir, "lineitem"))


def q_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: revenue between two trading nations per year."""
    return analytics.nation_trade_volume(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
    )


def q_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs predicate over a broadcast join."""
    return analytics.disjunctive_revenue(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part")
    )


def q_events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly spine resampling with forward fill per user."""
    return analytics.events_gap_fill(_t(spark, sf_dir, "events"))


def q_doc_quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-decile corpus profile (ntile over heuristic score)."""
    return textstats.quality_deciles(_t(spark, sf_dir, "documents"))


def q_promo_profit_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: product-line margin per (nation, ship year)."""
    return analytics.promo_profit_by_nation(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "part"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
    )


def q_events_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS slices with grouping bitmask."""
    return analytics.events_grouping_sets(_t(spark, sf_dir, "events"))


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs sharing an 8-gram with the
    held-out set (stand-in benchmark: every 50th doc)."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 50 == 0)
    return dedup.decontaminate(docs, bench, n=8, hash_fn="md5")


def q_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-side contamination attribution: per benchmark item
    (every 50th doc, corpus = the rest), how many corpus docs share
    an 8-gram, the total leak mass, and the worst single corpus doc —
    the model-card contamination appendix as one query."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.contamination_report(
        docs.where(F.col("doc_id") % 50 != 0),
        docs.where(F.col("doc_id") % 50 == 0),
        n=8, hash_fn="md5",
    )


def q_fuzzy_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy benchmark decontamination: MinHash-banded corpus-vs-
    benchmark candidates verified with exact Jaccard (stand-in
    benchmark: every 50th doc) — catches paraphrase-level contamination
    the exact 8-gram scan (q_decontaminate) misses."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 50 == 0)
    return dedup.fuzzy_decontaminate(docs, bench, threshold=0.8, hash_fn="md5")


def q_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style repeated-span detection: maximal runs of
    8-token windows whose gram occurs >= 2 times corpus-wide."""
    return dedup.repeated_spans(
        _t(spark, sf_dir, "documents"), w=8, min_count=2, hash_fn="md5"
    )


def q_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (Xie et al. 2023, unigram variant):
    top-100 corpus docs by target-vs-source log-likelihood ratio
    (stand-in target domain: every 50th doc)."""
    from faiss_vector_search_spark.operators import lm

    docs = _t(spark, sf_dir, "documents")
    target = docs.where(F.col("doc_id") % 50 == 0)
    return lm.dsir_sample(docs, target, n=100)


def q_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style text canonicalization: control chars, whitespace runs,
    punctuation squeeze — plus the removal accounting a pipeline gates
    on."""
    return textstats.normalize_text(_t(spark, sf_dir, "documents"))


def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column statistics over lineitem (the engine's
    catalog/CBO pass): rows, nulls, exact distincts, min/max per
    column in one aggregation."""
    return analytics.table_profile(
        _t(spark, sf_dir, "lineitem"),
        # integer/varchar columns: their string casts render byte-
        # identically in Spark and DuckDB (double/timestamp don't)
        cols=("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag",
              "l_linestatus"),
    )


def q_curation_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ensemble curation score: heuristic quality + LM fluency +
    classifier logit, min-max normalized and blended 0.4/0.3/0.3."""
    from faiss_vector_search_spark.operators import curation

    return curation.curation_score(
        _t(spark, sf_dir, "documents"), hash_fn="md5"
    )


def q_training_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive training triplets: hardest same-label positive +
    hardest different-label negative per anchor, with the margin."""
    emb = _t(spark, sf_dir, "embeddings")
    anchors = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.col("label").alias("query_label"),
    )
    return knn.training_triplets(emb, anchors)


def q_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture sampling: maximal md5-prefix of each
    domain under its token cap (600/900/300 for src0/src1/src2)."""
    return textstats.token_budget_sample(
        _t(spark, sf_dir, "documents"),
        {"src0": 600, "src1": 900, "src2": 300},
    )


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining: per-anchor top-5 most-similar vectors
    with a DIFFERENT label — the contrastive-training negatives."""
    emb = _t(spark, sf_dir, "embeddings")
    anchors = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.col("label").alias("query_label"),
    )
    return knn.hard_negatives(emb, anchors, k=5)


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style quality classifier scoring with the committed
    model (models/quality_lr.json — gopher_rules distilled at sf0.01,
    0.82 in-sample agreement): hashed-BoW + shape features, zero-
    shuffle in-row logit."""
    from faiss_vector_search_spark.operators import classifier

    return classifier.score_quality_classifier(
        _t(spark, sf_dir, "documents"), classifier.load_model(),
        hash_fn="md5",
    )


def q_classifier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration audit of the committed quality classifier against
    the Gopher rule set it distilled: logit deciles × rule pass rate
    — the threshold-picking table for model-based filtering. One
    corpus scan (rule flags and logit are chained staged projections,
    no signal join)."""
    from faiss_vector_search_spark.operators import classifier

    return classifier.quality_calibration_report(
        _t(spark, sf_dir, "documents"), classifier.load_model(),
        n_bins=10, hash_fn="md5",
    )


def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 adjacent-bigram collocations by PMI (support floor 5) —
    the statistical phrase detector of a tokenizer-prep pipeline."""
    return lexical.pmi_collocations(
        _t(spark, sf_dir, "documents"), min_count=5, top_n=50
    )


def q_domain_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KL(domain ‖ corpus) over unigram distributions —
    the mixture-drift statistic tracked per dump/source."""
    from faiss_vector_search_spark.operators import lm

    return lm.domain_kl_report(_t(spark, sf_dir, "documents"))


def q_length_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed training-batch plan with per-batch padding
    waste (batch 32, bucket width 64, 8 deterministic shards)."""
    return chunking.length_bucket_batches(
        _t(spark, sf_dir, "documents"),
        batch_size=32,
        bucket_width=64,
        n_shards=8,
        hash_fn="md5",
    )


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 8-gram novelty: fraction of the doc's window
    occurrences whose gram is corpus-unique (memorization-risk /
    contribution profile)."""
    return textstats.ngram_novelty(
        _t(spark, sf_dir, "documents"), w=8, hash_fn="md5"
    )


def q_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum epoch plan: quality-descending, domain-interleaved
    global ordering computed arithmetically (no global-sort window)."""
    return textstats.curriculum_order(_t(spark, sf_dir, "documents"))


def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail perplexity terciles per domain
    under the corpus bigram LM."""
    return textstats.ccnet_buckets(_t(spark, sf_dir, "documents"))


def q_maxsim_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ColBERT-style late-interaction retrieval: per-token char-trigram
    bucket sets, set-cosine token sims, sum-of-max scoring."""
    return lexical.maxsim_search(
        _t(spark, sf_dir, "documents"),
        "batch window vector hash fast stream",
        k=10,
        hash_fn="md5",
    )


def q_fingerprint_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style provenance search: docs sharing winnowing
    fingerprints with doc 7, ranked by shared count / containment."""
    return textstats.fingerprint_overlap_search(
        _t(spark, sf_dir, "documents"), query_doc_id=7,
        gram=8, w=4, min_shared=2, hash_fn="md5",
    )


def q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-call data card: corpus profile + vocab/Zipf statistics +
    sample self-similarity as namespaced (metric, value) rows."""
    from faiss_vector_search_spark.operators import curation

    return curation.dataset_card(_t(spark, sf_dir, "documents"))


def q_cross_domain_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs cross-tabulated by unordered source pair — the
    mirror-site / cross-dump duplication audit."""
    return dedup.cross_domain_dup_report(
        _t(spark, sf_dir, "documents"), threshold=0.8, hash_fn="md5"
    )


def q_split_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test distribution-shift audit: KL(split || corpus)
    per hash-split bucket — near-zero for a healthy content-blind
    split."""
    from faiss_vector_search_spark.operators import lm

    return lm.split_kl_report(
        _t(spark, sf_dir, "documents"), hash_fn="md5"
    )


def q_self_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus diversity report (self-BLEU analogue): mean/max pairwise
    2-shingle Jaccard over a deterministic 40-doc md5 sample — the
    synthetic-data mode-collapse monitor."""
    return dedup.self_similarity_report(
        _t(spark, sf_dir, "documents"), sample_k=40, shingle_n=2
    )


def q_fim_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle restructuring (PSM ordering) for a
    deterministic half of eligible docs — cuts are pure hash
    arithmetic, one zero-shuffle projection."""
    return chunking.fim_transform(
        _t(spark, sf_dir, "documents"),
        rate_permille=500,
        min_chars=20,
        hash_fn="md5",
    )


def q_zipf_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary statistics: tokens, vocab, hapax, head coverage,
    fitted Zipf slope — one (token, count) rollup + a top-100
    TakeOrdered, no global rank window."""
    return textstats.zipf_profile(_t(spark, sf_dir, "documents"), top_n=100)


def q_matryoshka_rerank_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka prefix-dimension coarse scan (first 16 of 64 dims) +
    exact full-dim re-rank; hash-gated on the two-phase semantics
    itself (coarse rounded-IP top-100 -> exact rerank in SQL)."""
    emb = _t(spark, sf_dir, "embeddings")
    return knn.matryoshka_rerank_search(
        emb, _query_vec(emb), k=10, prefix=16, shortlist=100
    ).select("vec_id", F.col("score").cast(DBL).alias("score"))


def q_pca_ivf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FAISS IndexPreTransform chain: PCA-16 coarse IVF probe scan +
    exact full-dim re-rank. Rows-only (k-means training is iterative);
    recall and exactness-at-full-probe gates in tests/test_transform.py."""
    from faiss_vector_search_spark.operators import transform

    emb = _t(spark, sf_dir, "embeddings")
    return transform.pca_ivf_search(
        emb,
        _query_vec(emb),
        out_dim=16,
        nlist=16,
        nprobe=16,
        k=10,
        shortlist=100,
    ).select("vec_id", F.col("score").cast(DBL).alias("score"))


_BPE_MERGES: dict[str, list] = {}


def q_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real BPE tokenization (Sennrich et al. 2016): merges trained
    once per corpus (driver-held model, like centroids/codebooks),
    applied Arrow-batched. Rows-only: the iterative merge loop is not
    SQL-expressible; round-trip/determinism gates in tests/test_bpe.py."""
    from faiss_vector_search_spark.operators import bpe

    docs = _t(spark, sf_dir, "documents")
    if sf_dir not in _BPE_MERGES:
        _BPE_MERGES[sf_dir] = bpe.bpe_train(docs, num_merges=200)
    out = bpe.bpe_encode(docs, _BPE_MERGES[sf_dir])
    return out.select("doc_id", "n_pieces", "n_words")


def q_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language BPE fertility (pieces/word) + compression
    (chars/piece) under the corpus-trained merges — tokenizer-fit
    diagnostics. Rows-only: the merge loop is iterative;
    property gates in tests/test_wave4_ops.py."""
    from faiss_vector_search_spark.operators import bpe

    docs = _t(spark, sf_dir, "documents")
    if sf_dir not in _BPE_MERGES:
        _BPE_MERGES[sf_dir] = bpe.bpe_train(docs, num_merges=200)
    return bpe.bpe_fertility_report(docs, _BPE_MERGES[sf_dir])


_SIZEREPORT_PATHS: dict[str, dict] = {}


def q_index_size_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """On-disk bytes per index tier (flat / SQ8 / binary) — the FAISS
    memory-planning question measured on the store. Rows-only
    (filesystem metadata); ladder-ordering gate in
    tests/test_wave4_ops.py."""
    import tempfile

    from faiss_vector_search_spark.operators import binary as bin_mod
    from faiss_vector_search_spark.operators import index_store, sq

    emb = _t(spark, sf_dir, "embeddings")
    if sf_dir not in _SIZEREPORT_PATHS:
        base = tempfile.mkdtemp(prefix="fvs_sizes_")
        emb.write.parquet(f"{base}/flat")
        sq.sq_encode(emb, sq.sq_train(emb)).write.parquet(f"{base}/sq8")
        bin_mod.binarize(emb.select("vec_id", "embedding")).write.parquet(
            f"{base}/binary"
        )
        _SIZEREPORT_PATHS[sf_dir] = {
            t: f"{base}/{t}" for t in ("flat", "sq8", "binary")
        }
    return index_store.index_size_report(spark, _SIZEREPORT_PATHS[sf_dir])


def q_strip_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr removal: rebuild every doc with all-but-the-first
    occurrence of each repeated 8-token window dropped."""
    return dedup.strip_repeated_spans(
        _t(spark, sf_dir, "documents"), w=8, min_count=2, hash_fn="md5"
    )


def q_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-doc repetition profile (boilerplate/spam detector)."""
    return textstats.repetition_score(_t(spark, sf_dir, "documents"))


def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub with typed placeholders + removal counts."""
    return textstats.redact_pii(_t(spark, sf_dir, "documents"))


def q_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: orders-per-customer histogram incl. zeros."""
    return analytics.customer_order_distribution(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    )


def q_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-aggregation revenue share."""
    return analytics.promo_revenue_share(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part")
    )


def q_top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: max-of-aggregate top supplier."""
    return analytics.top_supplier_revenue(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "supplier")
    )


def q_sole_returned_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: EXISTS + NOT EXISTS self-join pair."""
    return analytics.sole_returned_supplier(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "supplier")
    )


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style cross-document line (10-token span) dedup."""
    return dedup.line_dedup(_t(spark, sf_dir, "documents"), hash_fn="md5")


def q_returned_item_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by returned-item revenue."""
    return analytics.returned_item_report(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "nation"),
    )


def q_supplier_count_by_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: anti-join + count-distinct rollup."""
    return analytics.supplier_count_by_part(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "part"),
        _t(spark, sf_dir, "supplier"),
    )


def q_approx_event_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based percentile twin (rows-only; error-bound pytest)."""
    return analytics.approx_event_value_quantiles(_t(spark, sf_dir, "events"))


def q_sq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 scalar-quantized top-k: train bounds, encode to uint8
    codes, search by midpoint-decoded inner product."""
    emb = _t(spark, sf_dir, "embeddings")
    bounds = sq.sq_train(emb)
    codes = sq.sq_encode(emb, bounds)
    q = emb.where(F.col("vec_id") == 0).select(
        F.col("embedding").alias("query_vec")
    )
    return sq.sq_topk(codes, bounds, q, k=10)


def q_domain_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic domain-mixture resampling (40/30/20/10%)."""
    return textstats.domain_mix_sample(
        _t(spark, sf_dir, "documents"),
        {"src0": 400, "src1": 300, "src2": 200, "src3": 100},
    )


# --- §2e round-3 additions ------------------------------------------------


def q_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FAISS range_search: all vectors with IP >= radius, no k cap —
    pure broadcast+scan+filter, zero shuffle."""
    emb = _t(spark, sf_dir, "embeddings")
    out = knn.range_search(emb, _query_vec(emb, vec_id=0), radius=0.2, metric="ip")
    return out.select("vec_id", F.col("score").cast(DBL).alias("score"))


def q_vector_reconstruct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FAISS reconstruct_batch: stored vectors for an id set, one
    scalar row per component."""
    emb = _t(spark, sf_dir, "embeddings")
    ids = emb.where(F.col("vec_id").isin(5, 6, 7))
    return index_store.reconstruct(emb, ids)


def q_remove_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FAISS remove_ids: anti-join delete, verified through the stats
    aggregate of the surviving index."""
    emb = _t(spark, sf_dir, "embeddings")
    doomed = emb.where((F.col("vec_id") % 7) == 0)
    return index_store.index_stats(index_store.remove_vectors(emb, doomed))


def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: single filtered-scan revenue-delta aggregate."""
    return analytics.discount_revenue_delta(_t(spark, sf_dir, "lineitem"))


def q_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING-decorrelated big-order rollup."""
    return analytics.large_volume_customers(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
        qty_threshold=300.0,
    )


def q_nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: target nation's revenue share per year."""
    return analytics.nation_market_share(
        _t(spark, sf_dir, "region"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
        region_name="ASIA",
    )


def q_session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window sessionization (batch)."""
    return analytics.session_window_agg(_t(spark, sf_dir, "events"))


def q_binary_hamming_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FAISS IndexBinaryFlat: sign-bit pack + Hamming top-k.
    Integer-exact end to end — no rounding contract at all."""
    from faiss_vector_search_spark.operators import binary

    emb = _t(spark, sf_dir, "embeddings")
    codes = binary.binarize(emb)
    q = codes.where(F.col("vec_id") == 0).select(
        F.col("code").alias("query_code")
    )
    return binary.hamming_topk(codes, q, k=10)


def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-entropy gibberish filter over documents."""
    return textstats.char_entropy(_t(spark, sf_dir, "documents"))


def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversity rerank of a two-phase top-k shortlist (3 queries
    × 20 candidates → 10 diverse picks each). Rows-only: the greedy
    argmax loop isn't SQL-expressible; tests gate against an
    independent dense reference."""
    from faiss_vector_search_spark.operators import rerank

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    shortlist = knn.topk_join(emb, queries, k=20).join(
        emb.select("vec_id", "embedding"), "vec_id"
    )
    return rerank.mmr_rerank(shortlist, k=10)


def q_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of every ANN/compression tier vs exact flat search
    (exact control = 1.0). Rows-only: the report aggregates
    approximate tiers; per-tier bounds are pytest-gated."""
    from faiss_vector_search_spark.operators import evaluate

    return evaluate.recall_report(
        _t(spark, sf_dir, "embeddings"), query_ids=(0, 1, 2), k=10
    )


def q_distinct_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketch store: two incremental batches persisted,
    per-slice + total distinct estimates from sketch unions alone.
    Rows-only: Datasketches binaries aren't SQL-expressible; pytest
    gates estimates against exact counts."""
    import tempfile

    from faiss_vector_search_spark.operators import sketches

    ev = _t(spark, sf_dir, "events")
    path = tempfile.mkdtemp(prefix="sketch_store_") + "/sk"
    sketches.save_distinct_sketches(ev.where("event_id % 2 = 0"), path)
    sketches.save_distinct_sketches(ev.where("event_id % 2 = 1"), path)
    return sketches.union_distinct_counts(spark, path).orderBy(
        F.col("event_type").asc_nulls_last()
    )


def q_bigram_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_top_k frequent-items sketch over corpus bigrams — the
    bounded-memory twin of bigram_counts. ORACLE-GATED since r11
    under the ``tie_break="lexical"`` profile (r10 verdict ask #7):
    the sketch over-fetches 2k entries and re-sorts by (count desc,
    bigram asc) — a total deterministic order — and at the driver
    gate's SF the vocabulary (916 distinct bigrams at sf0.01) fits
    max_tracked, so the sketch counts are EXACT and the result equals
    the exact SQL top-k. At 100 TB the counts degrade to the sketch's
    guarantee (pytest gates counts vs exact + boundary-tie-group
    containment, tests/test_round3_wave2.py / test_round11_ops.py)."""
    from faiss_vector_search_spark.operators import sketches

    out = sketches.bigram_heavy_hitters(
        _t(spark, sf_dir, "documents"), k=20, tie_break="lexical"
    )
    return out.select("bigram", F.col("n").cast("bigint").alias("n"))


def q_knn_filtered_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered vector search: top-k over the label=3 slice.
    The predicate sits below the scorer, so Catalyst pushes it to the
    scan — the filter prunes BEFORE any distance is computed (the
    'filtered ANN' pattern FAISS itself needs IDSelector for)."""
    emb = _t(spark, sf_dir, "embeddings")
    out = knn.topk(
        emb.where(F.col("label") == 3), _query_vec(emb, vec_id=1), k=10
    )
    return out.select("vec_id", F.col("score").cast(DBL).alias("score"))


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation composition — the "would a reference user's
    pipeline survive the switch" gate: language filter → quality
    threshold → exact-dedup representative selection → token budget,
    verified AS ONE QUERY against the equivalently-composed oracle.

    Scale shape: TWO column-pruned scans total — the dedup rollup
    reads (md5(text), doc_id) and shuffles 16-byte hashes, never
    text; the signal scan computes quality + token counts in a
    single lang-filtered projection (fold-in via quality_exprs, no
    per-signal rescans) — then one doc_id semi-join intersects them."""
    from faiss_vector_search_spark.functions.text import tokens as _tokens

    docs = _t(spark, sf_dir, "documents")
    reps = dedup.exact_dedup(docs).select("doc_id")
    # stage the token array once: quality_exprs consumes it four
    # times and ws_tokens a fifth — five tokenizer evals per row
    # collapse to one (SURVEY §4 interpreted-HOF discipline)
    n_tokens, quality = textstats.quality_exprs(
        F.col("text"), F.col("_toks")
    )
    sig = docs.where(F.col("lang") == "en").select(
        "doc_id", "source", "text",
        _tokens(F.col("text")).alias("_toks"),
    ).select(
        "doc_id",
        "source",
        quality.cast(DBL).alias("quality"),
        F.size(F.col("_toks")).cast("bigint").alias("ws_tokens"),
        n_tokens.alias("n_tokens"),
    )
    return (
        sig.where((F.col("quality") >= 0.75) & (F.col("n_tokens") > 0))
        .drop("n_tokens")
        .join(reps, "doc_id", "left_semi")
    )


def q_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom pre-filtered semi-join (lineitem ⋉ urgent orders) rolled
    up per returnflag — exact mode, so the oracle is the plain
    semi-join; the bloom layer must be result-transparent."""
    from faiss_vector_search_spark.functions import bloom

    li = _t(spark, sf_dir, "lineitem")
    keys = _t(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    ).select(F.col("o_orderkey").alias("l_orderkey"))
    hit = bloom.bloom_semi_join(li, keys, "l_orderkey", bits=1 << 18)
    return hit.groupBy("l_returnflag").agg(
        F.count("*").alias("n_lines"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
        .alias("revenue"),
    )


def q_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FAISS PCAMatrix: 64→8 dim reduction, projected components as
    scalar rows. Rows-only: eigendecomposition isn't SQL-expressible;
    tests/test_round3_additions.py gates orthonormality + parity with
    the dense reference computation."""
    from faiss_vector_search_spark.operators import transform

    emb = _t(spark, sf_dir, "embeddings")
    model = transform.pca_train(emb, k=8)
    out = transform.pca_apply(emb, model)
    return out.select(
        "vec_id", F.posexplode(F.col("pca")).alias("pos", "component")
    ).select(
        "vec_id",
        (F.col("pos") + 1).cast("int").alias("pos"),
        F.round(F.col("component"), 6).alias("component"),
    )


# --- §2e round-3 additions, second wave -----------------------------------


def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: per-part min-cost regional supplier — the
    correlated scalar subquery decorrelated into a window min that
    reuses the agg's partitioning (zero extra exchanges)."""
    return analytics.min_cost_supplier(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "part"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "region"),
    )


def q_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts above a fraction of the global traded
    value — HAVING over a broadcast scalar derived from the rollup
    itself (the fact scans once)."""
    return analytics.important_parts(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
    )


def q_ship_delay_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: urgency-class line counts per shipping-delay
    bucket (join + CASE conditional aggregation, integer-exact)."""
    return analytics.ship_delay_priority(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "orders")
    )


def q_excess_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers holding an outsized share of a part
    family's yearly volume — nested agg-threshold subqueries as
    rollup → window share → threshold → supplier rollup."""
    return analytics.excess_parts(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "part"),
        _t(spark, sf_dir, "supplier"),
    )


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: cluster-then-pairwise-cosine semantic dedup — the
    scale path for embedding near-dup (quadratic work capped per
    cluster, pairs co-partitioned by list id)."""
    emb = _t(spark, sf_dir, "embeddings")
    out = dedup.semdedup(emb, nlist=16, threshold=0.4)
    return out.select("vec_id", F.col("list_id").cast("bigint").alias("list_id"))


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style heuristic quality rules: per-doc boolean flags +
    conjunctive keep, all in one scan-speed projection."""
    return textstats.gopher_rules(_t(spark, sf_dir, "documents"))


def q_merge_indexes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FAISS merge_from: three overlapping shards merged with
    keep-first id dedup, verified through the stats aggregate (ntotal
    / dim / avg norm / distinct ids must equal the full corpus)."""
    emb = _t(spark, sf_dir, "embeddings")
    shards = [
        emb.where(F.col("vec_id") < 300),
        emb.where(F.col("vec_id") >= 250),
        emb.where((F.col("vec_id") >= 100) & (F.col("vec_id") < 400)),
    ]
    return index_store.index_stats(index_store.merge_stores(shards))


def q_binary_rerank_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-coarse / float-fine search (IndexBinaryFlat +
    IndexRefineFlat): Hamming shortlist over 32×-compressed codes,
    exact IP rerank over only the shortlist rows."""
    from faiss_vector_search_spark.operators import binary

    emb = _t(spark, sf_dir, "embeddings")
    return binary.binary_rerank_search(
        emb, _query_vec(emb, vec_id=3), k=10, shortlist=50
    ).select("vec_id", F.col("score").cast(DBL).alias("score"))


def q_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram-LM fluency score — the declarative
    perplexity-filter stand-in (train = aggs, apply = join)."""
    from faiss_vector_search_spark.operators import lm

    docs = _t(spark, sf_dir, "documents")
    model = lm.bigram_lm_train(docs)
    return lm.bigram_lm_score(docs, model)


def q_event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT with explicit values: per-user event-type count matrix
    in one map-side-combinable aggregation."""
    return analytics.event_type_pivot(_t(spark, sf_dir, "events"))


def q_churned_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT/anti-join cohort churn per nation."""
    return analytics.churned_buyers(
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "nation"),
    )


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-Res weighted sampling: 100 docs drawn ∝ n_chars,
    deterministic md5 uniforms, TakeOrdered plan."""
    docs = _t(spark, sf_dir, "documents")
    return textstats.weighted_sample(docs, n=100, weight_col=F.col("n_chars"))


def q_time_range_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 60-minute time-RANGE window per user (event-time
    frame, exact integer micros interval)."""
    return analytics.time_range_rolling(_t(spark, sf_dir, "events"))


def q_value_rank_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank + cume_dist + decile in one window pass."""
    return analytics.value_rank_profile(_t(spark, sf_dir, "events"))


def q_unpivot_user_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (stack) of the per-user event matrix back to sparse
    long form — inverse of event_type_pivot."""
    m = analytics.event_type_pivot(_t(spark, sf_dir, "events"))
    return analytics.unpivot_user_matrix(m)


def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase positional search, in-row array matching with a
    pushed LIKE prefilter; top-k by occurrence count."""
    return lexical.phrase_search(
        _t(spark, sf_dir, "documents"), "table scan", k=20
    )


def q_near_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proximity NEAR/3 search: 'table' and 'scan' within 3 tokens,
    either order, ranked by co-occurring pair count."""
    return lexical.near_search(
        _t(spark, sf_dir, "documents"), "table", "scan", window=3, k=20
    )


def q_corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-query corpus health report: volume, duplication, language
    mix, mean quality, median length as (metric, value) rows."""
    return textstats.corpus_profile(_t(spark, sf_dir, "documents"))


# --- oracle SQL -----------------------------------------------------------

_IP = "ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv), 6)"
_L2SQ = (
    "list_sum(list_transform(generate_series(1, len(e.embedding)), "
    "i -> (CAST(e.embedding[i] AS DOUBLE) - q.qv[i]) * "
    "(CAST(e.embedding[i] AS DOUBLE) - q.qv[i])))"
)


def _oracle_topk_ip(query_id: int, k: int, where: str = "") -> str:
    return f"""
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = {query_id}),
scored AS (
  SELECT e.vec_id, {_IP} AS score FROM embeddings e, q
)
SELECT vec_id, score
FROM scored {where}
ORDER BY score DESC, vec_id ASC
LIMIT {k}
"""


def _l2sq_sql(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(generate_series(1, len({a})), "
        f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
    )


_TOKS = "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')"

ORACLES: dict[str, str] = {
    "ivf_search": f"""
WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cents AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cvec
  FROM (SELECT * FROM base ORDER BY vec_id LIMIT 16)
),
q AS (SELECT v AS qv FROM base WHERE vec_id = 2),
assign AS (
  SELECT b.vec_id, b.v, c.cid AS list_id
  FROM base b, cents c
  QUALIFY row_number() OVER (
    PARTITION BY b.vec_id
    ORDER BY {_l2sq_sql('b.v', 'c.cvec')} ASC, c.cid ASC
  ) = 1
),
probes AS (
  SELECT c.cid FROM cents c, q
  ORDER BY {_l2sq_sql('q.qv', 'c.cvec')} ASC, c.cid ASC LIMIT 4
)
SELECT a.vec_id, CAST(a.list_id AS INT) AS list_id,
       ROUND(list_dot_product(a.v, q.qv), 6) AS score
FROM assign a, q
WHERE a.list_id IN (SELECT cid FROM probes)
ORDER BY score DESC, a.vec_id ASC
LIMIT 10
""",
    "vector_normalize": """
WITH s AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]), x -> x * (label + 1)) AS v
  FROM embeddings WHERE vec_id < 20
),
n AS (
  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM s
),
u AS (
  SELECT vec_id,
         CASE WHEN nrm = 0 THEN v ELSE list_transform(v, x -> x / nrm) END AS nv
  FROM n
)
SELECT vec_id,
       CAST(unnest(generate_series(1, len(nv))) AS INT) AS pos,
       ROUND(unnest(nv), 6) AS val
FROM u
""",
    "index_stats": """
SELECT CAST(count(*) AS BIGINT) AS num_documents,
       CAST(max(len(embedding)) AS INT) AS dimension,
       ROUND(avg(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                       CAST(embedding AS DOUBLE[])))), 6)
           AS avg_norm,
       CAST(count(DISTINCT vec_id) AS BIGINT) AS distinct_ids
FROM embeddings
""",
    "add_documents": """
WITH new AS (
  SELECT vec_id + 100000 AS vec_id, embedding, label
  FROM embeddings WHERE label = 0
  UNION ALL
  SELECT vec_id, embedding, label FROM embeddings WHERE label = 1
),
fresh AS (
  SELECT * FROM new WHERE vec_id NOT IN (SELECT vec_id FROM embeddings)
),
combined AS (SELECT * FROM embeddings UNION ALL SELECT * FROM fresh)
SELECT CAST(count(*) AS BIGINT) AS num_total,
       CAST(count(DISTINCT vec_id) AS BIGINT) AS num_distinct
FROM combined
""",
    "embed_text": f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS}) AS tok
  FROM documents WHERE doc_id < 50
)
SELECT doc_id,
       CAST((('0x' || substr(md5('s0:' || tok), 1, 15))::BIGINT % 64) AS INT) AS bucket,
       CAST(count(*) AS INT) AS cnt
FROM toks GROUP BY doc_id, bucket
""",
    "text_search": f"""
WITH db AS (
  SELECT doc_id,
         (('0x' || substr(md5('s0:' || tok), 1, 15))::BIGINT % 64) AS bucket,
         count(*)::BIGINT AS cnt
  FROM (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents)
  GROUP BY 1, 2
),
qb AS (
  SELECT (('0x' || substr(md5('s0:' || tok), 1, 15))::BIGINT % 64) AS bucket,
         count(*)::BIGINT AS qcnt
  FROM (SELECT unnest(list_filter(regexp_split_to_array(
          lower('batch window vector hash fast stream'), '[^a-z0-9]+'),
          t -> t <> '')) AS tok)
  GROUP BY 1
),
qn AS (SELECT sum(qcnt * qcnt) AS qn2 FROM qb),
dn AS (SELECT doc_id, sum(cnt * cnt) AS dn2 FROM db GROUP BY 1),
dots AS (
  SELECT doc_id, sum(cnt * qcnt) AS dot FROM db JOIN qb USING (bucket) GROUP BY 1
)
SELECT d.doc_id,
       ROUND(dot / (sqrt(dn2::DOUBLE) * sqrt(qn2::DOUBLE)), 6) AS score
FROM dots d JOIN dn USING (doc_id), qn
ORDER BY score DESC, doc_id ASC
LIMIT 5
""",
    "knn_topk_ip": _oracle_topk_ip(0, 10),
    "knn_topk_l2": f"""
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 7),
scored AS (
  SELECT e.vec_id, ROUND(1.0 / (1.0 + {_L2SQ}), 6) AS score FROM embeddings e, q
)
SELECT vec_id, score
FROM scored ORDER BY score DESC, vec_id ASC LIMIT 10
""",
    "knn_fixed_threshold": _oracle_topk_ip(3, 50, where="WHERE score >= 0.2"),
    "knn_dynamic_threshold": """
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 5),
cand AS (
  SELECT e.vec_id, ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS score
  FROM embeddings e, q
  ORDER BY score DESC, vec_id ASC LIMIT 20
),
grid AS (SELECT unnest(generate_series(0, 20)) / 20.0 AS t),
hits AS (SELECT t, count(*) AS hits FROM cand, grid WHERE cand.score >= grid.t GROUP BY t),
final AS (
  SELECT coalesce(
    (SELECT max(t) FROM hits WHERE hits >= 3),
    (SELECT t FROM hits ORDER BY hits DESC, t DESC LIMIT 1)
  ) AS final_t
)
SELECT c.vec_id, c.score AS score,
       ROUND(f.final_t, 6) AS final_threshold
FROM cand c, final f
WHERE c.score >= f.final_t
ORDER BY c.score DESC, c.vec_id ASC
""",
    "knn_threshold_progression": """
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 5),
cand AS (
  SELECT e.vec_id, ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS score
  FROM embeddings e, q
  ORDER BY score DESC, vec_id ASC LIMIT 20
),
grid AS (SELECT unnest(generate_series(0, 20)) / 20.0 AS t)
SELECT ROUND(g.t, 6) AS threshold,
       CAST(count(c.vec_id) AS BIGINT) AS hits,
       count(c.vec_id) >= 3 AS target_reached
FROM grid g LEFT JOIN cand c ON c.score >= g.t
GROUP BY g.t
ORDER BY threshold DESC
""",
    "knn_batch": """
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 5
),
scored AS (
  SELECT q.query_id, e.vec_id,
         ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS score
  FROM embeddings e, q
),
ranked AS (
  SELECT query_id, vec_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, score, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 3
""",
}


def _md5i(expr: str) -> str:
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


_SH_CTE = f"""
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, len(toks) - 2),
                                      i -> array_to_string(toks[i:i+2], ' '))) AS shingles
  FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
  WHERE len(toks) >= 3
)"""

_JAC = (
    "ROUND(len(list_intersect({a}, {b}))::DOUBLE / "
    "(len({a}) + len({b}) - len(list_intersect({a}, {b}))), 6)"
)

_SIG_AGGS = ",\n         ".join(
    "min({h}) AS sig_{i}".format(h=_md5i(f"'s{i}:' || s"), i=i) for i in range(16)
)

_BAND_SELECTS = "\n  UNION ALL\n".join(
    "  SELECT doc_id, shingles, {b} AS band, ".format(b=b)
    + _md5i(
        "'s{seed}:' || "
        + " || '_' || ".join(f"sig_{b * 4 + r}::VARCHAR" for r in range(4))
    ).format(seed=100 + b)
    + " AS bval FROM sig"
    for b in range(4)
)

# MinHash-LSH candidate pipeline shared by the dedup_minhash_lsh and
# dedup_clusters oracles: shingle sets -> 16 md5 min-hashes -> 4-band
# bucket join -> candidate pairs with both shingle sets attached.
_MINHASH_CTES = f"""{_SH_CTE},
ex AS (SELECT doc_id, shingles, unnest(shingles) AS s FROM sh),
sig AS (
  SELECT doc_id, shingles,
         {_SIG_AGGS}
  FROM ex GROUP BY doc_id, shingles
),
bands AS (
{_BAND_SELECTS}
),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         any_value(a.shingles) AS sh_a, any_value(b.shingles) AS sh_b
  FROM bands a JOIN bands b USING (band, bval)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)"""

_SIMHASH_BANDS = "\n  UNION ALL\n".join(
    f"  SELECT doc_id, simhash, {b} AS band, "
    f"(simhash >> {b * 15}) & 32767 AS bval FROM sim"
    for b in range(4)
)

ORACLES.update(
    {
        "dedup_exact": """
SELECT min(doc_id) AS doc_id, CAST(count(*) AS BIGINT) AS n_copies
FROM documents GROUP BY md5(text)
""",
        "dedup_ngram_jaccard": f"""
WITH {_SH_CTE}
SELECT * FROM (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         {_JAC.format(a='a.shingles', b='b.shingles')} AS jaccard
  FROM sh a, sh b WHERE a.doc_id < b.doc_id
) WHERE jaccard >= 0.8
""",
        "dedup_minhash_lsh": f"""
WITH {_MINHASH_CTES}
SELECT * FROM (
  SELECT doc_a, doc_b,
         {_JAC.format(a='sh_a', b='sh_b')} AS jaccard
  FROM cand
) WHERE jaccard >= 0.8
""",
        "dedup_clusters": f"""
WITH RECURSIVE {_MINHASH_CTES},
pairs AS (
  SELECT doc_a, doc_b FROM (
    SELECT doc_a, doc_b,
           {_JAC.format(a='sh_a', b='sh_b')} AS jaccard
    FROM cand
  ) WHERE jaccard >= 0.8
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL
  SELECT doc_b AS a, doc_a AS b FROM pairs
),
reach(src, dst) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
)
SELECT src AS doc_id, min(dst) AS cluster_id
FROM reach GROUP BY src
""",
        "near_dup_dedup": f"""
WITH RECURSIVE {_MINHASH_CTES},
pairs AS (
  SELECT doc_a, doc_b FROM (
    SELECT doc_a, doc_b,
           {_JAC.format(a='sh_a', b='sh_b')} AS jaccard
    FROM cand
  ) WHERE jaccard >= 0.8
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL
  SELECT doc_b AS a, doc_a AS b FROM pairs
),
reach(src, dst) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
),
cc AS (
  SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src
)
SELECT cluster_id AS doc_id, CAST(count(*) AS BIGINT) AS cluster_size
FROM cc GROUP BY cluster_id
""",
        "dedup_simhash": f"""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct({_TOKS})) AS tok FROM documents
),
h AS (SELECT doc_id, {_md5i("'s7:' || tok")} AS h FROM toks),
bits AS (
  SELECT doc_id, g.j, sum(((h >> g.j) & 1) * 2 - 1) AS s
  FROM h, (SELECT unnest(generate_series(0, 59)) AS j) g
  GROUP BY doc_id, g.j
),
sim AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS simhash
  FROM bits GROUP BY doc_id
),
bands AS (
{_SIMHASH_BANDS}
),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         any_value(a.simhash) AS sim_a, any_value(b.simhash) AS sim_b
  FROM bands a JOIN bands b USING (band, bval)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, CAST(bit_count(xor(sim_a, sim_b)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= 3
""",
        "dedup_keep_best": """
WITH ranked AS (
  SELECT doc_id, n_chars AS quality, md5(text) AS h,
         row_number() OVER (PARTITION BY md5(text)
                            ORDER BY n_chars DESC, doc_id ASC) AS rn,
         count(*) OVER (PARTITION BY md5(text)) AS n_copies,
         max(n_chars) OVER (PARTITION BY md5(text)) AS best_q
  FROM documents
)
SELECT doc_id, CAST(best_q AS BIGINT) AS quality,
       CAST(n_copies AS BIGINT) AS n_copies
FROM ranked WHERE rn = 1
""",
        "stratified_sample": """
WITH s AS (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT ASC,
                    doc_id ASC
         ) AS rn,
         count(*) OVER (PARTITION BY lang) AS n
  FROM documents
)
SELECT doc_id, lang FROM s WHERE rn <= ceil(n * 0.2)
""",
        "dedup_embedding_cosine": """
SELECT * FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         ROUND(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                CAST(b.embedding AS DOUBLE[])), 6) AS cosine
  FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id
) WHERE cosine >= 0.45
""",
    }
)


_LEX_VALUES = ", ".join(
    f"('{lang}', '{w}')" for lang, w in textstats.LANG_LEXICON
)
_EN_STOP = ", ".join(
    f"'{w}'" for lang, w in textstats.LANG_LEXICON if lang == "en"
)

ORACLES.update(
    {
        "lang_id": f"""
WITH lex(lex_lang, word) AS (VALUES {_LEX_VALUES}),
toks AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
hits AS (
  SELECT doc_id, lex_lang, count(*) AS c
  FROM toks JOIN lex ON tok = word GROUP BY doc_id, lex_lang
),
best AS (
  SELECT doc_id, lex_lang, c FROM hits
  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, lex_lang ASC) = 1
)
SELECT d.doc_id,
       coalesce(b.lex_lang, 'und') AS pred_lang,
       CAST(coalesce(b.c, 0) AS BIGINT) AS n_hits
FROM documents d LEFT JOIN best b USING (doc_id)
""",
        "quality_score": f"""
WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
m AS (
  SELECT doc_id,
         len(text)::DOUBLE AS n_chars,
         len(toks)::DOUBLE AS n_toks,
         len(list_filter(toks, x -> list_contains([{_EN_STOP}], x)))::DOUBLE AS n_stop,
         len(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))::DOUBLE AS n_punct,
         list_sum(list_transform(toks, x -> len(x)))::DOUBLE / len(toks) AS mean_wl
  FROM t WHERE len(toks) > 0
)
SELECT doc_id, CAST(n_toks AS BIGINT) AS n_tokens,
       ROUND((least(n_chars / 500.0, 1.0)
            + least(n_stop / n_toks * 5.0, 1.0)
            + greatest(0.0, 1.0 - n_punct / n_chars * 10.0)
            + CASE WHEN mean_wl >= 3.0 AND mean_wl <= 8.0 THEN 1.0 ELSE 0.5 END
             ) / 4.0, 6) AS quality
FROM m
""",
        "token_count": f"""
SELECT doc_id,
       CAST(len({_TOKS}) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS bpe_tokens,
       CAST(len(list_distinct({_TOKS})) AS BIGINT) AS distinct_tokens
FROM documents
""",
        "doc_fingerprint": f"""
WITH g0 AS (
  SELECT doc_id, text,
         unnest(generate_series(1, greatest(len(text) - 7, 1))) AS pos
  FROM documents
),
grams AS (
  SELECT doc_id, pos, {_md5i("'s11:' || substr(text, pos, 8)")} AS h FROM g0
),
wmin AS (
  SELECT doc_id,
         min(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
  FROM grams
),
fps AS (SELECT DISTINCT doc_id, fp FROM wmin)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fingerprints,
       min(fp) AS min_fp, max(fp) AS max_fp
FROM fps GROUP BY doc_id
""",
        "chunk_fixed": """
WITH s AS (
  SELECT doc_id, text,
         unnest(generate_series(1, greatest(len(text), 1), 150)) AS start
  FROM documents
)
SELECT doc_id,
       CAST((start - 1) / 150 AS INT) AS chunk_id,
       CAST(start AS INT) AS start,
       substr(text, start, 200) AS chunk
FROM s
""",
        "tpch_q1": """
SELECT l_returnflag, l_linestatus,
       ROUND(sum(l_quantity), 2) AS sum_qty,
       ROUND(sum(l_extendedprice), 2) AS sum_base_price,
       ROUND(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       ROUND(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       ROUND(avg(l_quantity), 6) AS avg_qty,
       ROUND(avg(l_extendedprice), 6) AS avg_price,
       ROUND(avg(l_discount), 6) AS avg_disc,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
        "top_customers_by_nation": """
WITH rev AS (
  SELECT o_custkey, ROUND(sum(o_totalprice), 2) AS revenue
  FROM orders GROUP BY o_custkey
)
SELECT n.n_name, c.c_custkey, r.revenue,
       CAST(row_number() OVER (PARTITION BY n.n_name
                               ORDER BY r.revenue DESC, c.c_custkey ASC) AS INT) AS rk
FROM rev r
JOIN customer c ON r.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
QUALIFY rk <= 3
""",
        "part_revenue_share": """
WITH rev AS (
  SELECT p_brand,
         CAST(ROUND(sum(l_extendedprice * (1 - l_discount)), 2)
              AS DECIMAL(18,2)) AS rev_d
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_brand
)
SELECT p_brand, CAST(rev_d AS DOUBLE) AS revenue,
       ROUND(CAST(rev_d AS DOUBLE) / CAST(sum(rev_d) OVER () AS DOUBLE), 6) AS share
FROM rev
""",
        "shipping_priority": """
SELECT o.o_orderkey, o.o_orderdate, o.o_orderpriority,
       ROUND(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-06-30 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1998-06-30 00:00:00'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, o.o_orderkey ASC
LIMIT 10
""",
        "regional_supplier_volume": """
SELECT n.n_name,
       ROUND(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND s.s_nationkey = c.c_nationkey
  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n.n_name
ORDER BY revenue DESC, n.n_name ASC
""",
        "order_priority_check": """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_discount >= 0.08)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
        "events_range_join": """
WITH e AS (SELECT event_id, epoch_us(ts) AS ts_us, event_type FROM events),
l AS (SELECT * FROM e WHERE event_type = 'error'),
r AS (SELECT * FROM e WHERE event_type = 'click')
SELECT l.event_id,
       CAST(count(r.event_id) AS BIGINT) AS n_nearby
FROM l LEFT JOIN r ON abs(r.ts_us - l.ts_us) <= 60000000
GROUP BY l.event_id
""",
        "events_asof_join": """
WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type FROM events),
l AS (SELECT * FROM e WHERE event_type = 'purchase'),
r AS (SELECT * FROM e WHERE event_type = 'view')
SELECT l.event_id, l.user_id, l.ts_us,
       (SELECT r.event_id FROM r
        WHERE r.user_id = l.user_id AND r.ts_us <= l.ts_us
        ORDER BY r.ts_us DESC, r.event_id DESC LIMIT 1) AS matched_event_id
FROM l
""",
        "events_sessionize": """
WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
w AS (
  SELECT user_id,
         CASE WHEN ts_us - lag(ts_us) OVER (PARTITION BY user_id
                                            ORDER BY ts_us ASC, event_id ASC)
                   > 1800000000 THEN 1 ELSE 0 END AS new_session
  FROM e
)
SELECT user_id, CAST(sum(new_session) + 1 AS BIGINT) AS n_sessions,
       CAST(count(*) AS BIGINT) AS n_events
FROM w GROUP BY user_id
""",
        "events_tumbling": """
SELECT date_trunc('hour', ts) AS hour, event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       ROUND(sum(value), 2) AS sum_value,
       ROUND(avg(value), 6) AS avg_value
FROM events GROUP BY 1, 2
""",
    }
)


# BM25 + hybrid oracles: the sorted-fold sum (list_sort → list_sum)
# mirrors lexical.bm25_search's deterministic summation order.
_QT_VALUES = ", ".join(f"('{t}')" for t in sorted(RAG_QUERY.split()))

_BM25_CTES = f"""
toksb AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
dl AS (SELECT doc_id, count(*) AS dl FROM toksb GROUP BY 1),
stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
qt(term) AS (VALUES {_QT_VALUES}),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toksb JOIN qt USING (term) GROUP BY 1, 2),
dfx AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
contrib AS (
  SELECT t.doc_id, t.term,
         ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
         * (t.tf * 2.2)
         / (t.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / (s.sum_dl / s.n_docs))) AS c
  FROM tf t JOIN dfx d USING (term) JOIN dl l USING (doc_id), stats s
),
bm25 AS (
  SELECT doc_id,
         ROUND(list_sum(list_transform(
           list_sort(list(struct_pack(t := term, c := c))), s -> s.c)), 6) AS score
  FROM contrib GROUP BY doc_id
)"""

ORACLES["bm25_search"] = f"""
WITH {_BM25_CTES}
SELECT doc_id, score
FROM bm25 ORDER BY score DESC, doc_id ASC LIMIT 10
"""

_DENSE_CTES = f"""
db AS (
  SELECT doc_id,
         (('0x' || substr(md5('s0:' || tok), 1, 15))::BIGINT % 64) AS bucket,
         count(*)::BIGINT AS cnt
  FROM (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents)
  GROUP BY 1, 2
),
qb AS (
  SELECT (('0x' || substr(md5('s0:' || tok), 1, 15))::BIGINT % 64) AS bucket,
         count(*)::BIGINT AS qcnt
  FROM (SELECT unnest(list_filter(regexp_split_to_array(
          lower('{RAG_QUERY}'), '[^a-z0-9]+'), t -> t <> '')) AS tok)
  GROUP BY 1
),
qn AS (SELECT sum(qcnt * qcnt) AS qn2 FROM qb),
dn AS (SELECT doc_id, sum(cnt * cnt) AS dn2 FROM db GROUP BY 1),
dense AS (
  SELECT d.doc_id,
         ROUND(sum(cnt * qcnt) / (sqrt(dn.dn2::DOUBLE) * sqrt(qn.qn2::DOUBLE)), 6) AS score
  FROM db d JOIN qb USING (bucket) JOIN dn ON d.doc_id = dn.doc_id, qn
  GROUP BY d.doc_id, dn.dn2, qn.qn2
)"""

ORACLES["hybrid_search"] = f"""
WITH {_BM25_CTES},
{_DENSE_CTES.strip().lstrip()},
lex_rank AS (
  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank_lex
  FROM (SELECT * FROM bm25 ORDER BY score DESC, doc_id ASC LIMIT 20)
),
vec_rank AS (
  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank_vec
  FROM (SELECT * FROM dense ORDER BY score DESC, doc_id ASC LIMIT 20)
),
fused AS (
  SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
         ROUND(coalesce(1.0 / (60 + l.rank_lex), 0)
             + coalesce(1.0 / (60 + v.rank_vec), 0), 6) AS rrf_score
  FROM lex_rank l FULL OUTER JOIN vec_rank v USING (doc_id)
)
SELECT doc_id, rrf_score
FROM fused ORDER BY rrf_score DESC, doc_id ASC LIMIT 10
"""


# --- §2d round-2 oracles --------------------------------------------------

ORACLES.update(
    {
        "rolling_user_activity": """
WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, value FROM events)
SELECT event_id, user_id,
       CAST(count(*) OVER w AS BIGINT) AS roll_n,
       ROUND(avg(value) OVER w, 6) AS roll_avg
FROM e
WINDOW w AS (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
""",
        "events_hopping": """
WITH e AS (SELECT epoch_us(ts) AS ts_us, event_type, value FROM events),
x AS (
  SELECT unnest([ (ts_us // 1800000000) * 1800000000,
                  (ts_us // 1800000000 - 1) * 1800000000 ]) AS window_start_us,
         event_type, value
  FROM e
)
SELECT window_start_us, event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       ROUND(sum(value), 2) AS sum_value
FROM x GROUP BY 1, 2
""",
        "customers_without_orders": """
WITH ab AS (SELECT avg(c_acctbal) AS ab FROM customer WHERE c_acctbal > 0),
rich AS (
  SELECT c.* FROM customer c, ab
  WHERE c.c_acctbal > ab.ab
    AND NOT EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderdate >= TIMESTAMP '1997-06-01 00:00:00')
)
SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_customers,
       ROUND(sum(c_acctbal), 2) AS total_acctbal
FROM rich GROUP BY c_nationkey
""",
        "small_quantity_revenue": """
WITH pa AS (
  SELECT l_partkey, avg(l_quantity) * 0.5 AS half_avg_qty
  FROM lineitem GROUP BY 1
)
SELECT p_brand, CAST(count(*) AS BIGINT) AS n_items,
       ROUND(sum(l.l_extendedprice), 2) AS revenue
FROM lineitem l
JOIN pa ON l.l_partkey = pa.l_partkey
JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_quantity < pa.half_avg_qty
GROUP BY p_brand
""",
        "pricing_rollup": """
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INT) AS level,
       CAST(count(*) AS BIGINT) AS n_rows,
       ROUND(sum(l_quantity), 2) AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
        "minmax_scale_events": """
WITH st AS (
  SELECT event_type, min(value) AS vmin, max(value) AS vmax
  FROM events GROUP BY 1
)
SELECT e.event_id, e.event_type,
       CASE WHEN st.vmax = st.vmin THEN 0.0
            ELSE ROUND((e.value - st.vmin) / (st.vmax - st.vmin), 6) END AS scaled
FROM events e JOIN st USING (event_type)
""",
        "distinct_users_by_type": """
SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(count(*) AS BIGINT) AS n_events
FROM events GROUP BY 1
""",
        "json_props_rollup": """
SELECT CAST(props->>'$.k' AS INT) AS k,
       CAST(count(*) AS BIGINT) AS n_events,
       ROUND(avg(value), 6) AS avg_value
FROM events GROUP BY 1
""",
        "event_value_quantiles": """
SELECT event_type, unnest([1, 2, 3, 4]) AS pos,
       unnest([ROUND(quantile_cont(value, 0.25), 6),
               ROUND(quantile_cont(value, 0.5), 6),
               ROUND(quantile_cont(value, 0.75), 6),
               ROUND(quantile_cont(value, 0.9), 6)]) AS q
FROM events GROUP BY event_type
""",
        "tfidf_topk_terms": f"""
WITH toks AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
nd AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
scored AS (
  SELECT t.doc_id, t.term, t.tf,
         ROUND(t.tf * ln((nd.n_docs + 1.0) / (d.df + 1.0)), 6) AS tfidf
  FROM tf t JOIN dfx d USING (term), nd
)
SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, tfidf,
       CAST(row_number() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, term ASC) AS INT) AS rk
FROM scored
QUALIFY rk <= 5
""",
        "bigram_counts": f"""
WITH t AS (SELECT {_TOKS} AS toks FROM documents),
g AS (
  SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
                               i -> toks[i] || ' ' || toks[i+1])) AS bigram
  FROM t WHERE len(toks) >= 2
)
SELECT bigram, CAST(count(*) AS BIGINT) AS cnt
FROM g GROUP BY bigram
ORDER BY cnt DESC, bigram ASC
LIMIT 50
""",
        "doc_length_histogram": """
SELECT CAST(least(len(text) // 50, 19) AS INT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(len(text)) AS BIGINT) AS min_chars,
       CAST(max(len(text)) AS BIGINT) AS max_chars
FROM documents GROUP BY 1
""",
        "hash_split": f"""
SELECT doc_id,
       CASE WHEN ({_md5i("'s31:' || doc_id::VARCHAR")} % 1000) < 800 THEN 'train'
            WHEN ({_md5i("'s31:' || doc_id::VARCHAR")} % 1000) < 900 THEN 'val'
            ELSE 'test' END AS split
FROM documents
""",
        "session_stats": """
WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, value FROM events),
w AS (
  SELECT user_id, event_id, ts_us, value,
         CASE WHEN ts_us - lag(ts_us) OVER (PARTITION BY user_id
                                            ORDER BY ts_us ASC, event_id ASC)
                   > 1800000000 THEN 1 ELSE 0 END AS new_session
  FROM e
),
n AS (
  SELECT user_id, ts_us, value,
         sum(new_session) OVER (PARTITION BY user_id
                                ORDER BY ts_us ASC, event_id ASC
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS session_id
  FROM w
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       min(ts_us) AS start_us, max(ts_us) AS end_us,
       CAST(count(*) AS BIGINT) AS n_events,
       ROUND(sum(value), 2) AS sum_value
FROM n GROUP BY user_id, session_id
""",
        "label_centroids": """
WITH comps AS (
  SELECT label,
         unnest(generate_series(1, len(embedding))) AS pos,
         unnest(CAST(embedding AS DOUBLE[])) AS val
  FROM embeddings
)
SELECT label, CAST(pos AS INT) AS pos,
       ROUND(list_sum(list_sort(list(val))) / count(*), 6) AS centroid
FROM comps GROUP BY label, pos
""",
    }
)


# Sequential-fold oracles: chunk_documents_greedy and pack_sequences
# are deterministic per-doc / per-shard folds, so they ARE SQL-
# expressible — as recursive CTEs that carry the fold state (current
# chunk text / open-bin capacity list) one step per recursion level.
# Validated against the Python chunker on structured synthetic texts
# (paragraph packing, overlap carry, sentence splits) in
# tests/test_chunking.py, not just on the corpus-exercised path.

ORACLES["chunk_documents_greedy"] = r"""
WITH RECURSIVE
pl AS (
  SELECT doc_id,
         list_filter(list_transform(string_split(text, chr(10)||chr(10)), s -> trim(s)),
                     s -> s <> '') AS plist
  FROM documents WHERE trim(text) <> ''
),
paras AS (
  SELECT doc_id, unnest(plist) AS para,
         unnest(generate_series(1, len(plist))) AS i, len(plist) AS np
  FROM pl
),
f1(doc_id, i, np, cur, emitted) AS (
  SELECT doc_id, 0::BIGINT, len(plist), '', []::VARCHAR[] FROM pl
  UNION ALL
  SELECT doc_id, i, np,
         CASE WHEN cur <> '' AND len(nxt) > 250 AND len(cur) >= 100
              THEN right(cur, 20) || chr(10)||chr(10) || para
              ELSE nxt END,
         CASE WHEN cur <> '' AND len(nxt) > 250 AND len(cur) >= 100
              THEN list_append(emitted, cur) ELSE emitted END
  FROM (
    SELECT f.doc_id AS doc_id, p.i AS i, f.np AS np, f.cur AS cur,
           f.emitted AS emitted, p.para AS para,
           CASE WHEN f.cur = '' THEN p.para
                ELSE f.cur || chr(10)||chr(10) || p.para END AS nxt
    FROM f1 f JOIN paras p ON p.doc_id = f.doc_id AND p.i = f.i + 1
    WHERE f.i < f.np
  )
),
chunks1 AS (
  SELECT doc_id,
         CASE WHEN trim(cur) <> ''
              THEN CASE WHEN len(cur) < 100 AND len(emitted) > 0
                        THEN list_append(emitted[1:len(emitted)-1],
                                         emitted[len(emitted)] || chr(10)||chr(10) || cur)
                        ELSE list_append(emitted, cur) END
              ELSE emitted END AS chunks
  FROM f1 WHERE i = np
),
c1 AS (
  SELECT doc_id, unnest(chunks) AS ch,
         unnest(generate_series(1, len(chunks))) AS o1
  FROM chunks1
),
sents AS (
  SELECT doc_id, o1,
         list_filter(list_transform(regexp_split_to_array(ch, '[.!?]+\s+'), s -> trim(s)),
                     s -> s <> '') AS slist
  FROM c1 WHERE len(ch) > 250
),
sitems AS (
  SELECT doc_id, o1, unnest(slist) AS sent,
         unnest(generate_series(1, len(slist))) AS si, len(slist) AS ns
  FROM sents
),
f2(doc_id, o1, si, ns, sub, emitted) AS (
  SELECT doc_id, o1, 0::BIGINT, len(slist), '', []::VARCHAR[] FROM sents
  UNION ALL
  SELECT doc_id, o1, si, ns,
         CASE WHEN sub <> '' AND len(cand) > 250 AND len(sub) >= 100
              THEN sent ELSE cand END,
         CASE WHEN sub <> '' AND len(cand) > 250 AND len(sub) >= 100
              THEN list_append(emitted, sub) ELSE emitted END
  FROM (
    SELECT f.doc_id AS doc_id, f.o1 AS o1, s.si AS si, f.ns AS ns,
           f.sub AS sub, f.emitted AS emitted, s.sent AS sent,
           CASE WHEN f.sub = '' THEN s.sent ELSE f.sub || ' ' || s.sent END AS cand
    FROM f2 f JOIN sitems s ON s.doc_id = f.doc_id AND s.o1 = f.o1 AND s.si = f.si + 1
    WHERE f.si < f.ns
  )
),
c2over AS (
  SELECT doc_id, o1,
         CASE WHEN trim(sub) <> '' THEN list_append(emitted, sub) ELSE emitted END AS subchunks
  FROM f2 WHERE si = ns
),
expanded AS (
  SELECT doc_id, o1, 0 AS o2, ch FROM c1 WHERE len(ch) <= 250
  UNION ALL
  SELECT doc_id, o1, unnest(generate_series(1, len(subchunks))) AS o2,
         unnest(subchunks) AS ch
  FROM c2over
)
SELECT doc_id,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY o1, o2) - 1 AS INT) AS chunk_id,
       CAST(coalesce(sum(len(ch)) OVER (PARTITION BY doc_id ORDER BY o1, o2
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INT) AS start,
       ch AS chunk
FROM expanded
"""

ORACLES["pack_sequences"] = f"""
WITH RECURSIVE
t AS (
  SELECT doc_id, len({_TOKS})::BIGINT AS n,
         ({_md5i("'s21:' || doc_id::VARCHAR")} % 8) AS shard
  FROM documents
),
items AS (
  SELECT shard, doc_id, n,
         row_number() OVER (PARTITION BY shard ORDER BY n DESC, doc_id ASC) AS rn,
         count(*) OVER (PARTITION BY shard) AS cnt
  FROM t
),
fold(shard, rn, cnt, rems, assign) AS (
  SELECT shard, 0::BIGINT, cnt, []::BIGINT[], []::INT[]
  FROM (SELECT DISTINCT shard, cnt FROM items)
  UNION ALL
  SELECT shard, rn, cnt,
         CASE WHEN fit IS NULL OR fit = 0
              THEN list_append(rems, greatest(256 - n, 0))
              ELSE list_transform(generate_series(1, len(rems)),
                                  j -> CASE WHEN j = fit THEN rems[j] - n ELSE rems[j] END)
         END AS rems,
         list_append(assign, (CASE WHEN fit IS NULL OR fit = 0
                                   THEN len(rems) + 1 ELSE fit END)::INT) AS assign
  FROM (
    SELECT f.shard AS shard, f.rn + 1 AS rn, f.cnt AS cnt, f.rems AS rems,
           f.assign AS assign, i.n AS n,
           list_position(list_transform(f.rems, r -> r >= i.n), true) AS fit
    FROM fold f JOIN items i ON i.shard = f.shard AND i.rn = f.rn + 1
    WHERE f.rn < f.cnt
  )
),
assigned AS (
  SELECT shard,
         unnest(assign) AS bin_idx,
         unnest(generate_series(1, len(assign))) AS rn
  FROM fold WHERE rn = cnt
)
SELECT (a.shard << 40) + (a.bin_idx - 1) AS bin_id,
       CAST(sum(i.n) AS BIGINT) AS total_tokens,
       CAST(count(*) AS INT) AS n_docs
FROM assigned a JOIN items i ON i.shard = a.shard AND i.rn = a.rn
GROUP BY 1
"""

ORACLES.update(
    {
        "pricing_cube": """
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INT) AS level,
       CAST(count(*) AS BIGINT) AS n_rows,
       ROUND(sum(l_quantity), 2) AS sum_qty,
       ROUND(avg(l_extendedprice), 6) AS avg_price
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""",
        "nation_trade_volume": """
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(EXTRACT(year FROM l.l_shipdate) AS INT) AS ship_year,
       CAST(count(*) AS BIGINT) AS n_items,
       ROUND(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation sn ON s.s_nationkey = sn.n_nationkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation cn ON c.c_nationkey = cn.n_nationkey
WHERE sn.n_name IN ('NATION_1', 'NATION_2')
  AND cn.n_name IN ('NATION_1', 'NATION_2')
  AND sn.n_name <> cn.n_name
GROUP BY 1, 2, 3
""",
        "disjunctive_revenue": """
SELECT p.p_brand,
       CAST(count(*) AS BIGINT) AS n_items,
       ROUND(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_brand = 'Brand#1'
       AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 1 AND 20)
   OR (p.p_brand = 'Brand#12'
       AND p.p_size BETWEEN 10 AND 30 AND l.l_quantity BETWEEN 5 AND 30)
   OR (p.p_brand = 'Brand#23'
       AND p.p_size BETWEEN 20 AND 50 AND l.l_quantity BETWEEN 10 AND 40)
GROUP BY 1
""",
        "events_gap_fill": """
WITH hourly AS (
  SELECT user_id, epoch_ns(ts) // 3600000000000 AS bucket,
         ROUND(avg(value), 6) AS v
  FROM events GROUP BY 1, 2
),
bounds AS (
  SELECT user_id, min(bucket) AS lo, max(bucket) AS hi FROM hourly GROUP BY 1
),
spine AS (
  SELECT user_id, unnest(generate_series(lo, hi)) AS bucket FROM bounds
)
SELECT s.user_id,
       make_timestamp(s.bucket * 3600000000) AS hour_ts,
       last_value(h.v IGNORE NULLS) OVER (
         PARTITION BY s.user_id ORDER BY s.bucket
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_filled,
       h.v IS NOT NULL AS is_observed
FROM spine s LEFT JOIN hourly h USING (user_id, bucket)
""",
    }
)

# identical output contract to the flat scan: the hash gate proves
# the two-stage PQ path is lossless on this corpus
ORACLES["pq_rerank_search"] = _oracle_topk_ip(0, 10)
# OPQ rerank is lossless the same way (rotation never touches scores)
ORACLES["opq_rerank_search"] = _oracle_topk_ip(0, 10)

from faiss_vector_search_spark.functions.hashing import (  # noqa: E402
    md5_int_sql,
)
from faiss_vector_search_spark.operators.textstats import (  # noqa: E402
    PII_EMAIL,
    PII_PHONE,
    PII_SSN,
)

ORACLES["decontaminate"] = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
grams AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           generate_series(1, len(toks) - 7),
           i -> array_to_string(toks[i:i+7], ' ')))) AS g
  FROM t WHERE len(toks) >= 8
),
hg AS (SELECT doc_id, {md5_int_sql("g", seed=17)} AS gh FROM grams),
bench AS (SELECT DISTINCT doc_id AS b_id, gh FROM hg WHERE doc_id % 50 = 0)
SELECT c.doc_id,
       CAST(count(DISTINCT c.gh) AS BIGINT) AS n_shared_grams,
       CAST(count(DISTINCT b.b_id) AS BIGINT) AS n_benchmark_docs
FROM hg c JOIN bench b ON c.gh = b.gh
GROUP BY 1
"""

ORACLES["contamination_report"] = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
grams AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           generate_series(1, len(toks) - 7),
           i -> array_to_string(toks[i:i+7], ' ')))) AS g
  FROM t WHERE len(toks) >= 8
),
hg AS (SELECT doc_id, {md5_int_sql("g", seed=17)} AS gh FROM grams),
bench AS (SELECT DISTINCT doc_id AS b_id, gh FROM hg WHERE doc_id % 50 = 0),
corp AS (SELECT doc_id AS c_id, gh FROM hg WHERE doc_id % 50 <> 0),
pp AS (
  SELECT b.b_id, c.c_id, count(*) AS shared
  FROM corp c JOIN bench b ON c.gh = b.gh
  GROUP BY 1, 2
)
SELECT b_id AS bench_id,
       count(*)::BIGINT AS n_corpus_docs,
       sum(shared)::BIGINT AS n_leak_pairs,
       max(shared)::BIGINT AS max_shared_grams
FROM pp GROUP BY 1
"""

ORACLES["repetition_score"] = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
b AS (
  SELECT doc_id, toks, len(toks)::DOUBLE AS n,
         list_transform(generate_series(1, len(toks) - 2),
                        i -> array_to_string(toks[i:i+2], ' ')) AS g3
  FROM t WHERE len(toks) >= 3
)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       ROUND(len(list_distinct(toks)) / n, 6) AS distinct_ratio,
       ROUND(list_max(list_transform(list_distinct(toks),
               d -> len(list_filter(toks, x -> x = d))))::DOUBLE / n,
             6) AS top_token_ratio,
       ROUND(1.0 - len(list_distinct(g3)) / len(g3)::DOUBLE, 6)
         AS rep_3gram_ratio
FROM b
"""

ORACLES["redact_pii"] = f"""
WITH s AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '{PII_SSN}')) AS BIGINT) AS n_ssn,
         regexp_replace(text, '{PII_SSN}', '<ID>', 'g') AS t1
  FROM documents
),
e AS (
  SELECT doc_id, n_ssn,
         CAST(len(regexp_extract_all(t1, '{PII_EMAIL}')) AS BIGINT) AS n_emails,
         regexp_replace(t1, '{PII_EMAIL}', '<EMAIL>', 'g') AS t2
  FROM s
)
SELECT doc_id, n_ssn, n_emails,
       CAST(len(regexp_extract_all(t2, '{PII_PHONE}')) AS BIGINT) AS n_phones,
       regexp_replace(t2, '{PII_PHONE}', '<PHONE>', 'g') AS clean_text
FROM e
"""

ORACLES.update(
    {
        "promo_profit_by_nation": """
SELECT n.n_name AS nation,
       CAST(EXTRACT(year FROM l.l_shipdate) AS INT) AS ship_year,
       CAST(count(*) AS BIGINT) AS n_items,
       ROUND(sum(l.l_extendedprice * (1 - l.l_discount)
                 - 0.8 * p.p_retailprice * l.l_quantity), 2) AS margin
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey AND p.p_type = 'PROMO'
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
GROUP BY 1, 2
""",
        "events_grouping_sets": """
WITH base AS (
  SELECT event_type, date_trunc('hour', ts) AS hour, value FROM events
)
SELECT event_type, hour,
       CAST(GROUPING(event_type) * 2 + GROUPING(hour) AS INT) AS level,
       CAST(count(*) AS BIGINT) AS n_events,
       ROUND(sum(value), 2) AS sum_value
FROM base
GROUP BY GROUPING SETS ((event_type, hour), (event_type), (hour))
""",
    }
)

ORACLES["doc_quality_deciles"] = f"""
WITH qs AS ({ORACLES["quality_score"]}),
t AS (
  SELECT doc_id, quality,
         ntile(10) OVER (ORDER BY quality ASC, doc_id ASC) AS decile
  FROM qs
)
SELECT CAST(decile AS INT) AS decile,
       CAST(count(*) AS BIGINT) AS n_docs,
       ROUND(min(quality), 6) AS min_q,
       ROUND(max(quality), 6) AS max_q,
       ROUND(avg(quality), 6) AS avg_q
FROM t GROUP BY decile
"""

ORACLES.update(
    {
        "customer_order_distribution": """
WITH per_cust AS (
  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
  FROM customer c LEFT JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '5-LOW'
  GROUP BY 1
)
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM per_cust GROUP BY 1
""",
        "promo_revenue_share": """
SELECT ROUND(100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                              THEN l.l_extendedprice * (1 - l.l_discount)
                              ELSE 0.0 END)
             / sum(l.l_extendedprice * (1 - l.l_discount)), 6) AS promo_share,
       ROUND(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS total_revenue
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
  AND l.l_shipdate <  TIMESTAMP '1997-04-01'
""",
        "top_supplier_revenue": """
WITH rev AS (
  SELECT l_suppkey,
         ROUND(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate <  TIMESTAMP '1997-04-01'
  GROUP BY 1
)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM rev r JOIN supplier s ON r.l_suppkey = s.s_suppkey
WHERE r.total_revenue = (SELECT max(total_revenue) FROM rev)
""",
        "sole_returned_supplier": """
WITH pairs AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
ret AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
        WHERE l_returnflag = 'R'),
sole AS (
  SELECT r.* FROM ret r
  WHERE EXISTS (SELECT 1 FROM pairs p
                WHERE p.l_orderkey = r.l_orderkey
                  AND p.l_suppkey <> r.l_suppkey)
    AND NOT EXISTS (SELECT 1 FROM ret r2
                    WHERE r2.l_orderkey = r.l_orderkey
                      AND r2.l_suppkey <> r.l_suppkey)
)
SELECT s.s_suppkey, s.s_name, CAST(count(*) AS BIGINT) AS numwait
FROM sole j JOIN supplier s ON j.l_suppkey = s.s_suppkey
GROUP BY 1, 2
""",
    }
)

# line grouping uses the raw line string where Spark groups its
# md5-derived 63-bit hash: identical output absent a hash collision
# (none at this corpus; the hash exists only to keep the frequency
# shuffle text-free at scale)
ORACLES["line_dedup"] = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
b AS (SELECT doc_id, toks,
             CAST(ceil(len(toks) / 10.0) AS INT) AS n_lines FROM t),
lines AS (
  SELECT doc_id, n_lines, i AS pos,
         array_to_string(toks[i*10+1:i*10+10], ' ') AS line
  FROM b, unnest(range(CAST(n_lines AS BIGINT))) AS u(i)
),
drop_set AS (
  SELECT line FROM lines GROUP BY line HAVING count(DISTINCT doc_id) > 1
),
kept AS (
  SELECT * FROM lines WHERE line NOT IN (SELECT line FROM drop_set)
),
clean AS (
  SELECT doc_id, string_agg(line, ' ' ORDER BY pos) AS clean_text,
         CAST(count(*) AS BIGINT) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT b.doc_id,
       COALESCE(c.clean_text, '') AS clean_text,
       CAST(b.n_lines AS BIGINT) AS n_lines,
       COALESCE(c.n_kept, 0) AS n_kept,
       CAST(b.n_lines - COALESCE(c.n_kept, 0) AS BIGINT) AS n_dropped
FROM b LEFT JOIN clean c USING (doc_id)
"""

ORACLES.update(
    {
        "returned_item_report": """
SELECT * FROM (
  SELECT c.c_custkey, c.c_name, n.n_name, c.c_acctbal,
         ROUND(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  WHERE l.l_returnflag = 'R'
    AND o.o_orderdate >= TIMESTAMP '1997-01-01'
    AND o.o_orderdate <  TIMESTAMP '1997-04-01'
  GROUP BY 1, 2, 3, 4
) ORDER BY revenue DESC, c_custkey ASC LIMIT 20
""",
        "supplier_count_by_part": """
WITH bad AS (
  SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
),
pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
SELECT p.p_brand, p.p_type, p.p_size,
       CAST(count(DISTINCT pr.l_suppkey) AS BIGINT) AS supplier_cnt
FROM pairs pr
JOIN part p ON pr.l_partkey = p.p_partkey
WHERE p.p_size IN (1, 4, 7)
  AND pr.l_suppkey NOT IN (SELECT s_suppkey FROM bad)
GROUP BY 1, 2, 3
""",
    }
)

ORACLES["sq_search"] = """
WITH b AS (
  SELECT i AS pos,
         min(CAST(embedding[i] AS DOUBLE)) AS vmin,
         max(CAST(embedding[i] AS DOUBLE)) AS vmax
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS u(i)
  GROUP BY 1
),
ba AS (
  SELECT list(vmin ORDER BY pos) AS mn, list(vmax ORDER BY pos) AS mx FROM b
),
q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
),
codes AS (
  SELECT vec_id,
         list_transform(generate_series(1, len(embedding)), i ->
           CASE WHEN mx[i] - mn[i] > 0
                THEN least(255, CAST(floor(
                       (CAST(embedding[i] AS DOUBLE) - mn[i]) * 256.0
                       / (mx[i] - mn[i])) AS BIGINT))
                ELSE 0 END) AS c
  FROM embeddings, ba
),
dec AS (
  SELECT vec_id,
         list_transform(generate_series(1, len(c)), i ->
           mn[i] + (c[i] + 0.5) * (mx[i] - mn[i]) / 256.0) AS d
  FROM codes, ba
)
SELECT vec_id, ROUND(list_dot_product(d, qv), 6) AS score
FROM dec, q
ORDER BY score DESC, vec_id ASC LIMIT 10
"""

ORACLES["domain_mix_sample"] = f"""
WITH w(domain, wt) AS (
  VALUES ('src0', 400), ('src1', 300), ('src2', 200), ('src3', 100)
),
d AS (
  SELECT doc_id, source, CAST(wt AS BIGINT) AS wt
  FROM documents JOIN w ON source = w.domain
),
c AS (SELECT source, wt, count(*) AS n_d FROM d GROUP BY 1, 2),
no AS (SELECT min(n_d * 1000 // wt) AS n_out FROM c),
q AS (SELECT source, (SELECT n_out FROM no) * wt // 1000 AS quota FROM c),
r AS (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY {md5_int_sql("CAST(doc_id AS VARCHAR)")} ASC, doc_id ASC
         ) AS rn
  FROM d
)
SELECT r.doc_id, r.source FROM r JOIN q USING (source) WHERE rn <= q.quota
"""


# --- §2e round-3 oracles --------------------------------------------------

ORACLES.update(
    {
        "range_search": """
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id,
         ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS score
  FROM embeddings e, q
)
SELECT vec_id, score FROM scored WHERE score >= 0.2
""",
        "vector_reconstruct": """
WITH s AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id IN (5, 6, 7)
)
SELECT vec_id,
       CAST(unnest(generate_series(1, len(v))) AS INT) AS pos,
       ROUND(unnest(v), 6) AS component
FROM s
""",
        "remove_vectors": """
SELECT CAST(count(*) AS BIGINT) AS num_documents,
       CAST(max(len(embedding)) AS INT) AS dimension,
       ROUND(avg(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                       CAST(embedding AS DOUBLE[])))), 6)
           AS avg_norm,
       CAST(count(DISTINCT vec_id) AS BIGINT) AS distinct_ids
FROM embeddings
WHERE vec_id % 7 <> 0
""",
        "tpch_q6": """
SELECT CAST(ROUND(sum(CAST(l_extendedprice * l_discount AS DECIMAL(25,8))), 2)
            AS DOUBLE) AS revenue_delta,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
""",
        "large_volume_customers": """
WITH big AS (
  SELECT l_orderkey, ROUND(sum(l_quantity), 2) AS total_qty
  FROM lineitem GROUP BY 1
  HAVING ROUND(sum(l_quantity), 2) > 300
)
SELECT c.c_custkey, c.c_name, o.o_orderkey,
       o.o_totalprice AS totalprice, b.total_qty
FROM orders o
JOIN big b ON o.o_orderkey = b.l_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
ORDER BY totalprice DESC, o.o_orderkey ASC
LIMIT 100
""",
        "nation_market_share": """
WITH rnat AS (
  SELECT n_nationkey, n_name FROM nation
  JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'ASIA'
),
tgt AS (SELECT min(n_name) AS target_nation FROM rnat),
cust AS (
  SELECT c_custkey FROM customer JOIN rnat ON c_nationkey = n_nationkey
),
supp AS (
  SELECT s_suppkey, n.n_name AS supp_nation
  FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
),
per_nation AS (
  SELECT year(o.o_orderdate) AS o_year, sp.supp_nation, t.target_nation,
         CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                       AS DECIMAL(25,8)))
              AS DECIMAL(30,8)) AS rev_d
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN cust c ON o.o_custkey = c.c_custkey
  JOIN supp sp ON l.l_suppkey = sp.s_suppkey
  CROSS JOIN tgt t
  GROUP BY 1, 2, 3
)
SELECT CAST(o_year AS INT) AS o_year,
       ROUND(CAST(sum(CASE WHEN supp_nation = target_nation
                           THEN rev_d ELSE 0 END) AS DOUBLE)
             / CAST(sum(rev_d) AS DOUBLE), 6) AS mkt_share,
       CAST(sum(rev_d) AS DOUBLE) AS total_revenue
FROM per_nation GROUP BY o_year ORDER BY o_year
""",
        "binary_hamming_search": """
WITH b AS (
  SELECT vec_id,
         list_transform(
           generate_series(0, CAST(ceil(len(embedding) / 32.0) AS INT) - 1),
           w -> list_reduce(
                  list_prepend(0::BIGINT,
                    list_transform(embedding[32*w+1 : 32*w+32],
                      x -> CASE WHEN x > 0 THEN 1::BIGINT
                           ELSE 0::BIGINT END)),
                  (acc, x) -> acc * 2 + x)
         ) AS code
  FROM embeddings
),
q AS (SELECT code AS qc FROM b WHERE vec_id = 0)
SELECT b.vec_id,
       CAST(list_sum(list_transform(generate_series(1, len(b.code)), i ->
              bit_count(xor(b.code[i], q.qc[i])))) AS BIGINT) AS hamming
FROM b, q
ORDER BY hamming ASC, b.vec_id ASC
LIMIT 10
""",
        "char_entropy": """
WITH cs AS (
  SELECT doc_id,
         list_sort(list_filter(regexp_split_to_array(lower(text), ''),
                               c -> c <> '')) AS cs
  FROM documents
),
runs AS (
  SELECT doc_id, len(cs) AS n,
         list_filter(generate_series(1, len(cs)),
                     i -> i = len(cs) OR cs[i + 1] <> cs[i]) AS ends
  FROM cs WHERE len(cs) > 0
),
lens AS (
  SELECT doc_id, n,
         list_transform(generate_series(1, len(ends)), j ->
           CAST(ends[j] - CASE WHEN j = 1 THEN 0 ELSE ends[j - 1] END
                AS DOUBLE)) AS lens
  FROM runs
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_chars,
       ROUND(-list_sum(list_transform(lens,
               c -> (c / n) * log2(c / n))), 6) AS entropy_bits
FROM lens
""",
        "bloom_semi_join": """
SELECT l.l_returnflag,
       CAST(count(*) AS BIGINT) AS n_lines,
       ROUND(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM lineitem l
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_orderkey = l.l_orderkey
                AND o.o_orderpriority = '1-URGENT')
GROUP BY l.l_returnflag
""",
        "session_window_agg": """
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us, value FROM events
),
w AS (
  SELECT user_id, event_id, ts_us, value,
         CASE WHEN ts_us - lag(ts_us) OVER (PARTITION BY user_id
                                            ORDER BY ts_us ASC, event_id ASC)
                   >= 1800000000 THEN 1 ELSE 0 END AS new_s
  FROM e
),
n AS (
  SELECT user_id, ts_us, value,
         sum(new_s) OVER (PARTITION BY user_id
                          ORDER BY ts_us ASC, event_id ASC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS sid
  FROM w
)
SELECT user_id,
       min(ts_us) AS start_us,
       max(ts_us) + 1800000000 AS end_us,
       CAST(count(*) AS BIGINT) AS n_events,
       ROUND(sum(value), 2) AS sum_value
FROM n GROUP BY user_id, sid
""",
    }
)


ORACLES["knn_filtered_search"] = """
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 1),
scored AS (
  SELECT e.vec_id,
         ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS score
  FROM embeddings e, q WHERE e.label = 3
)
SELECT vec_id, score FROM scored
ORDER BY score DESC, vec_id ASC
LIMIT 10
"""

ORACLES["curation_pipeline"] = f"""
WITH qs AS ({ORACLES["quality_score"]}),
reps AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
tok AS (SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS ws_tokens
        FROM documents)
SELECT d.doc_id, d.source, q.quality, t.ws_tokens
FROM documents d
JOIN qs q USING (doc_id)
JOIN reps USING (doc_id)
JOIN tok t USING (doc_id)
WHERE d.lang = 'en' AND q.quality >= 0.75
"""


# --- §2e round-3 second-wave oracles ---------------------------------------

ORACLES.update(
    {
        "min_cost_supplier": """
WITH rsup AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'ASIA'
),
costs AS (
  SELECT l_partkey, l_suppkey, min(l_extendedprice / l_quantity) AS cost
  FROM lineitem JOIN rsup ON l_suppkey = s_suppkey
  GROUP BY 1, 2
),
best AS (
  SELECT *, min(cost) OVER (PARTITION BY l_partkey) AS min_cost FROM costs
)
SELECT s.s_acctbal, s.s_name, s.n_name, p.p_partkey, p.p_brand,
       ROUND(b.cost, 6) AS cost
FROM best b
JOIN part p ON b.l_partkey = p.p_partkey AND p.p_size IN (1, 4, 7)
JOIN rsup s ON b.l_suppkey = s.s_suppkey
WHERE b.cost = b.min_cost
ORDER BY s_acctbal DESC, n_name ASC, s_name ASC, p_partkey ASC
LIMIT 100
""",
        "important_parts": """
WITH nsup AS (
  SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_0'
),
per_part AS (
  SELECT l_partkey,
         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,8)))
             AS value_d
  FROM lineitem JOIN nsup ON l_suppkey = s_suppkey
  GROUP BY 1
),
total AS (SELECT CAST(sum(value_d) AS DECIMAL(38,8)) AS total_d FROM per_part)
SELECT l_partkey, CAST(ROUND(value_d, 2) AS DOUBLE) AS value
FROM per_part, total
WHERE CAST(value_d AS DOUBLE) > CAST(total_d AS DOUBLE) * 0.001
ORDER BY value DESC, l_partkey ASC
LIMIT 100
""",
        "ship_delay_priority": """
SELECT CASE WHEN date_diff('day', o_orderdate, l_shipdate) <= 30 THEN 'FAST'
            WHEN date_diff('day', o_orderdate, l_shipdate) <= 90 THEN 'MEDIUM'
            ELSE 'SLOW' END AS ship_bucket,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY 1
ORDER BY 1
""",
        "excess_parts": """
WITH pair AS (
  SELECT l_partkey, l_suppkey,
         sum(CAST(l_quantity AS DECIMAL(20,2))) AS pair_qty
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE '%widget%'
    AND l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate < TIMESTAMP '1998-01-01'
  GROUP BY 1, 2
),
ex AS (
  SELECT * FROM (
    SELECT *, sum(pair_qty) OVER (PARTITION BY l_partkey) AS part_qty
    FROM pair
  ) WHERE CAST(pair_qty AS DOUBLE) > CAST(part_qty AS DOUBLE) * 0.3
)
SELECT s_name, s_acctbal,
       CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_excess,
       CAST(ROUND(sum(pair_qty), 2) AS DOUBLE) AS excess_qty
FROM ex JOIN supplier ON l_suppkey = s_suppkey
GROUP BY 1, 2
ORDER BY s_name ASC
""",
        "semdedup": f"""
WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cents AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cvec
  FROM (SELECT * FROM base ORDER BY vec_id LIMIT 16)
),
assigned AS (
  -- normalize once per vector (x / sqrt(<v,v>) per component),
  -- mirroring the Spark operator's pre-normalized pair dot exactly
  SELECT b.vec_id,
         list_transform(b.v, x -> x / sqrt(list_dot_product(b.v, b.v))) AS vn,
         (SELECT c.cid FROM cents c
          ORDER BY {_l2sq_sql('b.v', 'c.cvec')} ASC, c.cid ASC LIMIT 1) AS cid
  FROM base b
),
dup AS (
  SELECT DISTINCT a.vec_id
  FROM assigned a JOIN assigned b ON a.cid = b.cid AND b.vec_id < a.vec_id
  WHERE ROUND(list_dot_product(a.vn, b.vn), 6) >= 0.4
)
SELECT s.vec_id, s.cid AS list_id
FROM assigned s
WHERE s.vec_id NOT IN (SELECT vec_id FROM dup)
""",
        "gopher_quality": f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks, string_split(text, chr(10)) AS lines
  FROM documents
),
m AS (
  SELECT doc_id,
         len(toks) AS n_words,
         CAST(list_sum(list_transform(toks, w -> len(w))) AS DOUBLE)
             / len(toks) AS mean_wl,
         len(list_filter(toks, w -> w IN
             ('the', 'be', 'to', 'of', 'and', 'that', 'have', 'with')))
             AS stop_hits,
         CAST(len(list_filter(toks, w -> regexp_matches(w, '[a-z]')))
              AS DOUBLE) / len(toks) AS alpha_ratio,
         CAST(len(list_filter(lines, ln ->
              ln LIKE '- %' OR ln LIKE '* %' OR ln LIKE '•%'))
              AS DOUBLE) / len(lines) AS bullet_ratio,
         CAST(len(list_filter(lines, ln -> ln LIKE '%...')) AS DOUBLE)
             / len(lines) AS ellipsis_ratio
  FROM t
)
SELECT doc_id,
       COALESCE(n_words >= 20 AND n_words <= 100000, false) AS ok_words,
       COALESCE(mean_wl >= 3.0 AND mean_wl <= 10.0, false) AS ok_word_len,
       COALESCE(bullet_ratio <= 0.9, false) AS ok_bullets,
       COALESCE(ellipsis_ratio <= 0.3, false) AS ok_ellipsis,
       COALESCE(alpha_ratio >= 0.8, false) AS ok_alpha,
       COALESCE(stop_hits >= 2, false) AS ok_stop,
       COALESCE(n_words >= 20 AND n_words <= 100000
        AND mean_wl >= 3.0 AND mean_wl <= 10.0
        AND bullet_ratio <= 0.9 AND ellipsis_ratio <= 0.3
        AND alpha_ratio >= 0.8 AND stop_hits >= 2, false) AS keep
FROM m
""",
        "merge_indexes": """
SELECT CAST(count(*) AS BIGINT) AS num_documents,
       CAST(max(len(embedding)) AS INT) AS dimension,
       ROUND(avg(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                       CAST(embedding AS DOUBLE[])))), 6)
           AS avg_norm,
       CAST(count(DISTINCT vec_id) AS BIGINT) AS distinct_ids
FROM embeddings
""",
        "binary_rerank_search": """
WITH b AS (
  SELECT vec_id,
         list_transform(
           generate_series(0, CAST(ceil(len(embedding) / 32.0) AS INT) - 1),
           w -> list_reduce(
                  list_prepend(0::BIGINT,
                    list_transform(embedding[32*w+1 : 32*w+32],
                      x -> CASE WHEN x > 0 THEN 1::BIGINT
                           ELSE 0::BIGINT END)),
                  (acc, x) -> acc * 2 + x)
         ) AS code
  FROM embeddings
),
q AS (SELECT code AS qc FROM b WHERE vec_id = 3),
short AS (
  SELECT b.vec_id,
         list_sum(list_transform(generate_series(1, len(b.code)), i ->
           bit_count(xor(b.code[i], q.qc[i])))) AS hamming
  FROM b, q
  ORDER BY hamming ASC, b.vec_id ASC
  LIMIT 50
),
qv AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 3)
SELECT e.vec_id,
       ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), qv.qv), 6) AS score
FROM embeddings e
JOIN short ON e.vec_id = short.vec_id, qv
ORDER BY score DESC, e.vec_id ASC
LIMIT 10
""",
    }
)

ORACLES["bigram_lm_score"] = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
tr AS (
  SELECT doc_id, toks[i] AS prev, toks[i + 1] AS cur
  FROM t, unnest(generate_series(1, len(toks) - 1)) AS u(i)
),
counts AS (
  SELECT prev, cur, count(*) AS c_bigram FROM tr GROUP BY 1, 2
),
model AS (
  SELECT prev, cur,
         CAST(ROUND(CAST(c_bigram AS DOUBLE)
                    / CAST(sum(c_bigram) OVER (PARTITION BY prev) AS DOUBLE),
                    8) AS DECIMAL(12,8)) AS prob
  FROM counts
)
SELECT tr.doc_id,
       CAST(count(*) AS BIGINT) AS n_transitions,
       ROUND(CAST(sum(m.prob) AS DOUBLE) / count(*), 6) AS fluency
FROM tr JOIN model m USING (prev, cur)
GROUP BY 1
"""

ORACLES["event_type_pivot"] = """
SELECT user_id,
       CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS n_click,
       CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS n_error,
       CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS n_purchase,
       CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS n_signup,
       CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS n_view
FROM events
GROUP BY 1
"""

ORACLES["churned_buyers"] = """
WITH a AS (
  SELECT DISTINCT o_custkey FROM orders
  WHERE o_orderdate >= TIMESTAMP '1996-01-01'
    AND o_orderdate < TIMESTAMP '1997-01-01'
),
b AS (
  SELECT DISTINCT o_custkey FROM orders
  WHERE o_orderdate >= TIMESTAMP '1997-01-01'
    AND o_orderdate < TIMESTAMP '1998-01-01'
),
churned AS (SELECT o_custkey FROM a EXCEPT SELECT o_custkey FROM b)
SELECT n_name, CAST(count(*) AS BIGINT) AS n_churned
FROM churned
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY 1
ORDER BY n_churned DESC, n_name ASC
"""

ORACLES["weighted_sample"] = """
WITH keyed AS (
  SELECT doc_id,
         ROUND(
           ln((('0x' || substr(md5('s7:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT + 1)
              / 1152921504606846977.0)
           / CAST(CASE WHEN n_chars > 0 THEN n_chars END AS DOUBLE), 12) AS sample_key
  FROM documents
)
SELECT doc_id, sample_key FROM keyed
ORDER BY sample_key DESC, doc_id ASC
LIMIT 100
"""


ORACLES["time_range_rolling"] = """
SELECT event_id, user_id,
       epoch_us(ts) AS ts_us,
       CAST(count(*) OVER w AS BIGINT) AS n_trailing,
       ROUND(sum(value) OVER w, 2) AS sum_trailing
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
"""

ORACLES["value_rank_profile"] = """
SELECT event_id, event_type,
       ROUND(percent_rank() OVER w, 6) AS pct_rank,
       ROUND(cume_dist() OVER w, 6) AS cume,
       CAST(ntile(10) OVER w AS INT) AS decile
FROM events
WINDOW w AS (PARTITION BY event_type ORDER BY value ASC, event_id ASC)
"""

ORACLES["unpivot_user_matrix"] = """
WITH m AS (
  SELECT user_id,
         CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS n_click,
         CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS n_error,
         CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS n_purchase,
         CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS n_signup,
         CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS n_view
  FROM events GROUP BY 1
),
long AS (
  SELECT user_id, 'click' AS event_type, n_click AS n_events FROM m
  UNION ALL SELECT user_id, 'error', n_error FROM m
  UNION ALL SELECT user_id, 'purchase', n_purchase FROM m
  UNION ALL SELECT user_id, 'signup', n_signup FROM m
  UNION ALL SELECT user_id, 'view', n_view FROM m
)
SELECT user_id, event_type, n_events FROM long WHERE n_events > 0
"""



ORACLES["phrase_search"] = f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
  WHERE lower(text) LIKE '%table scan%'
),
hits AS (
  SELECT doc_id,
         CAST(len(list_filter(generate_series(1, greatest(len(toks) - 1, 0)),
              i -> toks[i] = 'table' AND toks[i + 1] = 'scan')) AS BIGINT)
             AS n_hits
  FROM t
  WHERE len(toks) >= 2
)
SELECT doc_id, n_hits FROM hits WHERE n_hits > 0
ORDER BY n_hits DESC, doc_id ASC
LIMIT 20
"""



ORACLES["near_search"] = f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
  WHERE lower(text) LIKE '%table%' AND lower(text) LIKE '%scan%'
),
p AS (
  SELECT doc_id,
         list_filter(generate_series(1, len(toks)), i -> toks[i] = 'table') AS pa,
         list_filter(generate_series(1, len(toks)), i -> toks[i] = 'scan') AS pb
  FROM t
),
c AS (
  SELECT doc_id,
         COALESCE(CAST(list_sum(list_transform(pa, i ->
           len(list_filter(pb, j -> j - i <= 3 AND i - j <= 3 AND j <> i))))
           AS BIGINT), 0) AS n_pairs
  FROM p
)
SELECT doc_id, n_pairs FROM (
  SELECT doc_id, n_pairs FROM c ORDER BY n_pairs DESC, doc_id ASC LIMIT 20
) WHERE n_pairs > 0
"""



ORACLES["corpus_profile"] = f"""
WITH qs AS ({ORACLES["quality_score"]})
SELECT 'n_docs' AS metric, CAST(count(*) AS DOUBLE) AS value FROM documents
UNION ALL
SELECT 'n_tokens', CAST(sum(n_tokens) AS DOUBLE) FROM qs
UNION ALL
SELECT 'distinct_texts', CAST(count(DISTINCT text) AS DOUBLE) FROM documents
UNION ALL
SELECT 'dup_rate',
       ROUND(1.0 - CAST(count(DISTINCT text) AS DOUBLE)
                   / CAST(count(*) AS DOUBLE), 6)
FROM documents
UNION ALL
SELECT 'mean_quality',
       ROUND(CAST(sum(CAST(quality AS DECIMAL(10,6))) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 6)
FROM qs
UNION ALL
SELECT 'median_chars', CAST(median(n_chars) AS DOUBLE) FROM documents
UNION ALL
SELECT 'lang:' || lang, CAST(count(*) AS DOUBLE) FROM documents GROUP BY lang
"""

ORACLES["diversified_search"] = f"""
WITH hits AS (
  {ORACLES["text_search"].replace("LIMIT 5", "LIMIT 20")}
),
ranked AS (
  SELECT h.doc_id, d.source, h.score,
         row_number() OVER (PARTITION BY d.source
                            ORDER BY h.score DESC, h.doc_id ASC)
           AS source_rank
  FROM hits h JOIN documents d USING (doc_id)
)
SELECT doc_id, source, score, source_rank
FROM ranked
WHERE source_rank <= 2
ORDER BY score DESC, doc_id ASC
LIMIT 5
"""

ORACLES["rag_context"] = f"""
WITH hits AS ({ORACLES["text_search"]}),
ranked AS (
  SELECT h.doc_id, h.score, d.text,
         row_number() OVER (ORDER BY h.score DESC, h.doc_id ASC) AS rnk,
         CAST(len(list_filter(regexp_split_to_array(lower(d.text),
              '[^a-z0-9]+'), t -> t <> '')) AS BIGINT) AS ntok
  FROM hits h JOIN documents d USING (doc_id)
),
packed AS (
  SELECT *, sum(ntok) OVER (ORDER BY rnk ROWS UNBOUNDED PRECEDING)
            AS cum_tok
  FROM ranked
),
kept AS (SELECT * FROM packed WHERE cum_tok <= 250)
SELECT coalesce(string_agg(
         printf('[Document %d] (Relevance: %d%%)', rnk,
                CAST(floor(score * 100) AS INT))
           || chr(10) || text,
         chr(10) || chr(10) ORDER BY rnk), '') AS context,
       count(*)::BIGINT AS n_docs,
       coalesce(sum(ntok), 0)::BIGINT AS n_tokens
FROM kept
"""

def _mh_side_ctes(source_sql: str, s: str) -> str:
    """Side-parameterized MinHash CTEs (sh_{s}/ex_{s}/sig_{s}/band_{s})
    for cross-corpus oracles — same shingle/sig/band math as
    _MINHASH_CTES, rendered over an arbitrary source."""
    band_selects = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {b} AS band, ".format(b=b)
        + _md5i(
            "'s{seed}:' || "
            + " || '_' || ".join(f"sig_{b * 4 + r}::VARCHAR" for r in range(4))
        ).format(seed=100 + b)
        + f" AS bval FROM sig_{s}"
        for b in range(4)
    )
    return f"""
sh_{s} AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, len(toks) - 2),
                                      i -> array_to_string(toks[i:i+2], ' '))) AS shingles
  FROM (SELECT doc_id, {_TOKS} AS toks FROM {source_sql})
  WHERE len(toks) >= 3
),
ex_{s} AS (SELECT doc_id, shingles, unnest(shingles) AS s FROM sh_{s}),
sig_{s} AS (
  SELECT doc_id, shingles,
         {_SIG_AGGS}
  FROM ex_{s} GROUP BY doc_id, shingles
),
band_{s} AS (
{band_selects}
)"""


ORACLES["fuzzy_decontaminate"] = f"""
WITH {_mh_side_ctes("documents", "d")},
{_mh_side_ctes("(SELECT * FROM documents WHERE doc_id % 50 = 0)", "b")},
cand AS (
  SELECT DISTINCT d.doc_id AS doc_id, b.doc_id AS bench_id
  FROM band_d d JOIN band_b b USING (band, bval)
)
SELECT * FROM (
  SELECT c.doc_id, c.bench_id,
         {_JAC.format(a='sd.shingles', b='sb.shingles')} AS jaccard
  FROM cand c
  JOIN sh_d sd ON sd.doc_id = c.doc_id
  JOIN sh_b sb ON sb.doc_id = c.bench_id
) WHERE jaccard >= 0.8
"""

ORACLES["table_profile"] = "\nUNION ALL\n".join(
    f"""
SELECT '{c}' AS "column",
       count(*)::BIGINT AS n_rows,
       (count(*) - count({c}))::BIGINT AS n_nulls,
       count(DISTINCT {c})::BIGINT AS n_distinct,
       min(CAST({c} AS VARCHAR)) AS min_value,
       max(CAST({c} AS VARCHAR)) AS max_value
FROM lineitem"""
    for c in ("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag",
              "l_linestatus")
)

ORACLES["strip_repeated_spans"] = f"""
WITH tok AS (
  SELECT doc_id, coalesce({_TOKS}, []) AS toks FROM documents
),
wins AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         {_md5i("'s0:' || array_to_string(toks[i:i+7], ' ')")} AS gh,
         doc_id * 1000000 + i AS okey
  FROM tok, UNNEST(generate_series(1, len(toks) - 7)) AS u(i)
  WHERE len(toks) >= 8
),
owners AS (
  SELECT gh, min(okey) AS own FROM wins GROUP BY gh HAVING count(*) >= 2
),
red AS (
  SELECT w.doc_id, w.pos,
         row_number() OVER (PARTITION BY w.doc_id ORDER BY w.pos) AS rn
  FROM wins w JOIN owners o USING (gh) WHERE w.okey <> o.own
),
spans AS (
  SELECT doc_id, MIN(pos) AS s, MAX(pos) + 7 AS e
  FROM red GROUP BY doc_id, pos - rn
),
postok AS (
  SELECT t.doc_id, t.toks[p] AS tok, CAST(p AS BIGINT) AS p
  FROM tok t, UNNEST(generate_series(1, len(t.toks))) AS u(p)
),
kept AS (
  SELECT pt.doc_id, pt.tok, pt.p FROM postok pt
  WHERE NOT EXISTS (
    SELECT 1 FROM spans s
    WHERE s.doc_id = pt.doc_id AND pt.p BETWEEN s.s AND s.e
  )
),
agg AS (
  SELECT doc_id,
         string_agg(tok, ' ' ORDER BY p) AS clean_text,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id,
       coalesce(a.clean_text, '') AS clean_text,
       CAST(len(t.toks) AS BIGINT) AS n_tokens,
       CAST(len(t.toks) - coalesce(a.n_kept, 0) AS BIGINT)
         AS n_tokens_removed
FROM tok t LEFT JOIN agg a USING (doc_id)
"""

ORACLES["dsir_sample"] = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
),
ttoks AS (
  SELECT unnest({_TOKS}) AS tok FROM documents WHERE doc_id % 50 = 0
),
src AS (SELECT tok, count(*) AS c_s FROM toks GROUP BY tok),
tgt AS (SELECT tok, count(*) AS c_t FROM ttoks GROUP BY tok),
vocab AS (
  SELECT coalesce(s.tok, g.tok) AS tok,
         coalesce(c_s, 0) AS c_s, coalesce(c_t, 0) AS c_t
  FROM src s FULL JOIN tgt g ON s.tok = g.tok
),
tot AS (SELECT sum(c_s) AS n_s, sum(c_t) AS n_t, count(*) AS v FROM vocab),
model AS (
  SELECT tok,
         CAST(ROUND(ln((c_t + 1)::DOUBLE / (n_t + v)::DOUBLE)
                    - ln((c_s + 1)::DOUBLE / (n_s + v)::DOUBLE), 8)
              AS DECIMAL(16,8)) AS r
  FROM vocab, tot
),
scored AS (
  SELECT doc_id,
         ROUND(sum(r)::DOUBLE / count(*)::DOUBLE, 6) AS importance
  FROM toks JOIN model USING (tok) GROUP BY doc_id
)
SELECT doc_id, importance FROM scored
ORDER BY importance DESC, doc_id ASC LIMIT 100
"""

ORACLES["normalize_text"] = r"""
WITH norm AS (
  SELECT doc_id, text,
    trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(text,
        '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]', ' ', 'g'),
      '[ \t\n\r]+', ' ', 'g'),
      '!!+', '!', 'g'),
      '\?\?+', '?', 'g'),
      '\.\.\.\.+', '...', 'g')) AS norm_text
  FROM documents
)
SELECT doc_id, norm_text, norm_text <> text AS changed,
       CAST(length(text) - length(norm_text) AS BIGINT) AS n_chars_removed
FROM norm
"""

ORACLES["repeated_spans"] = f"""
WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
wins AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         {_md5i("'s0:' || array_to_string(toks[i:i+7], ' ')")} AS gh
  FROM tok, UNNEST(generate_series(1, len(toks) - 7)) AS u(i)
  WHERE len(toks) >= 8
),
freq AS (SELECT gh FROM wins GROUP BY gh HAVING count(*) >= 2),
rep AS (
  SELECT w.doc_id, w.pos,
         row_number() OVER (PARTITION BY w.doc_id ORDER BY w.pos) AS rn
  FROM wins w JOIN freq USING (gh)
)
SELECT doc_id, MIN(pos) AS span_start, CAST(MAX(pos) + 7 AS BIGINT) AS span_end,
       COUNT(*) AS n_windows
FROM rep GROUP BY doc_id, pos - rn
"""

def _quality_lr_ctes() -> str:
    """The committed-model classifier scoring as a reusable CTE chain
    ending in ``qc(doc_id, n_tokens, logit)`` — shared by the
    quality_classifier oracle and the curation_score composition."""
    from faiss_vector_search_spark.operators.classifier import load_model

    m = load_model()
    units = "[" + ", ".join(str(int(u)) for u in m["units"]) + "]"
    k = int(m["n_buckets"])
    bias, w_len, w_mwl = (
        repr(float(m["bias"])), repr(float(m["w_len"])), repr(float(m["w_mwl"]))
    )
    return f"""qc_t AS (SELECT doc_id, coalesce({_TOKS}, []) AS toks FROM documents),
qc_base AS (SELECT doc_id, len(toks)::BIGINT AS n FROM qc_t),
qc_tok AS (SELECT doc_id, unnest(toks) AS tok FROM qc_t WHERE len(toks) > 0),
qc_sums AS (
  SELECT doc_id,
         sum({units}[({_md5i("'s37:' || tok")} % {k}) + 1]) AS usum,
         sum(len(tok)) AS sum_len
  FROM qc_tok GROUP BY 1
),
qc AS (
  SELECT b.doc_id, b.n AS n_tokens,
         CASE WHEN b.n = 0 THEN ROUND({bias}, 6)
              ELSE ROUND({bias}
                         + (s.usum::DOUBLE / 100000000.0) / b.n
                         + {w_len} * (ln(b.n::DOUBLE + 1.0) / 10.0)
                         + {w_mwl} * ((s.sum_len::DOUBLE / b.n) / 10.0), 6)
         END AS logit
  FROM qc_base b LEFT JOIN qc_sums s USING (doc_id)
)"""


ORACLES["quality_classifier"] = f"""
WITH {_quality_lr_ctes()}
SELECT doc_id, n_tokens, logit, (logit > 0) AS keep FROM qc
"""

ORACLES["classifier_calibration"] = f"""
WITH {_quality_lr_ctes()},
g_t AS (
  SELECT doc_id, {_TOKS} AS toks, string_split(text, chr(10)) AS lines
  FROM documents
),
g_m AS (
  SELECT doc_id,
         len(toks) AS n_words,
         CAST(list_sum(list_transform(toks, w -> len(w))) AS DOUBLE)
             / len(toks) AS mean_wl,
         len(list_filter(toks, w -> w IN
             ('the', 'be', 'to', 'of', 'and', 'that', 'have', 'with')))
             AS stop_hits,
         CAST(len(list_filter(toks, w -> regexp_matches(w, '[a-z]')))
              AS DOUBLE) / len(toks) AS alpha_ratio,
         CAST(len(list_filter(lines, ln ->
              ln LIKE '- %' OR ln LIKE '* %' OR ln LIKE '•%'))
              AS DOUBLE) / len(lines) AS bullet_ratio,
         CAST(len(list_filter(lines, ln -> ln LIKE '%...')) AS DOUBLE)
             / len(lines) AS ellipsis_ratio
  FROM g_t
),
gk AS (
  SELECT doc_id,
         COALESCE(n_words >= 20 AND n_words <= 100000
          AND mean_wl >= 3.0 AND mean_wl <= 10.0
          AND bullet_ratio <= 0.9 AND ellipsis_ratio <= 0.3
          AND alpha_ratio >= 0.8 AND stop_hits >= 2, false) AS rule_keep
  FROM g_m
),
binned AS (
  SELECT qc.doc_id, qc.logit, gk.rule_keep,
         ntile(10) OVER (ORDER BY qc.logit DESC, qc.doc_id ASC) AS decile
  FROM qc JOIN gk USING (doc_id)
)
SELECT CAST(decile AS INT) AS decile,
       count(*)::BIGINT AS n_docs,
       ROUND(min(logit), 6) AS min_logit,
       ROUND(CAST(sum(CAST(logit AS DECIMAL(18,6))) AS DOUBLE)
             / count(*), 6) AS mean_logit,
       ROUND(sum(CASE WHEN rule_keep THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS gopher_pass_rate
FROM binned GROUP BY 1 ORDER BY 1
"""

ORACLES["curation_score"] = f"""
WITH {_quality_lr_ctes()},
qs_t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
qs_m AS (
  SELECT doc_id,
         len(text)::DOUBLE AS n_chars,
         len(toks)::DOUBLE AS n_toks,
         len(list_filter(toks, x -> list_contains([{_EN_STOP}], x)))::DOUBLE AS n_stop,
         len(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))::DOUBLE AS n_punct,
         list_sum(list_transform(toks, x -> len(x)))::DOUBLE / len(toks) AS mean_wl
  FROM qs_t WHERE len(toks) > 0
),
qs AS (
  SELECT doc_id,
         ROUND((least(n_chars / 500.0, 1.0)
              + least(n_stop / n_toks * 5.0, 1.0)
              + greatest(0.0, 1.0 - n_punct / n_chars * 10.0)
              + CASE WHEN mean_wl >= 3.0 AND mean_wl <= 8.0 THEN 1.0 ELSE 0.5 END
               ) / 4.0, 6) AS quality
  FROM qs_m
),
lm_t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
lm_tr AS (
  SELECT doc_id, toks[i] AS prev, toks[i + 1] AS cur
  FROM lm_t, unnest(generate_series(1, len(toks) - 1)) AS u(i)
),
lm_counts AS (
  SELECT prev, cur, count(*) AS c_bigram FROM lm_tr GROUP BY 1, 2
),
lm_model AS (
  SELECT prev, cur,
         CAST(ROUND(CAST(c_bigram AS DOUBLE)
                    / CAST(sum(c_bigram) OVER (PARTITION BY prev) AS DOUBLE),
                    8) AS DECIMAL(12,8)) AS prob
  FROM lm_counts
),
fl AS (
  SELECT lm_tr.doc_id,
         ROUND(CAST(sum(m.prob) AS DOUBLE) / count(*), 6) AS fluency
  FROM lm_tr JOIN lm_model m USING (prev, cur)
  GROUP BY 1
),
j AS (
  SELECT qs.doc_id, qs.quality, fl.fluency, qc.logit
  FROM qs JOIN fl USING (doc_id) JOIN qc USING (doc_id)
),
mm AS (
  SELECT min(quality) AS q_min, max(quality) AS q_max,
         min(fluency) AS f_min, max(fluency) AS f_max,
         min(logit) AS c_min, max(logit) AS c_max
  FROM j
)
SELECT j.doc_id, j.quality, j.fluency, j.logit,
       ROUND(0.4 * (CASE WHEN mm.q_max > mm.q_min
                         THEN (j.quality - mm.q_min) / (mm.q_max - mm.q_min)
                         ELSE 0.5 END)
           + 0.3 * (CASE WHEN mm.f_max > mm.f_min
                         THEN (j.fluency - mm.f_min) / (mm.f_max - mm.f_min)
                         ELSE 0.5 END)
           + 0.3 * (CASE WHEN mm.c_max > mm.c_min
                         THEN (j.logit - mm.c_min) / (mm.c_max - mm.c_min)
                         ELSE 0.5 END), 6) AS curation_score
FROM j, mm
"""

ORACLES["training_triplets"] = """
WITH a AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv, label AS qlab
  FROM embeddings WHERE vec_id < 8
),
scored AS (
  SELECT a.query_id, e.vec_id,
         CASE WHEN e.label = a.qlab THEN 'pos' ELSE 'neg' END AS side,
         ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), a.qv), 6) AS score
  FROM embeddings e, a WHERE e.vec_id <> a.query_id
),
best AS (
  SELECT query_id, vec_id, side, score,
         row_number() OVER (PARTITION BY query_id, side
                            ORDER BY score DESC, vec_id ASC) AS rk
  FROM scored
)
SELECT query_id,
       max(CASE WHEN side = 'pos' THEN vec_id END) AS pos_id,
       max(CASE WHEN side = 'pos' THEN score END) AS pos_score,
       max(CASE WHEN side = 'neg' THEN vec_id END) AS neg_id,
       max(CASE WHEN side = 'neg' THEN score END) AS neg_score,
       ROUND(max(CASE WHEN side = 'pos' THEN score END)
             - max(CASE WHEN side = 'neg' THEN score END), 6) AS margin
FROM best WHERE rk = 1
GROUP BY query_id
"""

ORACLES["token_budget_sample"] = f"""
WITH sized AS (
  SELECT doc_id, source,
         coalesce(len({_TOKS}), 0)::BIGINT AS n_tokens,
         (CASE source WHEN 'src0' THEN 600 WHEN 'src1' THEN 900
                      WHEN 'src2' THEN 300 END)::BIGINT AS budget
  FROM documents WHERE source IN ('src0', 'src1', 'src2')
),
r AS (
  SELECT doc_id, source, n_tokens, budget,
         sum(n_tokens) OVER (PARTITION BY source
                             ORDER BY {_md5i("doc_id::VARCHAR")} ASC,
                                      doc_id ASC) AS running
  FROM sized
)
SELECT doc_id, source, n_tokens, CAST(running AS BIGINT) AS running
FROM r WHERE running <= budget
"""

ORACLES["hard_negatives"] = """
WITH a AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv, label AS qlab
  FROM embeddings WHERE vec_id < 8
),
scored AS (
  SELECT a.query_id, e.vec_id,
         ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), a.qv), 6) AS score
  FROM embeddings e, a WHERE e.label <> a.qlab
),
ranked AS (
  SELECT query_id, vec_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, score, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""

ORACLES["pmi_collocations"] = f"""
WITH t AS (SELECT {_TOKS} AS toks FROM documents),
uni AS (
  SELECT tok, count(*) AS c_uni
  FROM (SELECT unnest(toks) AS tok FROM t) GROUP BY 1
),
bi AS (
  SELECT a, b, count(*) AS c_bi
  FROM (SELECT toks[i] AS a, toks[i + 1] AS b
        FROM t, UNNEST(generate_series(1, len(toks) - 1)) AS u(i)
        WHERE len(toks) >= 2)
  GROUP BY 1, 2
),
tot AS (SELECT (SELECT sum(c_uni) FROM uni) AS n_uni,
               (SELECT sum(c_bi) FROM bi) AS n_bi)
SELECT b.a AS term_a, b.b AS term_b, CAST(b.c_bi AS BIGINT) AS n_pair,
       ROUND(ln((b.c_bi::DOUBLE / t.n_bi)
                / ((ua.c_uni::DOUBLE / t.n_uni)
                   * (ub.c_uni::DOUBLE / t.n_uni))), 6) AS pmi
FROM bi b
JOIN uni ua ON ua.tok = b.a
JOIN uni ub ON ub.tok = b.b, tot t
WHERE b.c_bi >= 5
ORDER BY pmi DESC, term_a ASC, term_b ASC
LIMIT 50
"""

ORACLES["domain_kl"] = f"""
WITH t AS (SELECT source, {_TOKS} AS toks FROM documents),
dom AS (
  SELECT source, tok, count(*) AS c_st
  FROM (SELECT source, unnest(toks) AS tok FROM t) GROUP BY 1, 2
),
corpus AS (SELECT tok, sum(c_st) AS c_t FROM dom GROUP BY 1),
dt AS (SELECT source, sum(c_st) AS n_s FROM dom GROUP BY 1),
nt AS (SELECT sum(c_t) AS n_corpus FROM corpus),
contrib AS (
  SELECT d.source, d.c_st,
         CAST(ROUND((d.c_st::DOUBLE / s.n_s)
                    * ln((d.c_st::DOUBLE / s.n_s)
                         / (c.c_t::DOUBLE / n.n_corpus)), 8)
              AS DECIMAL(18,8)) AS kl_term
  FROM dom d JOIN corpus c USING (tok) JOIN dt s USING (source), nt n
)
SELECT source, CAST(sum(c_st) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_terms,
       ROUND(sum(kl_term)::DOUBLE, 6) AS kl_nats
FROM contrib GROUP BY 1
"""

ORACLES["length_batches"] = f"""
WITH s AS (
  SELECT doc_id, coalesce(len({_TOKS}), 0)::BIGINT AS n_tok FROM documents
),
b AS (
  SELECT doc_id, n_tok, n_tok // 64 AS bucket,
         ({_md5i("'s27:' || doc_id::VARCHAR")} % 8) AS shard
  FROM s
),
w AS (
  SELECT bucket, shard, n_tok,
         (row_number() OVER (PARTITION BY bucket, shard
                             ORDER BY n_tok ASC, doc_id ASC) - 1) // 32
           AS batch
  FROM b
)
SELECT CAST(bucket AS BIGINT) AS bucket, CAST(shard AS INT) AS shard,
       CAST(batch AS BIGINT) AS batch,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(max(n_tok) AS BIGINT) AS max_tokens,
       CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
       CAST(count(*) * max(n_tok) - sum(n_tok) AS BIGINT) AS padding,
       ROUND(CASE WHEN max(n_tok) > 0
                  THEN (count(*) * max(n_tok) - sum(n_tok))::DOUBLE
                       / (count(*) * max(n_tok))::DOUBLE
                  ELSE 0.0 END, 6) AS pad_frac
FROM w GROUP BY 1, 2, 3
"""


ORACLES["ngram_novelty"] = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
g AS (
  SELECT doc_id,
         {_md5i("'s23:' || array_to_string(toks[i:i+7], ' ')")} AS gh
  FROM t, unnest(generate_series(1, len(toks) - 7)) AS u(i)
),
c AS (SELECT doc_id, count(*) OVER (PARTITION BY gh) AS c FROM g)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       CAST(count(*) FILTER (c = 1) AS BIGINT) AS n_novel,
       ROUND((count(*) FILTER (c = 1))::DOUBLE / count(*), 6) AS novelty
FROM c GROUP BY doc_id
"""

ORACLES["curriculum_order"] = f"""
WITH qs AS ({ORACLES["quality_score"]}),
j AS (
  SELECT d.doc_id, d.source, qs.quality
  FROM documents d JOIN qs ON d.doc_id = qs.doc_id
),
r AS (
  SELECT doc_id, source, quality,
         row_number() OVER (PARTITION BY source
                            ORDER BY quality DESC, doc_id ASC) AS rank
  FROM j
)
SELECT CAST(row_number() OVER (ORDER BY rank ASC, source ASC) AS BIGINT) AS pos,
       doc_id, source, quality, CAST(rank AS BIGINT) AS rank
FROM r
"""

ORACLES["ccnet_buckets"] = f"""
WITH fl AS ({ORACLES["bigram_lm_score"]}),
j AS (
  SELECT d.doc_id, d.source, fl.fluency
  FROM documents d JOIN fl ON d.doc_id = fl.doc_id
),
tt AS (
  SELECT doc_id, source, fluency,
         ntile(3) OVER (PARTITION BY source
                        ORDER BY fluency DESC, doc_id ASC) AS tercile
  FROM j
)
SELECT doc_id, source, fluency, CAST(tercile AS INT) AS tercile,
       CASE WHEN tercile = 1 THEN 'head'
            WHEN tercile = 2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM tt
"""

ORACLES["maxsim_search"] = f"""
WITH qt AS (
  SELECT * FROM (VALUES (0,'batch'),(1,'window'),(2,'vector'),
                        (3,'hash'),(4,'fast'),(5,'stream')) AS v(qidx, tok)
),
qsets AS (
  SELECT qidx, list_distinct(list_transform(
           generate_series(1, greatest(len(tok) - 2, 1)),
           i -> {_md5i("'s29:' || substr(tok, i, 3)")} % 64)) AS qset
  FROM qt
),
dt AS (SELECT doc_id, unnest(list_distinct({_TOKS})) AS tok FROM documents),
dsets AS (
  SELECT doc_id, list_distinct(list_transform(
           generate_series(1, greatest(len(tok) - 2, 1)),
           i -> {_md5i("'s29:' || substr(tok, i, 3)")} % 64)) AS dset
  FROM dt
),
sims AS (
  SELECT doc_id, qidx,
         len(list_intersect(dset, qset))::DOUBLE
           / sqrt(len(dset)::DOUBLE * len(qset)::DOUBLE) AS sim
  FROM dsets, qsets
),
best AS (
  SELECT doc_id, qidx, CAST(ROUND(max(sim), 8) AS DECIMAL(12,8)) AS m
  FROM sims GROUP BY 1, 2
),
scored AS (
  SELECT doc_id, ROUND(CAST(sum(m) AS DOUBLE), 6) AS score
  FROM best GROUP BY doc_id
)
SELECT doc_id, score FROM scored
WHERE score > 0
ORDER BY score DESC, doc_id ASC
LIMIT 10
"""

ORACLES["fingerprint_overlap"] = f"""
WITH g0 AS (
  SELECT doc_id, text,
         unnest(generate_series(1, greatest(len(text) - 7, 1))) AS pos
  FROM documents
),
grams AS (
  SELECT doc_id, pos, {_md5i("'s11:' || substr(text, pos, 8)")} AS h FROM g0
),
wmin AS (
  SELECT doc_id,
         min(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
  FROM grams
),
fsets AS (SELECT DISTINCT doc_id, fp FROM wmin),
q AS (SELECT fp FROM fsets WHERE doc_id = 7),
qn AS (SELECT count(*) AS nq FROM q),
hits AS (
  SELECT f.doc_id, count(*)::BIGINT AS n_shared
  FROM fsets f JOIN q USING (fp)
  WHERE f.doc_id <> 7
  GROUP BY 1
)
SELECT doc_id, n_shared,
       ROUND(n_shared::DOUBLE / nq, 6) AS containment
FROM hits, qn
WHERE n_shared >= 2
ORDER BY n_shared DESC, doc_id ASC
"""

ORACLES["cross_domain_dups"] = f"""
WITH {_MINHASH_CTES},
kept AS (
  SELECT * FROM (
    SELECT doc_a, doc_b, {_JAC.format(a='sh_a', b='sh_b')} AS jaccard
    FROM cand
  ) WHERE jaccard >= 0.8
),
lab AS (
  SELECT least(da.source, db.source) AS source_x,
         greatest(da.source, db.source) AS source_y,
         CASE WHEN da.source <> db.source THEN 1 ELSE 0 END AS cross_d,
         CAST(k.jaccard AS DECIMAL(12,6)) AS j
  FROM kept k
  JOIN documents da ON k.doc_a = da.doc_id
  JOIN documents db ON k.doc_b = db.doc_id
)
SELECT source_x, source_y, count(*)::BIGINT AS n_pairs,
       sum(cross_d)::BIGINT AS n_cross_domain,
       ROUND(CAST(sum(j) AS DOUBLE) / count(*), 6) AS mean_jaccard,
       ROUND(CAST(max(j) AS DOUBLE), 6) AS max_jaccard
FROM lab GROUP BY 1, 2
"""

_SPLIT_CASE = f"""CASE WHEN ({_md5i("'s31:' || doc_id::VARCHAR")} % 1000) < 800 THEN 'train'
            WHEN ({_md5i("'s31:' || doc_id::VARCHAR")} % 1000) < 900 THEN 'val'
            ELSE 'test' END"""

ORACLES["split_kl"] = f"""
WITH t AS (SELECT {_SPLIT_CASE} AS split, {_TOKS} AS toks FROM documents),
dom AS (
  SELECT split, tok, count(*) AS c_st
  FROM (SELECT split, unnest(toks) AS tok FROM t) GROUP BY 1, 2
),
corpus AS (SELECT tok, sum(c_st) AS c_t FROM dom GROUP BY 1),
dt AS (SELECT split, sum(c_st) AS n_s FROM dom GROUP BY 1),
nt AS (SELECT sum(c_t) AS n_corpus FROM corpus),
contrib AS (
  SELECT d.split, d.c_st,
         CAST(ROUND((d.c_st::DOUBLE / s.n_s)
                    * ln((d.c_st::DOUBLE / s.n_s)
                         / (c.c_t::DOUBLE / n.n_corpus)), 8)
              AS DECIMAL(18,8)) AS kl_term
  FROM dom d JOIN corpus c USING (tok) JOIN dt s USING (split), nt n
)
SELECT split, CAST(sum(c_st) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_terms,
       ROUND(sum(kl_term)::DOUBLE, 6) AS kl_nats
FROM contrib GROUP BY 1
"""

ORACLES["ivf_batch_query"] = f"""
WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cents AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cvec
  FROM (SELECT * FROM base ORDER BY vec_id LIMIT 16)
),
qs AS (SELECT vec_id AS query_id, v AS qv FROM base WHERE vec_id IN (0, 3, 7, 11)),
assign AS (
  SELECT b.vec_id, b.v, c.cid AS list_id
  FROM base b, cents c
  QUALIFY row_number() OVER (
    PARTITION BY b.vec_id
    ORDER BY {_l2sq_sql('b.v', 'c.cvec')} ASC, c.cid ASC
  ) = 1
),
probes AS (
  SELECT query_id, cid FROM (
    SELECT q.query_id, c.cid,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY {_l2sq_sql('q.qv', 'c.cvec')} ASC, c.cid ASC
           ) AS pr
    FROM cents c, qs q
  ) WHERE pr <= 4
),
scored AS (
  SELECT p.query_id, a.vec_id,
         ROUND(list_dot_product(a.v, q.qv), 6) AS score
  FROM assign a
  JOIN probes p ON a.list_id = p.cid
  JOIN qs q ON q.query_id = p.query_id
)
SELECT query_id, vec_id, score, CAST(rank AS INT) AS rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY score DESC, vec_id ASC
  ) AS rank
  FROM scored
) WHERE rank <= 10
"""


# The persisted-mining oracles compose the ivf_batch_query probe
# pipeline (seeded centroids, sql-fold assignment, per-query probes)
# with the classify/mining tails — every stage is the hash-gated
# fragment of an existing oracle, so the composition gates the whole
# persisted serving path end to end.
ORACLES["knn_classify_ivf"] = f"""
WITH base AS (SELECT vec_id, label,
              CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cents AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cvec
  FROM (SELECT * FROM base ORDER BY vec_id LIMIT 16)
),
qs AS (SELECT vec_id AS query_id, v AS qv FROM base WHERE vec_id IN (0, 3, 7, 11)),
assign AS (
  SELECT b.vec_id, b.label, b.v, c.cid AS list_id
  FROM base b, cents c
  QUALIFY row_number() OVER (
    PARTITION BY b.vec_id
    ORDER BY {_l2sq_sql('b.v', 'c.cvec')} ASC, c.cid ASC
  ) = 1
),
probes AS (
  SELECT query_id, cid FROM (
    SELECT q.query_id, c.cid,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY {_l2sq_sql('q.qv', 'c.cvec')} ASC, c.cid ASC
           ) AS pr
    FROM cents c, qs q
  ) WHERE pr <= 4
),
cand AS (
  SELECT query_id, vec_id, label, score FROM (
    SELECT p.query_id, a.vec_id, a.label,
           ROUND(list_dot_product(a.v, q.qv), 6) AS score,
           row_number() OVER (
             PARTITION BY p.query_id
             ORDER BY ROUND(list_dot_product(a.v, q.qv), 6) DESC,
                      a.vec_id ASC
           ) AS r
    FROM assign a
    JOIN probes p ON a.list_id = p.cid
    JOIN qs q ON q.query_id = p.query_id
  ) WHERE r <= 11
),
pool AS (
  SELECT query_id, vec_id, label, score,
         row_number() OVER (
           PARTITION BY query_id ORDER BY score DESC, vec_id ASC
         ) AS r
  FROM cand WHERE vec_id <> query_id
),
votes AS (
  SELECT query_id, label, count(*)::BIGINT AS votes
  FROM pool WHERE r <= 10 GROUP BY 1, 2
),
best AS (
  SELECT query_id, label AS pred_label, votes,
         sum(votes) OVER (PARTITION BY query_id) AS n,
         row_number() OVER (
           PARTITION BY query_id ORDER BY votes DESC, label ASC) AS vr
  FROM votes
)
SELECT query_id, pred_label, votes,
       ROUND(votes / CAST(n AS DOUBLE), 6) AS confidence
FROM best WHERE vr = 1
"""

ORACLES["hard_negatives_ivf"] = f"""
WITH base AS (SELECT vec_id, label,
              CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cents AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cvec
  FROM (SELECT * FROM base ORDER BY vec_id LIMIT 16)
),
qs AS (SELECT vec_id AS query_id, v AS qv, label AS qlab
       FROM base WHERE vec_id < 8),
assign AS (
  SELECT b.vec_id, b.label, b.v, c.cid AS list_id
  FROM base b, cents c
  QUALIFY row_number() OVER (
    PARTITION BY b.vec_id
    ORDER BY {_l2sq_sql('b.v', 'c.cvec')} ASC, c.cid ASC
  ) = 1
),
probes AS (
  SELECT query_id, cid FROM (
    SELECT q.query_id, c.cid,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY {_l2sq_sql('q.qv', 'c.cvec')} ASC, c.cid ASC
           ) AS pr
    FROM cents c, qs q
  ) WHERE pr <= 4
),
cand AS (
  SELECT query_id, vec_id, label, qlab, score FROM (
    SELECT p.query_id, a.vec_id, a.label, q.qlab,
           ROUND(list_dot_product(a.v, q.qv), 6) AS score,
           row_number() OVER (
             PARTITION BY p.query_id
             ORDER BY ROUND(list_dot_product(a.v, q.qv), 6) DESC,
                      a.vec_id ASC
           ) AS r
    FROM assign a
    JOIN probes p ON a.list_id = p.cid
    JOIN qs q ON q.query_id = p.query_id
  ) WHERE r <= 20
),
pool AS (
  SELECT query_id, vec_id, score,
         row_number() OVER (
           PARTITION BY query_id ORDER BY score DESC, vec_id ASC
         ) AS r
  FROM cand WHERE label <> qlab AND vec_id <> query_id
)
SELECT query_id, vec_id, score, CAST(r AS INT) AS rank
FROM pool WHERE r <= 5
"""

ORACLES["training_triplets_ivf"] = f"""
WITH base AS (SELECT vec_id, label,
              CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cents AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cvec
  FROM (SELECT * FROM base ORDER BY vec_id LIMIT 16)
),
qs AS (SELECT vec_id AS query_id, v AS qv, label AS qlab
       FROM base WHERE vec_id < 8),
assign AS (
  SELECT b.vec_id, b.label, b.v, c.cid AS list_id
  FROM base b, cents c
  QUALIFY row_number() OVER (
    PARTITION BY b.vec_id
    ORDER BY {_l2sq_sql('b.v', 'c.cvec')} ASC, c.cid ASC
  ) = 1
),
probes AS (
  SELECT query_id, cid FROM (
    SELECT q.query_id, c.cid,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY {_l2sq_sql('q.qv', 'c.cvec')} ASC, c.cid ASC
           ) AS pr
    FROM cents c, qs q
  ) WHERE pr <= 4
),
cand AS (
  SELECT query_id, vec_id, label, qlab, score FROM (
    SELECT p.query_id, a.vec_id, a.label, q.qlab,
           ROUND(list_dot_product(a.v, q.qv), 6) AS score,
           row_number() OVER (
             PARTITION BY p.query_id
             ORDER BY ROUND(list_dot_product(a.v, q.qv), 6) DESC,
                      a.vec_id ASC
           ) AS r
    FROM assign a
    JOIN probes p ON a.list_id = p.cid
    JOIN qs q ON q.query_id = p.query_id
  ) WHERE r <= 20
),
best AS (
  SELECT query_id, vec_id, score,
         CASE WHEN label = qlab THEN 'pos' ELSE 'neg' END AS side,
         row_number() OVER (
           PARTITION BY query_id,
                        CASE WHEN label = qlab THEN 'pos' ELSE 'neg' END
           ORDER BY score DESC, vec_id ASC
         ) AS rk
  FROM cand WHERE vec_id <> query_id
)
SELECT query_id,
       max(CASE WHEN side = 'pos' THEN vec_id END) AS pos_id,
       max(CASE WHEN side = 'pos' THEN score END) AS pos_score,
       max(CASE WHEN side = 'neg' THEN vec_id END) AS neg_id,
       max(CASE WHEN side = 'neg' THEN score END) AS neg_score,
       ROUND(max(CASE WHEN side = 'pos' THEN score END)
             - max(CASE WHEN side = 'neg' THEN score END), 6) AS margin
FROM best WHERE rk = 1
GROUP BY query_id
"""

# distinct word 2-shingles of the token array (matches
# functions.text.shingles_from_tokens at n=2; the WHERE already
# guarantees len(toks) >= 2 so no empty-case guard is needed)
_SHINGLES_SQL_N2 = (
    f"list_distinct(list_transform(generate_series(1, len({_TOKS}) - 1), "
    f"i -> array_to_string(({_TOKS})[i:i+1], ' ')))"
)

ORACLES["self_similarity"] = f"""
WITH keyed AS (
  SELECT doc_id, {_SHINGLES_SQL_N2} AS sh,
         {_md5i("'s43:' || doc_id::VARCHAR")} AS rk
  FROM documents
  WHERE len({_TOKS}) >= 2
),
sample AS (SELECT doc_id, sh FROM keyed ORDER BY rk ASC, doc_id ASC LIMIT 40),
pairs AS (
  SELECT CAST(ROUND(len(list_intersect(a.sh, b.sh))::DOUBLE
              / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 8)
         AS DECIMAL(12,8)) AS j
  FROM sample a, sample b WHERE a.doc_id < b.doc_id
)
SELECT count(*)::BIGINT AS n_pairs,
       ROUND(CAST(sum(j) AS DOUBLE) / count(*), 6) AS mean_jaccard,
       ROUND(CAST(max(j) AS DOUBLE), 6) AS max_jaccard,
       sum(CASE WHEN j >= 0.5 THEN 1 ELSE 0 END)::BIGINT AS n_pairs_over_50
FROM pairs
"""

ORACLES["fim_transform"] = f"""
WITH s AS (
  SELECT doc_id, text, len(text) AS n,
         (len(text) >= 20
          AND ({_md5i("'s31:' || doc_id::VARCHAR")} % 1000) < 500) AS apply
  FROM documents
),
cuts AS (
  SELECT doc_id, text, n, apply,
         CAST(floor(n / 10)
              + ({_md5i("'s32:' || doc_id::VARCHAR")}
                 % greatest(CAST(floor(n * 4 / 10) AS BIGINT), 1))
           AS INT) AS c1
  FROM s
),
cuts2 AS (
  SELECT doc_id, text, apply, c1,
         CAST(c1 + ({_md5i("'s33:' || doc_id::VARCHAR")}
                    % greatest(CAST(floor(n * 9 / 10) AS BIGINT) - c1, 1))
           AS INT) AS c2
  FROM cuts
)
SELECT doc_id, text, apply AS fim,
       CASE WHEN apply THEN substr(text, 1, c1) END AS prefix,
       CASE WHEN apply THEN substr(text, c1 + 1, c2 - c1) END AS middle,
       CASE WHEN apply THEN substr(text, c2 + 1) END AS suffix,
       CASE WHEN apply THEN '<PRE>' || substr(text, 1, c1)
                         || '<SUF>' || substr(text, c2 + 1)
                         || '<MID>' || substr(text, c1 + 1, c2 - c1)
       END AS fim_text
FROM cuts2
"""

ORACLES["zipf_profile"] = f"""
WITH toks AS (SELECT unnest({_TOKS}) AS tok FROM documents),
counts AS (SELECT tok, count(*)::BIGINT AS c FROM toks GROUP BY 1),
tot AS (
  SELECT sum(c)::BIGINT AS n_tokens, count(*)::BIGINT AS vocab_size,
         sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS hapax_count
  FROM counts
),
top AS (SELECT tok, c FROM counts ORDER BY c DESC, tok ASC LIMIT 100),
ranked AS (
  SELECT c, row_number() OVER (ORDER BY c DESC, tok ASC) AS r FROM top
),
terms AS (
  SELECT c,
         CAST(ROUND(ln(r::DOUBLE), 8) AS DECIMAL(18,8)) AS x,
         CAST(ROUND(ln(c::DOUBLE), 8) AS DECIMAL(18,8)) AS y,
         CAST(ROUND(ln(r::DOUBLE) * ln(c::DOUBLE), 8) AS DECIMAL(18,8)) AS xy,
         CAST(ROUND(ln(r::DOUBLE) * ln(r::DOUBLE), 8) AS DECIMAL(18,8)) AS xx
  FROM ranked
),
sums AS (
  SELECT count(*)::DOUBLE AS k,
         CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
         CAST(sum(xy) AS DOUBLE) AS sxy, CAST(sum(xx) AS DOUBLE) AS sxx,
         sum(c)::BIGINT AS head_mass
  FROM terms
)
SELECT 'n_tokens' AS metric, n_tokens::DOUBLE AS value FROM tot
UNION ALL SELECT 'vocab_size', vocab_size::DOUBLE FROM tot
UNION ALL SELECT 'hapax_count', hapax_count::DOUBLE FROM tot
UNION ALL SELECT 'hapax_frac', ROUND(hapax_count::DOUBLE / vocab_size, 6) FROM tot
UNION ALL SELECT 'top_coverage', ROUND(head_mass::DOUBLE / n_tokens, 6)
          FROM sums, tot
UNION ALL SELECT 'zipf_slope',
          ROUND((k * sxy - sx * sy) / (k * sxx - sx * sx), 6) FROM sums
"""

ORACLES["dataset_card"] = f"""
WITH card_cp AS ({ORACLES["corpus_profile"]}),
card_zp AS ({ORACLES["zipf_profile"]}),
card_ss AS ({ORACLES["self_similarity"]})
SELECT metric, value FROM card_cp
UNION ALL SELECT 'vocab.' || metric, value FROM card_zp
UNION ALL SELECT 'sim.n_pairs', n_pairs::DOUBLE FROM card_ss
UNION ALL SELECT 'sim.mean_jaccard', mean_jaccard FROM card_ss
UNION ALL SELECT 'sim.max_jaccard', max_jaccard FROM card_ss
"""

# The two-phase semantics gate EXACTLY (coarse prefix-16 rounded-IP
# top-100 with the id tie-break, then exact full-dim rerank) — on a
# near-random corpus the shortlist is NOT lossless, so the oracle is
# the composition itself, not the flat top-k.
ORACLES["matryoshka_rerank_search"] = """
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
coarse AS (
  SELECT e.vec_id,
         ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[])[1:16], q.qv[1:16]), 6)
           AS cscore
  FROM embeddings e, q
  ORDER BY cscore DESC, e.vec_id ASC
  LIMIT 100
)
SELECT e.vec_id,
       ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS score
FROM embeddings e JOIN coarse USING (vec_id), q
ORDER BY score DESC, e.vec_id ASC
LIMIT 10
"""


# --- §2 r6 wave: rule filters / corpus lookup / classification / eval -----


def q_c4_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line+page cleaning (Raffel et al. 2020 §2.2). The
    corpus text is single-line, so the wrapper injects deterministic
    line structure first (identical string transform in the oracle);
    the line filters then run in-row with zero shuffle."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.replace(F.col("text"), F.lit(" a "), F.lit(".\n")), F.lit(".")
        ).alias("text"),
    )
    return textstats.c4_rules(docs)


ORACLES["c4_rules"] = f"""
WITH prep AS (
  SELECT doc_id, replace(text, ' a ', '.' || chr(10)) || '.' AS text
  FROM documents
),
arr AS (SELECT doc_id, text, str_split(text, chr(10)) AS lines FROM prep),
k AS (
  SELECT doc_id, text, CAST(len(lines) AS INT) AS n_lines,
         list_filter(lines, ln ->
           regexp_matches(rtrim(ln), '[.!?"]$')
           AND len(list_filter(str_split(ln, ' '), w -> w <> '')) >= 5
           AND NOT contains(lower(ln), 'javascript')) AS kept
  FROM arr
)
SELECT doc_id, n_lines, CAST(len(kept) AS INT) AS n_lines_kept,
       array_to_string(kept, chr(10)) AS clean_text,
       NOT contains(text, '{{') AS ok_brace,
       NOT contains(lower(text), 'lorem ipsum') AS ok_lorem,
       (len(kept) >= 3 AND NOT contains(text, '{{')
        AND NOT contains(lower(text), 'lorem ipsum')) AS keep
FROM k
"""


_LOOKUP_PHRASES = ["table table", "fast spark", "batch window vector",
                   "zzz qqq"]


def q_ngram_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WIMBD-style corpus n-gram lookup: occurrences + doc frequency
    for a mixed-length phrase list (incl. one absent phrase, which
    must still report a zero row)."""
    return lexical.ngram_count_lookup(
        _t(spark, sf_dir, "documents"), _LOOKUP_PHRASES
    )


ORACLES["ngram_lookup"] = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
g2 AS (
  SELECT doc_id, array_to_string(t[i:i+1], ' ') AS phrase
  FROM toks, unnest(generate_series(1, greatest(len(t) - 1, 0))) AS u(i)
),
g3 AS (
  SELECT doc_id, array_to_string(t[i:i+2], ' ') AS phrase
  FROM toks, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS u(i)
),
hits AS (
  SELECT doc_id, phrase FROM g2
  WHERE phrase IN ('table table', 'fast spark', 'zzz qqq')
  UNION ALL
  SELECT doc_id, phrase FROM g3 WHERE phrase IN ('batch window vector')
),
counts AS (
  SELECT phrase, count(*)::BIGINT AS n_occurrences,
         count(DISTINCT doc_id)::BIGINT AS n_docs
  FROM hits GROUP BY 1
),
plist(phrase) AS (VALUES ('table table'), ('fast spark'),
                         ('batch window vector'), ('zzz qqq'))
SELECT p.phrase,
       coalesce(c.n_occurrences, 0)::BIGINT AS n_occurrences,
       coalesce(c.n_docs, 0)::BIGINT AS n_docs
FROM plist p LEFT JOIN counts c USING (phrase)
ORDER BY n_occurrences DESC, phrase ASC
"""


def q_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN majority-vote label prediction for 4 query vectors over
    the labeled embedding corpus (self excluded, ties to the smaller
    label)."""
    from faiss_vector_search_spark.operators import knn as knn_mod

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id").isin([0, 3, 7, 11])).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    return knn_mod.knn_classify(emb, queries, k=10)


ORACLES["knn_classify"] = """
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id IN (0, 3, 7, 11)
),
scored AS (
  SELECT q.query_id, e.vec_id, e.label,
         ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS score
  FROM embeddings e, q WHERE e.vec_id <> q.query_id
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS r
  FROM scored
),
votes AS (
  SELECT query_id, label, count(*)::BIGINT AS votes
  FROM ranked WHERE r <= 10 GROUP BY 1, 2
),
best AS (
  SELECT query_id, label AS pred_label, votes,
         sum(votes) OVER (PARTITION BY query_id) AS n_nbrs,
         row_number() OVER (
    PARTITION BY query_id ORDER BY votes DESC, label ASC) AS vr
  FROM votes
)
SELECT query_id, pred_label, votes,
       ROUND(votes / CAST(n_nbrs AS DOUBLE), 6) AS confidence
FROM best WHERE vr = 1
"""


def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean-shift report between the label<4 and
    label>=4 embedding populations — decimal-exact sums, ranked by
    shift."""
    from faiss_vector_search_spark.operators import evaluate as ev

    emb = _t(spark, sf_dir, "embeddings")
    return ev.embedding_drift_report(
        emb.where(F.col("label") < 4), emb.where(F.col("label") >= 4)
    )


ORACLES["embedding_drift"] = """
WITH x AS (
  SELECT CASE WHEN label < 4 THEN 0 ELSE 1 END AS g, i - 1 AS dim,
         CAST(embedding[i] AS DECIMAL(18,9)) AS xd
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
),
agg AS (
  SELECT dim,
         sum(CASE WHEN g = 0 THEN xd END) AS sa,
         count(CASE WHEN g = 0 THEN 1 END) AS na,
         sum(CASE WHEN g = 1 THEN xd END) AS sb,
         count(CASE WHEN g = 1 THEN 1 END) AS nb
  FROM x GROUP BY 1
)
SELECT CAST(dim AS INT) AS dim,
       ROUND(CAST(sa AS DOUBLE) / na, 6) AS mean_a,
       ROUND(CAST(sb AS DOUBLE) / nb, 6) AS mean_b,
       ROUND(abs(ROUND(CAST(sa AS DOUBLE) / na, 6)
                 - ROUND(CAST(sb AS DOUBLE) / nb, 6)), 6) AS abs_shift
FROM agg
ORDER BY abs_shift DESC, dim ASC
"""


def q_domain_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain boilerplate stripping: the wrapper injects a domain
    banner + shared footer (identical transform in the oracle), which
    the operator must remove from every doc of the domain while the
    unique content lines survive — rebuilt IN-ROW, the corpus text
    never shuffles."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source",
        F.concat(
            F.lit("banner for "), F.col("source"), F.lit("\n"),
            F.replace(F.col("text"), F.lit(" a "), F.lit("\n")),
            F.lit("\nshared footer line"),
        ).alias("text"),
    )
    return dedup.domain_boilerplate_strip(docs, min_docs=3)


ORACLES["domain_boilerplate"] = """
WITH prep AS (
  SELECT doc_id, source,
         'banner for ' || source || chr(10)
         || replace(text, ' a ', chr(10))
         || chr(10) || 'shared footer line' AS text
  FROM documents
),
arr AS (SELECT doc_id, source, str_split(text, chr(10)) AS lines FROM prep),
stream AS (SELECT doc_id, source, unnest(lines) AS line FROM arr),
bp AS (
  SELECT source, line FROM stream
  GROUP BY 1, 2 HAVING count(DISTINCT doc_id) >= 3
),
bpl AS (SELECT source, list(line) AS bset FROM bp GROUP BY 1),
j AS (
  SELECT a.doc_id, a.source, a.lines,
         CASE WHEN b.bset IS NULL THEN CAST([] AS VARCHAR[])
              ELSE b.bset END AS bset
  FROM arr a LEFT JOIN bpl b USING (source)
),
k AS (
  SELECT doc_id, source, CAST(len(lines) AS BIGINT) AS n_lines,
         list_filter(lines, ln -> NOT list_contains(bset, ln)) AS kept
  FROM j
)
SELECT doc_id, source, array_to_string(kept, chr(10)) AS clean_text,
       n_lines, CAST(len(kept) AS BIGINT) AS n_kept,
       CAST(n_lines - len(kept) AS BIGINT) AS n_dropped
FROM k
"""


def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view→click→purchase funnel with strictly-increasing
    timestamps — per-step user counts + conversion vs step 1."""
    return analytics.event_funnel(
        _t(spark, sf_dir, "events"), steps=("view", "click", "purchase")
    )


ORACLES["event_funnel"] = """
WITH s1 AS (
  SELECT user_id, min(ts) AS t FROM events
  WHERE event_type = 'view' GROUP BY 1
),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t
  FROM events e JOIN s1 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY 1
),
s3 AS (
  SELECT e.user_id, min(e.ts) AS t
  FROM events e JOIN s2 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY 1
),
counts AS (
  SELECT CAST(1 AS INT) AS step_idx, 'view' AS step,
         count(*)::BIGINT AS n_users FROM s1
  UNION ALL SELECT 2, 'click', count(*)::BIGINT FROM s2
  UNION ALL SELECT 3, 'purchase', count(*)::BIGINT FROM s3
),
first AS (SELECT n_users AS n1 FROM counts WHERE step_idx = 1)
SELECT step_idx, step, n_users,
       CASE WHEN f.n1 > 0 THEN ROUND(n_users / f.n1::DOUBLE, 6)
            ELSE 0.0 END AS conversion
FROM counts, first f
ORDER BY step_idx
"""


def q_event_funnel_horizon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view→click→purchase funnel with a 48-hour conversion window:
    later steps only count within 48h of the user's step-1 anchor
    (integer-microsecond comparison, exact cross-engine)."""
    return analytics.event_funnel(
        _t(spark, sf_dir, "events"), steps=("view", "click", "purchase"),
        horizon_s=48 * 3600,
    )


ORACLES["event_funnel_horizon"] = """
WITH s1 AS (
  SELECT user_id, min(ts) AS t, min(ts) AS t0 FROM events
  WHERE event_type = 'view' GROUP BY 1
),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t, min(s1.t0) AS t0
  FROM events e JOIN s1 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > s1.t
    AND epoch_us(e.ts) <= epoch_us(s1.t0) + 172800000000 GROUP BY 1
),
s3 AS (
  SELECT e.user_id, min(e.ts) AS t, min(s2.t0) AS t0
  FROM events e JOIN s2 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > s2.t
    AND epoch_us(e.ts) <= epoch_us(s2.t0) + 172800000000 GROUP BY 1
),
counts AS (
  SELECT CAST(1 AS INT) AS step_idx, 'view' AS step,
         count(*)::BIGINT AS n_users FROM s1
  UNION ALL SELECT 2, 'click', count(*)::BIGINT FROM s2
  UNION ALL SELECT 3, 'purchase', count(*)::BIGINT FROM s3
),
first AS (SELECT n_users AS n1 FROM counts WHERE step_idx = 1)
SELECT step_idx, step, n_users,
       CASE WHEN f.n1 > 0 THEN ROUND(n_users / f.n1::DOUBLE, 6)
            ELSE 0.0 END AS conversion
FROM counts, first f
ORDER BY step_idx
"""


def q_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search-quality harness: BM25's ranked top-10 evaluated against
    the dense-cosine top-5 truth set — recall@10, MRR, NDCG@10 in one
    row (the lexical-vs-semantic agreement monitor)."""
    from pyspark.sql import Window as W

    from faiss_vector_search_spark.operators import evaluate as ev

    docs = _t(spark, sf_dir, "documents")
    lex = lexical.bm25_search(docs, RAG_QUERY, k=10)
    results = lex.select(
        "doc_id",
        F.row_number().over(
            W.orderBy(F.col("score").desc(), F.col("doc_id").asc())
        ).alias("rank"),
    )
    truth = embed.text_search(
        docs, RAG_QUERY, dim=64, k=5, hash_fn="md5"
    ).select("doc_id")
    return ev.retrieval_metrics(results, truth, k=10)


ORACLES["retrieval_eval"] = f"""
WITH {_BM25_CTES},
{_DENSE_CTES.strip().lstrip()},
res AS (
  SELECT doc_id, CAST(row_number() OVER (
    ORDER BY score DESC, doc_id ASC) AS INT) AS rank
  FROM (SELECT * FROM bm25 ORDER BY score DESC, doc_id ASC LIMIT 10)
),
tr AS (SELECT doc_id FROM dense ORDER BY score DESC, doc_id ASC LIMIT 5),
j AS (
  SELECT r.rank, CASE WHEN t.doc_id IS NOT NULL THEN 1 END AS rel
  FROM res r LEFT JOIN tr t USING (doc_id)
),
mstats AS (
  SELECT sum(CASE WHEN rel = 1 THEN 1.0 / log2(rank + 1) END) AS dcg,
         min(CASE WHEN rel = 1 THEN rank END) AS fr,
         count(CASE WHEN rel = 1 THEN 1 END)::BIGINT AS n_hits
  FROM j
),
nrel AS (SELECT count(*)::BIGINT AS n_relevant FROM tr),
idcg AS (
  SELECT sum(1.0 / log2(i + 1)) AS v
  FROM nrel, unnest(generate_series(1, least(n_relevant, 10))) AS t(i)
)
SELECT n.n_relevant, s.n_hits,
       ROUND(s.n_hits / n.n_relevant::DOUBLE, 6) AS recall_at_k,
       ROUND(coalesce(1.0 / s.fr, 0), 6) AS mrr,
       ROUND(coalesce(s.dcg, 0) / idcg.v, 6) AS ndcg_at_k
FROM nrel n, mstats s, idcg
"""


# Judged query suite for the multi-query retrieval eval: 4 queries
# over the documents vocabulary, each with unique terms (BM25's qt
# join and the bucket counts assume no repeated query tokens).
_EVAL_QUERIES = (
    RAG_QUERY,
    "table scan merge sort",
    "hash agg row batch",
    "spark line sort win slow",
)


def _suite_block(i: int, q: str) -> str:
    """Per-query CTE block for the retrieval_eval_suite oracle —
    the same BM25 + dense-cosine + metric CTEs as retrieval_eval,
    name-suffixed; doc-side CTEs (toksb/dl/stats/db/dn) are shared."""
    qt_values = ", ".join(f"('{t}')" for t in sorted(q.split()))
    return f"""
qt{i}(term) AS (VALUES {qt_values}),
tf{i} AS (SELECT doc_id, term, count(*) AS tf
          FROM toksb JOIN qt{i} USING (term) GROUP BY 1, 2),
dfx{i} AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf{i} GROUP BY 1),
contrib{i} AS (
  SELECT t.doc_id, t.term,
         ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
         * (t.tf * 2.2)
         / (t.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / (s.sum_dl / s.n_docs))) AS c
  FROM tf{i} t JOIN dfx{i} d USING (term) JOIN dl l USING (doc_id), stats s
),
bm25_{i} AS (
  SELECT doc_id,
         ROUND(list_sum(list_transform(
           list_sort(list(struct_pack(t := term, c := c))), s -> s.c)), 6) AS score
  FROM contrib{i} GROUP BY doc_id
),
qb{i} AS (
  SELECT (('0x' || substr(md5('s0:' || tok), 1, 15))::BIGINT % 64) AS bucket,
         count(*)::BIGINT AS qcnt
  FROM (SELECT unnest(list_filter(regexp_split_to_array(
          lower('{q}'), '[^a-z0-9]+'), t -> t <> '')) AS tok)
  GROUP BY 1
),
qn{i} AS (SELECT sum(qcnt * qcnt) AS qn2 FROM qb{i}),
dense{i} AS (
  SELECT d.doc_id,
         ROUND(sum(cnt * qcnt) / (sqrt(dn.dn2::DOUBLE) * sqrt(qn.qn2::DOUBLE)), 6) AS score
  FROM db d JOIN qb{i} USING (bucket) JOIN dn ON d.doc_id = dn.doc_id, qn{i} qn
  GROUP BY d.doc_id, dn.dn2, qn.qn2
),
res{i} AS (
  SELECT doc_id, CAST(row_number() OVER (
    ORDER BY score DESC, doc_id ASC) AS INT) AS rank
  FROM (SELECT * FROM bm25_{i} ORDER BY score DESC, doc_id ASC LIMIT 10)
),
tr{i} AS (SELECT doc_id FROM dense{i} ORDER BY score DESC, doc_id ASC LIMIT 5),
j{i} AS (
  SELECT r.rank, CASE WHEN t.doc_id IS NOT NULL THEN 1 END AS rel
  FROM res{i} r LEFT JOIN tr{i} t USING (doc_id)
),
mstats{i} AS (
  SELECT sum(CASE WHEN rel = 1 THEN 1.0 / log2(rank + 1) END) AS dcg,
         min(CASE WHEN rel = 1 THEN rank END) AS fr,
         count(CASE WHEN rel = 1 THEN 1 END)::BIGINT AS n_hits
  FROM j{i}
),
nrel{i} AS (SELECT count(*)::BIGINT AS n_relevant FROM tr{i}),
idcg{i} AS (
  SELECT sum(1.0 / log2(i + 1)) AS v
  FROM nrel{i}, unnest(generate_series(1, least(n_relevant, 10))) AS t(i)
),
perq{i} AS (
  SELECT 'q{i}' AS query_tag, FALSE AS is_macro, n.n_relevant, s.n_hits,
         ROUND(s.n_hits / n.n_relevant::DOUBLE, 6) AS recall_at_k,
         ROUND(coalesce(1.0 / s.fr, 0), 6) AS mrr,
         ROUND(coalesce(s.dcg, 0) / idcg{i}.v, 6) AS ndcg_at_k
  FROM nrel{i} n, mstats{i} s, idcg{i}
)"""


def q_retrieval_eval_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-query retrieval eval: BM25 top-10 vs the dense-cosine
    top-5 truth set for each of the 4 judged queries — per-query
    recall@10/MRR/NDCG@10 rows plus the TREC-style macro-average row
    (decimal-exact accumulation of the rounded per-query metrics).
    Both retrieval stages run their ONE-corpus-pass multi-query forms
    (bm25_search_multi / text_search_multi): the suite costs two
    corpus scans total, not 2·|Q|."""
    from faiss_vector_search_spark.operators import evaluate as ev

    docs = _t(spark, sf_dir, "documents")
    tagged = [(f"q{i}", q) for i, q in enumerate(_EVAL_QUERIES, 1)]
    results = lexical.bm25_search_multi(docs, tagged, k=10).select(
        "query_tag", "doc_id", "rank"
    )
    truth = embed.text_search_multi(
        docs, tagged, dim=64, k=5, hash_fn="md5"
    ).select("query_tag", "doc_id")
    return ev.retrieval_metrics_by_query(results, truth, k=10)


ORACLES["retrieval_eval_suite"] = f"""
WITH
toksb AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
dl AS (SELECT doc_id, count(*) AS dl FROM toksb GROUP BY 1),
stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
db AS (
  SELECT doc_id,
         (('0x' || substr(md5('s0:' || tok), 1, 15))::BIGINT % 64) AS bucket,
         count(*)::BIGINT AS cnt
  FROM (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents)
  GROUP BY 1, 2
),
dn AS (SELECT doc_id, sum(cnt * cnt) AS dn2 FROM db GROUP BY 1),
{",".join(_suite_block(i, q) for i, q in enumerate(_EVAL_QUERIES, 1))},
perq AS (
  {" UNION ALL ".join(f"SELECT * FROM perq{i}" for i in range(1, len(_EVAL_QUERIES) + 1))}
),
macro AS (
  SELECT 'MACRO' AS query_tag, TRUE AS is_macro,
         sum(n_relevant)::BIGINT AS n_relevant,
         sum(n_hits)::BIGINT AS n_hits,
         ROUND(CAST(sum(CAST(recall_at_k AS DECIMAL(18,6))) AS DOUBLE)
               / CAST(count(*) AS DOUBLE), 6) AS recall_at_k,
         ROUND(CAST(sum(CAST(mrr AS DECIMAL(18,6))) AS DOUBLE)
               / CAST(count(*) AS DOUBLE), 6) AS mrr,
         ROUND(CAST(sum(CAST(ndcg_at_k AS DECIMAL(18,6))) AS DOUBLE)
               / CAST(count(*) AS DOUBLE), 6) AS ndcg_at_k
  FROM perq
)
SELECT * FROM perq UNION ALL SELECT * FROM macro ORDER BY query_tag
"""


def _hyb_block(i: int) -> str:
    """Per-query hybrid-RRF tail CTE for the hybrid_search_suite
    oracle — fuses the bm25_{i}/dense{i} shortlists _suite_block
    already defines (its metric CTEs go unreferenced and unevaluated
    in this statement)."""
    return f"""
hyb{i} AS (
  SELECT 'q{i}' AS query_tag, f.doc_id, f.rrf_score
  FROM (
    SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
           ROUND(coalesce(1.0 / (60 + l.rank_lex), 0)
               + coalesce(1.0 / (60 + v.rank_vec), 0), 6) AS rrf_score
    FROM
      (SELECT doc_id, row_number() OVER (
         ORDER BY score DESC, doc_id ASC) AS rank_lex
       FROM (SELECT * FROM bm25_{i}
             ORDER BY score DESC, doc_id ASC LIMIT 20)) l
      FULL OUTER JOIN
      (SELECT doc_id, row_number() OVER (
         ORDER BY score DESC, doc_id ASC) AS rank_vec
       FROM (SELECT * FROM dense{i}
             ORDER BY score DESC, doc_id ASC LIMIT 20)) v
      USING (doc_id)
  ) f ORDER BY f.rrf_score DESC, f.doc_id ASC LIMIT 10
)"""


def q_hybrid_search_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid (BM25 + dense cosine, RRF-fused) retrieval for the
    4-query judged suite in TWO corpus passes total: both stage-1
    engines run their one-pass multi-query forms; the fusion joins
    only |Q|·20-row shortlists."""
    docs = _t(spark, sf_dir, "documents")
    tagged = [(f"q{i}", q) for i, q in enumerate(_EVAL_QUERIES, 1)]
    lex = lexical.bm25_search_multi(docs, tagged, k=20).select(
        "query_tag", "doc_id", "score"
    )
    den = embed.text_search_multi(
        docs, tagged, dim=64, k=20, hash_fn="md5"
    ).select("query_tag", "doc_id", "score")
    return lexical.hybrid_rrf_multi(lex, den, k=10)


ORACLES["hybrid_search_suite"] = f"""
WITH
toksb AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
dl AS (SELECT doc_id, count(*) AS dl FROM toksb GROUP BY 1),
stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
db AS (
  SELECT doc_id,
         (('0x' || substr(md5('s0:' || tok), 1, 15))::BIGINT % 64) AS bucket,
         count(*)::BIGINT AS cnt
  FROM (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents)
  GROUP BY 1, 2
),
dn AS (SELECT doc_id, sum(cnt * cnt) AS dn2 FROM db GROUP BY 1),
{",".join(_suite_block(i, q) for i, q in enumerate(_EVAL_QUERIES, 1))},
{",".join(_hyb_block(i) for i in range(1, len(_EVAL_QUERIES) + 1))}
{" UNION ALL ".join(f"SELECT * FROM hyb{i}" for i in range(1, len(_EVAL_QUERIES) + 1))}
ORDER BY query_tag ASC, rrf_score DESC, doc_id ASC
"""


def q_knn_classify_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance-weighted k-NN label prediction (votes carry the
    similarity score, decimal-exact accumulation) for the same 4
    query vectors as knn_classify."""
    from faiss_vector_search_spark.operators import knn as knn_mod

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id").isin([0, 3, 7, 11])).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    return knn_mod.knn_classify(emb, queries, k=10, weighted=True)


ORACLES["knn_classify_weighted"] = """
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id IN (0, 3, 7, 11)
),
scored AS (
  SELECT q.query_id, e.vec_id, e.label,
         ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS score
  FROM embeddings e, q WHERE e.vec_id <> q.query_id
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS r
  FROM scored
),
votes AS (
  SELECT query_id, label, count(*)::BIGINT AS votes,
         sum(CAST(greatest(score, 0) AS DECIMAL(18,6))) AS w
  FROM ranked WHERE r <= 10 GROUP BY 1, 2
),
best AS (
  SELECT query_id, label AS pred_label, votes, w,
         sum(w) OVER (PARTITION BY query_id) AS tw,
         row_number() OVER (
    PARTITION BY query_id ORDER BY w DESC, label ASC) AS vr
  FROM votes
)
SELECT query_id, pred_label, votes,
       ROUND(CAST(w AS DOUBLE), 6) AS weight,
       ROUND(CAST(w AS DOUBLE) / nullif(CAST(tw AS DOUBLE), 0), 6) AS confidence
FROM best WHERE vr = 1
"""


_SHARD_PATHS: dict[str, str] = {}


def q_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budgeted training-shard export + manifest: the hand-off
    format a training loader consumes. Returns the manifest (shard,
    n_docs, n_tokens). ORACLE-GATED (r10 promotion): the manifest is
    pure arithmetic — n_shards = ceil(total_tokens/budget), shard =
    md5-hash(id) mod n_shards — so DuckDB recomputes it exactly; the
    filesystem layout itself (partition dirs, resume bookkeeping)
    stays pytest-gated in tests/test_wave6_ops.py. hash_fn='md5' here
    is the oracle profile (hash_split posture); production exports
    dial hash_fn='xxhash64'."""
    import tempfile

    from faiss_vector_search_spark.operators import maintenance as mt

    if sf_dir not in _SHARD_PATHS:
        _SHARD_PATHS[sf_dir] = tempfile.mkdtemp(prefix="fvs_shards_") + "/t"
    return mt.write_training_shards(
        _t(spark, sf_dir, "documents"), _SHARD_PATHS[sf_dir],
        token_budget=5_000, hash_fn="md5",
    )


def q_model_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieve → learned-model rerank: feature-hash cosine
    shortlist (corpus-scale, declarative) then the committed numpy-MLP
    model slot rescoring ONLY the shortlist rows. Rows-only: model
    forward has no SQL twin; slot-pruning + self-retrieval + rank
    determinism are pytest-gated (tests/test_wave6_ops.py)."""
    from faiss_vector_search_spark.operators import rerank as rerank_mod

    return rerank_mod.model_rerank(
        _t(spark, sf_dir, "documents"), RAG_QUERY, k=5, shortlist=20,
    )


_CHUNK_INDEX_PATHS: dict[str, str] = {}


def q_chunk_search_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk retrieval served from the PERSISTED chunk index (r7
    verdict ask #2): the index builds ONCE per corpus (greedy-chunk ->
    embed -> seeded IVF -> list_id-partitioned parquet,
    embed.chunk_index_build) and the query path is a probe scan with
    chunk text riding the index rows — the reference's chunk_service
    -> index_service serving flow made durable, instead of
    re-embedding the corpus per call.

    Oracle-gated since r9 (r8 verdict ask #1): the contract key runs
    at FULL probe (nprobe == nlist), where IVF only PARTITIONS the
    corpus and scoring is exact, so chunk_search's composed
    chunking+cosine oracle gates the whole persisted path end to end
    — build, layout, probe scan, text ride-along (pytest
    test_full_probe_equals_brute_force pins the same equality). The
    production pruned-probe dial (nprobe < nlist) stays pytest-gated
    (persisted==in-memory at any nprobe, PartitionFilters, byte-stable
    appends: tests/test_chunk_index.py) and bench-measured as
    ``chunk_search_ivf_pruned``."""
    import tempfile

    if sf_dir not in _CHUNK_INDEX_PATHS:
        path = tempfile.mkdtemp(prefix="fvs_chunkidx_") + "/index"
        embed.chunk_index_build(
            _t(spark, sf_dir, "documents"), path, nlist=16,
        )
        _CHUNK_INDEX_PATHS[sf_dir] = path
    return embed.chunk_search_persisted(
        spark, _CHUNK_INDEX_PATHS[sf_dir], RAG_QUERY, k=5, nprobe=16,
    ).drop("list_id")


def q_cross_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieve → cross-encoder pair rerank: feature-hash
    cosine shortlist, then the committed numpy PAIR head scoring
    (query, doc) batches through one Arrow slot. Rows-only: model
    forward has no SQL twin; shortlist-only slot + determinism +
    bounded-interaction gates in tests/test_wave7_ops.py."""
    from faiss_vector_search_spark.operators import rerank as rerank_mod

    return rerank_mod.cross_encoder_rerank(
        _t(spark, sf_dir, "documents"), RAG_QUERY, k=5, shortlist=20,
    )


def q_domain_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based domain mixing (mT5 recipe, alpha=0.5):
    per-domain quotas ∝ sqrt(n_d), IEEE-exact micro-weight integer
    arithmetic, md5-rank stable selection."""
    return textstats.domain_temperature_sample(
        _t(spark, sf_dir, "documents"), n_total=300, alpha=0.5
    )


def q_chunk_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full retrieval flow end to end: greedy-chunk
    the corpus, embed the CHUNKS, cosine top-5, hits carrying
    (doc_id, chunk_id, chunk_text, score) — search_service.py's
    search_detailed over index_service's chunk index, as one
    oracle-gated composition."""
    return embed.chunk_text_search(
        _t(spark, sf_dir, "documents"), RAG_QUERY,
        k=5, min_size=100, max_size=250, overlap=20, hash_fn="md5",
    )


ORACLES["domain_temperature"] = f"""
WITH c AS (SELECT source, count(*)::BIGINT AS n_d FROM documents GROUP BY 1),
w AS (
  SELECT source, n_d,
         CAST(floor(sqrt(n_d::DOUBLE) * 1000000) AS BIGINT) AS w
  FROM c
),
tot AS (SELECT sum(w)::BIGINT AS tw FROM w),
q AS (
  SELECT source, least(n_d, CAST(300 AS BIGINT) * w // tw) AS quota
  FROM w, tot
),
r AS (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY {md5_int_sql("CAST(doc_id AS VARCHAR)")} ASC, doc_id ASC
         ) AS rn
  FROM documents
)
SELECT r.doc_id, r.source FROM r JOIN q USING (source) WHERE rn <= q.quota
"""

ORACLES["chunk_search"] = f"""
WITH chunks AS ({ORACLES["chunk_documents_greedy"]}),
cb AS (
  SELECT doc_id * 100000 + chunk_id AS ckey,
         (('0x' || substr(md5('s0:' || tok), 1, 15))::BIGINT % 64) AS bucket,
         count(*)::BIGINT AS cnt
  FROM (
    SELECT doc_id, chunk_id,
           unnest(list_filter(regexp_split_to_array(lower(chunk),
                  '[^a-z0-9]+'), t -> t <> '')) AS tok
    FROM chunks
  )
  GROUP BY 1, 2
),
qb AS (
  SELECT (('0x' || substr(md5('s0:' || tok), 1, 15))::BIGINT % 64) AS bucket,
         count(*)::BIGINT AS qcnt
  FROM (SELECT unnest(list_filter(regexp_split_to_array(
          lower('{RAG_QUERY}'), '[^a-z0-9]+'), t -> t <> '')) AS tok)
  GROUP BY 1
),
qn AS (SELECT sum(qcnt * qcnt) AS qn2 FROM qb),
dn AS (SELECT ckey, sum(cnt * cnt) AS dn2 FROM cb GROUP BY 1),
scored AS (
  SELECT cb.ckey,
         ROUND(sum(cnt * qcnt)
               / (sqrt(dn.dn2::DOUBLE) * sqrt(qn.qn2::DOUBLE)), 6) AS score
  FROM cb JOIN qb USING (bucket) JOIN dn ON cb.ckey = dn.ckey, qn
  GROUP BY cb.ckey, dn.dn2, qn.qn2
  HAVING sum(cnt * qcnt) > 0
),
top AS (SELECT * FROM scored ORDER BY score DESC, ckey ASC LIMIT 5)
SELECT CAST(t.ckey // 100000 AS BIGINT) AS doc_id,
       CAST(t.ckey % 100000 AS INT) AS chunk_id,
       c.chunk AS chunk_text, t.score
FROM top t JOIN chunks c
  ON c.doc_id = t.ckey // 100000 AND c.chunk_id = t.ckey % 100000
ORDER BY t.score DESC, doc_id ASC, chunk_id ASC
"""

# full-probe persisted serving is exact (IVF only partitions the
# corpus), so the chunk-index key shares chunk_search's composed
# chunking+cosine oracle — the promotion recipe the persisted-mining
# trio proved in r8
ORACLES["chunk_search_ivf"] = ORACLES["chunk_search"]


# --- driver contract ------------------------------------------------------


def q_diversified_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-diversified retrieval: relevance top-5 under a
    2-per-source cap over a 20-candidate text_search pool — the
    search-result diversification guard for RAG contexts."""
    from faiss_vector_search_spark.operators import embed as embed_mod

    return embed_mod.diversified_search(
        _t(spark, sf_dir, "documents"),
        "batch window vector hash fast stream",
        k=5, per_source_cap=2, pool=20,
    )


_LEXIDX_PATHS: dict[str, str] = {}


def q_bm25_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 against the persisted inverted index (search-as-a-service;
    build amortized outside the query). Oracle-gated since r9 (r8
    verdict ask #1): the probe computes the same exact integer
    tf/df/dl/N and the same sorted contribution fold as the batch
    engine, so the bm25_search oracle gates the whole persisted path
    end to end — store layout, partition-pruned probe scan, pinned
    ``_meta`` globals. Byte-equality with batch bm25_search (incl.
    post-append) stays pytest-gated (tests/test_lexindex.py)."""
    import tempfile

    if sf_dir not in _LEXIDX_PATHS:
        path = tempfile.mkdtemp(prefix="fvs_lexidx_entry_") + "/idx"
        lexical.lexical_index_save(_t(spark, sf_dir, "documents"), path)
        _LEXIDX_PATHS[sf_dir] = path
    out = lexical.bm25_index_search(
        spark, _LEXIDX_PATHS[sf_dir], RAG_QUERY, k=10,
    )
    return out.select("doc_id", F.col("score").cast(DBL).alias("score"))


# the probe is score-identical to the batch engine over the same
# corpus and query, so the persisted path shares bm25_search's oracle
ORACLES["bm25_index_search"] = ORACLES["bm25_search"]


def q_ql_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirichlet QL served ENTIRELY from the persisted inverted index
    (SURVEY §2 #216 — the LM-family twin of bm25_index_search,
    completing the index-serving ladder): ctf/|q_eff| from ONE
    bounded aggregation over the pruned postings scan, |C| from
    _meta, scoring from a second pruned scan — the corpus is never
    read. Shares ql_search's oracle (score-identical exact integers +
    the same sorted fold)."""
    if sf_dir not in _LEXIDX_PATHS:
        import tempfile

        path = tempfile.mkdtemp(prefix="fvs_lexidx_entry_") + "/idx"
        lexical.lexical_index_save(_t(spark, sf_dir, "documents"), path)
        _LEXIDX_PATHS[sf_dir] = path
    out = lexical.ql_index_search(
        spark, _LEXIDX_PATHS[sf_dir], RAG_QUERY, k=10, mu=1000.0,
    )
    return out.select("doc_id", F.col("score").cast(DBL).alias("score"))


def q_fuzzy_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo-tolerant retrieval served ENTIRELY from the persisted
    inverted index (r10 verdict ask #4, SURVEY §2 #214): the edit-
    ball expansion probes the index's length-partitioned ``_terms``
    dictionary (PartitionFilters prune to the query's length window —
    no corpus vocabulary scan), then bm25_index_search scores the
    expanded set from the pruned posting buckets. Same oracle as
    fuzzy_search (the bm25_index_search promotion recipe): the
    dictionary IS the corpus vocabulary and the probe engine is
    score-identical to batch BM25, so the scan-form oracle gates the
    whole index-serving path end to end."""
    if sf_dir not in _LEXIDX_PATHS:
        import tempfile

        path = tempfile.mkdtemp(prefix="fvs_lexidx_entry_") + "/idx"
        lexical.lexical_index_save(_t(spark, sf_dir, "documents"), path)
        _LEXIDX_PATHS[sf_dir] = path
    out = lexical.fuzzy_index_search(
        spark, _LEXIDX_PATHS[sf_dir], FUZZY_QUERY, k=10, max_dist=1,
    )
    return out.select("doc_id", F.col("score").cast(DBL).alias("score"))


# r10 promotions — two formerly rows-only keys whose outputs are pure
# deterministic arithmetic over `documents`:
#
# training_shards: the manifest is (shard, n_docs, n_tokens) with
# n_shards = ceil(total_tokens / 5000) and shard = md5hash(id) % n
# (entry runs the md5 oracle profile; layout stays pytest-gated).
# COALESCE pins the NULL-text semantics to the engine's (a NULL doc
# carries 0 tokens — the r10 ADVICE divergence surface): DuckDB's
# len(NULL) is NULL and would silently fall out of the sums.
ORACLES["training_shards"] = f"""
WITH toks AS (
  SELECT doc_id, CAST(COALESCE(len({_TOKS}), 0) AS BIGINT) AS n FROM documents
),
ns AS (SELECT CAST(ceil(sum(n) / 5000.0) AS BIGINT) AS n_shards FROM toks)
SELECT CAST({_md5i("'s41:' || doc_id::VARCHAR")} % (SELECT n_shards FROM ns) AS INT) AS shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n) AS BIGINT) AS n_tokens
FROM toks GROUP BY 1
"""

# r11 promotions (r10 verdict ask #7):
#
# bigram_heavy_hitters: under tie_break="lexical" the result is the
# exact SQL top-20 by (count desc, bigram asc) whenever the sketch is
# exact (distinct bigrams <= max_tracked — true at the driver SF)
ORACLES["bigram_heavy_hitters"] = f"""
WITH toks AS (SELECT {_TOKS} AS t FROM documents),
bg AS (
  SELECT t[i] || ' ' || t[i + 1] AS bigram
  FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
  WHERE len(t) >= 2
)
SELECT bigram, count(*)::BIGINT AS n FROM bg GROUP BY 1
ORDER BY n DESC, bigram ASC LIMIT 20
"""

# profile_delta: the change set between the two snapshot versions is
# the same fixture rule snapshot_diff's oracle recomputes (v1 = drop
# doc_id%7==0, append ' [rev2]' when doc_id%5==0), so the whole
# incremental-ANALYZE arithmetic — counts advanced exactly, min/max
# carried monotonically, minmax_exact = no boundary value removed —
# recomputes directly over `documents`
_PD_ADDED = """
  SELECT doc_id, text || ' [rev2]' AS text, lang, source FROM documents
  WHERE doc_id % 7 <> 0 AND doc_id % 5 = 0 AND text IS NOT NULL
"""
_PD_REMOVED = """
  SELECT doc_id, text, lang, source FROM documents
  WHERE doc_id % 7 = 0
     OR (doc_id % 7 <> 0 AND doc_id % 5 = 0 AND text IS NOT NULL)
"""
ORACLES["profile_delta"] = "\nUNION ALL\n".join(
    f"""
SELECT '{c}' AS "column",
       (o.n_rows + a.a_rows - r.r_rows)::BIGINT AS n_rows,
       (o.n_nulls + (a.a_rows - a.a_nn) - (r.r_rows - r.r_nn))::BIGINT
         AS n_nulls,
       least(o.min_v, coalesce(a.min_v, o.min_v)) AS min_value,
       greatest(o.max_v, coalesce(a.max_v, o.max_v)) AS max_value,
       NOT coalesce(
         (r.min_v IS NOT NULL AND r.min_v = o.min_v)
         OR (r.max_v IS NOT NULL AND r.max_v = o.max_v), FALSE)
         AS minmax_exact
FROM
  (SELECT count(*) AS n_rows, count(*) - count({c}) AS n_nulls,
          min(CAST({c} AS VARCHAR)) AS min_v,
          max(CAST({c} AS VARCHAR)) AS max_v
   FROM documents) o,
  (SELECT count(*) AS a_rows, count({c}) AS a_nn,
          min(CAST({c} AS VARCHAR)) AS min_v,
          max(CAST({c} AS VARCHAR)) AS max_v
   FROM ({_PD_ADDED})) a,
  (SELECT count(*) AS r_rows, count({c}) AS r_nn,
          min(CAST({c} AS VARCHAR)) AS min_v,
          max(CAST({c} AS VARCHAR)) AS max_v
   FROM ({_PD_REMOVED})) r"""
    for c in ("text", "lang", "source")
)

# snapshot_diff: the entry derives v1 from v0 by a fixed rule (drop
# doc_id%7==0; append ' [rev2]' when doc_id%5==0), so the change set
# recomputes directly — removed = dropped keys, changed = surviving
# keys whose text actually changed (a NULL text stays NULL under
# concat, hence unchanged); no rows are added
ORACLES["snapshot_diff"] = """
SELECT doc_id, 'removed' AS change FROM documents WHERE doc_id % 7 = 0
UNION ALL
SELECT doc_id, 'changed' AS change FROM documents
WHERE doc_id % 7 <> 0 AND doc_id % 5 = 0 AND text IS NOT NULL
"""

# r10 new operators (SURVEY §2 #210/#211)
#
# ql_search: Dirichlet query-likelihood (μ=1000), rank-equivalent
# form — matched-term fold (sorted, bm25's determinism discipline)
# plus |q_eff|·ln(μ/(dl+μ)); ctf = corpus occurrences of each query
# term, |q_eff| = query terms present in the collection at all
ORACLES["ql_search"] = f"""
WITH d AS (
  SELECT doc_id, toks, len(toks) AS dl
  FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
  WHERE len(toks) > 0
),
qt(term) AS (VALUES {_QT_VALUES}),
stats AS (SELECT sum(dl)::DOUBLE AS c_len FROM d),
toksq AS (
  SELECT doc_id, dl, u.t AS term
  FROM d, unnest(toks) AS u(t)
  WHERE u.t IN (SELECT term FROM qt)
),
ctf AS (SELECT term, count(*)::DOUBLE AS ctf FROM toksq GROUP BY 1),
nq AS (SELECT count(*) AS n FROM ctf),
tf AS (
  SELECT doc_id, dl, term, count(*) AS tf FROM toksq GROUP BY 1, 2, 3
),
contrib AS (
  SELECT t.doc_id, t.dl, t.term,
         ln(1 + t.tf / (1000.0 * c.ctf / s.c_len)) AS c
  FROM tf t JOIN ctf c USING (term), stats s
),
scored AS (
  SELECT doc_id,
         ROUND(list_sum(list_transform(
           list_sort(list(struct_pack(t := term, c := c))), s -> s.c))
           + any_value(nq.n) * ln(1000.0 / (any_value(dl) + 1000.0)), 6)
           AS score
  FROM contrib, nq GROUP BY doc_id
)
SELECT doc_id, score FROM scored ORDER BY score DESC, doc_id ASC LIMIT 10
"""


def _ql_block(i: int, q: str) -> str:
    """Per-query CTE block for the ql_search_multi oracle — the same
    Dirichlet-QL chain as the ql_search oracle, name-suffixed; the
    doc-side CTEs (d, stats) are shared across all tags."""
    qt_values = ", ".join(f"('{t}')" for t in sorted(set(q.split())))
    return f"""
qt{i}(term) AS (VALUES {qt_values}),
toksq{i} AS (
  SELECT doc_id, dl, u.t AS term
  FROM d, unnest(toks) AS u(t)
  WHERE u.t IN (SELECT term FROM qt{i})
),
ctf{i} AS (SELECT term, count(*)::DOUBLE AS ctf FROM toksq{i} GROUP BY 1),
nq{i} AS (SELECT count(*) AS n FROM ctf{i}),
tf{i} AS (
  SELECT doc_id, dl, term, count(*) AS tf FROM toksq{i} GROUP BY 1, 2, 3
),
contrib{i} AS (
  SELECT t.doc_id, t.dl, t.term,
         ln(1 + t.tf / (1000.0 * c.ctf / s.c_len)) AS c
  FROM tf{i} t JOIN ctf{i} c USING (term), stats s
),
scored{i} AS (
  SELECT doc_id,
         ROUND(list_sum(list_transform(
           list_sort(list(struct_pack(t := term, c := c))), s -> s.c))
           + any_value(nq.n) * ln(1000.0 / (any_value(dl) + 1000.0)), 6)
           AS score
  FROM contrib{i}, nq{i} nq GROUP BY doc_id
),
ranked{i} AS (
  SELECT 'q{i}' AS query_tag, doc_id, score, rank FROM (
    SELECT doc_id, score, CAST(row_number() OVER (
      ORDER BY score DESC, doc_id ASC) AS INT) AS rank
    FROM scored{i}
  ) WHERE rank <= 10
)"""


ORACLES["ql_search_multi"] = f"""
WITH d AS (
  SELECT doc_id, toks, len(toks) AS dl
  FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
  WHERE len(toks) > 0
),
stats AS (SELECT sum(dl)::DOUBLE AS c_len FROM d),
{",".join(_ql_block(i, q) for i, (_tag, q) in enumerate(_QL_MULTI_QUERIES, 1))}
SELECT * FROM ({" UNION ALL ".join(f"SELECT * FROM ranked{i}" for i in range(1, len(_QL_MULTI_QUERIES) + 1))})
ORDER BY query_tag, rank
"""

# fuzzy_search: the expanded term set recomputes in SQL (vocabulary
# terms within 1 edit of a query term, same length-window + lev
# predicate), then the standard bm25 CTE chain scores it — variants
# score with their own df/tf, exactly like the Spark composition
_FUZZY_PRED = " OR ".join(
    f"(abs(len(term) - {len(q)}) <= 1 AND levenshtein(term, '{q}') <= 1)"
    for q in sorted(set(FUZZY_QUERY.split()))
)
ORACLES["fuzzy_search"] = f"""
WITH vocab AS (
  SELECT DISTINCT u.t AS term
  FROM (SELECT list_distinct({_TOKS}) AS toks FROM documents),
       unnest(toks) AS u(t)
),
qt AS (SELECT term FROM vocab WHERE {_FUZZY_PRED}),
toksb AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
dl AS (SELECT doc_id, count(*) AS dl FROM toksb GROUP BY 1),
stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toksb JOIN qt USING (term) GROUP BY 1, 2),
dfx AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
contrib AS (
  SELECT t.doc_id, t.term,
         ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
         * (t.tf * 2.2)
         / (t.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / (s.sum_dl / s.n_docs))) AS c
  FROM tf t JOIN dfx d USING (term) JOIN dl l USING (doc_id), stats s
),
bm25 AS (
  SELECT doc_id,
         ROUND(list_sum(list_transform(
           list_sort(list(struct_pack(t := term, c := c))), s -> s.c)), 6) AS score
  FROM contrib GROUP BY doc_id
)
SELECT doc_id, score FROM bm25 ORDER BY score DESC, doc_id ASC LIMIT 10
"""

# the index-served fuzzy probe expands from the persisted _terms
# dictionary (== the corpus vocabulary) and scores via the
# score-identical bm25_index_search engine, so it shares the
# scan-form oracle (the bm25_index_search promotion recipe)
ORACLES["fuzzy_index_search"] = ORACLES["fuzzy_search"]

# the index-served QL probe reads tf/dl from the pruned postings,
# ctf as their per-term sums, |C| from _meta — the same exact
# integers and sorted fold as the scan form, so it shares ql_search's
# oracle (the bm25_index_search recipe, applied to the LM family)
ORACLES["ql_index_search"] = ORACLES["ql_search"]

# prf_search: the full feedback chain in SQL — the bm25 CTEs pick
# the 5 feedback docs, RM1 (tf/dl sorted-fold over the feedback
# docs, query terms excluded) ranks expansion terms, rank-decay
# RATIONAL weights ((1-λ)·2(n-r+1)/(n(n+1)); λ/|q| for originals)
# keep every float cross-engine-identical, and the weighted bm25
# chain re-scores. Shares toksb/dl/stats/qt with the bm25 CTEs.
ORACLES["prf_search"] = f"""
WITH {_BM25_CTES},
fb AS (SELECT doc_id FROM bm25 ORDER BY score DESC, doc_id ASC LIMIT 5),
fbtf AS (
  SELECT t.doc_id, t.term, l.dl, count(*) AS tf
  FROM toksb t JOIN fb USING (doc_id) JOIN dl l USING (doc_id)
  WHERE t.term NOT IN (SELECT term FROM qt)
  GROUP BY 1, 2, 3
),
rm1 AS (
  SELECT term,
         list_sum(list_transform(
           list_sort(list(struct_pack(i := doc_id, c := tf::DOUBLE / dl))),
           x -> x.c)) AS w
  FROM fbtf GROUP BY term
),
kept AS (
  SELECT term, r FROM (
    SELECT term, row_number() OVER (ORDER BY w DESC, term ASC) AS r
    FROM rm1
  ) WHERE r <= 10
),
nterm AS (SELECT count(*) AS n FROM kept),
wts AS (
  SELECT term, 0.6 / 6 AS wt FROM qt
  UNION ALL
  SELECT k.term,
         (1.0 - 0.6) * 2.0 * (n.n - k.r + 1) / (n.n * (n.n + 1)) AS wt
  FROM kept k, nterm n
),
tf2 AS (
  SELECT doc_id, term, count(*) AS tf
  FROM toksb JOIN wts USING (term) GROUP BY 1, 2
),
dfx2 AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf2 GROUP BY 1),
contrib2 AS (
  SELECT t.doc_id, t.term,
         q.wt * (
           ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
           * (t.tf * 2.2)
           / (t.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / (s.sum_dl / s.n_docs)))
         ) AS c
  FROM tf2 t JOIN dfx2 d USING (term) JOIN dl l USING (doc_id)
       JOIN wts q USING (term), stats s
),
prf AS (
  SELECT doc_id,
         ROUND(list_sum(list_transform(
           list_sort(list(struct_pack(t := term, c := c))), s -> s.c)), 6) AS score
  FROM contrib2 GROUP BY doc_id
)
SELECT doc_id, score FROM prf ORDER BY score DESC, doc_id ASC LIMIT 10
"""

# percolate: stored boolean-AND queries vs every doc's distinct
# token set; a doc matches a query when it contains all its terms
_PERC_VALUES = ", ".join(
    f"('{qid}', '{t}')"
    for qid, qtext in _PERC_QUERIES
    for t in sorted(set(qtext.split()))
)
ORACLES["percolate"] = f"""
WITH q(query_id, term) AS (VALUES {_PERC_VALUES}),
qn AS (SELECT query_id, count(*)::INT AS n_terms FROM q GROUP BY 1),
dt AS (
  SELECT doc_id, u.t AS term
  FROM (SELECT doc_id, list_distinct({_TOKS}) AS toks FROM documents),
       unnest(toks) AS u(t)
  WHERE u.t IN (SELECT term FROM q)
),
m AS (
  SELECT q.query_id, dt.doc_id, count(*)::INT AS n_matched
  FROM dt JOIN q USING (term) GROUP BY 1, 2
)
SELECT m.query_id, m.doc_id, m.n_matched, qn.n_terms
FROM m JOIN qn USING (query_id)
WHERE m.n_matched >= qn.n_terms
"""


_IVFIDX_PATHS: dict[str, str] = {}


def q_ivf_batch_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched search over the persisted IVF index: 4 queries share
    ONE partition-pruned scan (probe-set union as the IN filter, the
    probe map broadcast-joined so rows score only against the queries
    that probed their list). Hash-gated on the composed multi-query
    semantics (seeded centroids, per-query probes, per-query rank);
    equality with the per-query ivf.search_persisted loop + the prune
    plan fact are additionally pytest-gated (tests/test_wave4_ops.py)."""
    import tempfile

    from faiss_vector_search_spark.operators import ivf as ivf_mod

    emb = _t(spark, sf_dir, "embeddings")
    if sf_dir not in _IVFIDX_PATHS:
        path = tempfile.mkdtemp(prefix="fvs_ivfidx_entry_") + "/idx"
        cents = ivf_mod.seeded_centroids(emb, nlist=16)
        ivf_mod.save_ivf(emb, cents, path)
        _IVFIDX_PATHS[sf_dir] = path
    queries = emb.where(F.col("vec_id").isin([0, 3, 7, 11])).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    return ivf_mod.ivf_search_persisted_batch(
        spark, _IVFIDX_PATHS[sf_dir], queries, nprobe=4, k=10
    )


def _ivf_store(spark: SparkSession, sf_dir: str) -> str:
    """The shared per-SF persisted IVF store (same build as
    q_ivf_batch_query's, cached for the whole process)."""
    import tempfile

    from faiss_vector_search_spark.operators import ivf as ivf_mod

    if sf_dir not in _IVFIDX_PATHS:
        emb = _t(spark, sf_dir, "embeddings")
        path = tempfile.mkdtemp(prefix="fvs_ivfidx_entry_") + "/idx"
        ivf_mod.save_ivf(emb, ivf_mod.seeded_centroids(emb, nlist=16), path)
        _IVFIDX_PATHS[sf_dir] = path
    return _IVFIDX_PATHS[sf_dir]


def q_knn_classify_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN classification served from the persisted IVF store: both
    the candidate scan and the label join-back read nprobe/nlist of
    the index files. Oracle-gated end to end (probe pipeline + vote
    tail in SQL); full-probe == exact knn_classify additionally
    pytest-gated (tests/test_knn_two_phase.py)."""
    from faiss_vector_search_spark.operators import knn as knn_mod

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id").isin([0, 3, 7, 11])).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    return knn_mod.knn_classify_persisted(
        spark, _ivf_store(spark, sf_dir), queries, k=10, nprobe=4,
    )


def q_hard_negatives_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FAISS-mined hard negatives from the persisted IVF store: probe
    a k×pool candidate pool in one pruned scan, label-filter, re-rank.
    Oracle-gated end to end; full-probe deep-pool == exact
    hard_negatives additionally pytest-gated."""
    from faiss_vector_search_spark.operators import knn as knn_mod

    emb = _t(spark, sf_dir, "embeddings")
    anchors = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.col("label").alias("query_label"),
    )
    return knn_mod.hard_negatives_persisted(
        spark, _ivf_store(spark, sf_dir), anchors, k=5, nprobe=4,
        pool_mult=4,
    )


def q_training_triplets_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triplet mining from the persisted IVF store: one pruned probe
    fetches a candidate pool per anchor, sides split by label, each
    side re-ranks its bounded slice. Oracle-gated end to end;
    full-probe deep-pool == exact training_triplets additionally
    pytest-gated."""
    from faiss_vector_search_spark.operators import knn as knn_mod

    emb = _t(spark, sf_dir, "embeddings")
    anchors = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.col("label").alias("query_label"),
    )
    return knn_mod.training_triplets_persisted(
        spark, _ivf_store(spark, sf_dir), anchors, nprobe=4, pool=20,
    )


def q_index_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-call persisted-index health check (reference get_stats +
    train-when-needed, index_service.py:179-185 end to end): layout
    stats + measured recall at the current nprobe + smallest dial
    meeting the recall target + retrain verdict, all over the SAME
    persisted store q_ivf_batch_query builds (each grid step is one
    partition-pruned batched scan). Rows-only: probe recall has no SQL
    twin; property gates in tests/test_lifecycle.py."""
    from faiss_vector_search_spark.operators import ivf, lifecycle

    q_ivf_batch_query(spark, sf_dir)  # ensure the store exists
    path = _IVFIDX_PATHS[sf_dir]
    if ivf._trained_on(spark, path) is None:  # watermark: trained on build corpus
        n = _t(spark, sf_dir, "embeddings").count()
        lifecycle.write_train_meta(spark, path, n)
    return lifecycle.index_health_report(
        spark, path, query_ids=(0, 3, 7, 11),
        k=10, nprobe=4, target_recall=0.9,
    )


_SNAPDIFF_PATHS: dict[str, str] = {}


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level diff between two committed corpus snapshot versions
    (added/removed/changed by doc_id) — the lakehouse CDC read over
    the plain-parquet versioned store. ORACLE-GATED (r10 promotion):
    v1 is derived from v0 by a deterministic rule (drop doc_id%7==0,
    append ' [rev2]' to text when doc_id%5==0), so DuckDB recomputes
    the change set directly from `documents` without the store; the
    manifest-pinning/immutability mechanics stay pytest-gated in
    tests/test_maintenance.py."""
    import tempfile

    from faiss_vector_search_spark.operators import maintenance as mt

    if sf_dir not in _SNAPDIFF_PATHS:
        path = tempfile.mkdtemp(prefix="fvs_snapdiff_") + "/snap"
        docs = _t(spark, sf_dir, "documents")
        mt.write_snapshot(docs, path)
        v1 = docs.where(F.col("doc_id") % 7 != 0).withColumn(
            "text",
            F.when(F.col("doc_id") % 5 == 0,
                   F.concat(F.col("text"), F.lit(" [rev2]")))
            .otherwise(F.col("text")),
        )
        mt.write_snapshot(v1, path)
        _SNAPDIFF_PATHS[sf_dir] = path
    return mt.snapshot_diff(spark, _SNAPDIFF_PATHS[sf_dir], 0, 1)


def q_profile_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANALYZE: advance table stats across the same two
    snapshot versions q_snapshot_diff builds, touching only changed
    rows. ORACLE-GATED since r11 (r10 verdict ask #7, the
    snapshot_diff promotion recipe): the fixture's change set is a
    fixed rule, so the entire incremental arithmetic — counts
    advanced exactly, min/max carried monotonically, minmax_exact =
    no-boundary-removal — recomputes in SQL over `documents`.
    Exactness-vs-full-recompute and containment stay pytest-gated
    (tests/test_wave4_ops.py)."""
    from faiss_vector_search_spark.operators import maintenance as mt

    q_snapshot_diff(spark, sf_dir)  # ensure the store exists
    path = _SNAPDIFF_PATHS[sf_dir]
    old = analytics.table_profile(
        mt.read_snapshot(spark, path, 0), cols=("text", "lang", "source")
    )
    return mt.profile_delta(
        spark, path, 0, 1, old, cols=("text", "lang", "source")
    )


def q_docx_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """docx → text ingest, FUNCTIONAL end to end with the pure-stdlib
    OPC decoder (sources/docx.py, no python-docx; reference
    preprocessing/process_docx_files.py): synthesize a dir of real
    .docx packages, binaryFile-scan + mapInPandas decode, return the
    extracted text. Rows-only: ZIP/XML decode has no SQL twin;
    correctness is pytest-gated on hand-built packages."""
    import io
    import tempfile
    import zipfile

    from faiss_vector_search_spark.sources import docx as docx_mod

    ns = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"
    d = tempfile.mkdtemp(prefix="fvs_docx_")
    for i in range(5):
        body = "".join(
            f'<w:p><w:r><w:t xml:space="preserve">{t}</w:t></w:r></w:p>'
            for t in (f"document {i} title", f"paragraph body {i} " * 3)
        )
        xml = (f'<?xml version="1.0" encoding="UTF-8"?>'
               f'<w:document xmlns:w="{ns}"><w:body>{body}</w:body>'
               f'</w:document>')
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as z:
            z.writestr("[Content_Types].xml", "<Types/>")
            z.writestr("word/document.xml", xml)
        with open(f"{d}/doc{i}.docx", "wb") as fh:
            fh.write(buf.getvalue())
    out = docx_mod.read_docx_dir(spark, d)
    # path/doc_id embed the temp dir — project the deterministic cols
    return out.select("text", "n_bytes").orderBy("text")


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode, FUNCTIONAL end to end: deterministic BMP +
    baseline-JPEG images and WAV clips synthesized in-flight, decoded
    by the pure-numpy codecs (sources/multimodal.py + sources/jpeg.py
    — public struct/T.81 layouts, no image/audio library), resized,
    and profiled. One row per item: (item_id, modality, width/height
    or frames/rate, feature). Rows-only: binary codec plumbing has no
    SQL twin; correctness is pytest-gated against hand-packed
    reference bytes (tests/test_sources.py TestBuiltinCodecs /
    TestJpegCodec)."""
    import numpy as np

    from faiss_vector_search_spark.sources import jpeg as jpg
    from faiss_vector_search_spark.sources import multimodal as mm

    rng = np.random.default_rng(11)
    img_rows = [
        (i, "image",
         mm.bmp_encode(rng.integers(0, 256, size=(8 + i, 12, 3),
                                    dtype=np.uint8)), {})
        for i in range(4)
    ] + [
        (4 + i, "image",
         jpg.jpeg_encode(rng.integers(0, 256, size=(8 + i, 12, 3),
                                      dtype=np.uint8), quant=1), {})
        for i in range(2)
    ]
    import struct

    def wav(n, rate=8000):
        t = np.arange(n)
        s = (12000 * np.sin(2 * np.pi * 440 * t / rate)).astype("<i2")
        fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
        return (b"RIFF" + struct.pack("<I", 36 + 2 * n) + b"WAVE"
                + b"fmt " + struct.pack("<I", len(fmt)) + fmt
                + b"data" + struct.pack("<I", 2 * n) + s.tobytes())

    wav_rows = [(10 + i, "audio", wav(4000 + 1000 * i), {}) for i in range(3)]
    items = spark.createDataFrame(img_rows + wav_rows, mm.ITEM_SCHEMA)
    imgs = mm.resize_images(
        items.where(F.col("modality") == "image"), 6, 6
    )
    decoded = mm.decode_images(imgs.select("item_id", "payload"))
    img_out = decoded.select(
        "item_id", F.lit("image").alias("modality"),
        F.col("width").cast("bigint").alias("a"),
        F.col("height").cast("bigint").alias("b"),
        F.lit(None).cast("double").alias("feature"),
    )
    aud_out = mm.audio_stats(
        items.where(F.col("modality") == "audio")
    ).select(
        "item_id", F.lit("audio").alias("modality"),
        F.col("n_frames").alias("a"),
        F.col("sample_rate").cast("bigint").alias("b"),
        F.col("rms").alias("feature"),
    )
    return img_out.unionByName(aud_out).orderBy("item_id")


def q_rag_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval → budgeted context assembly (the reference's
    retrieve-then-build-prompt path, prompt_service.py:133-163):
    text_search top-5, broadcast join-back, greedy token-budget pack
    (budget 250 < the 5-hit total, so the cut is exercised),
    rank-ordered '[Document i] (Relevance: p%)' assembly."""
    from faiss_vector_search_spark.operators import embed as embed_mod

    return embed_mod.rag_context(
        _t(spark, sf_dir, "documents"),
        "batch window vector hash fast stream",
        k=5, token_budget=250,
    )


def q_embed_text_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION learned-model embedding path: the committed numpy
    MLP through the Arrow-batched mapInPandas slot where the reference
    runs sentence-transformers (embedding_service.py:64-122). Emits
    per-doc vector norm + first component so the schema is stable and
    compact. Rows-only: a model forward pass has no SQL twin; pytest
    gates batch-size/partitioning invariance + self-retrieval
    (tests/test_embed_model.py)."""
    from faiss_vector_search_spark.operators import embed as embed_mod

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    out = embed_mod.embed_documents(docs, model="numpy", batch_size=64)
    return out.select(
        "doc_id",
        F.round(
            F.aggregate(
                F.col("embedding"), F.lit(0.0), lambda a, x: a + x * x
            ),
            6,
        ).alias("norm2"),
        F.round(F.element_at(F.col("embedding"), 1), 6).alias("c0"),
    ).orderBy("doc_id")


def q_nprobe_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nprobe dial helper (evaluate.nprobe_for_recall): walk the
    IVF probe grid until recall@10 meets the target, return the
    measured curve with the recommended setting flagged. Rows-only:
    the walk is iterative/measured; pytest gates the termination and
    monotonicity contracts."""
    from faiss_vector_search_spark.operators import evaluate

    out = evaluate.nprobe_for_recall(
        _t(spark, sf_dir, "embeddings"), target=0.9,
        query_ids=(0, 1, 2), k=10, nlist=16,
    )
    rows = [
        (int(p), float(r), p == out["nprobe"])
        for p, r in sorted(out["curve"].items())
    ]
    return spark.createDataFrame(
        rows, "nprobe int, recall_at_10 double, recommended boolean"
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: Flat-IP top-10 on sf0.001."""
    return q_knn_topk_ip(spark, fio.DEFAULT_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Ordering contract: the driver's CORRECTNESS artifact checks exactly
    # the first 50 insertion-order keys each round (observed r2-r11; policy
    # documented in SURVEY §5). Rotation r12, per the r11 verdict's ask #2:
    # positions 1-11 are the 11 keys whose computation changed in r11 but
    # whose window slot had already rotated (tfidf_topk_terms,
    # dedup_simhash, strip/repeated_spans, chunk_search, ccnet_buckets,
    # fingerprint_overlap, contamination_report, ngram_novelty,
    # hybrid_search_suite, curation_score); then every declared key whose
    # operator code took r12 edits (span triple staging, verify-side
    # candidate semi-joins, line_dedup in-row rebuild, percolate
    # projection, the df_engine threading through the bm25 family,
    # classifier logit_exprs refactor, curation fused scan); then the 24
    # stalest greens (the full remaining r8-green block — last-green
    # histogram after r11: r8:33, r9:40, r10:43, r11:50). Rows-only keys
    # stay last. queries_order.json is regenerated in lockstep by
    # scripts/verify.py.
    return {
        # ---- r12 window (first 50 = the driver's correctness check) ----
        # Rotation r12, per the r11 verdict's ask #2: positions 1-11 are
        # the 11 keys whose computation changed in r11 but missed the r11
        # window; then every declared key whose operator code took r12
        # edits (span staging, verify semi-joins, line_dedup rebuild,
        # percolate projection, df_engine threading, logit_exprs refactor,
        # curation fuse); then the stalest greens (the remaining r8-green
        # block). Rows-only keys stay last. queries_order.json regenerates
        # in lockstep via scripts/verify.py.
        "tfidf_topk_terms": q_tfidf_topk_terms,
        "dedup_simhash": q_dedup_simhash,
        "strip_repeated_spans": q_strip_repeated_spans,
        "repeated_spans": q_repeated_spans,
        "chunk_search": q_chunk_search,
        "ccnet_buckets": q_ccnet_buckets,
        "fingerprint_overlap": q_fingerprint_overlap,
        "contamination_report": q_contamination_report,
        "ngram_novelty": q_ngram_novelty,
        "hybrid_search_suite": q_hybrid_search_suite,
        "curation_score": q_curation_score,
        "line_dedup": q_line_dedup,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_clusters": q_dedup_clusters,
        "near_dup_dedup": q_near_dup_dedup,
        "fuzzy_decontaminate": q_fuzzy_decontaminate,
        "semdedup": q_semdedup,
        "percolate": q_percolate,
        "bm25_search": q_bm25_search,
        "bm25_index_search": q_bm25_index_search,
        "retrieval_eval_suite": q_retrieval_eval_suite,
        "retrieval_eval": q_retrieval_eval,
        "hybrid_search": q_hybrid_search,
        "prf_search": q_prf_search,
        "fuzzy_search": q_fuzzy_search,
        "classifier_calibration": q_classifier_calibration,
        "knn_batch": q_knn_batch,
        "rag_context": q_rag_context,
        "diversified_search": q_diversified_search,
        "tpch_q6": q_tpch_q6,
        "large_volume_customers": q_large_volume_customers,
        "curation_pipeline": q_curation_pipeline,
        "nation_market_share": q_nation_market_share,
        "session_window_agg": q_session_window_agg,
        "binary_hamming_search": q_binary_hamming_search,
        "bloom_semi_join": q_bloom_semi_join,
        "dataset_card": q_dataset_card,
        "cross_domain_dups": q_cross_domain_dups,
        "split_kl": q_split_kl,
        "self_similarity": q_self_similarity,
        "zipf_profile": q_zipf_profile,
        "curriculum_order": q_curriculum_order,
        "maxsim_search": q_maxsim_search,
        "matryoshka_rerank_search": q_matryoshka_rerank_search,
        "token_budget_sample": q_token_budget_sample,
        "pmi_collocations": q_pmi_collocations,
        "domain_kl": q_domain_kl,
        "length_batches": q_length_batches,
        "opq_rerank_search": q_opq_rerank_search,
        "normalize_text": q_normalize_text,
        # ---- behind the window (rotates forward as greens age) ----
        "ql_search_multi": q_ql_search_multi,
        "fuzzy_index_search": q_fuzzy_index_search,
        "ql_index_search": q_ql_index_search,
        "bigram_heavy_hitters": q_bigram_heavy_hitters,
        "profile_delta": q_profile_delta,
        "training_shards": q_training_shards,
        "ql_search": q_ql_search,
        "time_range_rolling": q_time_range_rolling,
        "value_rank_profile": q_value_rank_profile,
        "phrase_search": q_phrase_search,
        "near_search": q_near_search,
        "doc_length_histogram": q_doc_length_histogram,
        "session_stats": q_session_stats,
        "label_centroids": q_label_centroids,
        "pq_rerank_search": q_pq_rerank_search,
        "pricing_cube": q_pricing_cube,
        "nation_trade_volume": q_nation_trade_volume,
        "disjunctive_revenue": q_disjunctive_revenue,
        "events_gap_fill": q_events_gap_fill,
        "promo_profit_by_nation": q_promo_profit_by_nation,
        "events_grouping_sets": q_events_grouping_sets,
        "decontaminate": q_decontaminate,
        "redact_pii": q_redact_pii,
        "repetition_score": q_repetition_score,
        "customer_order_distribution": q_customer_order_distribution,
        "promo_revenue_share": q_promo_revenue_share,
        "top_supplier_revenue": q_top_supplier_revenue,
        "sole_returned_supplier": q_sole_returned_supplier,
        "sq_search": q_sq_search,
        "returned_item_report": q_returned_item_report,
        "supplier_count_by_part": q_supplier_count_by_part,
        "range_search": q_range_search,
        "vector_reconstruct": q_vector_reconstruct,
        "remove_vectors": q_remove_vectors,
        "churned_buyers": q_churned_buyers,
        "weighted_sample": q_weighted_sample,
        "text_search": q_text_search,
        "knn_topk_l2": q_knn_topk_l2,
        "knn_fixed_threshold": q_knn_fixed_threshold,
        "knn_dynamic_threshold": q_knn_dynamic_threshold,
        "quality_classifier": q_quality_classifier,
        "gopher_quality": q_gopher_quality,
        "doc_quality_deciles": q_doc_quality_deciles,
        "snapshot_diff": q_snapshot_diff,
        "knn_classify_ivf": q_knn_classify_ivf,
        "hard_negatives_ivf": q_hard_negatives_ivf,
        "training_triplets_ivf": q_training_triplets_ivf,
        "ivf_batch_query": q_ivf_batch_query,
        "dedup_keep_best": q_dedup_keep_best,
        "stratified_sample": q_stratified_sample,
        "tpch_q1": q_tpch_q1,
        "top_customers_by_nation": q_top_customers_by_nation,
        "part_revenue_share": q_part_revenue_share,
        "shipping_priority": q_shipping_priority,
        "regional_supplier_volume": q_regional_supplier_volume,
        "events_asof_join": q_events_asof_join,
        "order_priority_check": q_order_priority_check,
        "events_range_join": q_events_range_join,
        "events_sessionize": q_events_sessionize,
        "events_tumbling": q_events_tumbling,
        "rolling_user_activity": q_rolling_user_activity,
        "events_hopping": q_events_hopping,
        "customers_without_orders": q_customers_without_orders,
        "small_quantity_revenue": q_small_quantity_revenue,
        "pricing_rollup": q_pricing_rollup,
        "minmax_scale_events": q_minmax_scale_events,
        "distinct_users_by_type": q_distinct_users_by_type,
        "min_cost_supplier": q_min_cost_supplier,
        "event_funnel_horizon": q_event_funnel_horizon,
        "domain_boilerplate": q_domain_boilerplate,
        "event_funnel": q_event_funnel,
        "important_parts": q_important_parts,
        "ship_delay_priority": q_ship_delay_priority,
        "excess_parts": q_excess_parts,
        "knn_topk_ip": q_knn_topk_ip,
        "binary_rerank_search": q_binary_rerank_search,
        "json_props_rollup": q_json_props_rollup,
        "event_value_quantiles": q_event_value_quantiles,
        "bigram_counts": q_bigram_counts,
        "event_type_pivot": q_event_type_pivot,
        "table_profile": q_table_profile,
        "pack_sequences": q_pack_sequences,
        "knn_threshold_progression": q_knn_threshold_progression,
        "chunk_search_ivf": q_chunk_search_ivf,
        "knn_classify": q_knn_classify,
        "knn_classify_weighted": q_knn_classify_weighted,
        "hard_negatives": q_hard_negatives,
        "training_triplets": q_training_triplets,
        "ivf_search": q_ivf_search,
        "vector_normalize": q_vector_normalize,
        "index_stats": q_index_stats,
        "add_documents": q_add_documents,
        "embed_text": q_embed_text,
        "lang_id": q_lang_id,
        "chunk_fixed": q_chunk_fixed,
        "dedup_exact": q_dedup_exact,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "c4_rules": q_c4_rules,
        "domain_temperature": q_domain_temperature,
        "ngram_lookup": q_ngram_lookup,
        "embedding_drift": q_embedding_drift,
        "quality_score": q_quality_score,
        "domain_mix_sample": q_domain_mix_sample,
        "corpus_profile": q_corpus_profile,
        "bigram_lm_score": q_bigram_lm_score,
        "unpivot_user_matrix": q_unpivot_user_matrix,
        "fim_transform": q_fim_transform,
        "dsir_sample": q_dsir_sample,
        "chunk_documents_greedy": q_chunk_documents_greedy,
        "knn_filtered_search": q_knn_filtered_search,
        "token_count": q_token_count,
        "doc_fingerprint": q_doc_fingerprint,
        "merge_indexes": q_merge_indexes,
        "hash_split": q_hash_split,
        "char_entropy": q_char_entropy,
        "dedup_embedding_cosine": q_dedup_embedding_cosine,
        # rows-only keys (pytest-gated; never enter the driver window)
        "pca_ivf_search": q_pca_ivf_search,
        "ivf_kmeans_search": q_ivf_kmeans_search,
        "ann_lsh_search": q_ann_lsh_search,
        "dedup_embedding_lsh": q_dedup_embedding_lsh,
        "approx_distinct_users": q_approx_distinct_users,
        "pq_adc_search": q_pq_adc_search,
        "approx_event_value_quantiles": q_approx_event_value_quantiles,
        "pca_project": q_pca_project,
        "mmr_rerank": q_mmr_rerank,
        "distinct_sketch_rollup": q_distinct_sketch_rollup,
        "ann_recall_report": q_ann_recall_report,
        "bpe_tokenize": q_bpe_tokenize,
        "embed_text_model": q_embed_text_model,
        "nprobe_recall_curve": q_nprobe_recall_curve,
        "multimodal_decode": q_multimodal_decode,
        "docx_ingest": q_docx_ingest,
        "index_health": q_index_health,
        "bpe_fertility": q_bpe_fertility,
        "index_size_report": q_index_size_report,
        "model_rerank": q_model_rerank,
        "cross_rerank": q_cross_rerank,
    }


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)
