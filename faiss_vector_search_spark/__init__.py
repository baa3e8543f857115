"""PySpark-native analytics engine with the query/data-processing
capabilities of RPLaine/faiss-vector-search (see SURVEY.md).

Spark-first re-expression: vector search, index lifecycle, dedup,
text analysis, chunking, and streaming — all as DataFrame plans that
Catalyst/Tungsten can optimize, designed for 100 TB-scale clusters.

Quick access::

    from faiss_vector_search_spark import get_spark, load_table
    from faiss_vector_search_spark.operators import knn, ivf, lsh, dedup

Operator modules (``faiss_vector_search_spark.operators.*``):

- ``knn``         flat IP/L2 top-k, thresholds, dynamic search, batch
- ``ivf``         IVF indexes: seeded / k-means quantizers, persisted
                  layout, one ``search_persisted`` for every saved
                  float tier (flat / PQ / SQ8)
- ``lsh``         hyperplane LSH: ANN search + embedding near-dup
- ``dedup``       exact / keep-best / Jaccard / MinHash / SimHash /
                  cosine near-dup + connected-component clusters
- ``embed``       feature-hash embedding, sparse-cosine text search
- ``lexical``     BM25 + reciprocal-rank-fusion hybrid retrieval
- ``textstats``   lang ID, quality, token counts, winnowing,
                  stratified sampling
- ``chunking``    fixed / greedy / conversational chunking, sequence
                  packing
- ``analytics``   join/agg/window shapes, sessionization, as-of and
                  range joins, rolling/hopping windows, ROLLUP,
                  anti-join / decorrelated TPC-H shapes, min-max
                  scaling, exact+HLL distinct, JSON rollup, quantiles
- ``index_store`` save / load / clear / add_vectors / stats /
                  reconstruct / remove_vectors
- ``lifecycle``   one ``append`` for every persisted IVF tier, retrain
                  guard, index health report
- ``pq``          product quantization: train / encode / ADC search /
                  rerank / IVF-PQ build (its ADC score serves
                  ``ivf.search_persisted``)
- ``sq``          SQ8 scalar quantization: bounds train / encode /
                  decode-on-scan search / IVF-SQ8 build (its decode
                  score serves ``ivf.search_persisted``)
- ``binary``      binary (Hamming) codes: sign-bit pack + flat search,
                  persisted IVF-binary search
- ``transform``   PCA dim reduction (one-pass Gram train, codegen
                  projection)
- ``rerank``      MMR diversity rerank over retrieval shortlists
- ``sketches``    mergeable HLL sketch store, approx_top_k heavy
                  hitters (incremental-maintenance tier)
- ``evaluate``    recall@k report of every ANN tier vs exact flat
- ``maintenance`` compaction, partition upsert, keyed merge, Z-order,
                  versioned snapshot store (time travel)

Plus ``sources`` (text-dir, docx, multimodal ingest) and ``streaming``
(watermarked aggs, incremental index add, stateful sessionization).
"""

from .io import load_table, load_tables, register_views
from .session import get_spark

__version__ = "0.1.0"

__all__ = [
    "get_spark",
    "load_table",
    "load_tables",
    "register_views",
    "__version__",
]
