"""Binary (Hamming) vector index — the Spark re-expression of the
FAISS IndexBinaryFlat family (binarized embeddings searched by Hamming
distance), the 32×-compression / cheap-distance tier below SQ8 and PQ.

Representation: sign bits packed MSB-first into 32-bit words carried
as longs, so a d-dim float vector becomes ``ceil(d/32)`` longs. Both
the pack and the distance are integer-exact, so unlike the float
quantizers this family is bit-identical across engines with no
rounding contract at all.

Design for scale
----------------
binarize is a pure map (in-row array fold, whole-stage codegen);
search is the flat-kNN posture: query code broadcasts, xor+popcount
runs map-side, ``ORDER BY distance LIMIT k`` compiles to
TakeOrderedAndProject — k·P rows to the driver, corpus never
shuffles. 32 dims/word means the 100 TB scan reads ~8 bytes of code
where the float scan reads 256.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import vector as V
from .knn import query_vector


def _zero():
    # built lazily: F.lit needs an active session in classic mode
    return F.lit(0).cast("long")


def binarize(
    df: DataFrame,
    vec_col: str = "embedding",
    code_col: str = "code",
) -> DataFrame:
    """Pack sign bits (component > 0) into an ``array<bigint>`` of
    32-bit words, MSB-first within each word.

    32 (not 64) bits per word keeps every code positive — bit 63
    would flip the long's sign, and the oracle engine refuses
    ``1::BIGINT << 63`` outright. The pack itself is a shift-free
    MSB-first fold (``acc·2 + bit``), identical in both engines."""
    vec = F.col(vec_col)
    nwords = ((F.size(vec) + F.lit(31)) / F.lit(32)).cast("int")

    def word(w):
        lane = F.transform(
            F.slice(vec, w * F.lit(32) + F.lit(1), 32),
            lambda x: F.when(x > F.lit(0.0), F.lit(1))
            .otherwise(F.lit(0))
            .cast("long"),
        )
        return F.aggregate(
            lane, _zero(), lambda acc, b: acc * F.lit(2).cast("long") + b
        )

    codes = F.transform(F.sequence(F.lit(0), nwords - F.lit(1)), word)
    return df.withColumn(code_col, codes).drop(vec_col)


def hamming_distance(a, b):
    """Σ popcount(aᵢ xor bᵢ) over the packed words."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.bit_count(x.bitwiseXOR(y)).cast("long")),
        _zero(),
        lambda acc, x: acc + x,
    )


def hamming_topk(
    codes: DataFrame,
    query: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    code_col: str = "code",
    query_code_col: str = "query_code",
) -> DataFrame:
    """Flat binary search: k nearest by Hamming distance (ascending,
    id tie-break). ``query`` is one row carrying the packed code."""
    q = F.broadcast(query.select(F.col(query_code_col)))
    return _rank_hamming(
        codes.crossJoin(q), F.col(query_code_col), k, id_col, code_col
    )


def _rank_hamming(codes: DataFrame, qcode, k, id_col, code_col="code"):
    return (
        codes.select(
            id_col,
            hamming_distance(F.col(code_col), qcode).alias("hamming"),
        )
        .orderBy(F.col("hamming").asc(), F.col(id_col).asc())
        .limit(k)
    )


def sign_code(vec) -> list[int]:
    """:func:`binarize`'s code of one driver-side vector: bit = the
    component is > 0 (Spark orders NaN above every number), 32 bits a
    word, MSB-first; a short last word packs only its components."""
    words = []
    for w in range(0, len(vec), 32):
        acc = 0
        for x in vec[w : w + 32]:
            acc = acc * 2 + (1 if x > 0.0 or math.isnan(x) else 0)
        words.append(acc)
    return words


def save_ivfbin(
    corpus: DataFrame,
    centroids: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign_engine: str = "sql",
) -> None:
    """Persist an IVF-binary index (FAISS ``IndexBinaryIVF``
    analogue): binary sign codes partitioned by coarse list — probe
    pruning × the 32× code compression, with integer-exact distances
    inside each probed partition.

    Coarse assignment runs on the FLOAT vectors against the float
    centroids (FAISS's IndexBinaryIVF quantizes with binary
    centroids; assigning in float space before binarizing costs
    nothing extra here — the floats are already in hand at build
    time — and gives strictly better list placement)."""
    from .ivf import _write_lists, assign_lists

    assigned = assign_lists(
        corpus, centroids, vec_col=vec_col, engine=assign_engine
    )
    codes = encode_lists(assigned, centroids, id_col, vec_col)
    _write_lists(codes, centroids, path, "binary")


def encode_lists(assigned, centroids, id_col, vec_col) -> DataFrame:
    """IVF-binary's list-encode step (:func:`save_ivfbin` and every
    append; the tiers' shared signature): sign-pack the float vector."""
    return binarize(assigned, vec_col=vec_col)


def ivfbin_search_persisted(
    spark,
    path: str,
    query: DataFrame,
    nprobe: int = 4,
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Search a persisted IVF-binary index (FAISS ``IndexBinaryIVF``,
    whose search is its own API, as here): the float query probes the
    coarse centroids, the codes scan prunes to those partitions, and
    Hamming ranking runs on the 32×-smaller codes — ``(id, hamming)``,
    ascending. The query row is collected once; its sign code is packed
    on the driver (:func:`sign_code`) from the same vector the probe
    uses and rides the scan as a literal, so a warm call runs the
    collect and one pruned scan. Scan cost = (nprobe/nlist) × 1/32 of a
    flat float scan's bytes — the cheapest tier in the index ladder."""
    from .ivf import _open_probed

    qvec = query_vector(query)
    _, codes, _ = _open_probed(spark, path, qvec, nprobe, "binary")
    qcode = V.literal(sign_code(qvec or [])).cast("array<bigint>")
    return _rank_hamming(codes, qcode, k, id_col)


def binary_rerank_search(
    corpus: DataFrame,
    query: DataFrame,
    k: int = 10,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Binary-coarse / float-fine two-stage search — the FAISS
    ``IndexBinaryFlat`` + ``IndexRefineFlat`` composition: a Hamming
    scan over the 32×-compressed sign codes picks a ``shortlist``,
    then exact inner product re-scores ONLY those rows.

    At 100 TB the first stage reads ~3% of the float scan's bytes and
    never shuffles (TakeOrderedAndProject); the second stage is a
    broadcast semi-join of shortlist ids back onto the float corpus —
    so full-precision vectors are touched for `shortlist` rows total.
    Same posture as pq.pq_rerank_search one tier cheaper."""
    from .knn import topk

    codes = binarize(corpus.select(id_col, vec_col), vec_col=vec_col)
    qcode = binarize(
        query.select(F.col("query_vec").alias(vec_col)), vec_col=vec_col
    ).select(F.col("code").alias("query_code"))
    short = hamming_topk(codes, qcode, k=shortlist, id_col=id_col)
    hits = corpus.join(
        F.broadcast(short.select(id_col)), on=id_col, how="left_semi"
    )
    return topk(hits, query, k=k, metric="ip", id_col=id_col, vec_col=vec_col)
