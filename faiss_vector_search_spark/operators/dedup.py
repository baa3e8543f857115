"""Deduplication operators for LLM training-data pipelines
(SURVEY.md §2b #18-23). Beyond the reference's surface — the reference
retrieves similar documents (components/core/search_service.py); these
operators *remove or pair* similar documents at corpus scale.

Scale design
------------
The only O(n²) computations here are the small-SF oracle variants
(`ngram_jaccard_pairs`, `embedding_cosine_pairs`). The scale paths —
MinHash-LSH and SimHash banding — generate candidate pairs through
*blocking joins* whose cost is (docs × bands) rows hashed plus
within-bucket pairs, i.e. ~linear when near-dup density is sparse.
Skewed buckets (a viral boilerplate string) are handled by AQE skew
splitting; verification joins broadcast the candidate-pair side.

Every operator takes ``hash_fn``: ``"xxhash64"`` (JVM, production) or
``"md5"`` (cross-engine deterministic, used by the oracle-gated
queries).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import hashed
from ..functions.text import tokens

JACCARD_DECIMALS = 6

# All-pairs operators refuse corpora above this size unless the caller
# explicitly opts in — a quadratic join pointed at a real corpus is a
# cluster-killer, and the scale twins (minhash_lsh_pairs, lsh.py) exist
# precisely so nobody needs the O(n²) path beyond oracle baselines.
QUADRATIC_ROW_LIMIT = 20_000


def _guard_quadratic(df: DataFrame, allow_quadratic: bool, op: str) -> None:
    if allow_quadratic:
        return
    n = df.limit(QUADRATIC_ROW_LIMIT + 1).count()
    if n > QUADRATIC_ROW_LIMIT:
        raise ValueError(
            f"{op} is O(n²) and the input exceeds {QUADRATIC_ROW_LIMIT} rows "
            f"(an all-pairs join at this size is a scale hazard); use the "
            f"blocked scale variant (minhash_lsh_pairs / lsh.near_dup_lsh) "
            f"or pass allow_quadratic=True if you really mean it"
        )


def exact_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact dedup via content-hash groupBy (map-side partial agg):
    keep the lowest id per distinct text, report the copy count."""
    return (
        docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("h"))
        .groupBy("h")
        .agg(
            F.min(id_col).alias(id_col),
            F.count("*").alias("n_copies"),
        )
        .select(id_col, "n_copies")
    )


def _shingle_sets(
    docs: DataFrame, n: int, id_col: str, text_col: str
) -> DataFrame:
    """(id, shingles) for docs with at least n tokens.

    Tokens are materialized as a column and the length filter runs on
    *them*, so the shingle transform is built once per row — filtering
    on size(shingles) would substitute the whole shingle expression
    into the filter and evaluate it twice."""
    from ..functions.text import shingles_from_tokens, tokens

    tokd = docs.select(
        F.col(id_col), tokens(F.col(text_col)).alias("toks")
    ).where(F.size("toks") >= n)
    return tokd.select(
        F.col(id_col), shingles_from_tokens(F.col("toks"), n).alias("shingles")
    )


def _jaccard(a, b):
    inter = F.size(F.array_intersect(a, b)).cast("double")
    return inter / (F.size(a) + F.size(b) - inter)


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    allow_quadratic: bool = False,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard (the oracle baseline; O(n²) —
    small-SF only, the scale path is :func:`minhash_lsh_pairs`).
    Refuses inputs above ``QUADRATIC_ROW_LIMIT`` rows unless
    ``allow_quadratic=True``."""
    _guard_quadratic(docs, allow_quadratic, "ngram_jaccard_pairs")
    sh = _shingle_sets(docs, n, id_col, text_col)
    a = sh.select(
        F.col(id_col).alias("doc_a"), F.col("shingles").alias("sh_a")
    )
    b = sh.select(
        F.col(id_col).alias("doc_b"), F.col("shingles").alias("sh_b")
    )
    return (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.round(
                _jaccard(F.col("sh_a"), F.col("sh_b")), JACCARD_DECIMALS
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def minhash_signatures(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "md5",
    engine: str = "auto",
) -> DataFrame:
    """(id, sig_0..sig_{H-1}): per-seed min-hash over the doc's
    shingle set.

    ``engine="sql"``: one explode + H min-aggregations — map-side
    combinable, and the grouping key is the bare id (grouping by the
    shingle *array* would hash the whole array per exploded row);
    shuffle carries H longs per doc. The H ``xxhash64(s, lit(i))``
    aggregate children each re-hash the full shingle string (no
    common-subexpression elimination across aggregate functions), so
    every shingle's bytes are hashed H times.

    ``engine="arrow"`` (the ``hash_fn="xxhash64"`` production path,
    picked by ``"auto"``): per-doc signatures in ONE ``mapInPandas``
    over the (id, tokens) frame — shingle byte strings are SLICES of
    each doc's space-joined token buffer (no per-position string
    allocation, in the JVM or in Python), each shingle's bytes hash
    ONCE (vectorized XXH64, functions/xxh.py), the H seeds are cheap
    int-chain finalizers on that 64-bit value, and the per-doc min is
    a ``np.minimum.reduceat``. BIT-IDENTICAL signatures to the sql
    form (pytest-gated), no explode and NO exchange at all. md5 stays
    the sql/oracle pipeline."""
    if engine == "auto":
        engine = "arrow" if hash_fn == "xxhash64" else "sql"
    if engine == "arrow":
        if hash_fn != "xxhash64":
            raise ValueError(
                "arrow minhash engine implements the xxhash64 family only"
            )
        tokd = docs.select(
            F.col(id_col), tokens(F.col(text_col)).alias("_toks")
        ).where(F.size("_toks") >= n)
        return _minhash_signatures_arrow(tokd, n, num_hashes, id_col)
    if engine != "sql":
        raise ValueError(f"unknown minhash engine: {engine}")
    sh = _shingle_sets(docs, n, id_col, text_col)
    # explode_outer, NOT explode: plain explode makes Catalyst infer a
    # `size(shingles) > 0 AND isnotnull(shingles)` filter and push it
    # below the projection, re-evaluating the whole shingle transform
    # 2-3× per row. The sets are already non-empty by construction.
    exploded = sh.select(F.col(id_col), F.explode_outer("shingles").alias("s"))
    aggs = [
        F.min(hashed(F.col("s"), seed=i, hash_fn=hash_fn)).alias(f"sig_{i}")
        for i in range(num_hashes)
    ]
    return exploded.groupBy(id_col).agg(*aggs)


def _minhash_signatures_arrow(
    tokd: DataFrame, n: int, num_hashes: int, id_col: str
) -> DataFrame:
    """Arrow kernel for :func:`minhash_signatures` (xxhash64 family):
    (id, tokens) -> (id, sig_0..sig_{H-1}), bit-identical to
    ``min(xxhash64(shingle, lit(i)))`` over the
    :func:`_shingle_sets` shingles.

    The shingle strings are never built: a doc's n-token shingles are
    CONTIGUOUS BYTE SLICES of its space-joined token stream, so the
    batch assembles one byte buffer, recovers token boundaries from
    the separator positions, derives every shingle's (offset, length)
    arithmetically, and hashes each length class as one vectorized
    gather + XXH64 pass. Duplicate shingles hash redundantly instead
    of being distinct'd — the per-seed MIN is identical over multiset
    and set. Tokens are ASCII by construction (``[a-z0-9]+`` on the
    lowered text); a non-ASCII token falls the whole doc back to the
    pure-python reference of the same bits."""
    import numpy as np
    import pandas as pd

    from ..functions.xxh import (
        xxh64_bytes,
        xxh64_fixed_np,
        xxh64_int_chain_np,
    )

    schema = f"{id_col} long, " + ", ".join(
        f"sig_{i} long" for i in range(num_hashes)
    )
    seeds = list(range(num_hashes))

    def doc_base_fallback(toks) -> "np.ndarray":
        return np.array(
            [
                xxh64_bytes(
                    " ".join(toks[j:j + n]).encode("utf-8"), 42
                )
                for j in range(len(toks) - (n - 1))
            ],
            dtype=np.uint64,
        )

    def kernel(batches):
        for pdf in batches:
            nrows = len(pdf)
            if nrows == 0:
                continue
            rows = pdf["_toks"].values
            doc_strs = [" ".join(r) for r in rows]
            ascii_ok = all(s.isascii() for s in doc_strs)
            counts = np.fromiter(
                (len(r) - (n - 1) for r in rows), dtype=np.int64,
                count=nrows,
            )
            if ascii_ok:
                buf = np.frombuffer(
                    "".join(doc_strs).encode("ascii"), dtype=np.uint8
                )
                dlen = np.fromiter(
                    (len(s) for s in doc_strs), dtype=np.int64,
                    count=nrows,
                )
                g = np.zeros(nrows, dtype=np.int64)
                np.cumsum(dlen[:-1], out=g[1:])
                # token starts: each doc start + every position after
                # a separator byte (tokens are [a-z0-9]+, so every
                # 0x20 in the buffer is a separator)
                ts = np.sort(
                    np.concatenate([g, np.flatnonzero(buf == 32) + 1])
                )
                tok_end = np.concatenate(
                    [ts[1:], np.array([len(buf)], dtype=np.int64)]
                ) - 1
                tokc = counts + (n - 1)
                doc_last = np.cumsum(tokc) - 1
                tok_end[doc_last] += 1
                # shingle j of doc i spans token (base_i + j) ..
                # (base_i + j + n - 1) — all offsets arithmetic
                tok_base = np.zeros(nrows, dtype=np.int64)
                np.cumsum(tokc[:-1], out=tok_base[1:])
                s_base = np.zeros(nrows, dtype=np.int64)
                np.cumsum(counts[:-1], out=s_base[1:])
                S = int(counts.sum())
                doc_of = np.repeat(np.arange(nrows), counts)
                within = np.arange(S) - np.repeat(s_base, counts)
                ft = tok_base[doc_of] + within
                sh_start = ts[ft]
                sh_len = tok_end[ft + (n - 1)] - sh_start
                base = np.empty(S, dtype=np.uint64)
                for length in np.unique(sh_len):
                    idx = np.nonzero(sh_len == length)[0]
                    mat = buf[
                        sh_start[idx][:, None]
                        + np.arange(int(length), dtype=np.int64)
                    ]
                    base[idx] = xxh64_fixed_np(mat, 42)
            else:
                base = np.concatenate(
                    [doc_base_fallback(list(r)) for r in rows]
                )
            starts = np.zeros(nrows, dtype=np.int64)
            np.cumsum(counts[:-1], out=starts[1:])
            data = {id_col: pdf[id_col].values}
            for i in seeds:
                data[f"sig_{i}"] = np.minimum.reduceat(
                    xxh64_int_chain_np(base, i), starts
                )
            yield pd.DataFrame(data)

    return tokd.mapInPandas(kernel, schema=schema)


def _band_structs(bands: int, rows_per_band: int, hash_fn: str):
    """array<struct(band, bval)> over sig_0..sig_{bands*rows-1} columns
    — the banded-LSH bucket keys, shared by within-corpus pair mining
    (:func:`minhash_lsh_pairs`) and cross-corpus decontamination
    (:func:`fuzzy_decontaminate`); both sides of a band join MUST hash
    with identical seeds (100+band) to collide."""
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                hashed(
                    F.concat_ws(
                        "_",
                        *[
                            F.col(f"sig_{b * rows_per_band + r}")
                            for r in range(rows_per_band)
                        ],
                    ),
                    seed=100 + b,
                    hash_fn=hash_fn,
                ).alias("bval"),
            )
            for b in range(bands)
        ]
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "md5",
    engine: str = "auto",
) -> DataFrame:
    """MinHash + banded LSH near-dup pairs, verified with exact
    Jaccard. rows/band = num_hashes/bands; a pair collides with
    probability 1-(1-j^r)^b — at 16/4 the 0.8-Jaccard collision
    probability is ≈0.93, and every surviving pair is *verified*, so
    precision is exact and only recall is probabilistic. ``engine``
    picks the signature stage (see :func:`minhash_signatures`); the
    arrow kernel is bit-identical, so the candidate and output pair
    sets cannot move."""
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(
        docs, n, num_hashes, id_col, text_col, hash_fn, engine=engine
    )

    band_structs = _band_structs(bands, rows_per_band, hash_fn)
    # Band join + pair dedup on (id, band, bval) triples ONLY — the
    # shingle arrays would otherwise ride the shuffle 2×bands times
    # per doc. Candidates re-join the (small) shingle table by id.
    # repartition on the join keys: one explicit exchange that both
    # self-join branches re-read (ReusedExchange) — the 16-way minhash
    # aggregation upstream runs once, not once per branch.
    banded = (
        sig.select(F.col(id_col), F.explode(band_structs).alias("bs"))
        .select(
            F.col(id_col),
            F.col("bs.band").alias("band"),
            F.col("bs.bval").alias("bval"),
        )
        .repartition("band", "bval")
    )

    left = banded.select(F.col(id_col).alias("doc_a"), "band", "bval")
    right = banded.select(F.col(id_col).alias("doc_b"), "band", "bval")
    cand = (
        left.join(right, ["band", "bval"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    # r12: the exact-Jaccard verify needs shingles for CANDIDATE docs
    # only, so the corpus prefilters to candidate ids before the
    # shingle build (the chunk_search hit-docs recipe) — the former
    # full-corpus build ran the tokenize+shingle pipeline over every
    # doc TWICE (sh_a and sh_b branches) for an output-sized join.
    # cand sits behind its dropDuplicates exchange, so all three
    # readers reuse one band-join evaluation (ReusedExchange).
    cand_ids = (
        cand.select(F.col("doc_a").alias(id_col))
        .union(cand.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    sh = _shingle_sets(
        docs.join(cand_ids, id_col, "leftsemi"), n, id_col, text_col
    )
    return (
        cand.join(sh.select(F.col(id_col).alias("doc_a"),
                            F.col("shingles").alias("sh_a")), "doc_a")
        .join(sh.select(F.col(id_col).alias("doc_b"),
                        F.col("shingles").alias("sh_b")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                _jaccard(F.col("sh_a"), F.col("sh_b")), JACCARD_DECIMALS
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


SIMHASH_BITS = 60  # md5_int yields 60 bits; keeps sign-free shifts in
#                   both engines (Spark long >> and DuckDB BIGINT >>)


def simhash(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "md5",
    engine: str = "auto",
) -> DataFrame:
    """(id, simhash): 60-bit SimHash over the distinct-token set.
    bit_j = sign of Σ_tokens (±1 by bit j of the token hash).

    ``engine="sql"``: one aggregation with 60 conditional sums (one
    per bit), NOT a per-bit explode: exploding 60 mask rows per token
    multiplies the shuffle by 60×; conditional sums keep it at one
    row per token in and one row per doc out, all map-side
    combinable. ``explode_outer`` + null-filter on the token explode
    so Catalyst doesn't re-evaluate the tokenizer inside an inferred
    pre-filter.

    ``engine="arrow"`` (the ``hash_fn="xxhash64"`` production path,
    picked by ``"auto"``): per-doc simhash in ONE ``mapInPandas`` —
    tokens hash vectorized (functions/xxh.py), the 60 bit sums are
    one ``np.unpackbits`` + per-doc ``reduceat``, and the majority
    vote is exact integer arithmetic. BIT-IDENTICAL simhash values
    to the sql aggregation (pytest-gated): no explode, no 61-column
    per-doc shuffle, no exchange at all. md5 stays the sql/oracle
    pipeline."""
    if engine == "auto":
        engine = "arrow" if hash_fn == "xxhash64" else "sql"
    if engine == "arrow":
        if hash_fn != "xxhash64":
            raise ValueError(
                "arrow simhash engine implements the xxhash64 family only"
            )
        tokd = docs.select(
            F.col(id_col),
            F.array_distinct(tokens(F.col(text_col))).alias("_dtoks"),
        ).where(F.size("_dtoks") > 0)
        return _simhash_arrow(tokd, id_col)
    if engine != "sql":
        raise ValueError(f"unknown simhash engine: {engine}")
    toks = (
        docs.select(
            F.col(id_col),
            F.explode_outer(F.array_distinct(tokens(F.col(text_col)))).alias(
                "tok"
            ),
        )
        .where(F.col("tok").isNotNull())
        .withColumn("h", hashed(F.col("tok"), seed=7, hash_fn=hash_fn))
    )
    # Σ(±1) per bit == 2·Σ bit_j − n: branch-free shift+mask sums
    # instead of 60 conditional expressions.
    bit_sums = toks.groupBy(id_col).agg(
        F.count("*").alias("n"),
        *[
            F.sum(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1))).alias(f"b{j}")
            for j in range(SIMHASH_BITS)
        ],
    )
    sim = None
    for j in range(SIMHASH_BITS):
        term = F.when(
            2 * F.col(f"b{j}") - F.col("n") > 0, F.lit(1 << j).cast("bigint")
        ).otherwise(F.lit(0).cast("bigint"))
        sim = term if sim is None else sim + term
    return bit_sums.select(F.col(id_col), sim.alias("simhash"))


def _simhash_arrow(tokd: DataFrame, id_col: str) -> DataFrame:
    """Arrow kernel for :func:`simhash` (xxhash64 family): (id,
    distinct tokens) -> (id, simhash), bit-identical to the 60-way
    conditional-sum aggregation. Each token's bytes hash once
    (vectorized XXH64 + the seed-7 int chain); the per-doc bit sums
    come from one ``np.unpackbits`` over the hash words and a single
    ``np.add.reduceat`` per batch."""
    import numpy as np
    import pandas as pd

    from ..functions.xxh import xxh64_bytes_many_np, xxh64_int_chain_np

    def kernel(batches):
        for pdf in batches:
            nrows = len(pdf)
            if nrows == 0:
                continue
            rows = pdf["_dtoks"].values
            counts = np.fromiter(
                (len(r) for r in rows), dtype=np.int64, count=nrows
            )
            flat = [t.encode("utf-8") for r in rows for t in r]
            h = xxh64_int_chain_np(
                xxh64_bytes_many_np(flat, 42), 7
            ).view(np.uint64)
            # (n_tokens, 64) bit matrix: little-endian byte view +
            # unpackbits(bitorder="little") puts bit j at column j
            bits = np.unpackbits(
                h.astype("<u8").view(np.uint8).reshape(-1, 8),
                axis=1, bitorder="little",
            )
            starts = np.zeros(nrows, dtype=np.int64)
            np.cumsum(counts[:-1], out=starts[1:])
            bsum = np.add.reduceat(
                bits.astype(np.int64), starts, axis=0
            )
            # majority vote: bit j set iff 2·Σbit_j − n > 0
            maj = (2 * bsum[:, :SIMHASH_BITS]
                   > counts[:, None]).astype(np.uint64)
            sim = (maj << np.arange(SIMHASH_BITS, dtype=np.uint64)).sum(
                axis=1, dtype=np.uint64
            ).view(np.int64)
            yield pd.DataFrame({id_col: pdf[id_col].values,
                                "simhash": sim})

    # output schema follows the input id type (the semdedup arrow
    # engine's convention)
    id_type = tokd.schema[id_col].dataType.simpleString()
    return tokd.mapInPandas(
        kernel, schema=f"{id_col} {id_type}, simhash long"
    )


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "md5",
    engine: str = "combinatorial",
    blocks: int = 6,
    sig_engine: str = "auto",
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ max_hamming. Both
    engines are EXACT (identical output — the r6 realistic-corpus and
    sf10 measurements confirm byte-identical pair sets); they differ
    only in how candidates are enumerated:

    - ``"pigeonhole"``: block on
      ``bands`` equal bit-slices — any pair within ``bands-1`` flips
      shares at least one slice. Simple, but the slices are only
      SIMHASH_BITS/bands wide (15 bits at the defaults), so RANDOM
      slice collisions contribute ~n²·bands/2^15 junk candidate pairs
      — quadratic in corpus size (measured: 33.5M candidates at the
      sf10 rehearsal's 500k docs, dominating the 55.9 s wall time).
    - ``"combinatorial"`` (default; Manku/Jain/Das Sarma,
      WWW'07 §3 — the Google simhash production design): split the
      fingerprint into ``blocks`` blocks; a pair within max_hamming
      flips differs in at most max_hamming blocks, so it AGREES on
      some (blocks − max_hamming)-subset. One table per subset
      (C(6,3)=20 at the defaults), each keyed on the CONCATENATION of
      its blocks (~30 bits) — random-collision candidates drop by
      ~2^15× to ~n²·20/2^30 while recall stays exact. Trade: the
      explode fans each doc to 20 rows instead of 4 — shuffle input
      grows 5×, candidate OUTPUT shrinks quadratically; at 100 TB
      output is the term that kills, input the one that amortizes.
      Measured (r6, 500k docs): 75.8→37.5 s on the dup-dense sf10
      replica corpus (identical 33.5M-pair output — the remainder is
      output-bound on TRUE pairs); 10.1→8.7 s on the realistic-density
      corpus (_scaledata/realistic), where simhash now beats the
      MinHash-LSH path (16.2 s) at its hamming≤3 operating point.

    Requires max_hamming < bands (pigeonhole) / < blocks
    (combinatorial) for exactness. ``sig_engine`` picks the simhash
    signature stage (see :func:`simhash`); the arrow kernel is
    bit-identical, so the candidate and output pair sets cannot move.
    """
    sh = simhash(docs, id_col, text_col, hash_fn, engine=sig_engine)
    if engine == "combinatorial":
        import itertools

        width = SIMHASH_BITS // blocks
        agree = blocks - max_hamming
        if agree < 1:
            raise ValueError("combinatorial engine needs max_hamming < blocks")

        def block_val(b: int):
            return F.shiftright(F.col("simhash"), b * width).bitwiseAND(
                F.lit((1 << width) - 1)
            )

        combo_structs = []
        for ci, combo in enumerate(itertools.combinations(range(blocks), agree)):
            key = F.lit(0).cast("bigint")
            for i, b in enumerate(combo):
                key = key + F.shiftleft(block_val(b), i * width)
            combo_structs.append(
                F.struct(F.lit(ci).alias("band"), key.alias("bval"))
            )
        slices = F.array(*combo_structs)
    elif engine == "pigeonhole":
        width = SIMHASH_BITS // bands
        if max_hamming >= bands:
            raise ValueError("pigeonhole engine needs max_hamming < bands")
        slices = F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftright(F.col("simhash"), b * width)
                    .bitwiseAND(F.lit((1 << width) - 1))
                    .alias("bval"),
                )
                for b in range(bands)
            ]
        )
    else:
        raise ValueError(f"unknown simhash_pairs engine: {engine}")
    # repartition on the join keys so the simhash aggregation upstream
    # feeds ONE exchange both self-join branches reuse.
    banded = (
        sh.select(F.col(id_col), F.col("simhash"), F.explode(slices).alias("bs"))
        .select(
            F.col(id_col),
            F.col("simhash"),
            F.col("bs.band").alias("band"),
            F.col("bs.bval").alias("bval"),
        )
        .repartition("band", "bval")
    )
    left = banded.select(
        F.col(id_col).alias("doc_a"), F.col("simhash").alias("sim_a"), "band", "bval"
    )
    right = banded.select(
        F.col(id_col).alias("doc_b"), F.col("simhash").alias("sim_b"), "band", "bval"
    )
    # hamming filter BEFORE the pair dedup: hamming is a function of
    # the pair (both simhashes are fixed per doc), so filtering first
    # cannot change which pairs survive — but the dropDuplicates
    # exchange then carries only TRUE pairs instead of every candidate
    # collision (Catalyst cannot reorder this itself: it sees an
    # aggregate on a non-grouping column). At the sf10 rehearsal's
    # 33.5M candidates that is the difference between shuffling the
    # candidate set and shuffling the output.
    return (
        left.join(right, ["band", "bval"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(
                F.col("sim_a").bitwiseXOR(F.col("sim_b"))
            ).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_a", "doc_b"])
    )


def embedding_cosine_pairs(
    emb: DataFrame,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    allow_quadratic: bool = False,
) -> DataFrame:
    """Exact pairwise cosine near-dup pairs (IP on normalized
    vectors). O(n²) oracle baseline — the scale path is LSH bucketing
    in `operators/lsh.py`. Refuses inputs above
    ``QUADRATIC_ROW_LIMIT`` rows unless ``allow_quadratic=True``."""
    from ..functions.vector import ip_score

    _guard_quadratic(emb, allow_quadratic, "embedding_cosine_pairs")

    a = emb.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("v_a")
    )
    b = emb.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("v_b")
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                ip_score(F.col("v_a"), F.col("v_b")), JACCARD_DECIMALS
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def exact_dedup_keep_best(
    docs: DataFrame,
    quality_col,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact dedup that keeps the *best* copy per duplicate cluster
    (argmax quality, ties → lowest id) — what a training-data pipeline
    actually wants, vs ``exact_dedup``'s keep-first. One map-side
    combinable aggregation: max_by over (quality, -id)."""
    return (
        docs.select(
            F.col(id_col),
            F.md5(F.col(text_col)).alias("h"),
            quality_col.alias("q"),
        )
        .groupBy("h")
        .agg(
            F.max_by(
                F.col(id_col), F.struct(F.col("q"), -F.col(id_col))
            ).alias(id_col),
            F.max("q").alias("quality"),
            F.count("*").alias("n_copies"),
        )
        .select(id_col, "quality", "n_copies")
    )


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 15,
) -> DataFrame:
    """(id, cluster_id): connected components of the near-dup pair
    graph — pairs say *which* docs match, clusters say *what to keep*
    (one representative per component; cluster_id = the component's
    minimum doc id).

    Min-label propagation: every node repeatedly takes the minimum
    label among itself and its neighbors; converges in
    graph-diameter iterations (near-dup components are shallow — a
    handful of rounds). Each iteration is one join + one aggregation,
    with ``localCheckpoint`` truncating the lineage so the plan stays
    flat (the standard guard for iterative DataFrame algorithms; on a
    cluster, ``checkpoint`` to the fault-tolerant dir instead).
    Singleton docs keep their own id as cluster_id.
    """
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(
                F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
            )
        )
        .distinct()
        .localCheckpoint()
    )
    labels = docs.select(
        F.col(id_col).alias("node"), F.col(id_col).alias("label")
    ).localCheckpoint()
    changed = None
    for it in range(1, max_iter + 1):
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["node"])
            .groupBy("src")
            .agg(F.min("label").alias("nmin"))
        )
        new_labels = (
            labels.join(neighbor_min, labels["node"] == neighbor_min["src"], "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce(F.col("nmin"), F.col("label")))
                .alias("label"),
            )
            .localCheckpoint()
        )
        # Convergence check only every 2nd iteration (and at the cap):
        # each check is a driver action, and propagation converges in
        # diameter rounds — checking half as often halves the job
        # count at the cost of at most one no-op iteration.
        if it % 2 == 0 or it == max_iter:
            changed = (
                new_labels.join(labels.withColumnRenamed("label", "old"), "node")
                .where(F.col("label") != F.col("old"))
                .count()
            )
        labels = new_labels
        if changed == 0:
            break
    if changed:
        import warnings

        warnings.warn(
            f"dedup_clusters: min-label propagation did not converge in "
            f"{max_iter} iterations ({changed} labels still changing) — "
            f"cluster_ids may split long-diameter components; raise "
            f"max_iter",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select(
        F.col("node").alias(id_col), F.col("label").alias("cluster_id")
    )


def near_dup_dedup(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """End-to-end near-dup REMOVAL: pair graph → connected components
    → one surviving representative (minimum id) per component. Output
    is (surviving doc_id, cluster_size) — the dedup decision a
    training-data pipeline actually applies, composed from
    :func:`dedup_clusters` (pairs say who matches; this says what to
    keep and how much was removed)."""
    clusters = dedup_clusters(docs, pairs, id_col=id_col)
    return (
        clusters.groupBy("cluster_id")
        .agg(F.count("*").alias("cluster_size"))
        .select(F.col("cluster_id").alias(id_col), "cluster_size")
    )


def _gram_hash_pairs(
    df: DataFrame, n: int, seed: int, id_col: str, text_col: str,
    hash_fn: str, out_id: str,
) -> DataFrame:
    """(out_id, g) distinct-gram-hash pairs per doc — the shared
    corpus/benchmark reduction of the decontamination family. The md5
    (oracle) profile keeps the string-shingle pipeline; the xxhash64
    production profile hashes each token once and combines n token
    hashes per window (functions.text.positional_window_hashes), with
    the per-doc distinct applied to the HASHES — same 64-bit gram
    identity, no per-position gram-string allocation (the span-dedup
    r11 hasher, seeded by the family's seed)."""
    from ..functions.hashing import hashed
    from ..functions.text import token_hashes, tokens, window_hashes

    if hash_fn == "xxhash64":
        # same staging discipline as _shingle_sets: the length filter
        # runs on the token column, so the hash/window transforms are
        # built once per surviving row
        tokd = df.select(
            F.col(id_col).alias(out_id),
            tokens(F.col(text_col)).alias("_tk"),
        ).where(F.size("_tk") >= n)
        th = tokd.select(
            F.col(out_id), token_hashes(F.col("_tk"), seed=seed).alias("_th")
        )
        ghs = th.select(
            F.col(out_id),
            F.array_distinct(window_hashes(F.col("_th"), n)).alias("_ghs"),
        )
        return ghs.select(
            F.col(out_id), F.explode_outer("_ghs").alias("g")
        )
    sh = _shingle_sets(df, n, id_col, text_col)
    return sh.select(
        F.col(id_col).alias(out_id),
        F.explode_outer(F.col("shingles")).alias("_g"),
    ).select(
        out_id, hashed(F.col("_g"), seed=seed, hash_fn=hash_fn).alias("g")
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    hash_fn: str = "xxhash64",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination — the train/test-overlap scan every
    serious LLM data pipeline runs before training: flag corpus
    documents sharing any word ``n``-gram with a held-out benchmark
    set. Output: (doc_id, n_shared_grams, n_benchmark_docs) per
    contaminated document.

    Plan shape for 100 TB: both sides reduce to (id, gram-hash)
    pairs; the benchmark side is tiny (benchmarks are thousands of
    rows, not billions) and BROADCASTS, so the corpus never
    shuffles — contamination detection costs one scan plus a
    broadcast hash join on 8-byte hashes. ``hash_fn="md5"`` is the
    cross-engine oracle profile; xxhash64 is the production path
    (token-hash-combined window hashes — see :func:`_gram_hash_pairs`)."""
    corpus_grams = _gram_hash_pairs(
        docs, n, 17, id_col, text_col, hash_fn, "c_id"
    )
    bench_grams = _gram_hash_pairs(
        benchmark, n, 17, id_col, text_col, hash_fn, "b_id"
    ).distinct()
    return (
        corpus_grams.join(F.broadcast(bench_grams), "g")
        .groupBy(F.col("c_id").alias(id_col))
        .agg(
            F.count_distinct("g").alias("n_shared_grams"),
            F.count_distinct("b_id").alias("n_benchmark_docs"),
        )
    )


def contamination_report(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    hash_fn: str = "xxhash64",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark-side contamination attribution (SURVEY §2 #208) —
    the flip side of :func:`decontaminate`: instead of flagging
    corpus documents, report PER BENCHMARK ITEM how badly it leaked
    into the training corpus. This is the table an LLM release's
    contamination appendix publishes (which eval items are
    compromised, and how concentrated the leak is), and the one an
    eval owner reads to decide which items to drop from a reported
    score.

    Output: one row per contaminated benchmark doc —
    (bench_id, n_corpus_docs sharing ≥1 word n-gram,
    n_leak_pairs = Σ over those docs of distinct shared grams — the
    total leak mass, max_shared_grams = the single worst corpus
    doc's shared-gram count — the document to eyeball first).
    Benchmark items with no overlap produce no row (join an item
    list for the zero-leak report).

    Plan shape for 100 TB (the decontaminate posture, attribution
    side): both sides reduce to (id, 8-byte gram hash) pairs with
    per-doc-distinct grams; the benchmark side broadcasts, so the
    corpus never shuffles BEFORE the contamination join — and the
    join output is contamination-sized, so one explicit
    ``repartition(bench id)`` keys the whole rollup tail (per-pair
    counts, then the per-item report) to a single output-sized
    exchange."""
    corpus_grams = _gram_hash_pairs(
        docs, n, 17, id_col, text_col, hash_fn, "c_id"
    )
    bench_grams = _gram_hash_pairs(
        benchmark, n, 17, id_col, text_col, hash_fn, "b_id"
    ).distinct()
    # (b_id, c_id, g) is distinct by construction: shingle sets are
    # per-doc distinct on both sides, so the per-pair count is exact
    # without a dedup pass
    pairs = corpus_grams.join(F.broadcast(bench_grams), "g")
    per_pair = (
        pairs.repartition("b_id")
        .groupBy("b_id", "c_id")
        .agg(F.count("*").alias("_shared"))
    )
    return (
        per_pair.groupBy("b_id")
        .agg(
            F.count("*").cast("bigint").alias("n_corpus_docs"),
            F.sum("_shared").cast("bigint").alias("n_leak_pairs"),
            F.max("_shared").cast("bigint").alias("max_shared_grams"),
        )
        .select(
            F.col("b_id").alias("bench_id"),
            "n_corpus_docs", "n_leak_pairs", "max_shared_grams",
        )
        .orderBy(
            F.col("n_leak_pairs").desc(), F.col("bench_id").asc()
        )
    )


def line_dedup(
    docs: DataFrame,
    span: int = 10,
    max_docs: int = 1,
    hash_fn: str = "xxhash64",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """C4-style line-level boilerplate removal: drop every "line"
    (fixed ``span``-token window; real newline-delimited corpora pass
    newline splits through the same machinery) that occurs in more
    than ``max_docs`` distinct documents, and reassemble each
    document from its surviving lines in order. This is the
    cross-document repetition filter (nav bars, license headers,
    cookie banners) that exact whole-doc dedup cannot catch.

    Plan shape for 100 TB (r12 — decide with small rows, move big
    rows once, guide §8): lines reduce to (id, pos, 8-byte hash)
    triples for BOTH the frequency count and the drop decision; the
    DROP set (lines above the threshold) inner-joins the hash stream,
    so the only doc-keyed shuffles carry *dropped positions* (integer
    rows, sized by the boilerplate occurrences) — the reassembly is
    an IN-ROW filter of each doc's own line array against its dropped
    positions, so line text never crosses an exchange for the rebuild
    (the r11 form shuffled every kept line into a collect_list and
    the reassembled text into the final join). Output: (id,
    clean_text, n_lines, n_kept, n_dropped) for every input document,
    including fully-boilerplate ones (empty clean_text)."""
    toks = tokens(F.col(text_col))
    n_lines = F.ceil(F.size("toks") / F.lit(span)).cast("int")
    base = docs.select(F.col(id_col), toks.alias("toks")).select(
        F.col(id_col),
        F.when(
            F.size("toks") > 0,
            F.transform(
                F.sequence(F.lit(0), n_lines - 1),
                lambda i: F.array_join(
                    F.slice(F.col("toks"), i * span + 1, span), " "
                ),
            ),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("lines"),
        n_lines.alias("n_lines"),
    )
    # hash stream: (id, pos, lh) — posexplode_outer keeps a NULL row
    # per tokenless doc, whose lh (hash of NULL) groups all tokenless
    # docs together exactly like the line strings did
    stream = base.select(
        F.col(id_col), F.posexplode_outer("lines").alias("pos", "line")
    ).select(
        F.col(id_col),
        F.col("pos"),
        hashed(F.col("line"), seed=23, hash_fn=hash_fn).alias("lh"),
    )
    drop = (
        stream.groupBy("lh")
        .agg(F.count_distinct(F.col(id_col)).alias("n_docs_with"))
        .where(F.col("n_docs_with") > max_docs)
        .select("lh")
    )
    # dropped positions per contaminated doc: collect_list skips the
    # NULL pos of tokenless docs, count(*) keeps it — n_kept below
    # must count surviving stream rows (the r11 form's semantics,
    # where a tokenless doc's NULL row counted as kept when sole)
    dropped = (
        stream.join(drop, "lh")
        .groupBy(id_col)
        .agg(
            F.collect_list("pos").alias("_dp"),
            F.count(F.lit(1)).alias("_n_drop_rows"),
        )
    )
    joined = base.join(dropped, id_col, "left_outer")
    pos_lines = F.when(
        F.size("lines") == 0,
        F.array().cast("array<struct<line:string,p:int>>"),
    ).otherwise(
        F.zip_with(
            F.col("lines"),
            F.sequence(F.lit(0), F.size("lines") - 1),
            lambda ln, p: F.struct(ln.alias("line"), p.alias("p")),
        )
    )
    kept = F.filter(
        pos_lines,
        lambda s: ~F.array_contains(
            F.coalesce(F.col("_dp"), F.array().cast("array<int>")),
            s["p"],
        ),
    )
    n_kept = F.greatest(F.size("lines"), F.lit(1)) - F.coalesce(
        F.col("_n_drop_rows"), F.lit(0)
    )
    return joined.select(
        F.col(id_col),
        F.array_join(
            F.transform(kept, lambda s: s["line"]), " "
        ).alias("clean_text"),
        F.col("n_lines").cast("bigint").alias("n_lines"),
        n_kept.cast("bigint").alias("n_kept"),
        (F.col("n_lines") - n_kept).cast("bigint").alias("n_dropped"),
    )


def domain_boilerplate_strip(
    docs: DataFrame,
    min_docs: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    domain_col: str = "source",
) -> DataFrame:
    """Per-DOMAIN boilerplate removal (the CCNet/RefinedWeb refinement
    of C4 line filtering): a newline-delimited line is boilerplate
    within a domain when it appears in ≥ ``min_docs`` distinct
    documents OF THAT domain — nav bars and cookie banners repeat
    within a site, while the same sentence appearing on two unrelated
    domains is usually content. :func:`line_dedup` is the global,
    hash-reduced variant; this one scopes the frequency count to the
    domain and, crucially, rebuilds documents IN-ROW:

    the (domain → boilerplate line-HASH set) table is collected per
    domain and broadcast-joined back, and each doc filters its own
    line array against the set inside its row — the corpus text is
    NEVER shuffled, not even for the frequency count: lines are
    reduced to ``xxhash64`` before the groupBy (like
    :func:`line_dedup`), so only 8-byte hashes move. Membership runs
    in TWO in-row steps: ``array_intersect`` of the doc's line-hash
    array with the domain's boilerplate-hash array — Spark evaluates
    it with a per-row hash set, O(lines + |boilerplate|) per DOC —
    yields the doc-LOCAL dropped set, and the per-line filter probes
    only that tiny set. A per-line probe of the domain pool itself
    (``array_contains`` or a Spark map, whose ``element_at`` is a
    LINEAR key scan, not a hash lookup) is O(lines × |boilerplate|):
    measured at 10x with an 18k-line pool it never finishes, while
    this shape runs in seconds (scripts/scale_wave7.py records the
    numbers). The broadcast is bounded by the boilerplate set size
    (lines repeated ≥min_docs times — the tiny head of the line
    distribution); a corpus whose boilerplate outgrows broadcast
    routes through line_dedup's anti-join shape instead. A 64-bit
    line-hash collision within one domain could drop a content line —
    the same accepted odds line_dedup documents (~n²/2⁶⁵ per domain).

    Output: every input doc — (id, domain, clean_text, n_lines,
    n_kept, n_dropped).
    """
    lines_col = F.split(F.col(text_col), "\n")
    base = docs.select(
        F.col(id_col), F.col(domain_col), F.col(text_col),
        lines_col.alias("_lines"),
    )
    stream = base.select(
        F.col(id_col), F.col(domain_col),
        F.explode_outer(
            F.transform("_lines", lambda ln: F.xxhash64(ln))
        ).alias("_lh"),
    )
    bp = (
        stream.groupBy(domain_col, "_lh")
        .agg(F.count_distinct(F.col(id_col)).alias("_nd"))
        .where(F.col("_nd") >= min_docs)
        .groupBy(domain_col)
        .agg(F.collect_set("_lh").alias("_bph"))
    )
    joined = base.join(F.broadcast(bp), domain_col, "left")
    # _drop MUST be evaluated once per ROW, not once per line element:
    # CollapseProject inlines a deterministic single-use projection
    # into the downstream filter lambda, where it re-runs PER ELEMENT
    # (measured: 2k docs 11.5s, 8k docs 65s — quadratic in doc lines —
    # vs 2.5s/1.8s with the barrier). The F.shuffle wrapper is the
    # standard nondeterministic projection barrier: CollapseProject
    # refuses to substitute nondeterministic expressions, and element
    # ORDER is irrelevant to the array_contains membership probe, so
    # the output is unchanged. Missing-domain rows: intersect with a
    # null array is null → array_contains null-propagates → coalesce
    # keeps the line.
    staged = (
        joined.withColumn(
            "_drop",
            F.shuffle(
                F.array_intersect(
                    F.transform("_lines", lambda ln: F.xxhash64(ln)),
                    F.col("_bph"),
                )
            ),
        )
        .select(
            F.col(id_col), F.col(domain_col),
            F.size("_lines").cast("bigint").alias("n_lines"),
            F.filter(
                F.col("_lines"),
                lambda ln: ~F.coalesce(
                    F.array_contains(F.col("_drop"), F.xxhash64(ln)),
                    F.lit(False),
                ),
            ).alias("_kept"),
        )
    )
    return staged.select(
        id_col, domain_col,
        F.array_join(F.col("_kept"), "\n").alias("clean_text"),
        "n_lines",
        F.size("_kept").cast("bigint").alias("n_kept"),
        (F.col("n_lines") - F.size("_kept")).cast("bigint").alias("n_dropped"),
    )


def semdedup(
    emb: DataFrame,
    nlist: int = 16,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pair_engine: str = "sql",
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, public): coarse
    k-means-style clustering first, pairwise cosine ONLY within each
    cluster, keep a vector iff no lower-id cluster-mate is more similar
    than ``threshold``.

    This is the scale answer to :func:`embedding_cosine_pairs`'s
    guarded O(n²): clustering caps the quadratic term at
    O(Σ|cluster|²) and the pair stage is co-partitioned by cluster —
    with nlist grown ~√N (the FAISS IVF guidance the quantizer
    already follows) per-cluster work stays bounded while total work
    stays ~linear. The cluster assignment itself is the IVF map
    (broadcast centroids, no corpus shuffle, reference
    index_service.py:91-95's quantizer reused).

    ``pair_engine`` picks the within-cluster pair implementation —
    the same oracle/production split the hash_fn operators use:

    - ``"sql"``: equi-join on list id + per-pair fold. Deterministic
      and oracle-able (seeded centroids, argmin-L2 lowest-cid
      tie-break, ROUND(cos, 6) before the compare) — but the fold is
      an interpreted higher-order expr, ~µs per pair.
    - ``"arrow"``: one ``applyInPandas`` per cluster doing the
      |C|×d @ d×|C| Gram matmul — how SemDeDup is actually run at
      scale (BLAS, ~ns per pair). Same keep rule and tie-break;
      float results can differ from the fold in the last bit, so the
      oracle gate runs the sql engine.

    Returns kept rows: (id_col, list_id).
    """
    from ..functions.vector import dot, normalize
    from .ivf import assign_lists, seeded_centroids

    # validate BEFORE forwarding to assign_lists, so a bad value gets
    # the pair_engine error, not assign_lists' "unknown assign engine"
    if pair_engine not in ("sql", "arrow"):
        raise ValueError(f"unknown pair_engine: {pair_engine}")
    cents = seeded_centroids(emb, nlist, id_col=id_col, vec_col=vec_col)
    # L2-normalize ONCE per vector before the pair join: cosine then
    # costs one fold per pair instead of three (a·b, a·a, b·b). The
    # per-component divide-then-dot is the exact expression the
    # oracle mirrors, so the 6-dp rounding contract still holds.
    # The assignment engine follows pair_engine: the production
    # (arrow) profile gets the BLAS argmin too, the oracle (sql)
    # profile stays fold-deterministic end to end.
    assigned = assign_lists(
        emb, cents, vec_col=vec_col, engine=pair_engine
    ).select(
        id_col, normalize(F.col(vec_col)).alias("_vn"), "list_id"
    )
    if pair_engine == "arrow":
        # the per-cluster kernel already sees every cluster member, so
        # it emits the KEPT rows directly — the r11 shape returned the
        # dropped ids and anti-joined them back onto a SECOND
        # evaluation of the whole assignment pipeline (one more
        # corpus-scale Arrow pass + an id-keyed join for a decision
        # the kernel had already made)
        return _semdedup_keep_arrow(assigned, threshold, id_col)
    elif pair_engine == "sql":
        a = assigned.select(
            F.col(id_col).alias("id_a"),
            F.col("_vn").alias("v_a"),
            F.col("list_id").alias("cl"),
        )
        b = assigned.select(
            F.col(id_col).alias("id_b"),
            F.col("_vn").alias("v_b"),
            F.col("list_id").alias("cl"),
        )
        dup = (
            a.join(b, on="cl")
            .where(F.col("id_b") < F.col("id_a"))
            .where(
                F.round(dot(F.col("v_a"), F.col("v_b")), JACCARD_DECIMALS)
                >= threshold
            )
            .select(F.col("id_a").alias(id_col))
            .distinct()
        )
    else:
        raise ValueError(f"unknown pair_engine: {pair_engine}")
    return assigned.join(dup, on=id_col, how="left_anti").select(
        id_col, "list_id"
    )


def _semdedup_keep_arrow(
    assigned: DataFrame, threshold: float, id_col: str
) -> DataFrame:
    """KEPT (id, list_id) rows via per-cluster Gram matmuls: for each
    cluster, cos = Vn @ Vn.T in one BLAS call; a row is dropped iff
    any strictly-lower id in its cluster has ROUND(cos, 6) ≥
    threshold — the survivors come straight out of the kernel (same
    keep rule and float math as the r11 dropped-id form, which then
    re-ran the whole assignment pipeline for an anti-join).
    Arrow-batched, cluster-parallel; memory per task is |C|² doubles,
    bounded by the √N nlist sizing."""
    import numpy as np
    import pandas as pd

    def find_keepers(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        vn = np.vstack(pdf["_vn"].to_numpy())[order]
        cos = np.round(vn @ vn.T, JACCARD_DECIMALS)
        # strict lower-triangle mask: j < i by id order. Mask with
        # -inf, NOT np.tril's zero-fill — a zero-filled diagonal would
        # make every row (including each cluster's lowest id, which
        # has no lower-id mates at all) a "duplicate" whenever
        # threshold <= 0.0, and cosines live in [-1, 1].
        lower = np.tril(np.ones_like(cos, dtype=bool), k=-1)
        masked = np.where(lower, cos, -np.inf)
        hit = (masked >= threshold).any(axis=1)
        return pd.DataFrame({
            id_col: ids[~hit],
            "list_id": pdf["list_id"].to_numpy()[order][~hit],
        })

    # output schema follows the input id type (string doc ids must
    # survive the arrow engine exactly like the sql engine)
    id_type = assigned.schema[id_col].dataType.simpleString()
    list_type = assigned.schema["list_id"].dataType.simpleString()
    return assigned.groupBy("list_id").applyInPandas(
        find_keepers, schema=f"{id_col} {id_type}, list_id {list_type}"
    )


def _span_window_hashes(
    tokd: DataFrame, w: int, id_col: str, hash_fn: str
) -> DataFrame:
    """(id, pos, gh) window-hash triples shared by the span-dedup pair.

    ``tokd`` carries (id, _toks). The md5 (oracle) profile keeps the
    string-gram pipeline — its gh values are pinned by the DuckDB
    oracle. The xxhash64 production profile hashes each token ONCE and
    combines w token hashes per window
    (:func:`...functions.text.positional_window_hashes`): same 64-bit
    gram identity, no per-position gram-string allocation — measured
    0.73→0.54 s per pass at sf0.1 (identical span output), and both
    span ops run this pipeline twice (dictionary + join-back pass)."""
    from ..functions.text import (
        positional_window_hashes,
        positional_windows,
        token_hashes,
    )

    if hash_fn == "xxhash64":
        staged = tokd.select(
            F.col(id_col), token_hashes(F.col("_toks"), seed=0).alias("_th")
        )
        return staged.select(
            F.col(id_col),
            F.explode(positional_window_hashes(F.col("_th"), w)).alias("t"),
        ).select(
            F.col(id_col),
            F.col("t.pos").cast("bigint").alias("pos"),
            F.col("t.gh").alias("gh"),
        )
    return tokd.select(
        F.col(id_col),
        F.explode(positional_windows(F.col("_toks"), w)).alias("t"),
    ).select(
        F.col(id_col),
        F.col("t.pos").cast("bigint").alias("pos"),
        hashed(F.col("t.gram"), seed=0, hash_fn=hash_fn).alias("gh"),
    )


def repeated_spans(
    docs: DataFrame,
    w: int = 8,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Repeated-substring span detection — the fixed-window variant of
    ExactSubstr dedup (Lee et al., "Deduplicating Training Data Makes
    Language Models Better", ACL 2022: their suffix-array finds 50+-char
    repeats; public pipelines re-block it as w-token windows). Reference
    scope analogue: the chunk-level dedup the reference's preprocessing
    leaves to its single FAISS store (components/core at small N) —
    re-expressed as a corpus-scale scan.

    Output: one row per maximal run of consecutive repeated windows —
    (id, span_start, span_end, n_windows), token positions 1-based
    inclusive; a span whose w-gram hash occurs >= min_count times
    ANYWHERE in the corpus (same doc included, matching ExactSubstr's
    self-repeat semantics).

    Plan shape for 100 TB:
    - windows stay IN-ROW (one transform over a staged token array,
      element_at per offset) until the single explode to
      (id, pos, gram-hash) triples — 24-byte rows, no text ever
      shuffles;
    - the repeated-gram dictionary is built by groupBy(gh) with
      map-side partial aggregation, then filtered to count >=
      min_count BEFORE the join back. Repeats are rare in a healthy
      corpus, so the dictionary is small and AQE converts the join to
      a broadcast — the window triples themselves never shuffle for
      it (a count-over-window would shuffle every window);
    - only surviving (repeated) windows shuffle by id for the
      gaps-and-islands merge (pos - row_number() is constant within a
      run of consecutive positions), and that set is output-sized.
    ``hash_fn="md5"`` is the cross-engine oracle profile; xxhash64 is
    the production path (60 vs 64 bits of gram identity — collisions
    mark a false span, the standard blocked-ExactSubstr tradeoff).
    """
    from pyspark.sql import Window

    tokd = docs.select(
        F.col(id_col), tokens(F.col(text_col)).alias("_toks")
    ).where(F.size("_toks") >= w)
    # r12: the triples reduce to (gh, okey = id·10⁶ + pos) and stage
    # behind ONE explicit gh exchange; BOTH consumers (dictionary
    # groupBy, join-back) read exactly (gh, okey), so their exchanges
    # canonicalize identically and the tokenize+window-hash subtree
    # runs ONCE (ReusedExchange) — and the explicit shuffle also
    # redistributes the explode output across all cores instead of
    # the input-file task count (measured together: repeated_spans
    # 1.78→1.34 s at sf0.1, 7.9→7.0 at sf1; strip 2.60→2.06 /
    # 8.0→4.7; the okey unification landed after those numbers and is
    # A/B'd under the bench harness in OPTIMIZATION_r12.md). (id, pos)
    # reconstruct by exact integer arithmetic above the join
    # (non-negative ids, pos < 10⁶ — the strip_repeated_spans okey
    # contract). Trade: the dictionary count loses map-side partial
    # aggregation, so the exchange carries one 16-byte row per window
    # occurrence instead of per distinct gram — acceptable because
    # 8-token grams are orders flatter than single terms, and a
    # genuinely hot boilerplate gram is bounded by the corpus'
    # boilerplate mass, not vocabulary shape.
    okey = (F.col(id_col) * 1_000_000 + F.col("pos")).alias("okey")
    wins = (
        _span_window_hashes(tokd, w, id_col, hash_fn)
        .select("gh", okey)
        # no-op for the corpus contract (ids non-null): this mirrors
        # the not-null constraints Catalyst infers on the join-back
        # branch, so BOTH consumers' subtrees canonicalize identically
        # below the exchange — without it only the probe side carries
        # the inferred filters and the shuffle is re-computed instead
        # of reused (verified: FileScans 3→2, ReusedQueryStage 1)
        .where(
            F.col("okey").isNotNull()
            & F.expr("(okey div 1000000)").isNotNull()
        )
        .repartition("gh")
    )
    repeated = (
        wins.groupBy("gh")
        # count("okey"), not count(*): okey is non-null below (the
        # mirror filter), so the value is identical — but the column
        # reference PINS okey into this branch's projection, keeping
        # both consumers' exchange subtrees canonically identical
        # (ColumnPruning would otherwise drop okey here and fork the
        # exchange, re-computing the tokenize subtree per consumer).
        .agg(F.count("okey").alias("cnt"))
        .where(F.col("cnt") >= min_count)
        .select("gh")
    )
    id_type = docs.schema[id_col].dataType
    hits = (
        wins.join(repeated, "gh")
        .select(
            F.expr("okey div 1000000").cast(id_type).alias(id_col),
            F.pmod(F.col("okey"), F.lit(1_000_000)).alias("pos"),
        )
    )
    rn = F.row_number().over(
        Window.partitionBy(id_col).orderBy(F.col("pos").asc())
    )
    return (
        hits.withColumn("_grp", F.col("pos") - rn)
        .groupBy(id_col, "_grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(w - 1)).cast("bigint").alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .select(id_col, "span_start", "span_end", "n_windows")
    )


def fuzzy_decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id: str = "bench_id",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Fuzzy benchmark decontamination: MinHash-banded candidate join
    between the training corpus and a held-out benchmark set, verified
    with exact shingle Jaccard — the near-duplicate complement of
    :func:`decontaminate`'s exact n-gram overlap (public practice:
    paraphrased or lightly-edited eval questions slip past exact
    n-grams; fuzzy dedup against benchmarks is standard in open
    pipeline reports). Output: (doc_id, bench_id, jaccard) per
    contaminated (corpus doc, benchmark doc) pair at or above
    ``threshold``.

    Plan shape for 100 TB: benchmarks are thousands of rows, so every
    benchmark-side artifact — band keys AND shingle sets — BROADCASTS.
    The corpus reduces to (id, band, bval) triples for the candidate
    probe and never shuffles; only candidate hits (output-sized) join
    back to corpus shingles by id. Same banding math as
    :func:`minhash_lsh_pairs` (identical seeds via
    :func:`_band_structs` — the two sides must agree to collide):
    collision probability 1-(1-j^r)^b, every survivor verified, so
    precision is exact and only recall is probabilistic.
    ``hash_fn="md5"`` is the cross-engine oracle profile."""
    rows_per_band = num_hashes // bands
    bstructs = _band_structs(bands, rows_per_band, hash_fn)

    def banded(frame, out_id):
        sig = minhash_signatures(frame, n, num_hashes, id_col, text_col, hash_fn)
        return sig.select(
            F.col(id_col).alias(out_id), F.explode(bstructs).alias("bs")
        ).select(out_id, F.col("bs.band").alias("band"), F.col("bs.bval").alias("bval"))

    cand = (
        banded(docs, id_col)
        .join(F.broadcast(banded(benchmark, bench_id)), ["band", "bval"])
        .select(id_col, bench_id)
        .dropDuplicates([id_col, bench_id])
    )
    # r12: verify-side corpus shingles build for CANDIDATE docs only
    # (the minhash_lsh_pairs recipe) — contaminated docs are a tiny
    # fraction of the corpus, so the former full-corpus shingle build
    # fed an output-sized join
    sh_d = _shingle_sets(
        docs.join(cand.select(id_col).distinct(), id_col, "leftsemi"),
        n, id_col, text_col,
    )
    sh_b = _shingle_sets(benchmark, n, id_col, text_col).select(
        F.col(id_col).alias(bench_id), F.col("shingles").alias("sh_b")
    )
    return (
        cand.join(sh_d, id_col)
        .join(F.broadcast(sh_b), bench_id)
        .select(
            id_col,
            bench_id,
            F.round(
                _jaccard(F.col("shingles"), F.col("sh_b")), JACCARD_DECIMALS
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def strip_repeated_spans(
    docs: DataFrame,
    w: int = 8,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Removal half of the ExactSubstr recipe (Lee et al. ACL 2022
    keep ONE occurrence of each duplicated substring): every repeated
    w-token window except its global first occurrence — ordered by
    (doc id, position) — is redundant; redundant windows merge into
    token spans per doc, and the spanned tokens are dropped from the
    rebuilt text. Output: (id, clean_text, n_tokens, n_tokens_removed)
    for EVERY input doc (docs without repeats pass through intact,
    with original inter-token whitespace canonicalized to single
    spaces by the rebuild).

    Plan shape for 100 TB (extends :func:`repeated_spans`):
    - windows → (id, pos, gram-hash) triples, one explode, no text
      shuffled;
    - the owner of each repeated gram is min(doc·10⁶+pos) from the
      same map-side-combinable groupBy that finds repeats — the
      redundant-window dictionary is (repeated grams × occurrences),
      output-sized, and AQE broadcasts it back onto the triples;
    - removal spans collapse per doc (gaps-and-islands, shuffles only
      redundant windows), collect_list packs each doc's spans into ONE
      array row (bounded: spans ≤ tokens/w per doc), and that
      span table — sized by CONTAMINATED docs only — broadcasts onto
      the full corpus scan for an IN-ROW token filter. The corpus
      text itself never shuffles, never explodes.
    Positions use doc·10⁶+pos arithmetic, so ``pos < 10⁶`` windows per
    doc (a million-token doc should be chunked long before this op).

    Removal is SPAN-granular: a redundant window's full w-token extent
    is dropped even where it overlaps the kept first occurrence, so a
    degenerate doc of one token repeated n times keeps exactly its
    first token (windows 2..n−w+1 are all redundant and their merged
    extent reaches back to position 2). Deterministic, and the right
    bias for a dedup pass — over-removal of pathological repetition.
    """
    from pyspark.sql import Window

    # NULL text ≡ empty doc (the adversarial-suite convention: counts
    # come out 0, clean_text "", instead of NULL-poisoning downstream)
    tokd = docs.select(
        F.col(id_col),
        F.coalesce(
            tokens(F.col(text_col)), F.array().cast("array<string>")
        ).alias("_toks"),
    )
    # r12: the triples reduce to (gh, okey) and stage behind one gh
    # exchange; both consumers (owner dictionary, join-back) read
    # exactly (gh, okey), so the exchanges canonicalize identically
    # and the tokenize+window-hash subtree runs ONCE (ReusedExchange)
    # — see repeated_spans for the measured deltas and the skew note.
    # (id, pos) reconstruct above the join by exact integer
    # arithmetic (non-negative ids, pos < 10⁶ — the okey contract in
    # this docstring).
    wins = (
        _span_window_hashes(
            tokd.where(F.size("_toks") >= w), w, id_col, hash_fn
        )
        .select(
            "gh",
            (F.col(id_col) * 1_000_000 + F.col("pos")).alias("okey"),
        )
        # no-op under the non-null-id contract; mirrors the inferred
        # join-back constraints so both consumers reuse one exchange
        # (see repeated_spans)
        .where(
            F.col("okey").isNotNull()
            & F.expr("(okey div 1000000)").isNotNull()
        )
        .repartition("gh")
    )
    owners = (
        wins.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("cnt"), F.min("okey").alias("own"))
        .where(F.col("cnt") >= min_count)
        .select("gh", "own")
    )
    id_type = docs.schema[id_col].dataType
    redundant = (
        wins.join(owners, "gh")
        .where(F.col("okey") != F.col("own"))
        .select(
            F.expr("okey div 1000000").cast(id_type).alias(id_col),
            F.pmod(F.col("okey"), F.lit(1_000_000)).alias("pos"),
        )
    )
    rn = F.row_number().over(
        Window.partitionBy(id_col).orderBy(F.col("pos").asc())
    )
    spans = (
        redundant.withColumn("_grp", F.col("pos") - rn)
        .groupBy(id_col, "_grp")
        .agg(
            F.min("pos").alias("s"),
            (F.max("pos") + F.lit(w - 1)).alias("e"),
        )
        .groupBy(id_col)
        .agg(F.collect_list(F.struct("s", "e")).alias("_spans"))
    )
    joined = tokd.join(F.broadcast(spans), id_col, "left")
    # guard: sequence(1, 0) counts DOWN and zip_with pads with nulls,
    # so an empty token array must short-circuit to an empty struct
    # array (same discipline as text.positional_windows)
    pos_toks = F.when(
        F.size("_toks") == 0,
        F.array().cast("array<struct<tok:string,p:int>>"),
    ).otherwise(
        F.zip_with(
            F.col("_toks"),
            F.sequence(F.lit(1), F.greatest(F.size("_toks"), F.lit(1))),
            lambda t, p: F.struct(t.alias("tok"), p.alias("p")),
        )
    )
    kept = F.filter(
        pos_toks,
        lambda s: ~F.exists(
            F.coalesce(
                F.col("_spans"),
                F.array().cast("array<struct<s:bigint,e:bigint>>"),
            ),
            lambda sp: (s["p"] >= sp["s"]) & (s["p"] <= sp["e"]),
        ),
    )
    return joined.select(
        F.col(id_col),
        F.array_join(
            F.transform(kept, lambda s: s["tok"]), " "
        ).alias("clean_text"),
        F.size("_toks").cast("bigint").alias("n_tokens"),
        (F.size("_toks") - F.size(kept)).cast("bigint").alias(
            "n_tokens_removed"
        ),
    )


NEARDUP_BUCKETS = 64  # partition fanout per band: bval % 64


def neardup_index_save(
    docs: DataFrame,
    path: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "xxhash64",
) -> None:
    """Persist a near-duplicate index over a document corpus — the
    dedup-as-a-service layout: every future ingest batch asks "is
    this a near-dup of ANYTHING already collected?" without touching
    the corpus text.

    Layout (the IVF posting-list idea applied to MinHash bands):
    - ``{path}/bands``: (id, bval) partitioned by (band, bucket =
      pmod(bval, 64)) — a query doc collides in at most ``bands``
      (band, bucket) partitions, so the probe reads bands/(bands×64)
      = 1/64 of the band files, exactly like nprobe/nlist pruning;
    - ``{path}/shingles``: (id, shingle set) for candidate
      verification, re-joined by id only for (output-sized) hits;
    - ``{path}/_meta``: the banding parameters, so queries can never
      probe with mismatched seeds (the bands must agree to collide).
    """
    sig = minhash_signatures(docs, n, num_hashes, id_col, text_col, hash_fn)
    rows_per_band = num_hashes // bands
    banded = sig.select(
        F.col(id_col), F.explode(_band_structs(bands, rows_per_band, hash_fn)).alias("bs")
    ).select(
        F.col(id_col),
        F.col("bs.band").alias("band"),
        F.col("bs.bval").alias("bval"),
        F.pmod(F.col("bs.bval"), F.lit(NEARDUP_BUCKETS)).alias("bucket"),
    )
    banded.write.mode("overwrite").partitionBy("band", "bucket").parquet(
        f"{path}/bands"
    )
    _shingle_sets(docs, n, id_col, text_col).write.mode("overwrite").parquet(
        f"{path}/shingles"
    )
    spark = docs.sparkSession
    spark.createDataFrame(
        [(n, num_hashes, bands, hash_fn)],
        "n int, num_hashes int, bands int, hash_fn string",
    ).write.mode("overwrite").parquet(f"{path}/_meta")


def neardup_index_append(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Incrementally add a batch to a persisted near-dup index: new
    band rows land ONLY in their own (band, bucket) partitions
    (append, untouched partitions never rewritten — the
    lifecycle.append posture), new shingle rows append."""
    spark = docs.sparkSession
    meta = spark.read.parquet(f"{path}/_meta").first()
    sig = minhash_signatures(
        docs, meta.n, meta.num_hashes, id_col, text_col, meta.hash_fn
    )
    rows_per_band = meta.num_hashes // meta.bands
    banded = sig.select(
        F.col(id_col),
        F.explode(
            _band_structs(meta.bands, rows_per_band, meta.hash_fn)
        ).alias("bs"),
    ).select(
        F.col(id_col),
        F.col("bs.band").alias("band"),
        F.col("bs.bval").alias("bval"),
        F.pmod(F.col("bs.bval"), F.lit(NEARDUP_BUCKETS)).alias("bucket"),
    )
    banded.write.mode("append").partitionBy("band", "bucket").parquet(
        f"{path}/bands"
    )
    _shingle_sets(docs, meta.n, id_col, text_col).write.mode("append").parquet(
        f"{path}/shingles"
    )


def neardup_index_query(
    spark,
    path: str,
    batch: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    batch_id: str = "batch_id",
) -> DataFrame:
    """Probe the persisted near-dup index with an ingest batch:
    (batch doc id, indexed doc id, jaccard) for every pair at or
    above ``threshold``.

    Scale posture: the batch's (band, bucket) pairs collect (at most
    |batch|×bands driver-sized rows) and prune the bands scan to just
    those partitions — the corpus-side index is READ 1/64th per band
    probed, never scanned. Candidates (output-sized) semi-join the
    shingle store by id; the batch's own bands and shingles broadcast.
    Banding parameters come from ``_meta`` — a probe can never use
    mismatched seeds."""
    meta = spark.read.parquet(f"{path}/_meta").first()
    rows_per_band = meta.num_hashes // meta.bands
    sig = minhash_signatures(
        batch, meta.n, meta.num_hashes, id_col, text_col, meta.hash_fn
    )
    qb = sig.select(
        F.col(id_col).alias(batch_id),
        F.explode(
            _band_structs(meta.bands, rows_per_band, meta.hash_fn)
        ).alias("bs"),
    ).select(
        F.col(batch_id),
        F.col("bs.band").alias("band"),
        F.col("bs.bval").alias("bval"),
        F.pmod(F.col("bs.bval"), F.lit(NEARDUP_BUCKETS)).alias("bucket"),
    )
    probe_pairs = [
        (r.band, r.bucket) for r in qb.select("band", "bucket").distinct().collect()
    ]
    # an OR of (band=b AND bucket=k) conjunctions — the predicate form
    # Spark's partition pruning understands (a struct-isin would scan
    # everything); both are partition columns, so the scan's
    # PartitionFilters prune to exactly the probed directories
    if probe_pairs:
        pred = None
        for b, k in probe_pairs:
            clause = (F.col("band") == b) & (F.col("bucket") == k)
            pred = clause if pred is None else (pred | clause)
    else:
        pred = F.lit(False)
    store = spark.read.parquet(f"{path}/bands").where(pred)
    cand = (
        store.join(F.broadcast(qb), ["band", "bval"])
        .select(id_col, batch_id)
        .dropDuplicates([id_col, batch_id])
    )
    sh_store = spark.read.parquet(f"{path}/shingles")
    sh_batch = _shingle_sets(batch, meta.n, id_col, text_col).select(
        F.col(id_col).alias(batch_id), F.col("shingles").alias("sh_b")
    )
    return (
        cand.join(sh_store, id_col)
        .join(F.broadcast(sh_batch), batch_id)
        .select(
            batch_id,
            id_col,
            F.round(
                _jaccard(F.col("shingles"), F.col("sh_b")), JACCARD_DECIMALS
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def self_similarity_report(
    docs: DataFrame,
    sample_k: int = 40,
    shingle_n: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus diversity report (self-BLEU analogue on shingle
    Jaccard): mean / max pairwise similarity over a deterministic
    document sample — the mode-collapse monitor every synthetic-data
    pipeline needs (a generator stuck in a template shows up as a
    rising mean long before exact dedup catches anything).

    The sample is the md5-ranked top-``sample_k`` (stable under
    corpus growth, the stratified_sample posture) — TakeOrdered, no
    global sort; the quadratic part is sample_k^2/2 pairs of a
    broadcast self-join, constant work at ANY corpus scale. Per-pair
    Jaccard is integer set arithmetic rounded to DECIMAL(12,8) before
    the order-free mean (lm.py discipline).
    """
    from ..functions.hashing import md5_int
    from ..functions.text import shingles_from_tokens, tokens

    # Two-phase sample: the top-sample_k ids come from a NARROW
    # (id, rank) TakeOrdered — ordering rows that CARRY the shingle
    # arrays measured 16.7 s at sf0.1 (the sort moves the wide arrays,
    # twice: once per self-join branch); the ids then collect (bounded,
    # sample_k rows — query-side-structure discipline) and shingles
    # build only for those rows behind a pushed In filter (0.9 s).
    # Eligibility = token-count arithmetic, NOT size(shingles) > 0 —
    # a filter on the shingle expression would be predicate-pushed and
    # rebuilt in the Filter node (the ngram_novelty 60x lesson).
    elig = docs.where(F.size(tokens(F.col(text_col))) >= shingle_n)
    ids = [
        r[0]
        for r in elig.select(
            F.col(id_col), md5_int(F.col(id_col), seed=43).alias("_rk")
        )
        .orderBy(F.col("_rk").asc(), F.col(id_col).asc())
        .limit(sample_k)
        .collect()
    ]
    sample = docs.where(F.col(id_col).isin(ids)).select(
        F.col(id_col),
        shingles_from_tokens(tokens(F.col(text_col)), shingle_n).alias("_sh"),
    )
    a = sample.select(
        F.col(id_col).alias("_ida"), F.col("_sh").alias("_sha")
    )
    b = sample.select(
        F.col(id_col).alias("_idb"), F.col("_sh").alias("_shb")
    )
    inter = F.size(F.array_intersect(F.col("_sha"), F.col("_shb")))
    union = F.size("_sha") + F.size("_shb") - inter
    pairs = (
        a.crossJoin(F.broadcast(b))
        .where(F.col("_ida") < F.col("_idb"))
        .select(
            F.round(inter.cast("double") / union, 8)
            .cast("decimal(12,8)")
            .alias("j")
        )
    )
    return pairs.agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.round(
            F.sum("j").cast("double") / F.count("*"), 6
        ).alias("mean_jaccard"),
        F.round(F.max("j").cast("double"), 6).alias("max_jaccard"),
        F.sum((F.col("j") >= 0.5).cast("bigint")).alias("n_pairs_over_50"),
    )


def cross_domain_dup_report(
    docs: DataFrame,
    threshold: float = 0.8,
    hash_fn: str = "md5",
    id_col: str = "doc_id",
    text_col: str = "text",
    domain_col: str = "source",
) -> DataFrame:
    """Where does duplication COME FROM: near-dup pairs cross-tabulated
    by unordered domain pair — the mirror-site / syndication / cross-
    dump audit behind every multi-source crawl (within-domain mass is
    boilerplate, cross-domain mass is the same content arriving twice
    and silently double-weighting training).

    The pair miner is :func:`minhash_lsh_pairs` unchanged (band-
    blocked, exact-Jaccard-verified); labeling joins the OUTPUT-sized
    pair set twice against the narrow (id, domain) projection, so the
    corpus text never moves; the rollup groups on (least, greatest) of
    the domain pair. Mean Jaccard sums the already-6dp-rounded pair
    values as exact DECIMALs (order-free), max is order-free by
    definition.
    """
    pairs = minhash_lsh_pairs(
        docs,
        threshold=threshold,
        id_col=id_col,
        text_col=text_col,
        hash_fn=hash_fn,
    )
    dom = docs.select(F.col(id_col), F.col(domain_col))
    labeled = pairs.join(
        dom.select(
            F.col(id_col).alias("doc_a"), F.col(domain_col).alias("_da")
        ),
        "doc_a",
    ).join(
        dom.select(
            F.col(id_col).alias("doc_b"), F.col(domain_col).alias("_db")
        ),
        "doc_b",
    )
    return (
        labeled.select(
            F.least(F.col("_da"), F.col("_db")).alias("source_x"),
            F.greatest(F.col("_da"), F.col("_db")).alias("source_y"),
            (F.col("_da") != F.col("_db")).cast("bigint").alias("_cross"),
            F.col("jaccard").cast("decimal(12,6)").alias("_j"),
        )
        .groupBy("source_x", "source_y")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.sum("_cross").cast("bigint").alias("n_cross_domain"),
            F.round(
                F.sum("_j").cast("double") / F.count("*"), 6
            ).alias("mean_jaccard"),
            F.round(F.max("_j").cast("double"), 6).alias("max_jaccard"),
        )
    )
