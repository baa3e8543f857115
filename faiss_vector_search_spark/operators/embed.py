"""Deterministic text embedding — the Spark stand-in for the
reference's sentence-transformers EmbeddingService
(components/core/embedding_service.py:64-122).

The container has no sentence-transformers; a real deployment would
wrap the model in an Arrow-batched ``mapInPandas`` (GPU executors,
batch_size from config — see `sources/multimodal.py` for the stub
pattern). What we ship instead is a *feature-hashing* embedder: token
→ md5-bucket → per-bucket counts → optional L2 normalize. It is fully
deterministic and cross-engine reproducible (oracle-able).

Scale: a per-row map with no shuffle — each row tokenizes and hashes
its text once, and callers carry other columns through ``keep_cols``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import vector as V
from ..functions.hashing import hashed
from ..functions.text import tokens


def token_buckets(
    docs: DataFrame,
    dim: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "md5",
) -> DataFrame:
    """Long-form feature hashing: (doc_id, bucket, cnt)."""
    # explode_outer + null-filter: plain explode infers a pre-filter
    # that re-evaluates the tokenizer; the filter on the *generated*
    # column cannot be pushed below the generate.
    toks = docs.select(
        F.col(id_col), F.explode_outer(tokens(F.col(text_col))).alias("tok")
    ).where(F.col("tok").isNotNull())
    return (
        toks.withColumn("bucket", F.pmod(hashed(F.col("tok"), 0, hash_fn), dim))
        .groupBy(id_col, "bucket")
        .agg(F.count("*").alias("cnt"))
    )


def _hash_vectors(
    text: Column, dim: int, hash_fn: str, normalize: bool
) -> Column:
    """One row's embedding as ``[]`` (NULL text or no token) or
    ``[vector]``. Each stage is let-bound as the lambda variable of a
    transform over a one-element array (as in ``V.normalize``): lambdas
    get no common-subexpression elimination, so buckets named inside
    the per-dimension lambda would be re-hashed once per dimension."""
    buckets = F.transform(
        tokens(text), lambda t: F.pmod(hashed(t, 0, hash_fn), dim)
    )
    counts = F.transform(
        F.filter(F.array(buckets), lambda b: F.size(b) > 0),
        lambda b: F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: F.size(F.filter(b, lambda x: x == i)).cast("double"),
        ),
    )
    return F.transform(counts, V.normalize) if normalize else counts


def embed_documents(
    docs: DataFrame,
    dim: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    normalize: bool = True,
    hash_fn: str = "md5",
    model: str = "hash",
    batch_size: int = 64,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(doc_id, embedding: array<double>) — L2-normalized like
    encode(normalize_embeddings=True).

    One row per input row, ``(id, embedding, *keep_cols)``; with the
    hash model a row whose text is NULL or has no token gives none.
    ``keep_cols`` (hash or numpy model) are input columns forwarded
    unchanged beside the vector, so a caller carries chunk text or a
    stage-1 score through the embedding instead of joining it back.

    ``model`` selects the embedding implementation:

    - ``"hash"`` (default): the declared feature-hash stand-in —
      pure JVM built-ins, deterministic, oracle-able.
    - ``"numpy"``: the PRODUCTION learned-model path, end to end —
      an Arrow-batched ``mapInPandas`` running a tiny committed
      numpy MLP (models/tiny_mlp.npz) exactly where the reference
      runs sentence-transformers (embedding_service.py:64-122:
      batch texts → model.encode(batch_size=...) → normalized
      float vectors). Swapping in the real library is a one-line
      change inside ``_encode_batches`` (model.encode(texts));
      everything this path proves — schema, per-row independence,
      internal ``batch_size`` chunking, partition parallelism,
      Arrow transfer — carries over unchanged. Not oracle-able
      (model forward pass has no SQL twin); gated by pytest
      batch-size/partitioning invariance + self-retrieval instead.
    - ``"st:<checkpoint>"``: the real sentence-transformers encoder
      (e.g. ``"st:all-MiniLM-L6-v2"``) in the same mapInPandas slot —
      the exact reference behavior. Import-gated: raises a clear
      remediation error when the library isn't installed; when it is,
      tests/test_embed_model.py's skip-gated real-checkpoint tests
      re-run the invariance + self-retrieval gates against it.
      ``dim`` is ignored (the checkpoint fixes the width).
    """
    missing = [c for c in keep_cols if c not in docs.columns]
    if missing:
        # fail at plan-build time with the column named, not as an
        # opaque executor-side KeyError from the model slot
        raise ValueError(
            f"keep_cols not in docs: {missing} (have {docs.columns})"
        )
    if model == "numpy":
        return _embed_documents_numpy(
            docs, dim, id_col, text_col, batch_size, keep_cols
        )
    if model.startswith("st:"):
        if keep_cols:
            raise ValueError("keep_cols is not supported with model='st:...'")
        return _embed_documents_st(
            docs, model[3:], id_col, text_col, batch_size
        )
    if model != "hash":
        raise ValueError(f"unknown embed model: {model}")
    # explode of the 0- or 1-element array drops the no-token rows; a
    # filter on the vector would be pushed below the projection and
    # evaluate the embedding twice
    return docs.select(
        F.col(id_col),
        F.explode(
            _hash_vectors(F.col(text_col), dim, hash_fn, normalize)
        ).alias("embedding"),
        *keep_cols,
    )


def _mlp_weights():
    """Load the committed tiny-MLP weights (64→64 tanh →64). The file
    ships in the repo so the model path is deterministic everywhere —
    the stand-in for a model checkpoint pulled from a registry."""
    import os

    import numpy as np

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "models", "tiny_mlp.npz",
    )
    with np.load(path) as z:
        return z["W1"], z["b1"], z["W2"]


def hash_featurize(texts, dim: int, hash_fn: str = "md5"):
    """Python hash featurization shared by every numpy model slot and
    the driver-side query paths: EXACTLY
    ``pmod(functions.hashing.hashed(tok, 0, hash_fn), dim)`` — the same
    bucket the JVM feature-hash embedder assigns, so a numpy model's
    input features equal the declarative baseline's. Returns the raw
    (len(texts), dim) count matrix (not normalized)."""
    import hashlib
    import re

    import numpy as np

    from ..functions.xxh import spark_xxhash64_str

    if hash_fn == "md5":
        def bucket(tok):
            return int(hashlib.md5(("s0:" + tok).encode()).hexdigest()[:15], 16)
    elif hash_fn == "xxhash64":
        def bucket(tok):
            return spark_xxhash64_str(tok, 0)
    else:
        raise ValueError(f"unknown hash_fn: {hash_fn}")
    tok_re = re.compile(r"[0-9a-z]+")
    x = np.zeros((len(texts), dim))
    for row, t in enumerate(texts):
        for tok in tok_re.findall((t or "").lower()):
            x[row, bucket(tok) % dim] += 1.0
    return x


def numpy_forward(x, W1, b1, W2):
    """The committed tiny-MLP forward pass (normalize → residual head
    → renormalize) — module-level so the per-batch kernel and the
    driver-side single-query path run EXACTLY the same math."""
    import numpy as np

    xn = np.linalg.norm(x, axis=1, keepdims=True)
    x = np.divide(x, xn, out=np.zeros_like(x), where=xn > 0)
    e = x + 0.5 * (np.tanh(x @ W1 + b1) @ W2)
    e[(xn == 0).ravel()] = 0.0
    en = np.linalg.norm(e, axis=1, keepdims=True)
    return np.divide(e, en, out=np.zeros_like(e), where=en > 0)


def query_embedding_numpy(query_text: str, dim: int = 64) -> list:
    """One text through the numpy model ON THE DRIVER — for two-stage
    rerankers that fold the query vector into the plan as a literal
    instead of spending a 1-row mapInPandas stage (and its broadcast +
    crossJoin) per call."""
    return numpy_forward(
        hash_featurize([query_text], dim), *_mlp_weights()
    )[0].tolist()


def query_embedding_hash(
    query_text: str, dim: int = 64, hash_fn: str = "md5"
) -> list | None:
    """One text through the feature-hash embedder ON THE DRIVER: bit
    for bit the row :func:`embed_documents` (model="hash") gives it —
    same buckets, same sequential normalize fold. None for a text with
    no token, for which the JVM embedder emits no row."""
    x = hash_featurize([query_text], dim, hash_fn)[0]
    return V.normalize_vec(x).tolist() if x.any() else None


def _embed_documents_numpy(
    docs: DataFrame, dim: int, id_col: str, text_col: str,
    batch_size: int, keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """The learned-model embedding path: tokenize + featurize + MLP
    forward INSIDE the Arrow batch iterator, mirroring how a
    sentence-transformers worker consumes text batches. Weights load
    once per python worker (closure capture), not per batch."""
    import pandas as pd

    weights = _mlp_weights()

    def encode_batches(batches):
        for pdf in batches:
            # model-style micro-batching: each Arrow batch is chunked
            # to batch_size rows before the forward pass, exactly the
            # encode(batch_size=...) contract — per-row output must
            # not depend on where chunk boundaries fall (pytest-gated)
            for lo in range(0, len(pdf), batch_size):
                chunk = pdf.iloc[lo:lo + batch_size]
                emb = numpy_forward(
                    hash_featurize(chunk[text_col].tolist(), dim), *weights
                )
                out = {id_col: chunk[id_col].values, "embedding": list(emb)}
                for c in keep_cols:
                    out[c] = chunk[c].values
                yield pd.DataFrame(out)

    keep_schema = "".join(
        f", {f.name} {f.dataType.simpleString()}"
        for f in docs.schema.fields if f.name in keep_cols
    )
    return docs.select(id_col, text_col, *keep_cols).mapInPandas(
        encode_batches,
        schema=f"{id_col} long, embedding array<double>{keep_schema}",
    )


# worker-side checkpoint cache: lives in the python WORKER process
# (this module is imported there when the UDF closure deserializes),
# so every task on the worker reuses one loaded model per checkpoint
_ST_MODELS: dict = {}


def _st_model(checkpoint: str):
    """Load-once sentence-transformers model, keyed by checkpoint."""
    if checkpoint not in _ST_MODELS:
        from sentence_transformers import SentenceTransformer

        _ST_MODELS[checkpoint] = SentenceTransformer(checkpoint)
    return _ST_MODELS[checkpoint]


def _embed_documents_st(
    docs: DataFrame, checkpoint: str, id_col: str, text_col: str,
    batch_size: int,
) -> DataFrame:
    """Real-checkpoint embedding: sentence-transformers inside the
    same Arrow ``mapInPandas`` slot as the numpy path (reference
    components/core/embedding_service.py:64-122 — batch texts →
    model.encode(batch_size=..., normalize_embeddings=True)).

    The model loads ONCE per python WORKER PROCESS — cached in a
    module-level dict keyed by checkpoint (the standard Spark
    worker-singleton pattern), because Spark reuses one python worker
    across many tasks and a per-task ``SentenceTransformer(...)``
    would re-pay the checkpoint load once per partition. On a
    1000-executor cluster each worker pays one load, then streams
    Arrow batches through it; that is the sentence-transformers
    serving shape. Import-gated so the operator surface exists (and
    is covered by skip-gated tests) even in environments without
    torch.
    """
    try:
        from sentence_transformers import SentenceTransformer  # noqa: F401
    except ImportError as e:  # pragma: no cover - env-dependent
        raise ImportError(
            "embed_documents(model='st:...') needs sentence-transformers. "
            "Install it (pip install sentence-transformers) or use "
            "model='numpy' — the committed MLP that exercises the same "
            "mapInPandas plumbing."
        ) from e

    def encode_batches(batches):
        import pandas as pd

        model = _st_model(checkpoint)  # worker-singleton per checkpoint
        for pdf in batches:
            emb = model.encode(
                [t if t is not None else "" for t in pdf[text_col]],
                batch_size=batch_size,
                normalize_embeddings=True,
                show_progress_bar=False,
            )
            yield pd.DataFrame(
                {id_col: pdf[id_col].values,
                 "embedding": [row.astype("float64") for row in emb]}
            )

    return docs.select(id_col, text_col).mapInPandas(
        encode_batches, schema=f"{id_col} long, embedding array<double>"
    )


def text_search(
    docs: DataFrame,
    query_text: str,
    dim: int = 64,
    k: int = 5,
    hash_fn: str = "md5",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """End-to-end text retrieval — the reference's query→embed→top-k
    pipeline (search_service.py:246-334 ``search_detailed``) over the
    feature-hash embedder.

    Cosine is computed in *long form* on the sparse bucket counts:
    dot = Σ cnt_d·cnt_q over shared buckets, norms = √Σ cnt² — all
    integer sums, so the result is exactly reproducible cross-engine
    (no float summation order to drift).

    Plan shape (the r7-proven :func:`text_search_multi` engine at
    |Q| = 1): the query's sparse bucket counts come from the driver's
    :func:`hash_featurize` (the JVM tokenizer's twin, no Spark job)
    and ride the plan as a LITERAL bucket→count map — so the
    corpus side is ONE partial-aggregated groupBy computing norm and
    dot together with zero joins (no broadcast exchange, no
    corpus-vs-query-norm crossJoin), and the final cut compiles to
    TakeOrderedAndProject. Results are hash-identical to the former
    broadcast-join form (integer arithmetic, same rounding)."""
    x = hash_featurize([query_text], dim, hash_fn)[0]
    bmap = {b: int(c) for b, c in enumerate(x) if c}
    if not bmap:  # empty/stopword-only query: no bucket can match
        return docs.select(F.col(id_col)).limit(0).select(
            F.col(id_col), F.lit(0.0).alias("score")
        )
    qn2 = sum(c * c for c in bmap.values())
    mlit = F.create_map(
        *[x for b_, c_ in sorted(bmap.items()) for x in (F.lit(b_), F.lit(c_))]
    )
    d = token_buckets(docs, dim, id_col, text_col, hash_fn)
    dots = (
        d.groupBy(id_col)
        .agg(
            F.sum(F.col("cnt") * F.col("cnt")).alias("dn2"),
            F.sum(
                F.col("cnt") * F.coalesce(mlit[F.col("bucket")], F.lit(0))
            ).alias("dot"),
        )
        .where(F.col("dot") > 0)
    )
    return (
        dots.select(
            F.col(id_col),
            F.round(
                F.col("dot")
                / (
                    F.sqrt(F.col("dn2").cast("double"))
                    * F.sqrt(F.lit(float(qn2)))
                ),
                6,
            ).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def text_search_multi(
    docs: DataFrame,
    queries,
    dim: int = 64,
    k: int = 5,
    hash_fn: str = "md5",
    id_col: str = "doc_id",
    text_col: str = "text",
    tag_col: str = "query_tag",
) -> DataFrame:
    """Feature-hash cosine top-k for a QUERY SET in ONE corpus pass —
    the suite/eval-harness shape of :func:`text_search`: per-tag
    results are hash-identical to the single-query form, but the
    corpus tokenizes and bucket-aggregates exactly once regardless of
    |Q|.

    ``queries`` is a sequence of (tag, text). Each query's sparse
    bucket counts come from :func:`hash_featurize` on the driver (the
    JVM tokenizer's twin, no Spark job) and enter the plan as literal
    bucket→count maps, so the single per-doc aggregation computes
    every query's dot product AND the doc norm in one shuffle —
    ``stack`` then unpivots the |Q| dot columns and a per-tag rank
    window takes top-k over only the dot>0 survivors. Output:
    (query_tag, id, score).
    """
    qlist = list(queries)
    dup_tags = sorted({t for t, _ in qlist
                       if sum(1 for t2, _ in qlist if t2 == t) > 1})
    if dup_tags:
        raise ValueError(
            f"text_search_multi: duplicate query tags {dup_tags!r} — two "
            f"queries sharing a tag would silently merge their bucket "
            f"counts and score BOTH wrong; give every query a unique tag"
        )
    counts = hash_featurize([q for _, q in qlist], dim, hash_fn)
    per_tag = {t: {b: int(c) for b, c in enumerate(x) if c}
               for (t, _), x in zip(qlist, counts)}
    tags = sorted(t for t, m in per_tag.items() if m)  # empty queries drop
    if not tags:
        return docs.select(F.col(id_col)).limit(0).select(
            F.lit("").alias(tag_col), F.col(id_col), F.lit(0.0).alias("score")
        )
    d = token_buckets(docs, dim, id_col, text_col, hash_fn)
    aggs = [F.sum(F.col("cnt") * F.col("cnt")).alias("_dn2")]
    qn2 = {}
    for i, tag in enumerate(tags):
        bmap = per_tag[tag]
        qn2[tag] = sum(c * c for c in bmap.values())
        mlit = F.create_map(
            *[x for b_, c_ in sorted(bmap.items())
              for x in (F.lit(b_), F.lit(c_))]
        )
        aggs.append(
            F.sum(
                F.col("cnt") * F.coalesce(mlit[F.col("bucket")], F.lit(0))
            ).alias(f"_dot_{i}")
        )
    dots = d.groupBy(id_col).agg(*aggs)
    bad = [t for t in tags if "'" in t or "\\" in t]
    if bad:
        raise ValueError(
            f"text_search_multi: query tags must not contain quotes or "
            f"backslashes (they interpolate into a stack() expression): "
            f"{bad!r}"
        )
    stack_args = ", ".join(f"'{t}', _dot_{i}" for i, t in enumerate(tags))
    long = dots.select(
        F.col(id_col), F.col("_dn2"),
        F.expr(f"stack({len(tags)}, {stack_args})").alias(tag_col, "dot"),
    ).where(F.col("dot") > 0)
    qn2_lit = F.create_map(
        *[x for t in tags for x in (F.lit(t), F.lit(float(qn2[t])))]
    )
    scored = long.select(
        F.col(tag_col),
        F.col(id_col),
        F.round(
            F.col("dot")
            / (
                F.sqrt(F.col("_dn2").cast("double"))
                * F.sqrt(qn2_lit[F.col(tag_col)])
            ),
            6,
        ).alias("score"),
    )
    w = Window.partitionBy(tag_col).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") <= k)
        .drop("_r")
    )


def chunk_text_search(
    docs: DataFrame,
    query_text: str,
    k: int = 5,
    min_size: int = 100,
    max_size: int = 250,
    overlap: int = 20,
    dim: int = 64,
    hash_fn: str = "md5",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The reference's FULL retrieval flow in one call — documents →
    greedy chunking → chunk embeddings → cosine top-k over CHUNKS,
    hits carrying (doc_id, chunk_id, chunk_text, score). This is what
    the reference actually serves (index_service.py indexes
    chunk_service output, search returns chunk content + source doc
    metadata); the standalone `text_search` key is the whole-doc
    simplification.

    Chunk identity is a STRUCT key (doc_id, chunk_id): the scoring
    aggregation groups on the one struct column and the ids unpack by
    field access — no arithmetic packing, so a document with any
    number of chunks and a doc_id of any magnitude can never alias
    into a neighbor's key space (the old ``doc_id*100_000+chunk_id``
    form silently collided past 100k chunks and lost precision in the
    float unpack past ~9e10). Struct equality is a plain binary
    comparison in Tungsten, so the groupBy/join shapes are unchanged.
    The k-row hit list broadcasts back onto the chunk stream to
    recover chunk text — at query time against a 100 TB corpus the
    chunk stream comes from the PERSISTED index (index_store.
    save_index of this function's chunk frame), not a re-chunk; the
    one-call form is the build+query composition the oracle can gate
    end to end.
    """
    from .chunking import chunk_greedy

    def keyed_chunks(side):
        return chunk_greedy(
            side, min_size, max_size, overlap, id_col=id_col,
            text_col=text_col,
        ).select(
            F.struct(
                F.col(id_col).alias("d"), F.col("chunk_id").alias("c")
            ).alias("_ckey"),
            F.col("chunk"),
        )

    hits = text_search(
        keyed_chunks(docs), query_text, dim=dim, k=k, hash_fn=hash_fn,
        id_col="_ckey", text_col="chunk",
    )
    # text recovery re-chunks ONLY the k hit documents: the semi-join
    # on the (broadcast, k-row) hit list prunes the doc scan BEFORE the
    # chunker, where the former join-back branch re-ran the Arrow
    # chunker over the whole corpus to keep k rows of it (chunking is
    # per-doc, so the subset's chunks are identical). At query time
    # against a persisted chunk index this branch is an id-lookup; the
    # one-call form now approximates that cost instead of a second
    # corpus pass.
    hit_docs = docs.join(
        F.broadcast(hits.select(F.col("_ckey.d").alias(id_col))),
        id_col,
        "left_semi",
    )
    return (
        keyed_chunks(hit_docs).join(F.broadcast(hits), "_ckey")
        .select(
            F.col("_ckey.d").alias(id_col),
            F.col("_ckey.c").alias("chunk_id"),
            F.col("chunk").alias("chunk_text"),
            F.col("score"),
        )
        .orderBy(F.col("score").desc(), F.col(id_col).asc(),
                 F.col("chunk_id").asc())
    )


def chunk_text_search_ivf(
    docs: DataFrame,
    query_text: str,
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    min_size: int = 100,
    max_size: int = 250,
    overlap: int = 20,
    dim: int = 64,
    hash_fn: str = "md5",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The ANN tier of :func:`chunk_text_search`: the same greedy-chunk
    → embed → top-k serving flow, but retrieval runs through an IVF
    quantizer (broadcast centroids → map-side list assignment →
    probe-pruned scoring) instead of scoring every chunk — the query
    path a 100 TB chunk corpus actually uses, where the persisted
    form prunes list_id partitions and the scan never touches
    (nlist−nprobe)/nlist of the index.

    Exactness contract (pytest-gated): with ``nprobe == nlist`` the
    result equals brute-force top-k over the same chunk embeddings —
    IVF only PARTITIONS the corpus, scoring is identical — and the
    struct chunk key carries (doc, chunk) identity with no packing.
    Rows-only (the quantizer's argmin tie-walk is the declared
    no-oracle surface, same as ivf_kmeans_search).
    """
    from . import ivf as ivf_mod
    from .chunking import chunk_greedy

    chunks = chunk_greedy(
        docs, min_size, max_size, overlap, id_col=id_col, text_col=text_col
    )
    keyed = chunks.select(
        F.struct(
            F.col(id_col).alias("d"), F.col("chunk_id").alias("c")
        ).alias("_ckey"),
        F.col("chunk"),
    )
    # The embedded chunks (text carried beside each vector) feed
    # several plan branches (centroid seeding, list assignment,
    # scoring, the hits' text) — localCheckpoint materializes the chunk
    # INDEX once, the in-memory stand-in for the persisted index build
    # (index_store.save_index + partition-pruned probes) a real
    # deployment amortizes; without it the chunker and embedder
    # re-run per branch (measured 9.3 s -> materialized once).
    cemb = embed_documents(
        keyed, dim=dim, id_col="_ckey", text_col="chunk", hash_fn=hash_fn,
        keep_cols=("chunk",),
    ).localCheckpoint()
    spark = docs.sparkSession
    qdf = spark.createDataFrame([(0, query_text)], f"qid int, {text_col} string")
    qv = embed_documents(
        qdf, dim=dim, id_col="qid", text_col=text_col, hash_fn=hash_fn
    ).select(F.col("embedding").alias("query_vec"))
    hits = ivf_mod.ivf_search(
        cemb, qv, nlist=nlist, nprobe=nprobe, k=k,
        metric="ip", id_col="_ckey",
    )
    return (
        cemb.join(F.broadcast(hits), "_ckey")
        .select(
            F.col("_ckey.d").alias(id_col),
            F.col("_ckey.c").alias("chunk_id"),
            F.col("chunk").alias("chunk_text"),
            F.col("list_id"),
            F.col("score"),
        )
        .orderBy(F.col("score").desc(), F.col(id_col).asc(),
                 F.col("chunk_id").asc())
    )


def _chunk_index_rows(
    docs: DataFrame,
    min_size: int,
    max_size: int,
    overlap: int,
    dim: int,
    hash_fn: str,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """(struct chunk key, embedding, chunk text) rows — the shared
    build/append head of the persisted chunk index. The chunker runs
    once and each chunk's text rides its own embedding row."""
    from .chunking import chunk_greedy

    chunks = chunk_greedy(
        docs, min_size, max_size, overlap, id_col=id_col, text_col=text_col
    )
    keyed = chunks.select(
        F.struct(
            F.col(id_col).alias("d"), F.col("chunk_id").alias("c")
        ).alias("_ckey"),
        F.col("chunk"),
    )
    # the exchange on the chunk key hands the list writer coalesced
    # partitions; without it each input partition writes a file per
    # list (31 files instead of 16 and 19% more bytes, 300 docs)
    return embed_documents(
        keyed, dim=dim, id_col="_ckey", text_col="chunk", hash_fn=hash_fn,
        keep_cols=("chunk",),
    ).repartition("_ckey")


def chunk_index_build(
    docs: DataFrame,
    path: str,
    nlist: int = 16,
    min_size: int = 100,
    max_size: int = 250,
    overlap: int = 20,
    dim: int = 64,
    hash_fn: str = "md5",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Build and PERSIST the chunk ANN index — the durable form of
    :func:`chunk_text_search_ivf`'s in-memory build, and the Spark
    re-expression of the reference's chunk_service → index_service
    build flow (components2/faiss_retriever.py:194-296: chunk, embed,
    add to the FAISS index, keep chunk content alongside).

    Layout = ivf.save_ivf's posting-list scheme: rows (struct chunk
    key, chunk text, embedding, list_id) partitioned by ``list_id``
    under ``<path>/vectors`` with the seeded centroids at
    ``<path>/_centroids``. Chunk TEXT lives in the index rows — the
    reference stores chunk content in its index metadata for exactly
    this reason: the serving path answers from ONE partition-pruned
    scan, no join back to the corpus at query time. Build cost is the
    one-time chunk+embed+assign pass a real deployment amortizes: the
    chunker runs once, each chunk is embedded in its own row with its
    text beside it, and one exchange on the chunk key feeds the list
    writer. Appends go through :func:`chunk_index_append` and touch
    only their lists.
    """
    from . import ivf as ivf_mod
    from . import lifecycle

    rows = _chunk_index_rows(
        docs, min_size, max_size, overlap, dim, hash_fn, id_col, text_col
    )
    cents = ivf_mod.seeded_centroids(
        rows, nlist, id_col="_ckey", vec_col="embedding"
    )
    ivf_mod.save_ivf(rows, cents, path, vec_col="embedding")
    # train watermark: lifecycle.should_retrain's drift guard works on
    # the chunk index exactly like every other IVF-family store, so a
    # long-running ingest (streaming_chunk_index_ingest) knows when
    # the first-batch quantizer has been outgrown
    spark = docs.sparkSession
    lifecycle.write_train_meta(
        spark, path, ivf_mod._scan_lists(spark, path).count()
    )


def chunk_index_append(
    spark,
    path: str,
    docs: DataFrame,
    min_size: int = 100,
    max_size: int = 250,
    overlap: int = 20,
    dim: int = 64,
    hash_fn: str = "md5",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> list:
    """Incremental add of new documents into a persisted chunk index:
    chunk + embed the batch, assign against the SAVED centroids, and
    append only into the touched ``list_id`` partitions
    (lifecycle.append — untouched list directories stay
    byte-stable, pytest-gated). Returns the touched list ids."""
    from . import lifecycle

    rows = _chunk_index_rows(
        docs, min_size, max_size, overlap, dim, hash_fn, id_col, text_col
    )
    return lifecycle.append(spark, path, rows, id_col="_ckey")


def chunk_search_persisted(
    spark,
    path: str,
    query_text: str,
    k: int = 5,
    nprobe: int = 4,
    dim: int = 64,
    hash_fn: str = "md5",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Serve chunk retrieval from a PERSISTED chunk index — the query
    path of the reference's serving flow, with FAISS's
    scan-only-probed-posting-lists realized as parquet partition
    pruning: the probe set becomes an ``IN`` filter on ``list_id``,
    so the scan reads ``nprobe/nlist`` of the index files and zero
    compute touches unprobed lists (PartitionFilters plan fact,
    pytest-gated). Chunk text rides the index rows, so the hit list
    needs no join back to the corpus.

    Serving shape: the query is embedded on the driver
    (:func:`query_embedding_hash`, bit-identical to the JVM embedder),
    probed on the driver against the cached index handle
    (``ivf._open``: tier, table schema, centroids, reloaded only when
    ``<path>/_centroids`` is rewritten by a build or retrain) and
    folded into the scan as a literal vector. A warm query therefore
    runs ONE Spark job — the pruned scan with its top-k — and sees
    appended chunks at once, since the table's files are listed per
    query. A query with no token returns no row.

    Exactness contract (pytest-gated): with ``nprobe == nlist`` the
    result equals brute-force top-k over the same chunks; at any
    nprobe it is row-identical to the in-memory
    :func:`chunk_text_search_ivf` engine over the same corpus and
    parameters.
    """
    from . import ivf as ivf_mod

    qvec = query_embedding_hash(query_text, dim, hash_fn)
    _, index, _ = ivf_mod._open_probed(spark, path, qvec, nprobe)
    return index.select(
        F.col("_ckey.d").alias(id_col),
        F.col("_ckey.c").alias("chunk_id"),
        F.col("chunk").alias("chunk_text"),
        F.col("list_id").cast("int").alias("list_id"),
        ivf_mod._literal_score("ip", "embedding", qvec).alias("score"),
    ).orderBy(
        F.col("score").desc(), F.col(id_col).asc(), F.col("chunk_id").asc()
    ).limit(k)


def rag_context(
    docs: DataFrame,
    query_text: str,
    k: int = 5,
    token_budget: int = 400,
    dim: int = 64,
    hash_fn: str = "md5",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Retrieval → budgeted context assembly: the reference's
    retrieve-then-build-prompt data path (faiss_mode.py:69-73 +
    prompt_service.py:133-163: rank-numbered ``[Document i]
    (Relevance: ..)\\n<text>`` parts joined with blank lines), with
    the token budget the reference leaves to the LLM's window
    enforced here, where the data is.

    Scale shape: retrieval is :func:`text_search` (broadcast query
    buckets, one partial-agg pass, TakeOrdered — no corpus shuffle);
    the text join-back BROADCASTS the k-row hit list onto the docs
    scan; ranking/packing/assembly then run on ≤ k rows (driver-scale
    by construction — the global window sorts k rows, not the
    corpus). Packing = greedy by rank: keep each doc while the
    running token total fits, like the size-bounded chunker in
    reverse.

    Relevance renders as FLOOR(score·100) percent — integer, so the
    formatted string is cross-engine byte-identical (a %.2f would mix
    Java HALF_UP with C round-half-even on exact .xx5 doubles).

    Returns ONE row: (context string, n_docs, n_tokens).
    """
    from pyspark.sql import Window

    from ..functions.text import tokens

    hits = text_search(
        docs, query_text, dim=dim, k=k, hash_fn=hash_fn,
        id_col=id_col, text_col=text_col,
    )
    joined = docs.select(id_col, text_col).join(
        F.broadcast(hits), id_col
    )
    w = Window.orderBy(F.col("score").desc(), F.col(id_col).asc())
    ranked = joined.select(
        F.col(id_col),
        "score",
        F.col(text_col),
        F.row_number().over(w).alias("rank"),
        F.size(tokens(F.col(text_col))).cast("bigint").alias("ntok"),
    ).withColumn(
        "cum_tok",
        F.sum("ntok").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    kept = ranked.where(F.col("cum_tok") <= token_budget)
    part = F.format_string(
        "[Document %d] (Relevance: %d%%)\n%s",
        F.col("rank"),
        F.floor(F.col("score") * 100).cast("int"),
        F.col(text_col),
    )
    return kept.select("rank", "ntok", part.alias("part")).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rank", "part"))),
                lambda s: s["part"],
            ),
            "\n\n",
        ).alias("context"),
        F.count("*").cast("bigint").alias("n_docs"),
        # empty keep-set (budget below the first doc): 0, not NULL
        F.coalesce(F.sum("ntok"), F.lit(0)).cast("bigint").alias("n_tokens"),
    )


def diversified_search(
    docs: DataFrame,
    query_text: str,
    k: int = 5,
    per_source_cap: int = 2,
    pool: int = 20,
    dim: int = 64,
    hash_fn: str = "md5",
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Source-diversified retrieval: top-``k`` by relevance subject to
    at most ``per_source_cap`` hits per source — the standard search
    result diversification cap, applied to the reference's retrieval
    so one boilerplate-heavy source cannot monopolize a RAG context
    (the failure mode :func:`rag_context` inherits from plain top-k).

    Two stages, same scale posture as rag_context: a relevance pool
    of ``pool`` candidates from :func:`text_search` (broadcast query,
    TakeOrdered — no corpus shuffle), then the cap and final cut run
    as windows over ≤ pool rows (driver-scale by construction). The
    pool bound is the usual diversity trade: a source beyond its cap
    frees slots for rank pool+1 onward, which a bigger pool restores.

    Returns (id, source, score, source_rank), relevance-ordered.
    """
    from pyspark.sql import Window

    hits = text_search(
        docs, query_text, dim=dim, k=pool, hash_fn=hash_fn,
        id_col=id_col, text_col=text_col,
    )
    pooled = docs.select(id_col, source_col).join(
        F.broadcast(hits), id_col
    )
    per_src = Window.partitionBy(source_col).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    ranked = pooled.select(
        F.col(id_col), F.col(source_col), "score",
        F.row_number().over(per_src).alias("source_rank"),
    ).where(F.col("source_rank") <= per_source_cap)
    return ranked.orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    ).limit(k)


def label_centroids(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-label centroid vectors, long form (label, pos, centroid) —
    the class-prototype computation of retrieval/classification
    pipelines (and the aggregation step of k-means).

    Oracle-profile determinism: per-dimension sums run as a *sorted
    fold* (collect → sort → sequential aggregate), the same order
    DuckDB's list_sum(list_sort(...)) uses — double addition is
    order-sensitive, and a plain F.avg's partial-agg order isn't
    reproducible cross-engine. Production at scale would use F.avg
    (same values modulo last-ulp) and skip the collect_list."""
    from pyspark.sql import functions as F

    comps = emb.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("pos", "val"),
    ).select("label", "pos", F.col("val").cast("double").alias("val"))
    return (
        comps.groupBy("label", "pos")
        .agg(
            F.aggregate(
                F.sort_array(F.collect_list("val")),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("s"),
            F.count("*").alias("n"),
        )
        .select(
            "label",
            (F.col("pos") + 1).cast("int").alias("pos"),
            F.round(F.col("s") / F.col("n"), 6).alias("centroid"),
        )
    )
