"""Post-retrieval re-ranking — the diversity step a RAG serving stack
(like the reference's retrieve→prompt pipeline, components/core/
search_service.py) runs between vector search and context assembly.

MMR (maximal marginal relevance) greedily picks the candidate that
maximizes ``λ·relevance − (1−λ)·max_sim_to_already_picked`` — high
score, low redundancy.

Design for scale
----------------
MMR is inherently sequential *within* one query's shortlist, but a
shortlist is k·fanout rows (tens), so the right distribution is
per-query-group: ``applyInPandas`` over query_id runs every query's
greedy loop in parallel across the cluster, each group one small
Arrow batch. The corpus-scale work (producing the shortlist) stays in
the declarative two-phase top-k; this operator only ever touches
shortlists. Deterministic: float64 arithmetic on rounded scores,
ties broken by ascending vec_id.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame


def mmr_rerank(
    candidates: DataFrame,
    k: int = 10,
    lambda_: float = 0.7,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    score_col: str = "score",
    vec_col: str = "embedding",
) -> DataFrame:
    """Select ``k`` diverse results per query from a scored shortlist.

    ``candidates`` must carry (query_id, vec_id, score, embedding).
    Output: (query_id, vec_id, mmr_rank 1..k, score) — score is the
    original relevance, rank is the MMR pick order. The id columns keep
    whatever types ``candidates`` carries (string doc ids work: the
    output schema is derived from the input schema and the tie-break
    compares ids with their native ordering)."""
    import pandas as pd

    def pick(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([score_col, id_col], ascending=[False, True])
        ids = pdf[id_col].to_numpy()
        scores = pdf[score_col].to_numpy(dtype=np.float64)
        x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        nrm = np.linalg.norm(x, axis=1)
        nrm[nrm == 0] = 1.0
        u = x / nrm[:, None]
        sims = u @ u.T  # shortlist × shortlist, tens of rows
        n = len(ids)
        picked: list[int] = []
        remaining = list(range(n))
        while remaining and len(picked) < k:
            best, best_val = None, None
            for i in remaining:
                red = max((sims[i, j] for j in picked), default=0.0)
                val = lambda_ * scores[i] - (1.0 - lambda_) * red
                # tie-break: higher val, then lower id (type-agnostic:
                # native ordering of whatever the id column holds)
                if (
                    best is None
                    or val > best_val
                    or (val == best_val and ids[i] < ids[best])
                ):
                    best, best_val = i, val
            picked.append(best)
            remaining.remove(best)
        return pd.DataFrame(
            {
                query_id_col: pdf[query_id_col].iloc[:1].repeat(len(picked)).to_numpy(),
                id_col: ids[picked],
                "mmr_rank": np.arange(1, len(picked) + 1),
                score_col: scores[picked],
            }
        )

    in_schema = candidates.schema
    qt = in_schema[query_id_col].dataType.simpleString()
    it = in_schema[id_col].dataType.simpleString()
    schema = (
        f"{query_id_col} {qt}, {id_col} {it}, "
        f"mmr_rank int, {score_col} double"
    )
    return candidates.groupBy(query_id_col).applyInPandas(pick, schema=schema)


def _cross_weights():
    """Load the committed pair-head weights (128→32 tanh→1). Ships in
    the repo like models/tiny_mlp.npz, so the pair-scorer path is
    deterministic everywhere — the stand-in for a cross-encoder
    checkpoint pulled from a registry."""
    import os

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "models", "tiny_cross.npz",
    )
    with np.load(path) as z:
        return z["W1"], z["b1"], z["w2"]


def cross_encoder_rerank(
    docs: DataFrame,
    query_text: str,
    k: int = 5,
    shortlist: int = 50,
    dim: int = 64,
    hash_fn: str = "md5",
    id_col: str = "doc_id",
    text_col: str = "text",
    batch_size: int = 64,
) -> DataFrame:
    """Two-stage retrieve→CROSS-ENCODER rerank: the pair-batch
    variant of :func:`model_rerank`. Stage 1 is the same corpus-scale
    feature-hash shortlist; stage 2 ships (query, doc-text) PAIR
    batches through one Arrow ``mapInPandas`` slot and scores each
    pair with the committed numpy pair head — score = bi-encoder
    cosine + 0.1·MLP([u⊙q ; |u−q|]), the "cosine refined by a learned
    interaction term" shape fine-tuned cross-encoders actually have
    (and a deterministic stand-in: swapping a real cross-encoder is
    the one-line ``model.predict([(q, d), ...])`` replacement inside
    the same slot, exactly like embed's ``st:`` branch).

    The scale contract is identical to model_rerank's and
    pytest-gated the same way: the Python/model stage sees ONLY
    shortlist-sized pair batches — the broadcast semi-join prunes the
    corpus BEFORE Arrow, and the query featurizes once per slot, not
    per pair. Output: (id, score_stage1, score_model, rank) — rank by
    the pair-model score; rows-only (model forward has no SQL twin).
    """
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from . import embed as embed_mod

    stage1 = embed_mod.text_search(
        docs, query_text, dim=dim, k=shortlist, hash_fn=hash_fn,
        id_col=id_col, text_col=text_col,
    ).withColumnRenamed("score", "score_stage1")
    # ONE broadcast of stage1 serves both the shortlist pruning and
    # the score_stage1 attachment (same single-plan-entry restructure
    # as model_rerank): the pair scorer forwards score_stage1 through
    # the Arrow slot instead of re-joining the corpus-scale stage-1
    # plan a second time.
    sub = docs.join(F.broadcast(stage1), id_col, "inner").select(
        id_col, text_col, "score_stage1"
    )

    W1, b1, w2 = _cross_weights()

    def score_batches(batches):
        import pandas as pd

        q = embed_mod.hash_featurize([query_text], dim)[0]
        qn = np.linalg.norm(q)
        qu = q / qn if qn > 0 else q
        for pdf in batches:
            for lo in range(0, len(pdf), batch_size):
                chunk = pdf.iloc[lo:lo + batch_size]
                x = embed_mod.hash_featurize(chunk[text_col].tolist(), dim)
                xn = np.linalg.norm(x, axis=1, keepdims=True)
                u = np.divide(x, xn, out=np.zeros_like(x), where=xn > 0)
                pair = np.concatenate(
                    [u * qu[None, :], np.abs(u - qu[None, :])], axis=1
                )
                s = u @ qu + 0.1 * (np.tanh(pair @ W1 + b1) @ w2)
                yield pd.DataFrame(
                    {id_col: chunk[id_col].values,
                     "score_stage1": chunk["score_stage1"].values,
                     "score_model": np.round(s, 6)}
                )

    scored = sub.mapInPandas(
        score_batches,
        schema=f"{id_col} long, score_stage1 double, score_model double",
    )
    w = W.orderBy(F.col("score_model").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(id_col, "score_stage1", "score_model",
                F.col("rank").cast("int").alias("rank"))
        .orderBy("rank")
    )


def model_rerank(
    docs: DataFrame,
    query_text: str,
    k: int = 5,
    shortlist: int = 50,
    dim: int = 64,
    hash_fn: str = "md5",
    id_col: str = "doc_id",
    text_col: str = "text",
    batch_size: int = 64,
) -> DataFrame:
    """Two-stage retrieve→model-rerank (the production serving shape:
    a cheap first stage over the full corpus, a LEARNED scorer over
    the shortlist only — ColBERT/cross-encoder deployments all reduce
    to this plan): stage 1 is the feature-hash cosine shortlist
    (:func:`embed.text_search`, corpus-scale, declarative); stage 2
    re-embeds ONLY the shortlist rows and the query through the
    committed numpy-MLP model slot (:func:`embed.embed_documents`
    ``model="numpy"`` — the same Arrow ``mapInPandas`` a real
    checkpoint drops into, see ``model="st:..."``) and rescores by
    model cosine.

    The scale contract is the slot placement: the Python/model stage
    sees `shortlist` rows, never the corpus — the broadcast semi-join
    prunes before Arrow. Swapping a cross-encoder (pair scorer) for
    the bi-encoder rescore is the same slot with (query, doc) pair
    batches. Output: (id, score_stage1, score_model, rank) — rank by
    the MODEL score; no SQL twin (model forward), rows-only with
    pytest gates.
    """
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from . import embed as embed_mod

    stage1 = embed_mod.text_search(
        docs, query_text, dim=dim, k=shortlist, hash_fn=hash_fn,
        id_col=id_col, text_col=text_col,
    ).withColumnRenamed("score", "score_stage1")
    # ONE broadcast of stage1 serves both the shortlist pruning and
    # the score_stage1 attachment: the former semi-join + final
    # re-join pair planned the corpus-scale stage-1 aggregation TWICE
    # (two TakeOrdered branches over the shared exchange). The inner
    # join attaches score_stage1 up front and the model slot forwards
    # it (keep_cols), so stage1 enters the plan exactly once.
    sub = docs.join(F.broadcast(stage1), id_col, "inner").select(
        id_col, text_col, "score_stage1"
    )
    demb = embed_mod.embed_documents(
        sub, dim=dim, id_col=id_col, text_col=text_col,
        model="numpy", batch_size=batch_size,
        keep_cols=("score_stage1",),
    )
    # the query embeds DRIVER-side (one text through the same numpy
    # forward the kernel runs) and folds into the plan as a literal:
    # the former 1-row createDataFrame → mapInPandas → broadcast →
    # crossJoin chain spent a whole Python stage per call on it
    qv = embed_mod.query_embedding_numpy(query_text, dim)
    qlit = F.array(*[F.lit(float(x)) for x in qv])
    from ..functions import vector as V

    rescored = demb.select(
        F.col(id_col),
        F.col("score_stage1"),
        F.round(V.ip_score(F.col("embedding"), qlit), 6)
        .alias("score_model"),
    )
    w = W.orderBy(F.col("score_model").desc(), F.col(id_col).asc())
    return (
        rescored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(id_col, "score_stage1", "score_model",
                F.col("rank").cast("int").alias("rank"))
        .orderBy("rank")
    )
