"""Vector transforms — the Spark re-expression of FAISS's
VectorTransform family, here PCAMatrix (dimensionality reduction
before indexing/ANN, the standard "shrink 768→64 dims" step in
embedding pipelines).

Design for scale
----------------
Training is ONE distributed pass: each partition folds its Arrow
batches into a (count, Σx, ΣxxT) triple — a d-vector and a d×d Gram
matrix, independent of partition row count — and only P such triples
reach the driver, which does the tiny d×d eigendecomposition
(the same driver-held-model-state posture as ivf.py's k-means).
Application is a pure map: the (d,k) component matrix folds into the
plan as literal arrays, so projection is whole-stage-codegen
arithmetic — no Python, no shuffle, no broadcast variable even.

Determinism: eigenvector signs are fixed so the largest-magnitude
component of each eigenvector is positive; NumPy's ``eigh`` on the
same float64 Gram matrix is deterministic for a given build, which is
why the driver gate keeps PCA rows-only (pytest-gated) rather than
oracle-hashed.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import vector as V


class PCAModel(NamedTuple):
    mean: np.ndarray          # (d,)
    components: np.ndarray    # (d, k), orthonormal columns
    explained_variance: np.ndarray  # (k,), descending


def pca_train(
    df: DataFrame,
    k: int = 16,
    vec_col: str = "embedding",
) -> PCAModel:
    """Fit PCA with one pass over the data (mean and covariance from
    the same accumulated (n, Σx, ΣxxT) statistics)."""
    import pandas as pd

    def partials(batches):
        n, s, g = 0, None, None
        for pdf in batches:
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            n += x.shape[0]
            s = x.sum(axis=0) if s is None else s + x.sum(axis=0)
            gram = x.T @ x
            g = gram if g is None else g + gram
        if n:
            yield pd.DataFrame(
                {"n": [n], "s": [s.tolist()], "g": [g.ravel().tolist()]}
            )

    d = len(df.select(vec_col).first()[0])
    parts = df.select(vec_col).mapInPandas(
        partials, schema="n bigint, s array<double>, g array<double>"
    ).collect()
    n = sum(p.n for p in parts)
    if n < 2:
        raise ValueError(f"PCA needs >= 2 vectors, got {n}")
    s = np.sum([np.asarray(p.s) for p in parts], axis=0)
    g = np.sum([np.asarray(p.g).reshape(d, d) for p in parts], axis=0)
    mean = s / n
    cov = g / n - np.outer(mean, mean)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:k]
    comps = evecs[:, order]
    # sign convention: largest-|.| entry of each component positive
    flip = np.sign(comps[np.abs(comps).argmax(axis=0), np.arange(comps.shape[1])])
    flip[flip == 0] = 1.0
    return PCAModel(mean, comps * flip, np.maximum(evals[order], 0.0))


def pca_apply(
    df: DataFrame,
    model: PCAModel,
    vec_col: str = "embedding",
    out_col: str = "pca",
) -> DataFrame:
    """Project vectors onto the fitted components: out_j = (x - mean)·c_j.

    The model folds into the plan as literals — the whole projection
    is codegen'd column arithmetic over the scan."""
    centered = F.zip_with(
        F.col(vec_col).cast("array<double>"), V.literal(model.mean),
        lambda x, m: x - m,
    )
    def proj(j):
        comp = V.literal(model.components[:, j])
        return F.aggregate(
            F.zip_with(centered, comp, lambda x, c: x * c),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    out = F.array(*[proj(j) for j in range(model.components.shape[1])])
    return df.withColumn(out_col, out)


def pca_assign_arrow(
    corpus: DataFrame,
    model: PCAModel,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, projected vec, list_id) in ONE Arrow pass — the fused
    production kernel for the PCA→IVF chain. The declarative
    :func:`pca_apply` + ``assign_lists`` pipeline evaluates the k
    interpreted aggregate-folds of the projection once per DOWNSTREAM
    REFERENCE (CollapseProject inlines the projection array into the
    nlist distance folds of the assignment and again into the probe
    scoring), which measured 1.94 s of pca_ivf_search's 2.28 s at
    sf0.1 on 2000 rows — the opq_apply interpreted-HOF scale killer,
    squared. Here projection ((x−mean)@C) and argmin assignment
    (||c||²−2y·c) are two BLAS matmuls per batch and the projected
    vector lands as a REAL column, evaluated exactly once.

    np.argmin's first-minimum rule reproduces assign_lists' lowest-cid
    tie-break; only float-summation-order differences on exact ties
    can diverge from the interpreted fold (coarse scores downstream
    round to 6 dp, so shortlist membership is measured identical —
    the pca_ivf_search recall/exactness gates stay the contract)."""
    import pandas as pd

    rows = centroids.orderBy(F.col("cid").asc()).collect()
    cids = np.array([r.cid for r in rows], dtype=np.int64)
    cmat = np.vstack([np.asarray(r.cvec, dtype=np.float64) for r in rows])
    cnorm = (cmat * cmat).sum(axis=1)
    mean = model.mean.astype(np.float64)
    comps = model.components.astype(np.float64)

    def kernel(batches):
        for pdf in batches:
            if pdf.empty:
                yield pd.DataFrame(
                    {id_col: pd.Series(dtype="int64"),
                     vec_col: pd.Series(dtype="object"),
                     "list_id": pd.Series(dtype="int32")}
                )
                continue
            x = np.vstack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            y = (x - mean) @ comps
            d = cnorm - 2.0 * (y @ cmat.T)
            yield pd.DataFrame(
                {id_col: pdf[id_col].values,
                 vec_col: list(y),
                 "list_id": cids[np.argmin(d, axis=1)].astype("int32")}
            )

    return corpus.select(id_col, vec_col).mapInPandas(
        kernel,
        schema=f"{id_col} long, {vec_col} array<double>, list_id int",
    )


class OPQModel(NamedTuple):
    rotation: np.ndarray  # (d, d), orthonormal; y = R @ x


def opq_train(
    df: DataFrame,
    m: int = 8,
    vec_col: str = "embedding",
) -> OPQModel:
    """Parametric OPQ rotation (Ge et al., "Optimized Product
    Quantization", CVPR 2013 §4; FAISS OPQMatrix): PCA eigenbasis +
    eigenvalue allocation, the closed-form variant that assumes a
    Gaussian spectrum instead of alternating Lloyd/Procrustes rounds.

    Plain PQ splits dims by POSITION, so when variance concentrates in
    a few directions some subquantizers see almost all the signal and
    others see noise. The fix: rotate into the eigenbasis, then deal
    the principal directions across the m subspaces so each gets an
    (approximately) equal variance PRODUCT — greedy: eigenvalues
    descending, each assigned to the non-full subspace with the
    smallest current log-product (FAISS's eigenvalue allocation).

    The result is a PURE rotation — no centering — because ADC search
    must preserve the metric exactly: (Rx)·(Rq) = x·q for orthonormal
    R, so codes quantize rotated vectors while reranks and oracles
    keep scoring ORIGINAL vectors. Training reuses :func:`pca_train`'s
    one-pass (n, Σx, ΣxxT) statistics — same driver-held-model-state
    posture, one distributed pass."""
    first = df.select(vec_col).first()
    if first is None:
        raise ValueError("opq_train: empty corpus")
    d = len(first[0])
    if d % m != 0:
        raise ValueError(f"opq_train: dim {d} not divisible by m={m}")
    dsub = d // m
    full = pca_train(df, k=d, vec_col=vec_col)
    evals = full.explained_variance  # descending
    # greedy eigenvalue allocation: log-products, capacity dsub each
    logs = np.log(np.maximum(evals, 1e-12))
    buckets: list[list[int]] = [[] for _ in range(m)]
    sums = np.zeros(m)
    for i in range(d):
        free = [b for b in range(m) if len(buckets[b]) < dsub]
        b = min(free, key=lambda j: sums[j])
        buckets[b].append(i)
        sums[b] += logs[i]
    perm = [i for b in buckets for i in b]
    # rows of R = permuted principal directions: y_j = c_{perm[j]} · x
    return OPQModel(rotation=full.components[:, perm].T.copy())


def opq_apply(
    df: DataFrame,
    model: OPQModel,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "embedding",
) -> DataFrame:
    """(id, R@x) — rotate the corpus into the OPQ basis. A d×d matvec
    per row is the textbook interpreted-HOF scale killer (SURVEY §4),
    so application is one Arrow-batched BLAS matmul per batch; the
    rotation only gates which codes a vector gets, never a returned
    score, so float-summation-order nondeterminism cannot reach an
    oracle hash (reranks score original vectors)."""
    import pandas as pd

    r_t = model.rotation.T.astype(np.float64)

    def kernel(batches):
        for pdf in batches:
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            y = x @ r_t
            yield pd.DataFrame(
                {id_col: pdf[id_col].values, out_col: list(y)}
            )

    return df.select(id_col, vec_col).mapInPandas(
        kernel, schema=f"{id_col} bigint, {out_col} array<double>"
    )


def opq_rotate_query(
    query: DataFrame,
    model: OPQModel,
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Rotate a (single-row) query frame in-plan: one literal-folded
    dot product per output dim — declarative, deterministic, and
    O(d²) on ONE row, so no Arrow round-trip is warranted."""
    vec = F.col(query_vec_col).cast("array<double>")
    rows = [
        F.aggregate(
            F.zip_with(
                vec,
                V.literal(model.rotation[j]),
                lambda x, r: x * r,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        for j in range(model.rotation.shape[0])
    ]
    return query.withColumn(query_vec_col, F.array(*rows))


def pca_ivf_search(
    corpus: DataFrame,
    query: DataFrame,
    out_dim: int = 16,
    nlist: int = 16,
    nprobe: int = 4,
    k: int = 10,
    shortlist: int = 50,
    iters: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    engine: str = "arrow",
) -> DataFrame:
    """FAISS ``IndexPreTransform(PCAMatrix, IndexIVFFlat)`` + refine:
    the coarse stage — centroid training, assignment, and the probe
    scan — runs entirely in the ``out_dim``-dimensional PCA space
    (dim/out_dim× fewer bytes per distance), a ``shortlist`` survives,
    and an exact full-dimension inner-product re-rank restores
    original-space scores (the IndexRefineFlat posture shared with
    pq/binary/matryoshka reranks).

    Scale shape: the PCA model and centroids are driver-held literals
    (bounded collects); the projection is codegen'd column arithmetic
    folded into the scan — the corpus is never materialized in
    projected form, never shuffles; the coarse top-``shortlist`` is
    TakeOrderedAndProject over the probed partition of the scan, and
    the refine pass broadcast-semi-joins ``shortlist`` ids.

    The coarse metric is L2 in PCA space (rotation-invariant up to
    truncation, so it tracks original-space L2 where raw IP would be
    distorted by the mean shift); the re-rank scores original vectors
    with IP. At ``nprobe=nlist`` and ``shortlist >= |corpus|`` the
    result equals the exact flat top-k (pytest-gated).

    ``engine``: "arrow" (default, production) fuses the corpus-side
    projection + list assignment into ONE Arrow BLAS pass
    (:func:`pca_assign_arrow`) — the declarative form re-evaluates the
    interpreted projection folds inside every assignment/scoring
    reference (measured 1.94 s of the 2.28 s total at sf0.1); "sql"
    keeps the all-declarative pipeline (bit-deterministic fold order,
    the profile the r5–r10 plan audits documented). NOTE (ADVICE
    r11): with "arrow", BUILDING the returned DataFrame is eager —
    ``pca_assign_arrow`` collects the trained centroids (bounded:
    nlist rows) at construction time, the same driver-held-quantizer
    posture FAISS uses; callers that need a fully-lazy plan use
    "sql". The engines' assignments can differ on exact float
    argmin ties (equality pytest-gated at both fixture SFs)."""
    from . import ivf as ivf_mod
    from .knn import topk

    model = pca_train(corpus, k=out_dim, vec_col=vec_col)
    proj = pca_apply(corpus, model, vec_col=vec_col, out_col="_pca").select(
        id_col, F.col("_pca").alias(vec_col)
    )
    qproj = pca_apply(query, model, vec_col="query_vec", out_col="_pca").select(
        F.col("_pca").alias("query_vec")
    )
    cents = ivf_mod.kmeans_centroids(
        proj, nlist=nlist, iters=iters, id_col=id_col, vec_col=vec_col
    )
    assigned = (
        pca_assign_arrow(corpus, model, cents, id_col, vec_col)
        if engine == "arrow"
        else None
    )
    short = ivf_mod.ivf_search(
        proj,
        qproj,
        nlist=nlist,
        nprobe=nprobe,
        k=shortlist,
        metric="l2",
        id_col=id_col,
        vec_col=vec_col,
        centroids=cents,
        assigned=assigned,
    )
    hits = corpus.join(
        F.broadcast(short.select(id_col)), on=id_col, how="left_semi"
    )
    return topk(hits, query, k=k, metric="ip", id_col=id_col, vec_col=vec_col)
