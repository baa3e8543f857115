"""Vector math as Catalyst expressions (whole-stage-codegen, JVM-side).

Re-expresses the reference's FAISS distance/similarity semantics
(`components/core/search_service.py:336-349` of the reference: inner
product score = dot; L2 score = 1/(1+d) with d the FAISS squared-L2
distance) as pure `pyspark.sql.functions` column expressions —
no Python in the scan loop, so a 100 TB corpus scan stays inside
whole-stage codegen.

All folds are sequential left-to-right over the array, matching
DuckDB's list_* accumulation order so double-precision results are
bit-comparable for the oracle gate.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_double(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Inner product <a,b> in double precision (sequential fold)."""
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_sq(a: Column, b: Column) -> Column:
    """Squared L2 distance — FAISS IndexFlatL2 reports squared L2."""
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    """L2 norm."""
    return F.sqrt(dot(a, a))


def normalize(a: Column) -> Column:
    """L2-normalize; zero vectors pass through unchanged (FAISS-style
    no-op rather than NaN).

    The norm is let-bound via a 1-element-array transform: higher-
    order lambdas run interpreted with NO common-subexpression
    elimination, so referencing ``norm(a)`` directly inside the
    per-component lambda would recompute the full dot product for
    every component (d× the work — measured 30×+ slower at d=64).
    Same arithmetic, same bits, evaluated once per row."""
    ad = _as_double(a)
    return F.element_at(
        F.transform(
            F.array(norm(a)),
            lambda n: F.when(n == 0.0, ad).otherwise(
                F.transform(ad, lambda x: x / n)
            ),
        ),
        1,
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity for possibly-unnormalized vectors."""
    return dot(a, b) / (norm(a) * norm(b))


def ip_score(a: Column, b: Column) -> Column:
    """IndexFlatIP similarity: the inner product itself (reference
    search_service.py:346-347; assumes normalized vectors)."""
    return dot(a, b)


def l2_score(a: Column, b: Column) -> Column:
    """IndexFlatL2 similarity: 1/(1+d), d = squared L2
    (reference search_service.py:348-349)."""
    return 1.0 / (1.0 + l2_sq(a, b))


# --- driver-side twins: the same folds over numpy rows, bit for bit ------
# A serving path that already holds a query vector and a driver-sized
# matrix (centroids, one query) computes these instead of a Spark job.
# ``np.add.accumulate`` is a sequential left fold (no pairwise
# summation), started from 0.0 like ``aggregate(..., 0.0, acc + x)``.


def _fold_rows(terms):
    t = np.asarray(terms, dtype=np.float64)
    t = np.hstack([np.zeros((t.shape[0], 1)), t])
    return np.add.accumulate(t, axis=1)[:, -1]


def dot_rows(rows, q):
    """:func:`dot` of every row of ``rows`` with ``q``."""
    return _fold_rows(
        np.asarray(rows, dtype=np.float64) * np.asarray(q, dtype=np.float64)
    )


def l2_sq_rows(rows, q):
    """:func:`l2_sq` of every row of ``rows`` against ``q``."""
    d = np.asarray(rows, dtype=np.float64) - np.asarray(q, dtype=np.float64)
    return _fold_rows(d * d)


def normalize_vec(v):
    """:func:`normalize` of one vector."""
    v = np.asarray(v, dtype=np.float64)
    n = np.sqrt(dot_rows(v[None, :], v)[0])
    return v if n == 0.0 else v / n


def _sql_literal(v) -> str:
    if isinstance(v, (list, tuple, np.ndarray)):
        return "array(" + ", ".join(map(_sql_literal, v)) + ")"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    x = float(v)
    # repr is the shortest text that parses back to the same double
    return f"{x!r}D" if np.isfinite(x) else f"CAST('{x}' AS DOUBLE)"


def literal(values) -> Column:
    """Driver-side values (a vector, nested lists, ints) as one array
    literal, made by ONE py4j call: the SQL text is parsed in the JVM,
    floats as DOUBLE (bit for bit), ints as INT/BIGINT. One ``F.lit``
    per component would cost a round trip each, and another when py4j
    releases it."""
    return F.expr(_sql_literal(values))
