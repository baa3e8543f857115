"""Independent numpy/Python oracles for every output the benchmark
checks.

Scores follow the engine's contract: an inner product in float64 over
the stored float32 components, rounded half-up to 6 decimals before
ranking, ties broken by the lowest id. The dot product here folds the
components left to right, the order the engine's SQL fold uses, so
rounding agrees; the checks still allow the 1e-6 slack the contract
grants, so an engine that sums in another order also passes.
"""

from __future__ import annotations

import hashlib
import re
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

SCORE_TOL = 1e-6 + 1e-12
_Q6 = Decimal("0.000001")


def round6(x: float) -> float:
    """Half-up rounding of the shortest decimal form, as Spark's
    ``round`` does for doubles."""
    return float(Decimal(repr(float(x))).quantize(_Q6, rounding=ROUND_HALF_UP))


def seq_dot(mat: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Row-wise ``mat @ q`` in float64, summed left to right."""
    m = np.asarray(mat, dtype=np.float64)
    q = np.asarray(q, dtype=np.float64)
    acc = np.zeros(len(m))
    for j in range(m.shape[1]):
        acc = acc + m[:, j] * q[j]
    return acc


def seq_l2sq(mat: np.ndarray, q: np.ndarray) -> np.ndarray:
    m = np.asarray(mat, dtype=np.float64)
    q = np.asarray(q, dtype=np.float64)
    acc = np.zeros(len(m))
    for j in range(m.shape[1]):
        d = m[:, j] - q[j]
        acc = acc + d * d
    return acc


def topk(ids: np.ndarray, raw: np.ndarray, k: int) -> list[tuple[int, float]]:
    """Exact top-``k`` (id, 6-dp score) by score desc, id asc.

    Only rows whose raw score can round to the k-th rounded score or
    above are rounded exactly; rounding is monotone, so none is missed.
    """
    k = min(k, len(raw))
    if k == 0:
        return []
    kth_raw = np.partition(raw, len(raw) - k)[len(raw) - k]
    pool = np.flatnonzero(raw >= round6(kth_raw) - 1e-6)
    ranked = sorted(((-round6(raw[i]), int(ids[i])) for i in pool))
    return [(i, -s) for s, i in ranked[:k]]


def boundary_ok(got_ids, want: list[tuple[int, float]], score_of) -> bool:
    """Id sets may differ only in ids whose oracle score lies within
    1e-6 of the last (k-th) oracle score."""
    if not want:
        return not got_ids
    edge = want[-1][1]
    diff = set(got_ids) ^ {i for i, _ in want}
    return all(abs(score_of(i) - edge) <= SCORE_TOL for i in diff)


def sorted_hits(rows: list[tuple[int, float]]) -> bool:
    keys = [(-s, i) for i, s in rows]
    return keys == sorted(keys)


def check_exact_topk(rows: list[tuple[int, float]], ids: np.ndarray,
                     raw: np.ndarray, k: int) -> bool:
    """``rows`` equals the exact top-k up to the 6-dp contract."""
    want = topk(ids, raw, k)
    pos = {int(i): n for n, i in enumerate(ids)}
    if len(rows) != len(want) or not sorted_hits(rows):
        return False
    for i, s in rows:
        if i not in pos or abs(s - round6(raw[pos[i]])) > SCORE_TOL:
            return False
    return boundary_ok([i for i, _ in rows], want, lambda i: round6(raw[pos[i]]))


def reference_walk(scores: list[float], hit_target: int, step: float,
                   initial: float = 1.0, minimum: float = 0.0):
    """Port of the reference's dynamic-threshold loop
    (search_service.py:41-184): start at ``initial``, step down,
    stop at the first threshold with ``hit_target`` hits, otherwise
    keep the threshold that first reached the most hits. The threshold
    is taken on the grid ``i / n_steps`` rather than by repeated
    subtraction, so grid points carry no accumulated float error.
    Returns ``(final_threshold, hit_scores)``; ``(None, [])`` when no
    candidate clears any threshold."""
    n_steps = int(round(1.0 / step))
    best_hits: list[float] = []
    best_t = None
    i = n_steps
    while i >= 0:
        t = i / n_steps
        if t <= initial and t >= minimum:
            hits = [s for s in scores if s >= t]
            if len(hits) > len(best_hits):
                best_hits, best_t = hits, t
            if len(hits) >= hit_target:
                return t, hits
        i -= 1
    return best_t, best_hits


def dynamic_expected(ids: np.ndarray, raw: np.ndarray, k: int,
                     hit_target: int, step: float):
    """(final_threshold, [(id, score)]) of the reference walk over the
    exact top-``k`` candidates."""
    cand = topk(ids, raw, k)
    final_t, _ = reference_walk([s for _, s in cand], hit_target, step)
    if final_t is None:
        return None, []
    return final_t, [(i, s) for i, s in cand if s >= final_t]


def check_dynamic(rows: list[tuple[int, float, float]], ids: np.ndarray,
                  raw: np.ndarray, k: int, hit_target: int,
                  step: float) -> bool:
    """``rows`` = (id, score, final_threshold) from the dynamic search.
    Must equal the reference walk over the exact top-k candidates."""
    final_t, want = dynamic_expected(ids, raw, k, hit_target, step)
    cand = topk(ids, raw, k)
    if final_t is None:
        return not rows
    if any(abs(t - round6(final_t)) > 1e-12 for _, _, t in rows):
        return False
    pos = {int(i): n for n, i in enumerate(ids)}
    got = [(i, s) for i, s, _ in rows]
    if not sorted_hits(got):
        return False
    for i, s in got:
        if i not in pos or abs(s - round6(raw[pos[i]])) > SCORE_TOL:
            return False
    # ids may differ only where a score sits on the k-th candidate
    # boundary or on the final threshold itself
    edges = [cand[-1][1], final_t]
    diff = {i for i, _ in got} ^ {i for i, _ in want}
    return all(
        any(abs(round6(raw[pos[i]]) - e) <= SCORE_TOL for e in edges)
        for i in diff
    )


def probe_set(centroids: np.ndarray, cids: np.ndarray, q: np.ndarray,
              nprobe: int) -> list[int]:
    """The ``nprobe`` nearest centroid ids (squared L2, ties to lowest
    cid) — the engine's probe contract."""
    d = seq_l2sq(centroids, q)
    order = sorted(zip(d.tolist(), cids.tolist()))
    return [c for _, c in order[:nprobe]]


def check_ann(rows: list[tuple[int, float]], score_of, k: int,
              probed_rows: int) -> bool:
    """IVF contract: every hit is a stored id whose score matches the
    oracle to 1e-6, hits are sorted, and a query whose probed lists
    hold at least ``k`` rows gets exactly ``k`` hits."""
    if not sorted_hits(rows) or len(rows) > k:
        return False
    if probed_rows >= k and len(rows) != k:
        return False
    for i, s in rows:
        want = score_of(i)
        if want is None or abs(s - want) > SCORE_TOL:
            return False
    return True


def recall(got_ids, want: list[tuple[int, float]]) -> float:
    if not want:
        return 1.0
    return len(set(got_ids) & {i for i, _ in want}) / len(want)


# --- text side: ports of the hash embedder and the greedy chunker ---

_TOKEN_SPLIT = re.compile("[^a-z0-9]+")


def embed_text(text: str, dim: int = 64) -> np.ndarray:
    """Feature-hash embedding: lower-cased word tokens, md5 bucket of
    ``"s0:" + token``, per-bucket counts, L2-normalised."""
    v = np.zeros(dim)
    for tok in _TOKEN_SPLIT.split(text.lower()):
        if tok:
            h = hashlib.md5(f"s0:{tok}".encode()).hexdigest()[:15]
            v[int(h, 16) % dim] += 1.0
    n = float(np.sqrt(seq_dot(v[None, :], v)[0]))
    return v if n == 0.0 else v / n


def _split_sentences(text: str) -> list[str]:
    return [p.strip() for p in re.split(r"[.!?]+\s+", text) if p.strip()]


def greedy_chunks(text: str, min_size: int, max_size: int,
                  overlap: int) -> list[str]:
    """Paragraph-first greedy packing with sentence fallback and
    character overlap (reference chunk_text_files.py:167-273)."""
    if not text.strip():
        return []
    paragraphs = [p.strip() for p in text.split("\n\n") if p.strip()] or [text.strip()]
    chunks: list[str] = []
    cur = ""
    for para in paragraphs:
        nxt = f"{cur}\n\n{para}" if cur else para
        if cur and len(nxt) > max_size and len(cur) >= min_size:
            chunks.append(cur)
            cur = cur[-overlap:] + "\n\n" + para if overlap else para
        else:
            cur = nxt
    if cur.strip():
        if len(cur) < min_size and chunks:
            chunks[-1] = chunks[-1] + "\n\n" + cur
        else:
            chunks.append(cur)
    out: list[str] = []
    for ch in chunks:
        if len(ch) <= max_size:
            out.append(ch)
            continue
        sub = ""
        for sent in _split_sentences(ch):
            cand = f"{sub} {sent}" if sub else sent
            if sub and len(cand) > max_size and len(sub) >= min_size:
                out.append(sub)
                sub = sent
            else:
                sub = cand
        if sub.strip():
            out.append(sub)
    return out
