"""Seeded input generators for the benchmark workloads.

Every generator takes a ``numpy.random.Generator`` built from the run's
``--seed``; the same seed always yields the same inputs, and the engine
only ever sees the generated values (never the seed).
"""

from __future__ import annotations

import numpy as np

LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def clustered_vectors(rng: np.random.Generator, n: int, dim: int,
                      n_clusters: int, spread: float = 0.35) -> np.ndarray:
    """``n`` L2-normalised float32 vectors drawn around ``n_clusters``
    random unit centres; the Gaussian noise has expected norm
    ``spread``."""
    centres = rng.standard_normal((n_clusters, dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    x = centres[rng.integers(0, n_clusters, n)]
    x = x + spread / np.sqrt(dim) * rng.standard_normal((n, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return x.astype(np.float32)


def perturbed_queries(rng: np.random.Generator, corpus: np.ndarray, n: int,
                      noise: float = 0.05) -> np.ndarray:
    """``n`` unit query vectors, each a corpus row plus Gaussian noise —
    near neighbours exist, but no query is a copy of a stored row."""
    base = corpus[rng.integers(0, len(corpus), n)].astype(np.float64)
    q = base + noise * rng.standard_normal(base.shape)
    q /= np.linalg.norm(q, axis=1, keepdims=True)
    return q.astype(np.float32)


class DocGenerator:
    """Synthetic prose with a Zipf vocabulary and sentence/paragraph
    structure, sized so both of ``chunk_greedy``'s split paths run:
    short paragraphs pack together, long ones fall back to sentences.

    The vocabulary is the same for every seed (one fixed language; its
    word lengths set how well the stored text compresses), while the
    documents drawn from it follow ``rng``. The token stream for a whole
    call is drawn in one ``rng.choice``; per-sentence draws with ``p=``
    are orders of magnitude slower.
    """

    def __init__(self, rng: np.random.Generator, vocab_size: int = 4000,
                 zipf_s: float = 1.1):
        lang = np.random.default_rng(0)
        lengths = lang.integers(2, 10, vocab_size)
        words = {
            "".join(lang.choice(LETTERS, int(n))) for n in lengths
        }
        self.vocab = np.array(sorted(words))
        lang.shuffle(self.vocab)
        ranks = np.arange(1, len(self.vocab) + 1, dtype=np.float64)
        p = ranks ** -zipf_s
        self.p = p / p.sum()
        self.rng = rng

    def tokens(self, n: int) -> np.ndarray:
        return self.rng.choice(self.vocab, size=n, p=self.p)

    def docs(self, n_docs: int) -> list[str]:
        rng = self.rng
        # structure first: paragraphs per doc, sentences per paragraph,
        # words per sentence — then one token draw for all of it
        n_par = rng.integers(2, 5, n_docs)
        n_sent = rng.integers(1, 6, int(n_par.sum()))
        n_words = rng.integers(5, 16, int(n_sent.sum()))
        toks = self.tokens(int(n_words.sum()))
        out, t, s, p = [], 0, 0, 0
        for d in range(n_docs):
            paras = []
            for _ in range(n_par[d]):
                sents = []
                for _ in range(n_sent[p]):
                    w = toks[t:t + n_words[s]]
                    t += n_words[s]
                    s += 1
                    sents.append(" ".join(w).capitalize() + ".")
                p += 1
                paras.append(" ".join(sents))
            out.append("\n\n".join(paras))
        return out

    def query_text(self, n_words: int = 8) -> str:
        return " ".join(self.tokens(n_words))
