"""Independent numpy BM25 and phrase oracle, and the result check.

Pinned to the engine's documented similarity: k1 = 1.2, b = 0.75,
idf = ln(1 + (N − df + 0.5)/(df + 0.5)), per-document contributions summed
in ascending-term order, ties broken by score desc then doc_id asc. Phrase
scoring sums the idf of every phrase token (with multiplicity) and applies
the same saturation to the phrase frequency. Nothing here imports the
engine.
"""

from __future__ import annotations

import math

import numpy as np

K1 = 1.2
B = 0.75
REL_TOL = 1e-9


class Oracle:
    """Scores over a set of documents given as token-id arrays.

    ``counted`` marks the documents the engine's statistics count (N, avgdl,
    df); ``visible`` marks the ones a query may return. They differ between
    a tombstone delete and the next compaction, where deleted documents
    still count but are never returned."""

    def __init__(self, tokens: np.ndarray, offs: np.ndarray,
                 counted: np.ndarray, visible: np.ndarray,
                 term_ids: dict[str, int]):
        self.tokens = tokens
        self.offs = offs
        self.lens = np.diff(offs)
        self.doc_of = np.repeat(np.arange(len(self.lens)), self.lens)
        self.counted = counted
        self.visible = visible
        self.term_ids = term_ids
        self.n = int(counted.sum())
        self.avgdl = float(self.lens[counted].sum()) / self.n
        self.norm = K1 * (1.0 - B + B * self.lens / self.avgdl)

    def _postings(self, term: str) -> tuple[np.ndarray, np.ndarray]:
        """(doc ids, tf) of every document containing ``term``."""
        tid = self.term_ids.get(term)
        if tid is None:
            return np.array([], np.int64), np.array([], np.int64)
        hit = self.doc_of[self.tokens == tid]
        docs, tf = np.unique(hit, return_counts=True)
        return docs, tf

    def _idf(self, docs: np.ndarray) -> float:
        df = int(self.counted[docs].sum())
        return math.log(1.0 + (self.n - df + 0.5) / (df + 0.5))

    def bm25(self, terms: list[str], mode: str = "or",
             allowed: np.ndarray | None = None) -> dict[int, float]:
        """Every matching visible document's score."""
        uniq = sorted(set(terms))
        score = np.zeros(len(self.lens))
        hits = np.zeros(len(self.lens), np.int64)
        for t in uniq:
            docs, tf = self._postings(t)
            docs_c = docs[self.counted[docs]] if len(docs) else docs
            if len(docs_c) == 0:
                continue  # not in the index's dictionary
            idf = self._idf(docs)
            tf = tf.astype(np.float64)
            score[docs] += idf * tf / (tf + self.norm[docs])
            hits[docs] += 1
        need = len(uniq) if mode == "and" else 1
        ok = (hits >= need) & self.visible
        if allowed is not None:
            ok &= allowed
        idx = np.flatnonzero(ok)
        return dict(zip(idx.tolist(), score[idx].tolist()))

    def phrase(self, terms: list[str]) -> dict[int, float]:
        """Exact adjacent-token phrase scores (slop 0)."""
        ids = [self.term_ids.get(t) for t in terms]
        if any(i is None for i in ids):
            return {}
        idf = {}
        for t in set(terms):
            docs, _ = self._postings(t)
            if not self.counted[docs].any():
                return {}
            idf[t] = self._idf(docs)
        idf_sum = sum(idf[t] for t in terms)
        m = len(terms)
        n_tok = len(self.tokens)
        start = np.ones(n_tok - m + 1, bool)
        for i, tid in enumerate(ids):
            start &= self.tokens[i:n_tok - m + 1 + i] == tid
        start &= self.doc_of[:n_tok - m + 1] == self.doc_of[m - 1:]
        docs, pf = np.unique(self.doc_of[:n_tok - m + 1][start],
                             return_counts=True)
        keep = self.visible[docs]
        docs, pf = docs[keep], pf[keep].astype(np.float64)
        sc = idf_sum * pf / (pf + self.norm[docs])
        return dict(zip(docs.tolist(), sc.tolist()))


def top_k(scores: dict[int, float], k: int) -> list[tuple[int, float]]:
    return sorted(scores.items(), key=lambda x: (-x[1], x[0]))[:k]


def check(got: list[tuple[int, float]], scores: dict[int, float],
          k: int) -> str | None:
    """``None`` when ``got`` is a correct top-k of ``scores``, else why not.

    Correct means: the expected number of hits; every hit is a matching
    visible document with the oracle's score; hits in (score desc, doc_id
    asc) order; and no returned score is below the k-th best oracle score,
    so a different choice among exactly tied documents is the only
    freedom."""
    want = top_k(scores, k)
    if len(got) != len(want):
        return f"{len(got)} hits, expected {len(want)}"
    seen = set()
    for i, (doc, sc) in enumerate(got):
        if doc in seen:
            return f"doc {doc} returned twice"
        seen.add(doc)
        exp = scores.get(doc)
        if exp is None:
            return f"doc {doc} is not a visible match"
        if not math.isclose(sc, exp, rel_tol=REL_TOL, abs_tol=1e-12):
            return f"doc {doc} score {sc!r}, expected {exp!r}"
        if not math.isclose(sc, want[i][1], rel_tol=REL_TOL, abs_tol=1e-12):
            return f"rank {i} score {sc!r}, expected {want[i][1]!r}"
        if i and (sc > got[i - 1][1] or (
                sc == got[i - 1][1] and doc < got[i - 1][0])):
            return f"rank {i} out of (score desc, doc_id asc) order"
    return None
