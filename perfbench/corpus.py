"""Seeded corpus and query-mix generator.

Everything the benchmark feeds the engine comes from here, from one integer
seed: a Zipf-distributed vocabulary, lognormal document lengths, a skewed
4-value ``lang`` column, and query terms picked by frequency rank (tail
terms, top terms, mixed) or sampled from adjacent tokens of real documents
(phrases). The engine only ever sees the parquet file and the query strings.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB_SIZE = 30_000
ZIPF_S = 1.07
MEAN_LEN = 150
LEN_SIGMA = 0.6
LANGS = ("en", "de", "fr", "la")
LANG_P = (0.6, 0.2, 0.15, 0.05)
_ALPHA = "abcdefghijklmnopqrstuvwxyz"


def _word(i: int) -> str:
    out = []
    i += 26 * 27  # at least three letters
    while i:
        i, r = divmod(i, 26)
        out.append(_ALPHA[r])
    return "".join(reversed(out))


class Corpus:
    """Documents as token-id arrays plus the text the engine indexes.

    ``tokens`` is the concatenated token-id stream; document ``d`` owns
    ``tokens[offs[d]:offs[d + 1]]``. Term ids are frequency ranks (0 = most
    frequent in expectation). Doc ids are dense from ``first_id``."""

    def __init__(self, vocab: np.ndarray, tokens: np.ndarray,
                 offs: np.ndarray, lang: np.ndarray, first_id: int = 0):
        self.vocab = vocab
        self.tokens = tokens
        self.offs = offs
        self.lang = lang
        self.first_id = first_id

    @property
    def n_docs(self) -> int:
        return len(self.offs) - 1

    @property
    def lens(self) -> np.ndarray:
        return np.diff(self.offs)

    def doc_tokens(self, d: int) -> np.ndarray:
        return self.tokens[self.offs[d]:self.offs[d + 1]]

    def texts(self) -> list[str]:
        """One space-joined string per document, built with a single bytes
        join over the whole stream and sliced by byte offsets."""
        words = [w.encode() + b" " for w in self.vocab]
        wlen = np.fromiter((len(w) for w in words), np.int64, len(words))
        blob = b"".join([words[t] for t in self.tokens.tolist()])
        boffs = np.concatenate(([0], np.cumsum(wlen[self.tokens])))[self.offs]
        return [blob[boffs[i]:boffs[i + 1] - 1].decode()
                for i in range(self.n_docs)]

    def write_parquet(self, path: str) -> int:
        """Write (doc_id, text, lang); returns the text byte count."""
        texts = self.texts()
        table = pa.table({
            "doc_id": pa.array(np.arange(self.n_docs) + self.first_id,
                               pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(np.asarray(LANGS)[self.lang].tolist(),
                             pa.string()),
        })
        pq.write_table(table, path)
        return sum(len(t.encode()) for t in texts)

    def sha256s(self) -> list[str]:
        return [hashlib.sha256(t.encode()).hexdigest() for t in self.texts()]


class Generator:
    """One seeded source for a workload's documents and queries."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        perm = self.rng.permutation(VOCAB_SIZE * 4)[:VOCAB_SIZE]
        self.vocab = np.array([_word(int(i)) for i in perm], dtype=object)
        ranks = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64)
        p = ranks ** -ZIPF_S
        self.cdf = np.cumsum(p / p.sum())

    def corpus(self, n_docs: int, first_id: int = 0) -> Corpus:
        mu = np.log(MEAN_LEN) - LEN_SIGMA ** 2 / 2
        lens = np.maximum(
            1, np.rint(self.rng.lognormal(mu, LEN_SIGMA, n_docs))
        ).astype(np.int64)
        total = int(lens.sum())
        tokens = np.searchsorted(self.cdf, self.rng.random(total),
                                 side="right").astype(np.int32)
        tokens = np.minimum(tokens, len(self.vocab) - 1)
        offs = np.concatenate(([0], np.cumsum(lens)))
        lang = self.rng.choice(len(LANGS), size=n_docs, p=LANG_P)
        return Corpus(self.vocab, tokens, offs, lang, first_id)

    # -- query mix ---------------------------------------------------------

    def _pick(self, pool: np.ndarray, n: int) -> list[str]:
        idx = self.rng.choice(len(pool), size=n, replace=False)
        return [self.vocab[pool[i]] for i in idx]

    def query_mix(self, corpus: Corpus, per_class: int) -> list[dict]:
        """``per_class`` rounds of the six serve classes, each round in a
        seeded order, so any prefix of the mix is balanced across classes.
        Term pools come from the corpus's own document frequencies."""
        df = doc_freq(corpus)
        by_df = np.argsort(-df, kind="stable")
        present = by_df[df[by_df] > 0]
        hot = present[:20]
        mid = present[len(present) // 20: len(present) // 4]
        tail = present[df[present] <= 8]
        tail = tail[df[tail] >= 2]
        out = []
        for _ in range(per_class):
            rnd = []
            rnd.append({"cls": "rare", "q": " ".join(self._pick(tail, 2))})
            rnd.append({"cls": "hot", "q": " ".join(self._pick(hot, 2))})
            rnd.append({"cls": "multi", "q": " ".join(
                self._pick(hot, 1) + self._pick(mid, 2) + self._pick(tail, 1))})
            rnd.append({"cls": "and", "q": " ".join(
                self._cooccurring(corpus, df, 2)), "mode": "and"})
            rnd.append({"cls": "phrase", "q": " ".join(
                self._adjacent(corpus))})
            rnd.append({"cls": "fq", "q": " ".join(self._pick(mid, 2)),
                        "where": "lang = 'de'"})
            out.extend(rnd[i] for i in self.rng.permutation(len(rnd)))
        return out

    def _cooccurring(self, corpus: Corpus, df: np.ndarray, n: int) -> list[str]:
        """``n`` distinct mid-frequency terms taken from one document, so
        a conjunctive query has at least one hit."""
        lo, hi = corpus.n_docs // 1000 + 2, corpus.n_docs // 10
        while True:
            d = int(self.rng.integers(corpus.n_docs))
            toks = np.unique(corpus.doc_tokens(d))
            toks = toks[(df[toks] >= lo) & (df[toks] <= hi)]
            if len(toks) >= n:
                pick = self.rng.choice(toks, size=n, replace=False)
                return [self.vocab[t] for t in pick]

    def _adjacent(self, corpus: Corpus) -> list[str]:
        """Two adjacent tokens of a random document (the phrase class)."""
        while True:
            d = int(self.rng.integers(corpus.n_docs))
            toks = corpus.doc_tokens(d)
            if len(toks) >= 2:
                i = int(self.rng.integers(len(toks) - 1))
                if toks[i] != toks[i + 1]:
                    return [self.vocab[toks[i]], self.vocab[toks[i + 1]]]

    def rare_terms(self, toks: np.ndarray, n: int) -> list[str]:
        """``n`` distinct terms of one document, drawn from its rarest
        (term ids are Zipf ranks, so a higher id is rarer) — the churn
        probe for a document just appended, updated or deleted."""
        pool = np.unique(toks)[::-1][: n * 4]
        pick = self.rng.choice(pool, size=min(n, len(pool)), replace=False)
        return [self.vocab[t] for t in pick]


def doc_freq(corpus: Corpus) -> np.ndarray:
    """Per-term document frequency over a corpus."""
    doc = np.repeat(np.arange(corpus.n_docs), corpus.lens)
    key = doc.astype(np.int64) * len(corpus.vocab) + corpus.tokens
    uniq = np.unique(key)
    return np.bincount(uniq % len(corpus.vocab),
                       minlength=len(corpus.vocab))
