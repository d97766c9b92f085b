"""Independent BM25 oracle (NumPy), written from the analyzer's and the
scorer's documented rules, sharing no code with the engine.

Analyzer rules (the reference's ES mapping: `standard` tokenizer,
`lowercase`, `asciifolding` with `preserve_original`):
- tokens are runs of word characters (the generated text holds only
  letters, spaces, "." and ",");
- each token is lowercased, then folded to ASCII by canonical
  decomposition with combining marks dropped;
- a token that folding changes is indexed twice, folded and original,
  at one position: both count in tf, the position counts once in the
  document length.

Scoring: BM25 with k1 = 1.2, b = 0.75,
idf = ln(1 + (N - df + 0.5) / (df + 0.5)), avgdl = Σdl / N.
Ranking: score descending, then the engine's doc id ascending.
"""

from __future__ import annotations

import re
import unicodedata

import numpy as np
import pandas as pd

K1, B = 1.2, 0.75
_WORD = re.compile(r"\w+")


def fold(token: str) -> str:
    nfd = unicodedata.normalize("NFD", token)
    return "".join(ch for ch in nfd if not unicodedata.combining(ch))


def terms_of(token: str) -> list[str]:
    low = token.lower()
    f = fold(low)
    return [f] if f == low else [f, low]


def words(text: str) -> list[str]:
    """The text's tokens before lowercasing and folding."""
    return _WORD.findall(text)


def query_terms(text: str) -> list[str]:
    return sorted({t for tok in words(text) for t in terms_of(tok)})


class Index:
    """Term → (doc ids, tfs) over `docs` = {engine doc id: text}."""

    def __init__(self, docs: dict[int, str]) -> None:
        ids = np.fromiter(docs, dtype=np.int64, count=len(docs))
        toks_per_doc = [words(t) for t in docs.values()]
        lens = np.array([len(t) for t in toks_per_doc], dtype=np.int64)
        flat = [t for toks in toks_per_doc for t in toks]
        raw_codes, raw_uniques = pd.factorize(pd.Series(flat, dtype=object))
        # raw token → one or two term codes
        vocab: dict[str, int] = {}
        first = np.empty(len(raw_uniques), dtype=np.int64)
        second = np.full(len(raw_uniques), -1, dtype=np.int64)
        for i, tok in enumerate(raw_uniques):
            ts = terms_of(tok)
            first[i] = vocab.setdefault(ts[0], len(vocab))
            if len(ts) > 1:
                second[i] = vocab.setdefault(ts[1], len(vocab))
        doc_of = np.repeat(ids, lens)
        t1 = first[raw_codes]
        t2 = second[raw_codes]
        has2 = t2 >= 0
        term = np.concatenate([t1, t2[has2]])
        doc = np.concatenate([doc_of, doc_of[has2]])
        width = int(ids.max()) + 1 if len(ids) else 1
        keys, tf = np.unique(term * width + doc, return_counts=True)
        self.terms = np.array(list(vocab), dtype=object)
        self.vocab = vocab
        self.post_term = keys // width
        self.post_doc = keys % width
        self.post_tf = tf.astype(np.float64)
        self.ptr = np.searchsorted(self.post_term, np.arange(len(vocab) + 1))
        self.df = np.diff(self.ptr)
        self.dl = np.zeros(width, dtype=np.float64)
        self.dl[ids] = lens
        self.n_docs = int((lens > 0).sum())
        self.sum_dl = int(lens.sum())
        self.avgdl = float(self.sum_dl) / float(self.n_docs)

    def doc_freq(self, term: str) -> int:
        code = self.vocab.get(term)
        return 0 if code is None else int(self.df[code])

    def _postings(self, code: int) -> tuple[np.ndarray, np.ndarray]:
        a, b = self.ptr[code], self.ptr[code + 1]
        return self.post_doc[a:b], self.post_tf[a:b]

    def _codes(self, terms) -> list[int]:
        return [self.vocab[t] for t in terms if t in self.vocab]

    def _idf(self, code: int) -> float:
        n, df = self.n_docs, float(self.df[code])
        return float(np.log(1.0 + (n - df + 0.5) / (df + 0.5)))

    def topk(self, codes: list[int], k: int, *, require: list[int] = (),
             ban: list[int] = ()) -> list[tuple[int, float]]:
        """OR of `codes`, restricted to docs holding every `require` code
        and none of the `ban` codes."""
        score = np.zeros(len(self.dl))
        hit = np.zeros(len(self.dl), dtype=bool)
        for c in sorted(set(codes)):
            d, tf = self._postings(c)
            score[d] += self._idf(c) * (
                (tf * (K1 + 1.0)) / (tf + K1 * (1.0 - B + B * self.dl[d] / self.avgdl)))
            hit[d] = True
        for c in require:
            mask = np.zeros(len(self.dl), dtype=bool)
            mask[self._postings(c)[0]] = True
            hit &= mask
        for c in ban:
            hit[self._postings(c)[0]] = False
        docs = np.flatnonzero(hit)
        sc = score[docs]
        order = np.lexsort((docs, -sc))[:k]
        return [(int(docs[i]), float(sc[i])) for i in order]

    # -- the query shapes of the mix ---------------------------------------
    def match(self, text: str, k: int) -> list[tuple[int, float]]:
        return self.topk(self._codes(query_terms(text)), k)

    def match_all(self, text: str, k: int) -> list[tuple[int, float]]:
        terms = query_terms(text)
        codes = self._codes(terms)
        if len(codes) < len(terms):
            return []
        return self.topk(codes, k, require=codes)

    def must_not(self, text: str, exclude: str, k: int) -> list[tuple[int, float]]:
        return self.topk(self._codes(query_terms(text)), k,
                         ban=self._codes(query_terms(exclude)))

    def prefix(self, prefix: str, k: int, max_expansions: int = 50):
        p = prefix.lower()
        cands = [c for t, c in self.vocab.items()
                 if t.startswith(p) and self.df[c] > 0]
        cands.sort(key=lambda c: (-int(self.df[c]), self.terms[c]))
        return self.topk(cands[:max_expansions], k)

    def fuzzy(self, text: str, k: int) -> list[tuple[int, float]]:
        """Every indexed term within one edit (insert, delete or
        substitute) of an analyzed query term."""
        alphabet = {ch for t in self.vocab for ch in t}
        near: set[str] = set()
        for q in query_terms(text):
            near.add(q)
            for i in range(len(q) + 1):
                if i < len(q):
                    near.add(q[:i] + q[i + 1:])
                for ch in alphabet:
                    near.add(q[:i] + ch + q[i:])
                    if i < len(q):
                        near.add(q[:i] + ch + q[i + 1:])
        return self.topk(self._codes(sorted(near)), k)
