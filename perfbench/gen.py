"""Seeded input generators for the benchmark: page corpus and query mix.

Deliberately independent of `search_ingest_spark.corpus`: a later change to
the program's own generator must not change a workload.  Everything here is
a pure function of the seed (NumPy `default_rng`), so the same seed gives the
same pages and queries byte for byte.

Text is built only from letters, spaces and the sentence marks ". " and ", ",
so the analyzer's documented rules (standard tokenizer → lowercase →
ascii-folding that keeps the original) reduce to splitting on non-word
characters — which is what the independent oracle in `oracle.py` does.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field

import numpy as np

# ---- corpus make-up (recorded in README.md) --------------------------------
VOCAB = 40_000             # Zipf body vocabulary
ZIPF_S = 1.07              # p(rank r) ∝ 1 / (r + 2.7) ** ZIPF_S
N_HOT = 6                  # hot terms, each in 25-45 % of docs (df > 20 %)
N_ACCENTED = 300           # accented variants of body words
ACCENT_SHARE = 0.03        # share of body tokens drawn as accented words
TS0 = dt.datetime(2026, 1, 1)


@dataclass(frozen=True)
class Profile:
    """Make-up of one workload's corpus."""
    n_docs: int                    # live urls
    doc_len: tuple[float, float]   # lognormal (mu, sigma) of tokens per doc
    len_clip: tuple[int, int]      # token-count clip of that length
    dup_share: float               # urls that also carry an older (stale) crawl


PROFILES = {
    # web pages: ~112 tokens (~780 bytes of text) a doc, few re-crawls
    "pages": Profile(3_000, (4.6, 0.5), (20, 360), 0.08),
    # listing snippets: ~20 tokens a doc, many re-crawled urls
    "snippets": Profile(6_000, (2.9, 0.45), (6, 60), 0.30),
}

# ---- query mix (shape → distinct queries per 50) ---------------------------
QUERY_SHAPES = {
    "term_hot": 7, "term_rare": 8, "or_multi": 12, "and_multi": 9,
    "must_not": 6, "prefix": 4, "fuzzy": 4,
}
PLAIN_SHAPES = ("term_hot", "term_rare", "or_multi")  # also run via topk_many

_CONS = list("bdfghklmnprstvwz")
_VOWS = list("aeiou")
_ACCENT = {"a": "àá", "e": "éè", "i": "ïí", "o": "öó", "u": "üú",
           "n": "ñ", "c": "ç"}


@dataclass
class Corpus:
    profile: Profile
    words: np.ndarray            # object array: vocabulary id → word
    cdf: np.ndarray              # Zipf sampling CDF over body ids
    hot: list[int]               # hot vocabulary ids
    hot_p: np.ndarray            # per-hot-term inclusion probability
    accented: np.ndarray         # object array of accented words
    pages: dict = field(default_factory=dict)   # url, warc_ts, text lists
    live: dict = field(default_factory=dict)    # url → latest text
    next_url: int = 0


def _vocabulary(rng: np.random.Generator, n: int) -> list[str]:
    sylls = [c + v for c in _CONS for v in _VOWS] + [
        c + v + t for c in _CONS for v in _VOWS for t in "nrs"]
    seen: set[str] = set()
    out: list[str] = []
    while len(out) < n:
        k = int(rng.integers(1, 4))
        w = "".join(sylls[j] for j in rng.integers(0, len(sylls), k))
        if len(w) >= 3 and w not in seen:
            seen.add(w)
            out.append(w)
    return out


def _accented(rng: np.random.Generator, words: list[str], n: int) -> list[str]:
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        w = words[int(rng.integers(0, min(len(words), 5000)))]
        pos = [i for i, ch in enumerate(w) if ch in _ACCENT]
        if not pos:
            continue
        i = pos[int(rng.integers(0, len(pos)))]
        alts = _ACCENT[w[i]]
        a = w[:i] + alts[int(rng.integers(0, len(alts)))] + w[i + 1:]
        if a not in seen:
            seen.add(a)
            out.append(a)
    return out


def make_corpus(seed: int, profile: Profile) -> Corpus:
    n_docs = profile.n_docs
    rng = np.random.default_rng([seed, 1])
    words = _vocabulary(rng, VOCAB)
    ranks = np.arange(VOCAB, dtype=np.float64)
    cdf = np.cumsum(1.0 / (ranks + 2.7) ** ZIPF_S)
    cdf /= cdf[-1]
    hot = [int(i) for i in rng.choice(np.arange(50, 400), N_HOT, replace=False)]
    c = Corpus(
        profile=profile, words=np.array(words, dtype=object), cdf=cdf, hot=hot,
        hot_p=rng.uniform(0.25, 0.45, N_HOT),
        accented=np.array(_accented(rng, words, N_ACCENTED), dtype=object),
    )
    n_dup = int(rng.binomial(n_docs, profile.dup_share))
    texts = docs_text(c, rng, n_docs + n_dup)
    urls = [new_url(c, rng) for _ in range(n_docs)]
    secs = rng.integers(3600, 86400, n_docs)
    tss = [TS0 + dt.timedelta(seconds=int(x)) for x in secs]
    c.live = dict(zip(urls, texts[:n_docs]))
    # stale crawls of some urls: an older timestamp and other text
    dup = rng.choice(n_docs, n_dup, replace=False)
    back = rng.integers(1, 3600, n_dup)
    urls += [urls[i] for i in dup]
    tss += [tss[i] - dt.timedelta(seconds=int(b)) for i, b in zip(dup, back)]
    c.pages = {"url": urls, "warc_ts": tss, "text": texts}
    return c


def new_url(c: Corpus, rng: np.random.Generator) -> str:
    i = c.next_url
    c.next_url += 1
    return f"https://site{int(rng.integers(0, 500))}.example/p/{i:07d}"


def docs_text(c: Corpus, rng: np.random.Generator, n_docs: int) -> list[str]:
    """`n_docs` page texts in one vectorized pass: Zipf body words, a share
    of accented words, each hot term with its own probability, sentences with a capitalised first
    word and a closing ".", and the occasional ","."""
    lens = np.clip(rng.lognormal(*c.profile.doc_len, n_docs),
                   *c.profile.len_clip).astype(np.int64)
    ends = np.cumsum(lens)
    starts = ends - lens
    total = int(ends[-1])
    ids = np.minimum(np.searchsorted(c.cdf, rng.random(total)), VOCAB - 1)
    toks = c.words[ids]
    acc = rng.random(total) < ACCENT_SHARE
    toks[acc] = c.accented[rng.integers(0, len(c.accented), int(acc.sum()))]
    doc_of = np.repeat(np.arange(n_docs), lens)
    # each hot term overwrites a random position of the doc
    for h, p in zip(c.hot, c.hot_p):
        hit = np.flatnonzero(rng.random(n_docs) < p)
        toks[starts[hit] + (rng.random(len(hit)) * lens[hit]).astype(np.int64)] = c.words[h]
    stop = rng.random(total) < 0.1
    stop[ends - 1] = True
    cap = np.zeros(total, dtype=bool)
    cap[starts] = True
    cap[1:] |= stop[:-1] & (doc_of[1:] == doc_of[:-1])
    comma = ~stop & (rng.random(total) < 0.03)
    toks[cap] = [t[:1].upper() + t[1:] for t in toks[cap]]
    toks[stop] = toks[stop] + "."
    toks[comma] = toks[comma] + ","
    return [" ".join(toks[a:b]) for a, b in zip(starts, ends)]


# ---- query mix ------------------------------------------------------------

@dataclass(frozen=True)
class Query:
    shape: str
    text: str          # query text / prefix / fuzzy text
    exclude: str = ""  # must_not text


def query_mix(c: Corpus, seed: int, per50: int) -> list[Query]:
    """One round of the mix: 50 * `per50` queries, the shapes in the
    shares of QUERY_SHAPES, interleaved in a seeded order."""
    rng = np.random.default_rng([seed, 2])
    words = c.words
    mid = lambda: words[int(rng.integers(30, 1500))]  # noqa: E731

    def word_of_len(lo: int, hi: int, ranks: tuple[int, int]) -> str:
        while True:
            w = words[int(rng.integers(*ranks))]
            if lo <= len(w) <= hi:
                return w

    qs: list[Query] = []
    for shape, n in QUERY_SHAPES.items():
        for _ in range(n * per50):
            if shape == "term_hot":
                q = Query(shape, words[c.hot[int(rng.integers(0, N_HOT))]])
            elif shape == "term_rare":
                # ranks 3k-12k: df of a few to a few dozen docs; an
                # accented word now and then exercises the folding stack
                if rng.random() < 0.3:
                    q = Query(shape, c.accented[int(rng.integers(0, N_ACCENTED))])
                else:
                    q = Query(shape, words[int(rng.integers(3000, 12000))])
            elif shape == "or_multi":
                ws = [mid(), mid(), words[int(rng.integers(1500, 6000))]]
                if rng.random() < 0.5:
                    ws.append(words[c.hot[int(rng.integers(0, N_HOT))]])
                q = Query(shape, " ".join(ws))
            elif shape == "and_multi":
                q = Query(shape, f"{words[c.hot[int(rng.integers(0, N_HOT))]]} {mid()}")
            elif shape == "must_not":
                q = Query(shape, f"{mid()} {mid()}",
                          exclude=words[c.hot[int(rng.integers(0, N_HOT))]])
            elif shape == "prefix":
                q = Query(shape, word_of_len(6, 99, (100, 3000))[:4])
            else:  # fuzzy: one substitution in a mid-frequency word
                # one word length, so every fuzzy query scans a like-sized
                # band of the dictionary
                w = list(word_of_len(7, 7, (30, 3000)))
                i = int(rng.integers(0, len(w)))
                w[i] = _VOWS[int(rng.integers(0, 5))] if w[i] in _CONS else \
                    _CONS[int(rng.integers(0, len(_CONS)))]
                q = Query(shape, "".join(w))
            qs.append(q)
    order = rng.permutation(len(qs))
    return [qs[i] for i in order]
