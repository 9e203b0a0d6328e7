"""Seeded corpus and query-stream generator for the benchmark.

Everything here is a pure function of the seed and the sizes, so the same
seed always yields the same documents, tags, injected near-duplicates and
query streams.  The program under test only ever sees the parquet files
written by :func:`write_parquet`.

Vocabulary: pseudo-words over the consonants ``bdfgkmpz`` and the vowels
``aiou`` (three CV syllables plus a final consonant).  Words from
these letters carry none of the suffixes the English (Porter2) stemmer
removes, so the indexed term of every word is the word itself and the
closed-form reference (``reference.py``) can tokenize with a plain
whitespace split.  Terms are drawn from a Zipf law over a vocabulary of
tens of thousands of words, so posting lengths range from 1 to about N.
"""

from __future__ import annotations

import zlib
from dataclasses import dataclass, field

import numpy as np

_CONSONANTS = "bdfgkmpz"
_VOWELS = "aiou"
_SYLLABLES = [c + v for c in _CONSONANTS for v in _VOWELS]

QUERY_CLASSES = ("head", "tail", "phrase", "tag", "or", "parity", "key")
N_TAGS = 16
ZIPF_EXPONENT = 1.0
TITLE_WORDS = (3, 8)
DUP_EDITS = 2                      # body words replaced in a near-duplicate
URL_PREFIX = "https://bench.example"


@dataclass
class Corpus:
    seed: int
    vocab: np.ndarray                 # term id -> word
    urls: list
    titles: list                      # per doc: int32 term-id array
    bodies: list                      # per doc: int32 term-id array
    tags: list                        # per doc: one tag string
    dup_pairs: list = field(default_factory=list)  # (source idx, copy idx)

    def __len__(self) -> int:
        return len(self.urls)

    def text(self, i: int) -> str:
        v = self.vocab
        return " ".join(v[self.titles[i]]) + "\n\n" + " ".join(v[self.bodies[i]])

    def texts(self) -> list:
        return [self.text(i) for i in range(len(self))]

    def doc_freq(self) -> np.ndarray:
        """Number of docs containing each term id (title or body)."""
        df = np.zeros(len(self.vocab), dtype=np.int64)
        for t, b in zip(self.titles, self.bodies):
            df[np.unique(np.concatenate([t, b]))] += 1
        return df


def vocabulary(size: int, rng: np.random.Generator) -> np.ndarray:
    """``size`` distinct stem-invariant pseudo-words (three syllables)."""
    n_syl = len(_SYLLABLES)
    space = n_syl ** 3 * len(_CONSONANTS)
    codes = rng.choice(space, size=size, replace=False)
    words = []
    for c in codes.tolist():
        c, last = divmod(c, len(_CONSONANTS))
        c, s3 = divmod(c, n_syl)
        s1, s2 = divmod(c, n_syl)
        words.append(_SYLLABLES[s1] + _SYLLABLES[s2] + _SYLLABLES[s3]
                     + _CONSONANTS[last])
    return np.array(words, dtype=object)


def url_tag(url: str) -> str:
    """The doc's tag, derived from a hash of its url."""
    return f"t{zlib.crc32(url.encode()) % N_TAGS}"


def _zipf_sampler(vocab_size: int, rng: np.random.Generator):
    p = 1.0 / np.arange(1, vocab_size + 1) ** ZIPF_EXPONENT
    cum = np.cumsum(p / p.sum())

    def draw(n: int) -> np.ndarray:
        return np.minimum(np.searchsorted(cum, rng.random(n)),
                          vocab_size - 1).astype(np.int32)
    return draw


def _near_duplicate(body: np.ndarray, n_edits: int, draw,
                    rng: np.random.Generator) -> np.ndarray:
    """A copy of ``body`` with ``n_edits`` words replaced at random."""
    out = body.copy()
    where = rng.choice(out.size, size=min(n_edits, out.size), replace=False)
    out[where] = draw(where.size)
    return out


def make_corpus(seed: int, n_docs: int, vocab_size: int = 30_000,
                body_words: tuple = (40, 200),
                dup_fraction: float = 0.0) -> Corpus:
    """``n_docs`` docs of which ``dup_fraction`` are near-duplicates
    (same title, :data:`DUP_EDITS` body words replaced) of distinct other
    docs; :attr:`Corpus.dup_pairs` lists them."""
    rng = np.random.default_rng([seed, 1])
    vocab = vocabulary(vocab_size, rng)
    draw = _zipf_sampler(vocab_size, rng)
    n_dups = int(round(n_docs * dup_fraction))
    n_orig = n_docs - n_dups
    t_len = rng.integers(TITLE_WORDS[0], TITLE_WORDS[1] + 1, size=n_orig)
    b_len = rng.integers(body_words[0], body_words[1] + 1, size=n_orig)
    flat = draw(int(t_len.sum() + b_len.sum()))
    titles, bodies = [], []
    off = 0
    for tl, bl in zip(t_len.tolist(), b_len.tolist()):
        titles.append(flat[off:off + tl])
        bodies.append(flat[off + tl:off + tl + bl])
        off += tl + bl
    dup_pairs = []
    if n_dups:
        sources = rng.choice(n_orig, size=n_dups, replace=False)
        for j, src in enumerate(sources.tolist()):
            titles.append(titles[src].copy())
            bodies.append(_near_duplicate(bodies[src], DUP_EDITS, draw, rng))
            dup_pairs.append((src, n_orig + j))
    # shuffle so near-duplicates are spread over the id space
    order = rng.permutation(n_docs)
    pos = np.empty(n_docs, dtype=np.int64)
    pos[order] = np.arange(n_docs)
    titles = [titles[i] for i in order]
    bodies = [bodies[i] for i in order]
    dup_pairs = sorted((int(min(pos[a], pos[b])), int(max(pos[a], pos[b])))
                       for a, b in dup_pairs)
    urls = [f"{URL_PREFIX}/{seed}/d{i:07d}" for i in range(n_docs)]
    return Corpus(seed=seed, vocab=vocab, urls=urls, titles=titles,
                  bodies=bodies, tags=[url_tag(u) for u in urls],
                  dup_pairs=dup_pairs)


def extra_docs(corpus: Corpus, seed: int, n: int, prefix: str,
               body_words: tuple = (40, 200)) -> Corpus:
    """``n`` fresh docs over the same vocabulary (for append)."""
    rng = np.random.default_rng([seed, 2, zlib.crc32(prefix.encode())])
    draw = _zipf_sampler(len(corpus.vocab), rng)
    titles = [draw(int(rng.integers(TITLE_WORDS[0], TITLE_WORDS[1] + 1)))
              for _ in range(n)]
    bodies = [draw(int(rng.integers(body_words[0], body_words[1] + 1)))
              for _ in range(n)]
    urls = [f"{URL_PREFIX}/{corpus.seed}/{prefix}{i:07d}" for i in range(n)]
    return Corpus(seed=corpus.seed, vocab=corpus.vocab, urls=urls,
                  titles=titles, bodies=bodies,
                  tags=[url_tag(u) for u in urls])


def write_parquet(corpus: Corpus, path: str) -> str:
    """One parquet file in the engine's input shape plus a ``tag`` column."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    texts = corpus.texts()
    epoch = datetime.datetime(2024, 1, 1)
    table = pa.table({
        "url": corpus.urls,
        "warc_ts": [epoch + datetime.timedelta(seconds=i) for i in range(len(texts))],
        "html": [b""] * len(texts),
        "text": texts,
        "lang": ["en"] * len(texts),
        "tag": corpus.tags,
    })
    pq.write_table(table, path)
    return path


# ------------------------------------------------------------ query streams

def _distinct_terms(rng, candidates: np.ndarray, n: int) -> list:
    if candidates.size == 0:
        raise ValueError("no candidate terms for a query class")
    pick = rng.choice(candidates, size=n, replace=candidates.size < n)
    return [int(t) for t in pick]


def query_stream(corpus: Corpus, seed: int, n_queries: int) -> list:
    """``n_queries`` specs cycling through :data:`QUERY_CLASSES`.

    Terms are drawn from the corpus statistics (document frequency by
    rank), mostly distinct, so a long-lived engine's term-statistics
    cache mostly misses.  Each spec: ``{"cls", "word", "tags", "mode",
    "k", "operator"}`` as accepted by ``SearchEngine.search``.
    """
    rng = np.random.default_rng([seed, 3])
    df = corpus.doc_freq()
    n = len(corpus)
    present = np.flatnonzero(df > 0)
    by_df = present[np.argsort(-df[present], kind="stable")]
    head = by_df[:max(8, len(by_df) // 500)]
    tail = present[(df[present] >= 1) & (df[present] <= 3)]
    mid = present[(df[present] >= max(2, n // 2000)) & (df[present] <= max(4, n // 20))]
    parity = present[(df[present] >= max(2, n // 1000)) & (df[present] <= max(4, n // 100))]
    mid_set = set(mid.tolist())
    per_cls = -(-n_queries // len(QUERY_CLASSES))
    picks = {
        "head": _distinct_terms(rng, head, per_cls),
        "tail": _distinct_terms(rng, tail, per_cls),
        "or": _distinct_terms(rng, mid, 2 * per_cls),
        "parity": _distinct_terms(rng, parity, per_cls),
    }
    v = corpus.vocab
    out = []
    for i in range(n_queries):
        cls = QUERY_CLASSES[i % len(QUERY_CLASSES)]
        j = i // len(QUERY_CLASSES)
        spec = {"cls": cls, "tags": None, "mode": "bm25", "k": 10,
                "operator": "and"}
        if cls in ("head", "tail"):
            spec["word"] = v[picks[cls][j]]
        elif cls == "tag":
            # a mid-frequency term of some doc, filtered by that doc's tag
            d, t = _doc_with_term(corpus, rng, mid_set)
            spec["word"] = v[t]
            spec["tags"] = [corpus.tags[d]]
        elif cls == "or":
            a, b = picks["or"][2 * j], picks["or"][2 * j + 1]
            spec["word"] = f"{v[a]} {v[b]}"
            spec["operator"] = "or"
        elif cls == "parity":
            spec["word"] = v[picks[cls][j]]
            spec["mode"] = "parity"
            spec["k"] = None
        elif cls == "phrase":
            spec["word"] = phrase_from_doc(corpus, rng)
        else:
            spec["word"] = "unique_key:" + corpus.urls[int(rng.integers(n))]
            spec["mode"] = "parity"
            spec["k"] = None
        out.append(spec)
    return out


def _doc_with_term(corpus: Corpus, rng: np.random.Generator, terms: set) -> tuple:
    """A random doc and one of its body terms from ``terms``."""
    while True:
        d = int(rng.integers(len(corpus)))
        hits = [int(t) for t in corpus.bodies[d] if int(t) in terms]
        if hits:
            return d, hits[int(rng.integers(len(hits)))]


def phrase_from_doc(corpus: Corpus, rng: np.random.Generator) -> str:
    """Two adjacent distinct body words of a random doc (never empty)."""
    v = corpus.vocab
    while True:
        b = corpus.bodies[int(rng.integers(len(corpus)))]
        p = int(rng.integers(b.size - 1))
        if b[p] != b[p + 1]:
            return f"{v[b[p]]} {v[b[p + 1]]}"


def hot_phrases(corpus: Corpus, seed: int, n: int) -> list:
    """A small hot set of 2-term phrases for the served workload."""
    rng = np.random.default_rng([seed, 4])
    out: list = []
    while len(out) < n:
        p = phrase_from_doc(corpus, rng)
        if p not in out:
            out.append(p)
    return out
