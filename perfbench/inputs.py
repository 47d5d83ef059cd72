"""Seeded benchmark inputs: a synthetic Zipf corpus and two query mixes.

Everything here is a function of the seed alone. The engine receives only
the tables made from it: documents ``(url, text)`` shaped like FIXTURES
``documents`` and queries ``(query_id, query)``. The token ids kept beside
the text feed ``reference.py``, which recomputes the index without the
engine's tokenizer.

Documents carry ``doc_id`` = 1 + rank of the url, the dense ids the
engine itself would assign by url order. The benchmark builds with
``doc_id_col="doc_id"`` because the engine's own assignment
(``sources.docids.assign_doc_ids``) gives wrong ids on this corpus; see
README.md.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

VOCAB_SIZE = 30_000
ZIPF_S = 1.1
N_DOCS = 5_000
MEAN_DOC_LEN = 200
DOC_LEN_SIGMA = 0.6
WORD_LEN = (3, 10)      # vocabulary words: 3..10 lowercase letters
OOV_LEN = 12            # longer than any vocabulary word, so never indexed
TAIL_MAX_DF = 8         # "tail" query terms occur in at most this many docs
QUERY_TERMS = (1, 5)


@dataclass
class Corpus:
    vocab: np.ndarray        # object array of words; index = term id = Zipf rank - 1
    term_prob: np.ndarray    # Zipf probability of each term id
    urls: list[str]
    texts: list[str]
    doc_id: np.ndarray       # engine doc id of document i: 1 + rank of its url
    lengths: np.ndarray      # tokens in document i
    tokens: np.ndarray       # term ids of all documents, concatenated

    @property
    def n_docs(self) -> int:
        return len(self.urls)


def _vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    lo, hi = WORD_LEN
    seen: dict[str, None] = {}
    while len(seen) < size:
        n = size - len(seen) + 1024
        lens = rng.integers(lo, hi + 1, size=n)
        chars = rng.integers(ord("a"), ord("z") + 1, size=(n, hi), dtype=np.uint8)
        for row, length in zip(chars, lens):
            seen.setdefault(row[:length].tobytes().decode("ascii"))
            if len(seen) == size:
                break
    return np.array(list(seen), dtype=object)


def make_corpus(seed: int) -> Corpus:
    rng = np.random.default_rng([seed, 1])
    vocab = _vocabulary(rng, VOCAB_SIZE)
    prob = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64) ** -ZIPF_S
    prob /= prob.sum()
    mu = np.log(MEAN_DOC_LEN) - DOC_LEN_SIGMA**2 / 2
    lengths = np.maximum(1, np.rint(rng.lognormal(mu, DOC_LEN_SIGMA, N_DOCS))).astype(np.int64)
    tokens = rng.choice(VOCAB_SIZE, size=int(lengths.sum()), p=prob).astype(np.int64)
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(vocab[tokens[a:b]]) for a, b in zip(bounds[:-1], bounds[1:])]
    # ingest order is not url order, so dense doc ids are a real permutation
    keys = rng.permutation(N_DOCS)
    urls = [f"https://site{k % 97:02d}.example/doc/{k:07d}" for k in keys]
    doc_id = np.empty(N_DOCS, dtype=np.int64)
    doc_id[np.argsort(np.array(urls, dtype=object), kind="stable")] = np.arange(1, N_DOCS + 1)
    return Corpus(vocab, prob, urls, texts, doc_id, lengths, tokens)


def doc_term_counts(corpus: Corpus) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(document index, term id, tf) of every distinct (document, term)
    pair, ordered by document then term id."""
    doc = np.repeat(np.arange(corpus.n_docs, dtype=np.int64), corpus.lengths)
    keys, tf = np.unique(doc * VOCAB_SIZE + corpus.tokens, return_counts=True)
    return keys // VOCAB_SIZE, keys % VOCAB_SIZE, tf


def _oov_word(rng: np.random.Generator) -> str:
    return rng.integers(ord("a"), ord("z") + 1, size=OOV_LEN, dtype=np.uint8).tobytes().decode()


def make_queries(
    corpus: Corpus, seed: int, n: int, mix: str, prefix: str
) -> list[tuple[str, str]]:
    """``n`` queries of 1-5 terms. ``mix="head"`` draws terms by Zipf
    weight; ``mix="tail"`` draws uniformly among terms that occur in at
    most ``TAIL_MAX_DF`` documents. Every 10th query (offset 3) repeats a
    term (q_tf scaling); every 10th (offset 7) adds an out-of-vocabulary
    word."""
    rng = np.random.default_rng([seed, 2, sum(map(ord, prefix))])
    if mix == "head":
        cdf = np.cumsum(corpus.term_prob)

        def draw(k: int) -> np.ndarray:
            return np.minimum(np.searchsorted(cdf, rng.random(k), side="right"), VOCAB_SIZE - 1)
    elif mix == "tail":
        _, terms, _ = doc_term_counts(corpus)
        df = np.bincount(terms, minlength=VOCAB_SIZE)
        pool = np.flatnonzero((df >= 1) & (df <= TAIL_MAX_DF))

        def draw(k: int) -> np.ndarray:
            return pool[rng.integers(0, len(pool), size=k)]
    else:
        raise ValueError(f"unknown query mix {mix!r}")
    out = []
    for i in range(n):
        k = int(rng.integers(QUERY_TERMS[0], QUERY_TERMS[1] + 1))
        words = list(corpus.vocab[draw(k)])
        if i % 10 == 3:
            words.append(words[0])
        if i % 10 == 7:
            words.insert(int(rng.integers(0, len(words) + 1)), _oov_word(rng))
        out.append((f"{prefix}{i:05d}", " ".join(words)))
    return out
