"""The index and top-k results recomputed from the generator's token ids.

Nothing here calls the engine or its tokenizer: documents are the token-id
arrays of ``inputs.Corpus`` and a query's terms are its space-separated
words. The arithmetic follows the ATIRE BM25 and quantization the engine
documents (k1=0.9, b=0.4, idf=ln(N/df) from ``math.log``, mean length =
collection length / N, the same operation grouping as ``tests/oracle.py``),
so every comparison with the engine is exact.

Serving semantics: q_tf scaling of impacts, the uint8 rescale when the
largest possible rsv exceeds 255, segments ordered impact DESC, seg_freq
ASC, term ASC, the ρ budget trunc(total × ρ) stopping before the first
segment that would overflow it, and top-k by (rsv DESC, doc_id DESC).
"""

from __future__ import annotations

import math
from collections import Counter

import numpy as np

from inputs import VOCAB_SIZE, Corpus, doc_term_counts

K1, B = 0.9, 0.4
LARGEST_IMPACT = 1024
MAX_TF = 1024
MAX_RSV = 255


class Reference:
    def __init__(self, corpus: Corpus):
        doc_idx, term, tf = doc_term_counts(corpus)
        self.n_docs = corpus.n_docs
        self.collection_length = int(corpus.lengths.sum())
        self.n_postings = len(term)
        self.df = np.bincount(term, minlength=VOCAB_SIZE)
        doc = corpus.doc_id[doc_idx]

        mean = float(self.collection_length) / float(self.n_docs)
        idf_of = {int(d): math.log(self.n_docs / int(d)) for d in np.unique(self.df[term])}
        idf = np.array([idf_of[int(d)] for d in self.df[term]])
        tf_d = np.minimum(tf, MAX_TF).astype(np.float64)
        dl = corpus.lengths[doc_idx].astype(np.float64)
        lc = K1 * ((1.0 - B) + (B * dl) / mean)
        score = idf * ((tf_d * (K1 + 1.0)) / (tf_d + lc))
        self.min_rsv, self.max_rsv = float(score.min()), float(score.max())
        impact = (
            np.floor((score - self.min_rsv) / (self.max_rsv - self.min_rsv)
                     * float(LARGEST_IMPACT - 1)).astype(np.int64) + 1
        )

        # postings ordered (term, impact, doc): a term's segments are
        # consecutive runs of one impact value
        order = np.lexsort((doc, impact, term))
        self._term, self._impact, self._doc = term[order], impact[order], doc[order]
        self._term_start = np.searchsorted(self._term, np.arange(VOCAB_SIZE + 1))
        self.n_segments = 1 + int(np.count_nonzero(
            (np.diff(self._term) != 0) | (np.diff(self._impact) != 0)))
        self.term_id = {w: i for i, w in enumerate(corpus.vocab)}
        self.url_of = {int(d): u for d, u in zip(corpus.doc_id, corpus.urls)}

    def segments(self, word: str) -> list[tuple[int, np.ndarray]]:
        """(impact, ascending doc ids) of ``word``, impact ascending; [] if
        the word is not indexed."""
        t = self.term_id.get(word)
        if t is None or not self.df[t]:
            return []
        lo, hi = self._term_start[t], self._term_start[t + 1]
        imp = self._impact[lo:hi]
        cuts = np.flatnonzero(np.diff(imp)) + 1
        starts = np.concatenate([[0], cuts])
        ends = np.concatenate([cuts, [hi - lo]])
        return [(int(imp[s]), self._doc[lo + s:lo + e]) for s, e in zip(starts, ends)]

    def search(self, query: str, k: int, rho: float) -> tuple[list[tuple[int, int]], int, int]:
        """(ranked [(doc_id, rsv)], postings processed, query postings)."""
        counts = Counter(query.split())
        n_terms = len(counts)
        segs = []
        largest = total = 0
        for word, q_tf in counts.items():
            term_segs = self.segments(word)
            if not term_segs:
                continue
            for impact, docs in term_segs:
                segs.append((impact * q_tf, len(docs), word, docs))
                total += len(docs)
            largest += max(impact for impact, _ in term_segs) * q_tf
        segs.sort(key=lambda s: (-s[0], s[1], s[2]))
        budget = int(total * rho) if rho < 1.0 else total
        processed = 0
        ids, weights = [], []
        for simpact, seg_freq, _word, docs in segs:
            if processed + seg_freq > budget:
                break
            processed += seg_freq
            if largest > MAX_RSV:
                simpact = int(simpact / largest * (MAX_RSV - n_terms) + 1)
            ids.append(docs)
            weights.append(np.full(seg_freq, simpact, dtype=np.int64))
        if not ids:
            return [], processed, total
        acc = np.bincount(np.concatenate(ids), weights=np.concatenate(weights),
                          minlength=self.n_docs + 1).astype(np.int64)
        hit = np.flatnonzero(acc)
        ranked = sorted(zip(hit.tolist(), acc[hit].tolist()), key=lambda p: (-p[1], -p[0]))
        return ranked[:k], processed, total
