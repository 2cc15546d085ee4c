"""Exact BM25 top-k from the generator's token ids.

Independent of the engine: no tokenizer, no tables, no caches. Terms are
the generator's vocabulary ids; a query's terms are summed in sorted term
(string) order, Lucene BM25 with k1 = 1.2, b = 0.75 and
idf = ln(1 + (N - df + 0.5) / (df + 0.5)). Ties rank by row index, which
is (conv_id, turn_idx) order.
"""

from __future__ import annotations

import math

import numpy as np

K1 = 1.2
B = 0.75


class Oracle:
    def __init__(self, tok: np.ndarray, doc: np.ndarray, vocab: np.ndarray):
        n_docs = int(doc[-1]) + 1
        self.n_docs = n_docs
        dl = np.bincount(doc, minlength=n_docs)
        self.sum_dl = int(dl.sum())
        self.avgdl = self.sum_dl / n_docs
        # one (term, doc) pair per distinct occurrence, with its tf
        pair, tf = np.unique(tok.astype(np.int64) * n_docs + doc, return_counts=True)
        term, self._doc = np.divmod(pair, n_docs)
        self._bounds = np.searchsorted(term, np.arange(len(vocab) + 1))
        tf = tf.astype(np.float64)
        dlf = dl[self._doc].astype(np.float64)
        self._tfw = (tf * (K1 + 1.0)) / (tf + K1 * (1.0 - B + (B * dlf) / self.avgdl))
        self._id = {w: i for i, w in enumerate(vocab.tolist())}

    def topk(self, query: str, k: int) -> tuple[np.ndarray, np.ndarray]:
        """(row indices, scores) of the exact top ``k``."""
        scores = np.zeros(self.n_docs, dtype=np.float64)
        for w in sorted(set(query.split())):
            i = self._id[w]
            lo, hi = self._bounds[i], self._bounds[i + 1]
            d = hi - lo
            if not d:
                continue
            idf = math.log(1.0 + (self.n_docs - d + 0.5) / (d + 0.5))
            scores[self._doc[lo:hi]] += idf * self._tfw[lo:hi]
        hit = np.flatnonzero(scores > 0.0)
        order = np.lexsort((hit, -scores[hit]))[:k]
        return hit[order], scores[hit[order]]
