"""Independent correctness oracles: brute-force BM25 in numpy over the
generated corpus, and exact word-shingle Jaccard for dedup pairs.

The BM25 oracle never reads the index's postings or scores. It re-derives
every document's token multiset from the generator's identifier lists (each
identifier is tokenized once by the program's analyzer — the one shared
string kernel; the index layout, statistics, scoring, gating, pruning and
ranking are all recomputed here), then scores with the Lucene classic
formula (k1=1.2, b=0.75), per-group dis_max, the minimum-should-match gate,
and ranks on ``round(score, 9)`` then doc_id.
"""

from __future__ import annotations

import re

import numpy as np

K1 = 1.2
B = 0.75


class Bm25Oracle:
    def __init__(self, corpus: dict):
        import pandas as pd

        from gazetteer_search_spark.analyzer.tokenizer import tokenize_pandas

        from perfbench.gen import key_token

        vocab = corpus["vocab"]
        n = len(corpus["repo"])
        # only identifiers the corpus uses are tokenized; the rest map to []
        used = np.flatnonzero(corpus["counts"])
        ident_toks = [[] for _ in vocab]
        for i, ts in zip(used, tokenize_pandas(pd.Series([vocab[i] for i in used]))):
            ident_toks[i] = ts
        key_toks = [key_token(i) for i in range(n)]
        terms = sorted({t for ts in ident_toks for t in ts} | set(key_toks))
        self.term_id = {t: i for i, t in enumerate(terms)}
        lens = np.fromiter((len(ts) for ts in ident_toks), np.int64, len(ident_toks))
        ident_off = np.concatenate([[0], np.cumsum(lens)])
        ident_flat = np.fromiter(
            (self.term_id[t] for ts in ident_toks for t in ts), np.int64,
            int(ident_off[-1]),
        )
        occ = np.concatenate(corpus["id_lists"])
        occ_doc = np.repeat(np.arange(n), [len(x) for x in corpus["id_lists"]])
        occ_len = lens[occ]
        total = int(occ_len.sum())
        first = np.repeat(ident_off[occ], occ_len)
        within = np.arange(total) - np.repeat(np.cumsum(occ_len) - occ_len, occ_len)
        tok = np.concatenate([ident_flat[first + within],
                              [self.term_id[k] for k in key_toks]])
        doc = np.concatenate([np.repeat(occ_doc, occ_len), np.arange(n)])
        self.n_docs = n
        self.doc_len = np.bincount(doc, minlength=n)
        self.avg_dl = float(self.doc_len.mean())
        # (term, doc) -> tf, term-major CSR
        pair, tf = np.unique(tok * n + doc, return_counts=True)
        self.p_term = pair // n
        self.p_doc = pair % n
        self.p_tf = tf
        self.term_ptr = np.searchsorted(self.p_term, np.arange(len(terms) + 1))
        self.df = np.diff(self.term_ptr)
        self.n_terms = int((self.df > 0).sum())

    def postings(self, term: str) -> tuple[np.ndarray, np.ndarray]:
        """(doc indices, BM25 scores) of one term."""
        t = self.term_id.get(term)
        if t is None:
            return np.empty(0, np.int64), np.empty(0)
        a, b = self.term_ptr[t], self.term_ptr[t + 1]
        docs, tf = self.p_doc[a:b], self.p_tf[a:b].astype(np.float64)
        df = float(b - a)
        idf = np.log(1.0 + (self.n_docs - df + 0.5) / (df + 0.5))
        dl = self.doc_len[docs].astype(np.float64)
        return docs, idf * (tf * (K1 + 1.0)) / (tf + K1 * (1.0 - B + B * dl / self.avg_dl))

    def topk(self, groups: list[list[str]], msm: int, k: int,
             doc_ids: np.ndarray) -> list[tuple[int, float]]:
        """Ranked (doc index, score) for required term groups; ``doc_ids``
        maps doc index -> the index's doc_id (the tie-break key)."""
        score = np.zeros(self.n_docs)
        matched = np.zeros(self.n_docs, np.int64)
        for g in groups:
            best = np.zeros(self.n_docs)
            hit = np.zeros(self.n_docs, bool)
            for t in g:
                d, s = self.postings(t)
                best[d] = np.maximum(best[d], s)
                hit[d] = True
            score += best
            matched += hit
        cand = np.flatnonzero(matched >= min(msm, len(groups)))
        order = np.lexsort((doc_ids[cand], -np.round(score[cand], 9)))
        top = cand[order[:k]]
        return [(int(i), float(score[i])) for i in top]


_SPLIT = re.compile(r"[^a-z0-9]+")


def shingles(text: str, n: int) -> set[str]:
    """Distinct lowercase word n-grams (the dedup operator's definition)."""
    words = [w for w in _SPLIT.split(text.lower()) if w]
    return {" ".join(words[i:i + n]) for i in range(len(words) - n + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a or b else 0.0
