"""Correctness oracle, independent of codecs, kernels and the index.

The tf table of the corpus comes from the package's tokenizer
(``tokenize`` + ``term_frequencies``, one Spark action); everything
after that is recomputed here in NumPy, exhaustively and uncompressed:
BM25 top-k with the double-precision formulas of
``operators.ranked.ranked_query`` (scores rounded to
``bm25.ROUND_DECIMALS`` before ranking, ties by ascending doc id) and
conjunctive match counts as ``operators.ranked.boolean_query`` counts
them.  Every query of a checked call is recomputed; a call with any
disagreement counts as one failed operation.
"""

from __future__ import annotations

import math
from collections import Counter

import numpy as np
import pyarrow.parquet as pq

SCORE_TOL = 1e-6  # both sides round scores to bm25.ROUND_DECIMALS (7)


class Reference:
    """Oracle over ``corpus`` (doc_id, text), whose doc ids are
    0..num_docs-1 (empty docs included)."""

    def __init__(self, corpus, num_docs: int):
        from partitioned_ef_ans_spark import tokenizer

        tf = tokenizer.term_frequencies(
            tokenizer.tokenize(corpus, doc_col="doc_id", text_col="text")
        ).toPandas().sort_values(["term", "doc_id"])
        self.total_postings = len(tf)
        self.docs = tf["doc_id"].to_numpy(np.int64)
        self.tfs = tf["tf"].to_numpy(np.float64)
        terms, starts, counts = np.unique(
            tf["term"].to_numpy(), return_index=True, return_counts=True
        )
        self.span = {t: (s, s + c) for t, s, c in zip(terms, starts, counts)}
        self.num_docs = num_docs
        doc_len = np.bincount(self.docs, weights=self.tfs, minlength=num_docs)
        # avg over every doc, zero-length ones included (build_doc_stats)
        self.norm_len = doc_len / (doc_len.sum() / num_docs)

    def postings(self, term: str):
        s, e = self.span.get(term, (0, 0))
        return self.docs[s:e], self.tfs[s:e]

    def top_k(self, terms, k: int, deleted=frozenset()):
        """[(doc_id, score)] by rank: exhaustive BM25 OR over every doc
        holding a query term; ``deleted`` docs are never candidates but
        still count in the corpus statistics (tombstone semantics)."""
        from partitioned_ef_ans_spark.functions.bm25 import (
            B, EPSILON_SCORE, K1, ROUND_DECIMALS,
        )

        acc = np.zeros(self.num_docs)
        hit = np.zeros(self.num_docs, dtype=bool)
        for term, qtf in Counter(terms).items():
            d, f = self.postings(term)
            if not len(d):
                continue  # OOV terms drop out, as in the join on dfs
            df = len(d)
            idf = math.log((self.num_docs - df + 0.5) / (df + 0.5))
            q_weight = qtf * max(EPSILON_SCORE, idf) * (1.0 + K1)
            acc[d] += q_weight * (f / (f + K1 * ((1.0 - B) + B * self.norm_len[d])))
            hit[d] = True
        docs = np.array([d for d in np.flatnonzero(hit) if d not in deleted],
                        dtype=np.int64)
        scores = np.round(acc[docs], ROUND_DECIMALS)
        order = np.lexsort((docs, -scores))[:k]
        return [(int(docs[i]), float(scores[i])) for i in order]

    def and_matches(self, terms) -> int:
        """Docs holding every distinct query term (0 if one is OOV)."""
        match = None
        for term in set(terms):
            d, _f = self.postings(term)
            match = d if match is None else np.intersect1d(match, d)
        return 0 if match is None else len(match)

    def check_ranked(self, calls, k: int, deleted=frozenset()) -> int:
        """``calls``: [(queries of a call, run_ranked rows it returned)].
        Returns the number of calls that disagree."""
        bad = 0
        for queries, rows in calls:
            got = _group(rows)
            if any(not _same_ranking(got.get(qid, []), self.top_k(terms, k, deleted))
                   for qid, terms in queries):
                bad += 1
        return bad

    def check_boolean(self, calls) -> int:
        """Conjunctive match counts of every query of every call."""
        bad = 0
        for queries, rows in calls:
            got = {r["query_id"]: r["matches"] for r in rows}
            if any(got.get(qid, 0) != self.and_matches(terms)
                   for qid, terms in queries):
                bad += 1
        return bad

    def check_build(self, index_dir: str, codec, manifest: dict, rng,
                    n_terms: int = 32) -> int:
        """1 if the index's total_postings differs from the tf table's
        size, or a sampled term's decoded list differs from its tf rows."""
        from partitioned_ef_ans_spark.index.build import decode_lists_segmented

        if manifest["total_postings"] != self.total_postings:
            return 1
        tbl = pq.read_table(f"{index_dir}/index.parquet",
                            columns=["term", "chunk_id", "payload"]).to_pandas()
        terms = rng.sample(sorted(set(tbl["term"])), n_terms)
        sub = tbl[tbl["term"].isin(terms)].sort_values(["term", "chunk_id"])
        decoded = decode_lists_segmented(
            codec, [bytes(p) for p in sub["payload"]], sub["chunk_id"]
        )
        got: dict = {}
        for term, (docs, freqs) in zip(sub["term"], decoded):
            got.setdefault(term, []).extend(zip(docs.tolist(), freqs.tolist()))
        for term in terms:
            d, f = self.postings(term)
            if got.get(term) != list(zip(d.tolist(), f.astype(np.int64).tolist())):
                return 1
        return 0


def _group(rows) -> dict:
    """run_ranked rows -> {query_id: [(doc_id, score) by rank]}."""
    out: dict = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        out.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    return out


def _same_ranking(got, want) -> bool:
    return len(got) == len(want) and all(
        gd == wd and abs(gs - ws) <= SCORE_TOL
        for (gd, gs), (wd, ws) in zip(got, want)
    )
