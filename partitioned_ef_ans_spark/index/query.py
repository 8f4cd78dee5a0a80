"""Query execution over the compressed index.

Architecture: batch query processing is query-parallel — the query set
(small: 500-100k rows, like the reference's TREC sets) broadcast-joins
into the index table so only the referenced posting-list chunks
shuffle (compressed — ~11 bits/posting), then ``applyInPandas`` groups
by query_id and runs the retrieval kernel per query.  Parallelism =
queries; within a kernel everything is NumPy over decoded Arrow
batches.  (The reference processes queries sequentially on one thread,
queries.cpp:101-115; distribution across queries is the Spark-native
generalization.  A second axis — doc-range partitioning of the chunks
with local top-k + merge — composes with this for single-query
latency; top-k is a commutative monoid.)

Operators (queries.hpp):
  ranked_or   — exhaustive union scoring (the oracle, :405-476)
  ranked_and  — conjunctive leapfrog scoring (:324-403)
  wand        — list-max pivoting + next_geq skipping (:203-322)
  maxscore    — essential/non-essential split (:478-587)
  bool_and / bool_or — match counts (:36-134)

Scoring is float32 with the reference's constants by default
(bm25.hpp); ``dtype=float64`` reproduces the relational/DuckDB oracle
arithmetic for the correctness gate.  All modes rank on
(round(score, ROUND_DECIMALS) desc, doc_id asc) at the output
boundary — see operators/ranked.py for why rounding precedes ranking.
"""

from __future__ import annotations

import bisect
import heapq
import os
from collections import Counter
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from partitioned_ef_ans_spark.codecs import blocks
from partitioned_ef_ans_spark.functions import bm25

RESULT_SCHEMA = "query_id long, rank int, doc_id long, score double"
COUNT_SCHEMA = "query_id long, matches long"


class KeepList(np.ndarray):
    """Marker ndarray subclass: the doc filter is an ALLOWLIST ("score
    only these ids" — metadata-filtered retrieval) instead of a
    tombstone set ("score everything but these").  It rides unchanged
    through normalize/broadcast and flips the polarity of
    :func:`tomb_keep`, the single masking funnel every kernel (gather,
    docpart, direct, sharded, latency) already uses — so filtered
    search inherits the deletion plane's guarantees: frozen corpus
    statistics keep surviving scores bit-stable, tau derivation sees
    only allowed docs, and pre-filter maxima stay admissible upper
    bounds over the allowed subset."""


def make_allowlist(ids, tombstones=None) -> "KeepList":
    """Build the allowlist filter for ``ids``, composed with an
    optional tombstone set (a deleted doc never serves even when the
    caller's filter selects it).  An EMPTY allowlist means "keep
    nothing" — encoded as the impossible id -1 so the no-filter
    normalization (None) stays unambiguous."""
    from pyspark.broadcast import Broadcast

    a = np.unique(np.asarray(list(ids) if not hasattr(ids, "dtype") else ids,
                             dtype=np.int64).view(np.ndarray))
    if isinstance(tombstones, Broadcast):
        tombstones = tombstones.value[0]
    if tombstones is not None and not isinstance(tombstones, KeepList):
        t = np.unique(np.asarray(tombstones, dtype=np.int64).view(np.ndarray))
        if len(t):
            a = np.setdiff1d(a, t, assume_unique=True)
    if not len(a):
        a = np.asarray([-1], dtype=np.int64)
    return a.view(KeepList)


def normalize_tombstones(tombstones):
    """Sorted unique int64 filter array + cache-tag suffix, or
    (None, "") when empty.  The tag suffix keys the worker-side weight
    caches so two filter sets over the same index never alias a cached
    slice; allowlists (:class:`KeepList`) keep their polarity and get
    a distinct ``|keep`` tag namespace."""
    import zlib

    if tombstones is None:
        return None, ""
    keep = isinstance(tombstones, KeepList)
    t = np.unique(np.asarray(tombstones, dtype=np.int64).view(np.ndarray))
    if not len(t):
        if not keep:
            return None, ""
        t = np.asarray([-1], dtype=np.int64)  # empty allowlist: keep nothing
    pre = "keep" if keep else "del"
    if keep:
        t = t.view(KeepList)
    return t, f"|{pre}{len(t)}x{zlib.crc32(t.tobytes()):08x}"


def broadcast_tombstones(spark, tombstones):
    """Broadcast form of normalize_tombstones, or None when empty."""
    t, tag = normalize_tombstones(tombstones)
    if t is None:
        return None
    return spark.sparkContext.broadcast((t, tag))


def _as_tomb_bc(spark, tombstones):
    """Public entry points accept raw id collections or an
    already-broadcast tombstone pair (so the giant-query dispatch
    re-uses one broadcast across routed/rest legs)."""
    from pyspark.broadcast import Broadcast

    if tombstones is None or isinstance(tombstones, Broadcast):
        return tombstones
    return broadcast_tombstones(spark, tombstones)


def tomb_keep(docs: np.ndarray, tomb: np.ndarray | None):
    """Bool keep-mask over ``docs`` against the SORTED filter array, or
    None when no element is masked (zero-copy fast path).  Tombstone
    arrays drop members; :class:`KeepList` allowlists drop
    NON-members."""
    if tomb is None or not len(docs):
        return None
    idx = np.searchsorted(tomb, docs)
    hit = np.zeros(len(docs), dtype=bool)
    inb = idx < len(tomb)
    hit[inb] = np.asarray(tomb)[idx[inb]] == docs[inb]
    if isinstance(tomb, KeepList):
        return None if hit.all() else hit
    if not hit.any():
        return None
    return ~hit


def _apply_tomb(lists: dict, norms: dict, tomb, drop_empty: bool = True):
    """Mask deleted docs out of decoded per-term lists (aligned with
    their norm slices).  Terms whose surviving list is empty are
    dropped when ``drop_empty`` (disjunctive kernels never see them;
    conjunctive correctness is preserved by the existing
    ``len(lists) < n_terms`` emptiness checks)."""
    if tomb is None:
        return lists, norms
    for t in list(lists):
        docs, freqs = lists[t]
        keep = tomb_keep(docs, tomb)
        if keep is None:
            continue
        if drop_empty and not keep.any():
            del lists[t]
            del norms[t]
            continue
        lists[t] = (docs[keep], freqs[keep])
        norms[t] = norms[t][keep]
    return lists, norms


def _q_weight(qtf, df, num_docs, dtype):
    if dtype == np.float32:
        return bm25.query_term_weight_np(int(qtf), int(df), int(num_docs))
    idf = np.log((num_docs - df + 0.5) / (df + 0.5))
    return float(qtf) * max(bm25.EPSILON_SCORE, idf) * (1.0 + bm25.K1)


def _doc_weights(freqs, norm_lens, dtype):
    if dtype == np.float32:
        return bm25.doc_term_weight_vec(freqs, norm_lens)
    f = freqs.astype(np.float64)
    nl = norm_lens.astype(np.float64)
    return f / (f + bm25.K1 * ((1.0 - bm25.B) + bm25.B * nl))


class _Enum:
    """Document enumerator over a decoded posting list — the protocol of
    the reference's document_enumerator (next/next_geq/docid/freq with
    value==num_docs as the exhaustion sentinel,
    compact_elias_fano.hpp:140-262).  ``w`` is the list's precomputed
    doc-side weight array (query-independent); per-step scoring is
    ``q_weight * w[pos]`` — scalar math, no allocations in the loop."""

    __slots__ = ("docs", "w", "pos", "n", "sentinel", "q_weight",
                 "max_weight", "cur", "block_ends", "block_ubs", "bj")

    def __init__(self, docs, w, sentinel, q_weight=0.0, max_weight=0.0):
        self.docs = docs.tolist()  # python ints: no np-scalar boxing in the loop
        self.w = w
        self.pos = 0
        self.n = len(docs)
        self.sentinel = sentinel
        self.q_weight = q_weight
        self.max_weight = max_weight
        self.cur = self.docs[0] if self.n else sentinel

    def docid(self) -> int:
        return self.cur

    def weight(self):
        return self.w[self.pos]

    def next(self) -> None:
        self.pos += 1
        self.cur = self.docs[self.pos] if self.pos < self.n else self.sentinel

    def next_geq(self, lower_bound: int) -> None:
        # binary search from the current position (the decoded-array
        # analogue of block-max skipping, block_posting_list.hpp:219-241)
        self.pos = bisect.bisect_left(self.docs, lower_bound, self.pos)
        self.cur = self.docs[self.pos] if self.pos < self.n else self.sentinel


#: worker-global caches: decoded lists and doc-side weights survive
#: across query groups in the same executor python worker (batch query
#: workloads reuse the Zipf-head lists constantly — the reference gets
#: the same effect from its shared mmap).
_LIST_CACHE: dict = {}
_WEIGHT_CACHE: dict = {}
_CACHE_LIMIT = 4096

#: chunk-granularity decode-work counters for the faithful walks,
#: sampled by the latency harness exactly like blockmax's
#: DECODE_COUNTERS: referenced = chunks the walk COULD land in,
#: touched = chunks it actually landed in (decoded or served from the
#: decode cache).  Before these, the harness reported the faithful
#: modes as full-decode (scored_frac pinned at 1.0), which overstated
#: their decode work once the chunk-lazy walks landed.
LAZY_COUNTERS = {"chunks_referenced": 0, "chunks_touched": 0}


class _LazyList:
    """Un-decoded posting list for the faithful DAAT walks: per-chunk
    (cache_key, payload, doc_lens, first_doc, last_doc) rows in
    chunk-id order.  :class:`_LazyEnum` decodes a chunk only when the
    walk actually lands in it — ``next_geq`` jumps over whole chunks
    by their (first_doc, last_doc) metadata, which is the Q12 lazy-
    skip machinery applied at chunk granularity (the EF/block payload
    of a skipped chunk is never touched).  This is what lets BMW's
    deep block skips convert into *decode* savings instead of only
    walk savings."""

    __slots__ = ("rows", "codec", "avg_len", "tomb", "dtype", "ttag")

    def __init__(self, rows, codec, avg_len, tomb, dtype, ttag=""):
        self.rows = rows
        self.codec = codec
        self.avg_len = avg_len
        self.tomb = tomb
        self.dtype = dtype
        self.ttag = ttag


class _LazyEnum:
    """Chunk-lazy document enumerator — the same protocol as
    :class:`_Enum` (docid/next/next_geq/cur/w[pos]), but decode +
    doc-weight computation happen per chunk on first entry.  A chunk
    the walk skips past (``next_geq`` beyond its last_doc) is never
    decoded.  Tombstoned indexes materialize every chunk they land in
    (the mask can empty a chunk, so metadata alone can't position
    ``cur``); unmasked indexes sit 'virtually' at a chunk's first_doc
    until a weight/next access forces the decode."""

    __slots__ = ("rows", "nch", "ci", "docs", "_w", "pos", "sentinel",
                 "q_weight", "max_weight", "cur", "block_ends",
                 "block_ubs", "bj", "codec", "avg_len", "tomb", "dtype",
                 "ttag", "loaded")

    def __init__(self, lazy: _LazyList, sentinel, q_weight=0.0,
                 max_weight=0.0):
        self.rows = lazy.rows
        self.nch = len(lazy.rows)
        self.codec = lazy.codec
        self.avg_len = lazy.avg_len
        self.tomb = lazy.tomb
        self.dtype = lazy.dtype
        self.ttag = lazy.ttag
        self.sentinel = sentinel
        self.q_weight = q_weight
        self.max_weight = max_weight
        self.docs = []
        self._w = None
        self.pos = 0
        self.ci = 0
        self.loaded = False
        self.block_ends = None
        self.block_ubs = None
        LAZY_COUNTERS["chunks_referenced"] += self.nch
        self._advance_chunk(0)

    # kernels read en.w[en.pos] directly; property forces the decode
    @property
    def w(self):
        if not self.loaded:
            self._materialize()
        return self._w

    def docid(self) -> int:
        return self.cur

    def _decode_chunk(self, ci):
        """(docs_list, weights) of chunk ci, tomb-masked; raw decode
        shared through _LIST_CACHE, masked doc weights through
        _WEIGHT_CACHE (ttag-keyed so masked never aliases unmasked)."""
        from partitioned_ef_ans_spark.index.build import (
            decode_lists_segmented,
        )

        key, payload, doc_lens, _fd, _ld = self.rows[ci]
        LAZY_COUNTERS["chunks_touched"] += 1
        pair = _LIST_CACHE.get(key)
        if pair is None:
            pair = decode_lists_segmented(
                self.codec, [bytes(payload)], [key[2]]
            )[0]
            if len(_LIST_CACHE) + 1 > _CACHE_LIMIT:
                _LIST_CACHE.clear()
                _WEIGHT_CACHE.clear()
            _LIST_CACHE[key] = pair
        docs, freqs = pair
        norms = np.asarray(doc_lens, dtype=np.float64) / self.avg_len
        keep = tomb_keep(docs, self.tomb)
        if keep is not None:
            docs, freqs, norms = docs[keep], freqs[keep], norms[keep]
        wkey = (key, self.dtype == np.float32, self.ttag, "lazyw")
        w = _WEIGHT_CACHE.get(wkey)
        if w is None or len(w) != len(docs):
            w = _doc_weights(freqs, norms, self.dtype)
            _WEIGHT_CACHE[wkey] = w
        return docs.tolist(), w

    def _materialize(self):
        docs, w = self._decode_chunk(self.ci)
        self.docs, self._w = docs, w
        self.loaded = True

    def _advance_chunk(self, ci):
        """Position at the first surviving doc of chunk >= ci."""
        while ci < self.nch:
            if self.tomb is None:
                self.ci = ci
                self.loaded = False
                self.pos = 0
                self.cur = int(self.rows[ci][3])  # first_doc metadata
                return
            docs, w = self._decode_chunk(ci)
            if docs:
                self.ci = ci
                self.docs, self._w = docs, w
                self.loaded = True
                self.pos = 0
                self.cur = docs[0]
                return
            ci += 1
        self.ci = self.nch
        self.cur = self.sentinel

    def next(self) -> None:
        if self.ci >= self.nch:
            return
        if not self.loaded:
            self._materialize()
        self.pos += 1
        if self.pos < len(self.docs):
            self.cur = self.docs[self.pos]
        else:
            self._advance_chunk(self.ci + 1)

    def next_geq(self, lower_bound: int) -> None:
        if lower_bound <= self.cur or self.ci >= self.nch:
            return
        ci = self.ci
        # inside the current chunk?
        if lower_bound <= int(self.rows[ci][4]):  # last_doc
            if not self.loaded:
                self._materialize()
            pos = bisect.bisect_left(self.docs, lower_bound, self.pos)
            if pos < len(self.docs):
                self.pos = pos
                self.cur = self.docs[pos]
                return
            ci += 1  # tomb-masked tail
        else:
            ci += 1
        # skip whole chunks by metadata — their payloads never decode
        while ci < self.nch and int(self.rows[ci][4]) < lower_bound:
            ci += 1
        while ci < self.nch:
            if lower_bound <= int(self.rows[ci][3]):  # lands at chunk start
                self._jump_to(ci)
                if self.ci < self.nch:
                    return
                ci = self.nch
                break
            docs, w = self._decode_chunk(ci)
            pos = bisect.bisect_left(docs, lower_bound)
            if pos < len(docs):
                self.ci = ci
                self.docs, self._w = docs, w
                self.loaded = True
                self.pos = pos
                self.cur = docs[pos]
                return
            ci += 1  # fully masked / masked tail: try next chunk
        self.ci = self.nch
        self.cur = self.sentinel

    def _jump_to(self, ci):
        self._advance_chunk(ci)


#: minimum chunk count before a list is served lazily: chunk-skip
#: laziness only pays when there ARE chunks to skip — short lists
#: (the overwhelming Zipf tail) decode faster in one batched call
#: than through per-chunk python plumbing (measured: lazy-everything
#: made the 500q faithful-wand leg 1.29x slower at 4.6M postings
#: while multi-chunk skipping is what fixes p95 at 144.5M)
LAZY_MIN_CHUNKS = int(os.environ.get("PEFA_LAZY_MIN_CHUNKS", "4"))


def _faithful_lists(pdf, codec, avg_len, tomb, dtype, ttag, lazy_ok=True,
                    min_chunks=None):
    """(lists, tws) for the faithful DAAT walks: terms with >=
    ``min_chunks`` (default LAZY_MIN_CHUNKS) chunks become
    :class:`_LazyList` (next_geq skips whole chunks without decoding);
    shorter lists eager-decode in one batched `_decode_group` call
    with their weight arrays in ``tws``.  Callers running kernels in
    Spark workers must capture the threshold DRIVER-side and pass it
    (worker module globals re-read the env at worker import)."""
    if min_chunks is None:
        min_chunks = LAZY_MIN_CHUNKS
    if not lazy_ok:
        LAZY_COUNTERS["chunks_referenced"] += len(pdf)
        LAZY_COUNTERS["chunks_touched"] += len(pdf)
        lists, norms = _decode_group(pdf, codec, avg_len)
        lists, norms = _apply_tomb(lists, norms, tomb)
        tws = (
            _term_weights(lists, norms, dtype, tag=codec.tag + ttag)
            if lists else {}
        )
        return lists, tws
    counts = pdf.groupby("term")["chunk_id"].size()
    big = set(counts[counts >= min_chunks].index)
    lists: dict = {}
    tws: dict = {}
    small_pdf = pdf[~pdf["term"].isin(big)] if big else pdf
    if len(small_pdf):
        # eager (sub-threshold) lists batch-decode every chunk
        LAZY_COUNTERS["chunks_referenced"] += len(small_pdf)
        LAZY_COUNTERS["chunks_touched"] += len(small_pdf)
        sl, norms = _decode_group(small_pdf, codec, avg_len)
        sl, norms = _apply_tomb(sl, norms, tomb)
        if sl:
            tws = _term_weights(sl, norms, dtype, tag=codec.tag + ttag)
            lists.update(sl)
    if big:
        lists.update(_lazy_lists(
            pdf[pdf["term"].isin(big)], codec, avg_len, tomb, dtype, ttag
        ))
    return lists, tws


def _as_enum(lv, tw, sentinel, q_weight, max_weight):
    """Enumerator over either an eager (docs, freqs) pair + its weight
    array, or a :class:`_LazyList` (chunk-lazy decode)."""
    if isinstance(lv, _LazyList):
        return _LazyEnum(lv, sentinel, q_weight=q_weight,
                         max_weight=max_weight)
    return _Enum(lv[0], tw, sentinel, q_weight=q_weight,
                 max_weight=max_weight)


def _lazy_lists(pdf: pd.DataFrame, codec, avg_len, tomb, dtype, ttag=""):
    """{term: _LazyList} over the group's chunk rows — the un-decoded
    twin of :func:`_decode_group` for the faithful DAAT walks."""
    tag = codec.tag
    pdf = pdf.sort_values(["term", "chunk_id"])
    rows_by_term: dict[str, list] = {}
    seen = set()
    for term, cid, n, fd, ld, p, dl in zip(
        pdf["term"], pdf["chunk_id"], pdf["n"], pdf["first_doc"],
        pdf["last_doc"], pdf["payload"], pdf["doc_lens"],
    ):
        key = (tag, term, int(cid), int(n), int(fd), int(ld))
        if key in seen:
            continue
        seen.add(key)
        # payload AND doc_lens stay the raw Arrow cells — bytes() /
        # float64 conversion happen only when the walk lands in the
        # chunk (_decode_chunk); a skipped or cache-hit chunk never
        # pays either copy
        rows_by_term.setdefault(term, []).append(
            (key, p, dl, int(fd), int(ld))
        )
    return {
        t: _LazyList(rows, codec, avg_len, tomb, dtype, ttag)
        for t, rows in rows_by_term.items()
    }


def _decode_group(pdf: pd.DataFrame, codec, avg_len: float):
    """Group rows (term chunks) -> ({term: (doc_ids, freqs)},
    {term: norms}) decoded, chunks concatenated in chunk order; chunk
    payloads cached across groups within the worker (keys carry the
    codec's build tag so two indexes served by one worker never
    alias).  norms = doc_lens / avg_len, computed from the int doc_len
    slices the chunks ship with — no num_docs-sized broadcast
    anywhere, and the division is exact/engine-independent (integer
    sums < 2^53 make avg_len a deterministic double)."""
    tag = codec.tag
    pdf = pdf.sort_values(["term", "chunk_id"])
    out: dict[str, list] = {}
    norms_acc: dict[str, list] = {}
    group_vals: dict = {}
    misses = []
    keys = []
    for term, cid, n, fd, ld, p, dl in zip(
        pdf["term"], pdf["chunk_id"], pdf["n"], pdf["first_doc"],
        pdf["last_doc"], pdf["payload"], pdf["doc_lens"],
    ):
        key = (tag, term, int(cid), int(n), int(fd), int(ld))
        keys.append((term, key))
        norms_acc.setdefault(term, []).append(
            np.asarray(dl, dtype=np.float64) / avg_len
        )
        # pin this group's hits locally: the overflow .clear() below
        # must not evict a chunk another row of THIS group already
        # resolved (KeyError otherwise once a workload's working set
        # exceeds _CACHE_LIMIT within one worker)
        if key not in group_vals:
            hit = _LIST_CACHE.get(key)
            if hit is not None:
                group_vals[key] = hit
            else:
                misses.append((key, bytes(p)))
    if misses:
        from partitioned_ef_ans_spark.index.build import decode_lists_segmented

        # key[2] is the chunk_id — its high bits carry the delta
        # segment, which routes to that segment's own models
        decoded = decode_lists_segmented(
            codec, [p for _, p in misses], [key[2] for key, _ in misses]
        )
        if len(_LIST_CACHE) + len(misses) > _CACHE_LIMIT:
            _LIST_CACHE.clear()
            _WEIGHT_CACHE.clear()
        for (key, _), df_pair in zip(misses, decoded):
            _LIST_CACHE[key] = df_pair
            group_vals[key] = df_pair
    for term, key in keys:
        out.setdefault(term, []).append(group_vals[key])
    lists = {
        t: (
            np.concatenate([d for d, _ in parts]) if len(parts) > 1 else parts[0][0],
            np.concatenate([f for _, f in parts]) if len(parts) > 1 else parts[0][1],
        )
        for t, parts in out.items()
    }
    norms = {
        t: (np.concatenate(parts) if len(parts) > 1 else parts[0])
        for t, parts in norms_acc.items()
    }
    return lists, norms


def _term_weights(
    lists: dict, norms: dict, dtype, tag: str = ""
) -> dict[str, np.ndarray]:
    """Query-independent doc-side weight array per term (cached).
    ``norms`` maps term -> per-posting norm slice aligned with the
    decoded doc_ids."""
    out = {}
    for t, (docs, freqs) in lists.items():
        key = (tag, t, len(docs), int(docs[0]) if len(docs) else -1, dtype == np.float32)
        w = _WEIGHT_CACHE.get(key)
        if w is None or len(w) != len(docs):
            w = _doc_weights(freqs, norms[t], dtype)
            _WEIGHT_CACHE[key] = w
        out[t] = w
    return out


def _topk_rows(scored: list[tuple[float, int]], qid: int, k: int) -> pd.DataFrame:
    """(score, doc) candidates -> top-k rows ranked on rounded score."""
    arr = sorted(
        ((round(s, bm25.ROUND_DECIMALS), d) for s, d in scored),
        key=lambda x: (-x[0], x[1]),
    )[:k]
    return pd.DataFrame(
        {
            "query_id": np.full(len(arr), qid, dtype=np.int64),
            "rank": np.arange(1, len(arr) + 1, dtype=np.int32),
            "doc_id": np.array([d for _, d in arr], dtype=np.int64),
            "score": np.array([s for s, _ in arr], dtype=np.float64),
        }
    )


def _topk_rows_np(scores: np.ndarray, docs: np.ndarray, qid: int, k: int) -> pd.DataFrame:
    """Vectorized round-then-rank top-k over aligned (scores, docs)."""
    n = len(scores)
    if n == 0:
        return _topk_rows([], qid, k)
    s = np.round(scores.astype(np.float64), bm25.ROUND_DECIMALS)
    if n > k:
        kth = np.partition(s, n - k)[n - k]
        sel = np.flatnonzero(s >= kth)  # every potential top-k under doc ties
        s, docs = s[sel], docs[sel]
    order = np.lexsort((docs, -s))[:k]
    return pd.DataFrame(
        {
            "query_id": np.full(len(order), qid, dtype=np.int64),
            "rank": np.arange(1, len(order) + 1, dtype=np.int32),
            "doc_id": docs[order].astype(np.int64),
            "score": s[order],
        }
    )


def _kernel_ranked_or(lists, tws, weights, dtype, qid, k):
    """Exhaustive union scoring, terms processed in sorted order so
    float accumulation order is deterministic (SURVEY.md §7)."""
    terms = sorted(lists)
    all_docs = np.unique(np.concatenate([lists[t][0] for t in terms]))
    scores = np.zeros(len(all_docs), dtype=dtype)
    for t in terms:
        docs, _ = lists[t]
        w = tws[t] * dtype(weights[t])
        idx = np.searchsorted(all_docs, docs)
        scores[idx] += w.astype(dtype)
    return _topk_rows_np(scores, all_docs, qid, k)


def _kernel_ranked_and(lists, tws, weights, dtype, qid, k, n_terms):
    terms = sorted(lists)
    if len(terms) < n_terms:  # some query term has no list at all
        return _topk_rows([], qid, k)
    common = lists[terms[0]][0]
    for t in terms[1:]:
        common = np.intersect1d(common, lists[t][0], assume_unique=True)
    if len(common) == 0:
        return _topk_rows([], qid, k)
    scores = np.zeros(len(common), dtype=dtype)
    for t in terms:
        docs, _ = lists[t]
        pos = np.searchsorted(docs, common)
        w = tws[t][pos] * dtype(weights[t])
        scores += w.astype(dtype)
    return _topk_rows_np(scores, common, qid, k)


def _kernel_taat_pruned(lists, tws, weights, max_weights, dtype, qid, k):
    """Vectorized exact top-k with upper-bound pruning (TAAT MaxScore).

    The WAND/MaxScore zig-zags are pointer-chasing loops — faithful to
    the reference but Python-speed.  This mode gets the same pruning
    power out of pure NumPy: (1) a valid threshold tau = k-th best
    single-term score of the strongest list (single-term scores lower-
    bound final scores); (2) per-doc upper bound = sum of list max
    weights over the lists containing the doc; (3) exact scoring only
    for docs whose upper bound can beat tau (with a safety margin an
    order below ROUND_DECIMALS so round-then-rank selection is
    unaffected).  Results are rank-identical to ranked_or/WAND.
    """
    terms = sorted(lists, key=lambda t: -(float(weights[t]) * float(max_weights[t])))
    t0 = terms[0]
    w1 = (tws[t0] * dtype(weights[t0])).astype(np.float64)
    if len(w1) > k:
        tau = float(np.partition(w1, len(w1) - k)[len(w1) - k]) - 1e-6
    else:
        tau = -np.inf
    union = np.unique(np.concatenate([lists[t][0] for t in terms]))
    ub = np.zeros(len(union), dtype=np.float64)
    for t in terms:
        ub[np.searchsorted(union, lists[t][0])] += float(weights[t]) * float(
            max_weights[t]
        )
    cand = union[ub >= tau]
    if len(cand) == 0:
        return _topk_rows([], qid, k)
    scores = np.zeros(len(cand), dtype=dtype)
    for t in sorted(lists):  # deterministic accumulation order
        docs, _ = lists[t]
        pos = np.searchsorted(cand, docs)
        pos_ok = (pos < len(cand))
        hit = np.zeros(len(docs), dtype=bool)
        hit[pos_ok] = cand[pos[pos_ok]] == docs[pos_ok]
        w = tws[t][hit] * dtype(weights[t])
        scores[pos[hit]] += w.astype(dtype)
    return _topk_rows_np(scores, cand, qid, k)


def _kernel_wand(lists, tws, weights, max_weights, dtype, qid, k, num_docs, extra=10):
    """Faithful WAND (queries.hpp:203-322): enums sorted by docid, pivot
    = first prefix whose sum of max_weights would enter the heap, full
    scoring only on pivot alignment, else next_geq on the farthest-
    behind list.  Collects k+extra then re-ranks on rounded scores so
    the output boundary matches the round-then-rank discipline."""
    kk = k + extra
    enums = [
        _as_enum(
            lists[t],
            tws.get(t) if tws else None,
            num_docs,
            dtype(weights[t]),
            dtype(weights[t]) * dtype(max_weights[t]),
        )
        for t in sorted(lists)
    ]
    heap: list[tuple[float, int]] = []  # (score, -doc): min = worst

    def would_enter(ub: float) -> bool:
        return len(heap) < kk or ub > heap[0][0]

    ordered = sorted(enums, key=lambda e: e.cur)
    while True:
        upper = dtype(0)
        pivot = None
        for i, en in enumerate(ordered):
            if en.cur == num_docs:
                break
            upper = upper + en.max_weight
            if would_enter(float(upper)):
                pivot = i
                break
        if pivot is None:
            break
        pivot_id = ordered[pivot].cur
        if pivot_id == ordered[0].cur:
            score = dtype(0)
            for en in ordered:
                if en.cur != pivot_id:
                    break
                score = score + en.q_weight * en.w[en.pos]
                en.next()
            item = (float(score), -pivot_id)
            if len(heap) < kk:
                heapq.heappush(heap, item)
            elif item > heap[0]:
                heapq.heapreplace(heap, item)
            ordered.sort(key=lambda e: e.cur)
        else:
            nxt = pivot
            while ordered[nxt].cur == pivot_id:
                nxt -= 1
            ordered[nxt].next_geq(pivot_id)
            i = nxt + 1
            while i < len(ordered) and ordered[i].cur < ordered[i - 1].cur:
                ordered[i], ordered[i - 1] = ordered[i - 1], ordered[i]
                i += 1
    return _topk_rows([(s, -d) for s, d in heap], qid, k)


def _kernel_wand_bmw(
    lists, tws, weights, max_weights, blocks_meta, dtype, qid, k, num_docs,
    extra=10,
):
    """Faithful Block-Max WAND (Ding & Suel, SIGIR 2011 — the "true
    BMW" extension the reference leaves on WAND's list-level maxima):
    pivot selection uses LIST maxima exactly like _kernel_wand, then a
    SHALLOW check re-bounds the pivot with the prefix lists' CURRENT
    block maxima; when the block-level bound cannot enter the heap the
    walk skips straight to d' = min(prefix block boundaries)+1 capped
    by the next list's docid (Algorithm 2's candidate rule) without
    scoring anything in between.

    Exactness: every doc in [pivot, d'-1] appears only in the prefix
    lists (d' is capped by ordered[p+1].cur) and lies inside the SAME
    blocks that bounded the pivot, so its score is <= the failed
    shallow bound.  Block bounds are float32-stored — inflated by the
    blockmax module's relative margin so a float64 score can never
    exceed its bound.  Results are rank-identical to ranked_or.

    ``blocks_meta``: {term: (block_ends int64 asc, block_ubs f64)}
    with block_ubs already = inflate(q_weight * block_max_weight).
    """
    kk = k + extra
    enums = []
    for t in sorted(lists):
        en = _as_enum(
            lists[t],
            tws.get(t) if tws else None,
            num_docs,
            dtype(weights[t]),
            dtype(weights[t]) * dtype(max_weights[t]),
        )
        # python-native block meta + a monotone block POINTER: the
        # shallow check runs on every pivot evaluation, so a
        # np.searchsorted + np-scalar boxing there costs more than the
        # skips it buys (measured: BMW 2.3x slower than plain WAND
        # before this).  bj only advances; a (rare) backward lookup
        # falls back to bisect for soundness.
        be, ub = blocks_meta[t]
        en.block_ends = be.tolist() if hasattr(be, "tolist") else list(be)
        en.block_ubs = ub.tolist() if hasattr(ub, "tolist") else list(ub)
        en.bj = 0
        enums.append(en)
    heap: list[tuple[float, int]] = []

    def would_enter(ub: float) -> bool:
        return len(heap) < kk or ub > heap[0][0]

    ordered = sorted(enums, key=lambda e: e.cur)
    while True:
        upper = dtype(0)
        pivot = None
        for i, en in enumerate(ordered):
            if en.cur == num_docs:
                break
            upper = upper + en.max_weight
            if would_enter(float(upper)):
                pivot = i
                break
        if pivot is None:
            break
        pivot_id = ordered[pivot].cur
        # extend the pivot across docid TIES (BMW Algorithm 2; the
        # reference does the same in its pivot walk): every list
        # sitting exactly on pivot_id contributes to that doc, so the
        # shallow bound and the skip cap must include them all — a
        # prefix cut between tied lists would skip a doc whose
        # out-of-prefix contribution the bound never saw
        while pivot + 1 < len(ordered) and ordered[pivot + 1].cur == pivot_id:
            pivot += 1
        # ---- shallow (block-level) check over the prefix: amortized
        # O(1) per list via the monotone block pointer (bisect only on
        # the rare backward lookup), all-python scalars
        bub = 0.0
        min_be = num_docs - 1
        for en in ordered[: pivot + 1]:
            ends = en.block_ends
            n_be = len(ends)
            j = en.bj
            if j and j <= n_be and pivot_id <= ends[j - 1]:
                j = bisect.bisect_left(ends, pivot_id)
            else:
                while j < n_be and ends[j] < pivot_id:
                    j += 1
            en.bj = j
            if j < n_be:
                bub += en.block_ubs[j]
                be = ends[j]
                if be < min_be:
                    min_be = be
        if not would_enter(bub):
            d_skip = min_be + 1
            if pivot + 1 < len(ordered) and ordered[pivot + 1].cur < d_skip:
                d_skip = ordered[pivot + 1].cur
            if d_skip <= pivot_id:
                d_skip = pivot_id + 1
            # advance the strongest prefix list past the dead zone
            en = max(ordered[: pivot + 1], key=lambda e: float(e.max_weight))
            en.next_geq(d_skip)
            ordered.sort(key=lambda e: e.cur)
            continue
        if pivot_id == ordered[0].cur:
            score = dtype(0)
            for en in ordered:
                if en.cur != pivot_id:
                    break
                score = score + en.q_weight * en.w[en.pos]
                en.next()
            item = (float(score), -pivot_id)
            if len(heap) < kk:
                heapq.heappush(heap, item)
            elif item > heap[0]:
                heapq.heapreplace(heap, item)
            ordered.sort(key=lambda e: e.cur)
        else:
            nxt = pivot
            while ordered[nxt].cur == pivot_id:
                nxt -= 1
            ordered[nxt].next_geq(pivot_id)
            i = nxt + 1
            while i < len(ordered) and ordered[i].cur < ordered[i - 1].cur:
                ordered[i], ordered[i - 1] = ordered[i - 1], ordered[i]
                i += 1
    return _topk_rows([(s, -d) for s, d in heap], qid, k)


def _kernel_maxscore(lists, tws, weights, max_weights, dtype, qid, k, num_docs, extra=10):
    """MaxScore (queries.hpp:478-587): lists ordered by max_weight;
    essential lists drive the frontier, non-essential ones are probed
    with next_geq and cut off by the prefix upper bound."""
    kk = k + extra
    enums = sorted(
        (
            _as_enum(
                lists[t],
                tws.get(t) if tws else None,
                num_docs,
                dtype(weights[t]),
                dtype(weights[t]) * dtype(max_weights[t]),
            )
            for t in sorted(lists)
        ),
        key=lambda e: e.max_weight,
    )
    m = len(enums)
    # prefix upper bounds: ub[i] = sum of max_weight of enums[0..i]
    ub = np.cumsum([float(e.max_weight) for e in enums])
    heap: list[tuple[float, int]] = []

    def threshold() -> float:
        return heap[0][0] if len(heap) >= kk else -np.inf

    first_essential = 0
    while first_essential < m and ub[first_essential] <= threshold():
        first_essential += 1
    cur = min((e.cur for e in enums[first_essential:]), default=num_docs)
    while cur < num_docs and first_essential < m:
        score = dtype(0)
        nxt = num_docs
        for en in enums[first_essential:]:
            if en.cur == cur:
                score = score + en.q_weight * en.w[en.pos]
                en.next()
            if en.cur < nxt:
                nxt = en.cur
        # probe non-essential lists best-first while the bound allows
        for i in range(first_essential - 1, -1, -1):
            if float(score) + ub[i] <= threshold():
                break
            en = enums[i]
            en.next_geq(cur)
            if en.cur == cur:
                score = score + en.q_weight * en.w[en.pos]
        item = (float(score), -cur)
        if len(heap) < kk:
            heapq.heappush(heap, item)
        elif item > heap[0]:
            heapq.heapreplace(heap, item)
        while first_essential < m and ub[first_essential] <= threshold():
            first_essential += 1
        cur = nxt
    return _topk_rows([(s, -d) for s, d in heap], qid, k)


def make_ranked_kernel(
    codec_bc, num_docs, avg_len, k, mode, dtype_name="float64", tomb_bc=None
):
    dtype = np.float32 if dtype_name == "float32" else np.float64
    # read DRIVER-side and capture in the closure: python workers'
    # environ is snapshotted at JVM start, so a worker-side read could
    # not be toggled per-run (tests flip these to pin lazy == eager
    # and to force laziness onto small fixtures)
    lazy_ok = os.environ.get("PEFA_LAZY_FAITHFUL", "1") == "1"
    lazy_min = LAZY_MIN_CHUNKS

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(pdf):
            return _topk_rows([], -1, 0)
        qid = int(pdf["query_id"].iloc[0])
        n_terms = int(pdf["n_terms"].iloc[0])
        codec = codec_bc.value
        tomb, ttag = tomb_bc.value if tomb_bc is not None else (None, "")
        if mode in ("blockmax", "maxscore_blockmax"):
            # decode selectively themselves — whole blocks are pruned
            # via block_max_weights before any payload is touched
            from partitioned_ef_ans_spark.index import blockmax as bmx

            fn = (
                bmx.kernel_blockmax
                if mode == "blockmax"
                else bmx.kernel_maxscore_blockmax
            )
            return fn(pdf, codec, num_docs, avg_len, k, dtype, tomb=tomb, ttag=ttag)
        if mode in ("wand", "wand_bmw", "maxscore"):
            # chunk-lazy decode for MULTI-CHUNK lists: the faithful
            # walks' next_geq skips whole chunks via (first_doc,
            # last_doc) metadata without touching their payloads —
            # BMW's deep skips become decode savings, which is what
            # caps its p95 otherwise.  Short lists stay on the
            # batched eager decode (see LAZY_MIN_CHUNKS).
            lists, tws = _faithful_lists(
                pdf, codec, avg_len, tomb, dtype, ttag, lazy_ok=lazy_ok,
                min_chunks=lazy_min,
            )
        else:
            lists, norms = _decode_group(pdf, codec, avg_len)
            lists, norms = _apply_tomb(lists, norms, tomb)
            if not lists:
                return _topk_rows([], qid, k)
            tws = _term_weights(lists, norms, dtype, tag=codec.tag + ttag)
        if not lists:
            return _topk_rows([], qid, k)
        per_term = pdf.drop_duplicates("term").set_index("term")
        weights = {
            t: _q_weight(per_term.loc[t, "qtf"], per_term.loc[t, "df"], num_docs, dtype)
            for t in lists
        }
        if mode == "ranked_or":
            return _kernel_ranked_or(lists, tws, weights, dtype, qid, k)
        if mode == "ranked_and":
            return _kernel_ranked_and(lists, tws, weights, dtype, qid, k, n_terms)
        max_weights = {
            t: float(per_term.loc[t, "max_weight"]) for t in lists
        }
        if dtype == np.float64:
            # stored term bounds are float32 (wand_data.hpp stores
            # float); f64 scores can exceed them by ~1 ulp, and a bound
            # below a true score lets would_enter prune a genuine
            # top-k doc.  Inflate by a relative margin so the bound
            # stays admissible (pruning power loss is negligible).
            max_weights = {
                t: mw * (1.0 + 1e-6) + 1e-12 for t, mw in max_weights.items()
            }
        if mode == "taat":
            return _kernel_taat_pruned(
                lists, tws, weights, max_weights, dtype, qid, k
            )
        # DAAT exhaustion sentinel: must exceed every REAL docID.  The
        # corpus COUNT is only that on dense-id indexes — sparse ids
        # (delta updates, shard/merged docID ranges) have
        # max_id+1 == the codec's encode universe, which can itself be
        # outgrown by delta-segment universes.  Using the count here
        # made the faithful walks terminate before any doc with
        # id >= num_docs (caught by test_sharded skewed-shard serving).
        sentinel = max(int(num_docs), int(codec.num_docs or 0),
                       *(codec.delta_universes or {0: 0}).values())
        if mode == "wand":
            return _kernel_wand(
                lists, tws, weights, max_weights, dtype, qid, k, sentinel
            )
        if mode == "wand_bmw":
            from partitioned_ef_ans_spark.index.blockmax import build_bmw_meta

            # terms=lists: a fully-tombstoned eager (short) list is
            # dropped from lists/weights but its rows are still in
            # pdf — without the restriction weights[t] KeyErrors
            bmeta = build_bmw_meta(pdf, weights, terms=lists)
            return _kernel_wand_bmw(
                lists, tws, weights, max_weights, bmeta, dtype, qid, k,
                sentinel,
            )
        if mode == "maxscore":
            return _kernel_maxscore(
                lists, tws, weights, max_weights, dtype, qid, k, sentinel
            )
        raise ValueError(mode)

    return kernel


def make_bool_kernel(codec_bc, conjunctive, tomb_bc=None):
    def _empty():
        return pd.DataFrame(
            {
                "query_id": np.array([], dtype=np.int64),
                "matches": np.array([], dtype=np.int64),
            }
        )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(pdf):
            return _empty()
        qid = int(pdf["query_id"].iloc[0])
        n_terms = int(pdf["n_terms"].iloc[0])
        # avg_len=1.0: boolean kernels never score, norms are unused
        lists, _ = _decode_group(pdf, codec_bc.value, 1.0)
        if tomb_bc is not None:
            tomb = tomb_bc.value[0]
            for t in list(lists):
                docs, freqs = lists[t]
                keep = tomb_keep(docs, tomb)
                if keep is not None:
                    lists[t] = (docs[keep], freqs[keep])
        if conjunctive:
            if len(lists) < n_terms or any(
                len(v[0]) == 0 for v in lists.values()
            ):
                return _empty()
            # smallest-first intersection (and_query sorts by length,
            # queries.hpp:54-58)
            docsets = sorted((v[0] for v in lists.values()), key=len)
            common = docsets[0]
            for d in docsets[1:]:
                common = np.intersect1d(common, d, assume_unique=True)
            m = len(common)
        else:
            m = len(np.unique(np.concatenate([v[0] for v in lists.values()])))
        if m == 0:
            return _empty()
        return pd.DataFrame(
            {
                "query_id": np.array([qid], dtype=np.int64),
                "matches": np.array([m], dtype=np.int64),
            }
        )

    return kernel


class QueryPlan:
    """A query batch planned on the driver: per query, its term
    multiset (``Counter`` — duplicate terms fold into ``qtf`` and
    ``n_terms`` counts distinct terms, as the reference folds query
    terms, queries.hpp:139-153), plus the frozen term_stats row of every
    referenced in-vocabulary term.

    This is the only query-side planner of the serving paths: the
    gather runners and every doc-partitioned twin take a plan (or plan
    a DataFrame batch into one), and giant-query routing splits the
    plan instead of re-planning.  Query batches are a few KB, and
    every exchange of a Spark-planned query side costs a scheduler
    round trip per serving call; planned here, the only Spark work is
    one filtered term_stats collect, and the plan reaches the index
    join as Arrow-built local relations (``LocalTableScan`` —
    collecting or broadcasting one schedules no scan of its own)."""

    def __init__(self, queries, stats, types):
        self.queries = queries  # [(query_id, Counter{term: qtf})]
        self.stats = stats  # {term: (max_term_weight, df, payload_bytes)}
        self.types = types  # arrow types of (max_term_weight, df)

    def term_filter(self):
        """``term IN (...)`` over the referenced in-vocabulary terms —
        the index scan reads only their chunks."""
        terms = sorted({t for _, c in self.queries for t in c if t in self.stats})
        return F.col("term").isin(terms) if terms else F.lit(False)

    def giant_ids(self, budget_bytes: int | None) -> list[int]:
        """Query ids whose referenced compressed payload (frozen
        term_stats bytes, summed over distinct terms) exceeds
        ``budget_bytes`` (``None`` routes nothing)."""
        if budget_bytes is None:
            return []
        return [
            q for q, c in self.queries
            if sum(self.stats[t][2] or 0 for t in c if t in self.stats)
            > budget_bytes
        ]

    def split(self, ids) -> tuple["QueryPlan", "QueryPlan"]:
        """(queries in ``ids``, the rest) — no re-collect."""
        ids = set(ids)
        return (
            QueryPlan([x for x in self.queries if x[0] in ids], self.stats, self.types),
            QueryPlan([x for x in self.queries if x[0] not in ids], self.stats, self.types),
        )

    def side_frame(self, spark) -> DataFrame:
        """One row per (query, in-vocabulary term): (term, query_id,
        qtf, n_terms, max_weight, term_df) — the gather join's query
        side.  OOV terms have no row but still count in n_terms."""
        rows = [
            {"term": t, "query_id": q, "qtf": f, "n_terms": len(c),
             "max_weight": self.stats[t][0], "term_df": self.stats[t][1]}
            for q, c in self.queries for t, f in c.items() if t in self.stats
        ]
        return spark.createDataFrame(pa.Table.from_pylist(rows, pa.schema([
            ("term", pa.string()), ("query_id", pa.int64()),
            ("qtf", pa.int32()), ("n_terms", pa.int32()),
            ("max_weight", self.types[0]), ("term_df", self.types[1]),
        ])))

    def batched_frame(self, spark) -> DataFrame:
        """One row per in-vocabulary term: (term, qs, df), ``qs`` the
        referencing queries as a ``list<struct<query_id, qtf,
        n_terms>>``."""
        qs: dict = {}
        for q, c in self.queries:
            for t, f in c.items():
                if t in self.stats:
                    qs.setdefault(t, []).append(
                        {"query_id": q, "qtf": f, "n_terms": len(c)}
                    )
        rows = [
            {"term": t, "qs": v, "df": self.stats[t][1]}
            for t, v in sorted(qs.items())
        ]
        q_type = pa.struct([
            ("query_id", pa.int64()), ("qtf", pa.int32()), ("n_terms", pa.int32()),
        ])
        return spark.createDataFrame(pa.Table.from_pylist(rows, pa.schema([
            ("term", pa.string()), ("qs", pa.list_(q_type)), ("df", self.types[1]),
        ])))


def plan_queries(
    queries_df: DataFrame, term_stats_df: DataFrame, distinct: bool = False
) -> QueryPlan:
    """Collect the (query_id, terms) batch once, fold duplicate terms
    per query (``distinct``: boolean ops dedup them first,
    queries.hpp:30-34), and fetch the referenced term_stats rows with
    one filtered collect."""
    from pyspark.sql.pandas.types import to_arrow_type

    per_q: dict[int, Counter] = {}
    for r in queries_df.select("query_id", "terms").collect():
        terms = r["terms"] or ()
        per_q.setdefault(int(r["query_id"]), Counter()).update(
            list(dict.fromkeys(terms)) if distinct else terms
        )
    vocab = sorted({t for c in per_q.values() for t in c if t is not None})
    stats = {}
    if vocab:
        for r in (
            term_stats_df.where(F.col("term").isin(vocab))
            .select("term", "max_term_weight", "df", "payload_bytes")
            .collect()
        ):
            stats[r[0]] = (r[1], r[2], r[3])
    sch = term_stats_df.schema
    types = (
        to_arrow_type(sch["max_term_weight"].dataType),
        to_arrow_type(sch["df"].dataType),
    )
    return QueryPlan(list(per_q.items()), stats, types)


def as_plan(
    queries: "DataFrame | QueryPlan", term_stats_df: DataFrame,
    distinct: bool = False,
) -> QueryPlan:
    """``queries`` itself when it is already planned, else
    :func:`plan_queries` of the (query_id, terms) frame."""
    if isinstance(queries, QueryPlan):
        return queries
    return plan_queries(queries, term_stats_df, distinct)


def codec_broadcast(spark, codec):
    """Per-(context, codec) broadcast memo.  The ANS codec bundle
    pickles at ~11 MB (enc/dec tables); a fresh ``sc.broadcast`` per
    serving call makes every python worker re-fetch and re-unpickle it
    once per call.  Memoizing on the codec object (keyed by the live
    SparkContext) gives every call the SAME broadcast id, so workers
    hit their local broadcast cache.  Excluded from pickling via
    ``IndexCodec.__getstate__``."""
    sc = spark.sparkContext
    memo = getattr(codec, "_pefa_bc", None)
    if memo is not None and memo[0] is sc:
        return memo[1]
    bc = sc.broadcast(codec)
    codec._pefa_bc = (sc, bc)
    return bc


def query_lists_df(
    index_df: DataFrame,
    queries: "DataFrame | QueryPlan",
    term_stats_df: DataFrame,
) -> DataFrame:
    """Join the (broadcast) query term multiset into the index table —
    only referenced chunks survive (the term filter reaches the parquet
    scan).

    ``term_stats_df`` is the build-frozen per-term WAND metadata
    (``max_term_weight``, the reference's m_max_term_weight,
    wand_data.hpp:35-50): the query batch is planned against it on the
    driver (:func:`plan_queries`, or an already-built
    :class:`QueryPlan`), so a serving call's plan is one broadcast
    hash join of a local relation + the gather exchange and a batch
    never scans or aggregates the index itself.
    """
    plan = as_plan(queries, term_stats_df)
    # the chunk-row df is frozen at its SEGMENT's build and goes stale
    # when a term's list spans base + delta segments — every consumer
    # gets the authoritative term-level df (== list length) instead
    return (
        index_df.drop("df")
        .where(plan.term_filter())
        .join(F.broadcast(plan.side_frame(index_df.sparkSession)), "term")
        .withColumnRenamed("term_df", "df")
    )


def batched_query_lists_df(index_df: DataFrame, plan: QueryPlan) -> DataFrame:
    """One row per referenced (term, chunk); the referencing queries
    ride along as a broadcast-joined struct array ``qs`` of
    (query_id, qtf, n_terms), plus the authoritative term-level ``df``.

    The per-(query, term) join of :func:`query_lists_df` replicates a
    term's compressed payload once PER REFERENCING QUERY — a Zipf
    query batch moves Σ_q(referenced bytes) through Arrow and decodes
    head chunks once per query.  This batch twin moves every touched
    chunk exactly once regardless of batch size: the shape the
    doc-partitioned runners use.  ``plan`` is the caller's driver-built
    :class:`QueryPlan`, so no term_stats row is fetched twice.
    """
    return (
        index_df.drop("df")
        .where(plan.term_filter())
        .join(F.broadcast(plan.batched_frame(index_df.sparkSession)), "term")
    )


#: per-TASK compressed-bytes budget for the query-parallel gather: a
#: query whose referenced posting lists exceed this routes to the
#: doc-partitioned path instead of gathering whole lists into one task
#: (a stopword-heavy query over a 100 TB index would otherwise put one
#: giant list in one executor's memory).  Env-tunable; ``None``
#: disables dispatch.
DOCPART_DISPATCH_BUDGET_BYTES = int(
    __import__("os").environ.get("PEFA_DOCPART_BUDGET_BYTES", 256 << 20)
)

#: collapse-probe mode crossover (whole-index compressed payload): at
#: or below this, the exhaustive vectorized ranked_or probe beats the
#: pruned kernel (measured 500q, K=50, float64, local[8]: 2.6 s vs
#: 6.9 s at 4.4 MB / 4.6M postings; tied 5.4 vs 5.1 at 12.7 MB /
#: 13.6M; pruned wins 8.8 vs 7.0 at 33.7 MB / 36.2M and 2.7x at
#: 144.5M).  8 MiB sits below the measured tie so the default leans
#: toward the kernel whose advantage GROWS with scale.
PROBE_EXHAUSTIVE_BUDGET_BYTES = int(
    __import__("os").environ.get("PEFA_PROBE_EXHAUSTIVE_BUDGET_BYTES", 8 << 20)
)


#: bumped by every index mutator (checkpoint._refresh_path) so the
#: frame-attached payload-total memo below can't survive a mutation:
#: a delta update can grow an index past the docpart budget, and a
#: stale sub-budget memo would silently disable giant-query routing
#: for a caller that (correctly, post-refreshByPath) keeps serving
#: from the same term_stats frame.
_PAYLOAD_EPOCH = 0


def bump_payload_epoch() -> None:
    global _PAYLOAD_EPOCH
    _PAYLOAD_EPOCH += 1


def _total_payload_bytes(term_stats_df: DataFrame) -> int:
    """Whole-index compressed payload total, memoized ON the frame
    object: callers (gate/bench/CLI/serving loops) reuse one cached
    term_stats frame across a whole batch run, so the scalar is
    computed once per loaded index, not once per query batch.  The
    memo is epoch-keyed: any mutator invalidates it (see
    :func:`bump_payload_epoch`), so post-mutation calls re-measure."""
    memo = getattr(term_stats_df, "_pefa_total_payload_bytes", None)
    if memo is not None and memo[0] == _PAYLOAD_EPOCH:
        return memo[1]
    row = term_stats_df.agg(
        F.sum("payload_bytes").alias("b")
    ).collect()[0]
    tot = int(row["b"] or 0)
    term_stats_df._pefa_total_payload_bytes = (_PAYLOAD_EPOCH, tot)
    return tot


def giant_query_ids(
    queries_df: DataFrame,
    term_stats_df: DataFrame,
    budget_bytes: int,
) -> list[int]:
    """Query ids whose total referenced compressed payload (from the
    build-frozen term_stats — no index scan) exceeds ``budget_bytes``:
    a driver-side byte sum over the planned batch."""
    return plan_queries(queries_df, term_stats_df).giant_ids(budget_bytes)


def run_ranked(
    spark,
    index_df: DataFrame,
    queries_df: DataFrame,
    codec,
    num_docs: int,
    avg_len: float,
    mode: str = "blockmax",
    k: int = 10,
    dtype: str = "float64",
    *,
    term_stats_df: DataFrame,
    docpart_budget_bytes: int | None = DOCPART_DISPATCH_BUDGET_BYTES,
    tombstones=None,
    allowlist=None,
) -> DataFrame:
    """All modes are rank-identical; ``blockmax`` (vectorized block-max
    WAND, index/blockmax.py) is the default/production path — 3-4x the
    faithful per-posting ``wand``/``maxscore`` walks, which stay
    selectable as reference-fidelity modes.  ``mode="auto"`` picks by
    the measured size crossover: the exhaustive vectorized
    ``ranked_or`` at or below ``PROBE_EXHAUSTIVE_BUDGET_BYTES`` of
    compressed payload (nothing to prune on a small index),
    ``maxscore_blockmax`` past it (pruning power grows with scale).
    EF-family codecs have no intra-list blocks, so the
    block-selective modes fall back to the vectorized ``taat`` pruned
    kernel (same pruning power, whole-list decode).

    Giant queries auto-route to the doc-partitioned twin: when the
    frozen term_stats say a query's referenced lists exceed
    ``docpart_budget_bytes`` compressed, that query runs through
    ``run_blockmax_docpartitioned`` (block-family codecs), the
    exhaustive ``run_ranked_docpartitioned`` (EF families), or the
    conjunctive ``run_ranked_and_docpartitioned`` (ranked_and) — no
    task ever gathers more than the budget, at any index scale.  Routed
    queries score in the docpart double-rounded discipline, which is
    rank-identical to every gather mode (scores round to
    bm25.ROUND_DECIMALS before ranking on both paths)."""
    from partitioned_ef_ans_spark.session import ship_package

    ship_package(spark)
    if allowlist is not None:
        # filtered retrieval: keep-mode mask, composed with tombstones
        # (a deleted doc never serves even when the filter selects it)
        tombstones = make_allowlist(allowlist, tombstones)
    tomb_bc = _as_tomb_bc(spark, tombstones)
    if mode == "auto":
        # measured crossover dispatch (PROBE_EXHAUSTIVE_BUDGET_BYTES):
        # a small index has nothing for the pruned kernels to prune
        # (scored_frac ~0.87 at 4.6M postings) and the exhaustive
        # vectorized kernel wins 2.6x; past the crossover the
        # block-selective kernel's advantage grows with scale (2.7x
        # at 144.5M).  The memoized payload scalar makes this free.
        mode = "maxscore_blockmax"
        if _total_payload_bytes(term_stats_df) <= PROBE_EXHAUSTIVE_BUDGET_BYTES:
            mode = "ranked_or"
    if codec.docs is None and mode in ("blockmax", "maxscore_blockmax"):
        mode = "taat"
    if codec.docs is None and mode == "wand_bmw":
        mode = "wand"  # EF families carry no intra-list block maxima

    # plan the batch once; giant-query routing splits the planned rows
    qside, routed = plan_queries(queries_df, term_stats_df), None
    big = qside.giant_ids(docpart_budget_bytes)
    if big:
        from partitioned_ef_ans_spark.index import blockmax as bmx

        big_plan, qside = qside.split(big)
        if mode == "ranked_and":
            # conjunctive twin: per-chunk partials + distinct-term
            # match-count filter (never the union-scoring paths)
            routed = run_ranked_and_docpartitioned(
                spark, index_df, big_plan, codec, num_docs, avg_len, k=k,
                term_stats_df=term_stats_df, tomb_bc=tomb_bc,
            )
        elif mode in ("blockmax", "maxscore_blockmax") and codec.docs is not None:
            routed = bmx.run_blockmax_docpartitioned(
                spark, index_df, big_plan, codec, num_docs, avg_len,
                term_stats_df, k=k, tomb_bc=tomb_bc,
            )
        else:
            routed = run_ranked_docpartitioned(
                spark, index_df, big_plan, codec, num_docs, avg_len, k=k,
                term_stats_df=term_stats_df, tomb_bc=tomb_bc,
            )

    codec_bc = codec_broadcast(spark, codec)
    joined = query_lists_df(index_df, qside, term_stats_df)
    kernel = make_ranked_kernel(
        codec_bc, num_docs, avg_len, k, mode, dtype, tomb_bc=tomb_bc
    )
    out = joined.groupBy("query_id").applyInPandas(kernel, schema=RESULT_SCHEMA)
    return out if routed is None else out.unionByName(routed)


def ranked_scores_docpartitioned(
    spark,
    index_df: DataFrame,
    queries: "DataFrame | QueryPlan",
    codec,
    num_docs: int,
    avg_len: float,
    *,
    term_stats_df: DataFrame,
    tomb_bc=None,
) -> DataFrame:
    """Document-partitioned exhaustive BM25 (the second parallelism
    axis) as the full per-(query, doc) scored relation — the substrate
    ``run_ranked_docpartitioned`` tops-k and ``run_ranked_collapsed``
    group-collapses.

    Each index CHUNK (a doc-range slice of one term's list) computes
    its docs' partial scores locally — no per-query gathering of whole
    posting lists, so a single query scales across every partition of
    a 100 TB index.  Each referenced chunk flows through the plan and
    decodes ONCE for the whole query batch (batched_query_lists_df);
    the query-independent doc-side weights are computed once and each
    referencing query's partials are that vector scaled by its qw —
    the identical doubles the per-query form produced.  Partials are
    hash-aggregated per (query, doc) (map-side combined) and the
    global top-k is a window over the few surviving rows.  Scores are
    double and rounded before ranking, so results are rank-identical
    to ranked_or/WAND/taat under the gate's comparison discipline
    (per-doc sums are order-independent up to the rounding quantum).
    """
    from partitioned_ef_ans_spark.session import ship_package
    from pyspark.sql.window import Window

    ship_package(spark)
    codec_bc = codec_broadcast(spark, codec)
    joined = batched_query_lists_df(index_df, as_plan(queries, term_stats_df))

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from partitioned_ef_ans_spark.index.build import decode_lists_segmented

        codec_l = codec_bc.value
        tomb = tomb_bc.value[0] if tomb_bc is not None else None
        for pdf in batches:
            if not len(pdf):
                continue
            decoded = decode_lists_segmented(
                codec_l, [bytes(p) for p in pdf["payload"]], pdf["chunk_id"]
            )
            qids, docs_out, scores = [], [], []
            for (qs, df_, dl), (docs, freqs) in zip(
                zip(pdf["qs"], pdf["df"], pdf["doc_lens"]), decoded
            ):
                nlv = np.asarray(dl, dtype=np.float64) / avg_len
                keep = tomb_keep(docs, tomb)
                if keep is not None:
                    docs, freqs, nlv = docs[keep], freqs[keep], nlv[keep]
                    if not len(docs):
                        continue
                dw = _doc_weights(freqs, nlv, np.float64)
                # vectorized over the referencing queries (outer
                # product instead of a per-query python loop — a head
                # chunk is referenced by most of a Zipf batch)
                qw_arr = np.array(
                    [
                        _q_weight(int(s["qtf"]), df_, num_docs, np.float64)
                        for s in qs
                    ],
                    dtype=np.float64,
                )
                qid_arr = np.array(
                    [int(s["query_id"]) for s in qs], dtype=np.int64
                )
                qids.append(np.repeat(qid_arr, len(docs)))
                docs_out.append(np.tile(docs, len(qs)))
                scores.append((qw_arr[:, None] * dw[None, :]).ravel())
            if not qids:
                continue
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(qids),
                    "doc_id": np.concatenate(docs_out),
                    "partial": np.concatenate(scores),
                }
            )

    return (
        joined.select("qs", "df", "chunk_id", "payload", "doc_lens")
        .mapInPandas(partials, schema="query_id long, doc_id long, partial double")
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum("partial"), bm25.ROUND_DECIMALS).alias("score"))
    )


def topk_per_query(per_doc: DataFrame, k: int) -> DataFrame:
    """Exact distributed top-k of a ``(query_id, doc_id, score)``
    relation: a per-PARTITION partial top-k (mapInPandas — zero extra
    shuffle, the rows are reduced where they already sit) cuts the
    relation to at most k rows per (query, partition) before the
    global window.  The docpart runners' scored relations are the
    whole match set (27k+ docs per query measured at 4.6M postings,
    growing with the index), and shipping that through the window's
    shuffle+sort was the dominant docpart cost; any global top-k row
    is inside its own partition's top-k under the same (score DESC,
    doc_id ASC) order, so the union the window sees loses nothing."""
    k = int(k)
    from pyspark.sql.window import Window

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        parts = [p for p in batches if len(p)]
        if not parts:
            return
        allp = parts[0] if len(parts) == 1 else pd.concat(
            parts, ignore_index=True
        )
        order = np.lexsort(
            (
                allp["doc_id"].to_numpy(),
                -allp["score"].to_numpy(),
                allp["query_id"].to_numpy(),
            )
        )
        allp = allp.iloc[order]
        yield allp.groupby("query_id", sort=False).head(k)

    pruned = per_doc.select("query_id", "doc_id", "score").mapInPandas(
        partial, schema="query_id long, doc_id long, score double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        pruned.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("int").alias("rank"), "doc_id", "score")
    )


def run_ranked_docpartitioned(
    spark,
    index_df: DataFrame,
    queries: "DataFrame | QueryPlan",
    codec,
    num_docs: int,
    avg_len: float,
    k: int = 10,
    *,
    term_stats_df: DataFrame,
    tomb_bc=None,
) -> DataFrame:
    """Global top-k over ``ranked_scores_docpartitioned`` (partial
    per-partition top-k, then the exact window) — rank-identical to
    ranked_or/WAND/taat under the gate's comparison discipline
    (rounded scores, doc_id tie-break)."""
    per_doc = ranked_scores_docpartitioned(
        spark, index_df, queries, codec, num_docs, avg_len,
        term_stats_df=term_stats_df, tomb_bc=tomb_bc,
    )
    return topk_per_query(per_doc, k)


def _collapse_scored(per_doc: DataFrame, groups_df: DataFrame, k: int) -> DataFrame:
    """Shared collapse tail: (query_id, doc_id, score) + doc→grp map →
    best-per-(query, grp) → global top-k.  A doc with no group row
    stays retrievable as its own singleton group (Lucene-collapse
    semantics for a missing field) rather than silently vanishing."""
    from pyspark.sql.window import Window

    grouped = per_doc.join(groups_df, "doc_id", "left").withColumn(
        "grp",
        F.coalesce(F.col("grp"), F.concat(F.lit("\x00doc:"), F.col("doc_id"))),
    )
    # best-per-(query, group) as a HASH AGGREGATE (map-side partial
    # combine), not a window: the scored relation is the big side here
    # (exhaustive fallback = every matching doc of the failing
    # queries), and a window pays a full shuffle + sort of it, while
    # max(struct) reduces it to one row per (query, grp) before the
    # exchange.  max over the lexicographic struct (score, -doc_id)
    # is exactly the window's (score DESC, doc_id ASC) first row —
    # deterministic because doc_id is unique within the group.
    best = (
        grouped.groupBy("query_id", "grp")
        .agg(
            F.max(
                F.struct(
                    F.col("score"), (-F.col("doc_id")).alias("_nd"),
                    F.col("doc_id"),
                )
            ).alias("_b")
        )
        .select(
            "query_id",
            F.col("_b.doc_id").alias("doc_id"),
            F.col("_b.score").alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        best.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("int").alias("rank"), "doc_id", "score")
    )


def run_ranked_collapsed(
    spark,
    index_df: DataFrame,
    queries_df: DataFrame,
    codec,
    num_docs: int,
    avg_len: float,
    groups_df: DataFrame,
    k: int = 10,
    *,
    term_stats_df: DataFrame,
    tomb_bc=None,
    tombstones=None,
    allowlist=None,
    prune: bool = True,
    probe_mode: str | None = None,
    k_probe: int | None = None,
    max_probe: int | None = None,
) -> DataFrame:
    """Field-collapsed (diversified) top-k: at most ONE result per
    (query, group) — the SERP host-collapse every search engine ships
    and the reference has no analogue of.  ``groups_df`` maps
    ``doc_id -> grp`` (e.g. the documents table's ``source`` column).

    Two exact execution paths:

    - ``prune=False`` — the doc-partitioned EXHAUSTIVE substrate:
      per-chunk partials → hash-agg per (query, doc) → join the
      doc-keyed group map → per-(query, grp) best via window →
      global top-k.  No step gathers a whole query's lists; shuffle
      keys are (query,doc) then (query,grp) — both fine-grained at
      100 TB.  Always exact, pays the full scored relation.

    - ``prune=True`` (default) — PROBE + CERTIFICATE + FALLBACK:
      run the certified pruned top-``K`` kernel (``probe_mode``,
      ``K = k_probe or 5*k``), collapse the probe rows, and accept a
      query's collapsed top-k iff the exactness certificate holds:
      either the probe returned ALL matching docs (< K rows), or the
      probe yields ≥ k distinct groups AND the k-th group-best score
      is STRICTLY greater than the probe's k-probe-th plain score
      ``s_K``.  Certificate soundness: every doc outside the probe
      scores ≤ s_K (pruned-kernel guarantee), so (a) any group whose
      true best beats s_K has that best doc inside the probe (scores
      are identical across substrates — rounded doubles, gate-pinned),
      and (b) an unseen group's best ≤ s_K < b_k can never displace
      the k selected groups nor change their best docs.  Queries that
      fail the certificate (deep group duplication, k-th-boundary
      score ties) pay the exhaustive substrate — as ONE batch, so the
      cost is the union of their referenced lists, not per-query.

      ``probe_mode=None`` auto-dispatches on the memoized whole-index
      payload total (the same scalar giant-query routing reads): an
      index at or below ``PROBE_EXHAUSTIVE_BUDGET_BYTES`` (8 MiB
      payload, the measured crossover region) probes with the
      exhaustive vectorized ``ranked_or`` — 2.6x faster than the
      pruned kernel at 4.6M postings (scored_frac ~0.87: nothing to
      prune, pure Python kernel overhead) — while a larger index
      keeps the block-selective ``maxscore_blockmax``, whose pruning
      advantage grows with scale (tied at 13.6M postings, 1.27x at
      36.2M, 2.7x at 144.5M).  Probe results are mode-invariant
      (rank- and value-identical), so the certificate and output
      don't depend on the choice.

      ``max_probe > K`` opts into a 10×-K escalation ladder for
      failing queries before the exhaustive tail.  MEASURED OFF by
      default: on the default bench every failure was a
      ``b_k <= s_K`` boundary tie, a 10× deeper probe resolved only
      14/49 of them (quantized-score ties persist at depth), and the
      exhaustive batch cost is flat in query count (7.22 s for 35
      queries vs 7.28 s for 49 — Zipf-head chunk decode dominates),
      so the extra probe level cost ~4.3 s to save ~0.06 s.  The
      ladder only pays when deeper probes clear (nearly) ALL failing
      queries; it terminates on its own because a probe that exceeds
      a query's match count is exhausted and the first certificate
      arm accepts it.  Results are bit-identical to ``prune=False``
      on every path.
    """
    if allowlist is not None:
        tombstones = make_allowlist(allowlist, tombstones)
    if tomb_bc is None and tombstones is not None:
        tomb_bc = _as_tomb_bc(spark, tombstones)
    if not prune:
        per_doc = ranked_scores_docpartitioned(
            spark, index_df, queries_df, codec, num_docs, avg_len,
            term_stats_df=term_stats_df, tomb_bc=tomb_bc,
        )
        return _collapse_scored(per_doc, groups_df, k)

    from pyspark.sql.window import Window

    if probe_mode is None:
        probe_mode = "auto"  # run_ranked's measured-crossover dispatch
    K = max(int(k_probe) if k_probe else 5 * int(k), int(k))
    cap = max(int(max_probe) if max_probe is not None else K, K)
    remaining = queries_df
    accepted: list[DataFrame] = []
    while True:
        # pass the Broadcast itself — run_ranked's _as_tomb_bc reuses
        # it, so a serving loop doesn't re-sort/re-crc/re-broadcast
        # the whole mask array on every pruned collapse call
        s = run_ranked(
            spark, index_df, remaining, codec, num_docs, avg_len,
            mode=probe_mode, k=K, dtype="float64",
            term_stats_df=term_stats_df, tombstones=tomb_bc,
        ).localCheckpoint(eager=True)

        # group lookup for the probe rows only: inner-join the BIG
        # doc→grp map against the broadcast probe (a left outer can't
        # broadcast its preserved side), then re-attach probe rows
        # with no group row as singleton groups via a broadcast
        # anti-join.  At cluster scale this is a metadata-table scan
        # with a broadcast semi-join filter — partition-prunable when
        # the map is bucketed by doc_id.
        matched = groups_df.join(
            F.broadcast(s.select("query_id", "doc_id", "score")), "doc_id"
        ).select("query_id", "doc_id", "score", "grp")
        unmatched = s.join(
            F.broadcast(matched.select("query_id", "doc_id")),
            ["query_id", "doc_id"],
            "left_anti",
        ).select(
            "query_id", "doc_id", "score",
            F.concat(F.lit("\x00doc:"), F.col("doc_id")).alias("grp"),
        )
        sg = matched.unionByName(unmatched).withColumn(
            "grp",
            F.coalesce(
                F.col("grp"), F.concat(F.lit("\x00doc:"), F.col("doc_id"))
            ),
        )
        wq = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        # best-per-(query, group) via hash aggregate (see
        # _collapse_scored: max over (score, -doc_id) == the window's
        # first row, minus a shuffle+sort of the probe relation)
        bestr = (
            sg.groupBy("query_id", "grp")
            .agg(
                F.max(
                    F.struct(
                        F.col("score"), (-F.col("doc_id")).alias("_nd"),
                        F.col("doc_id"),
                    )
                ).alias("_b")
            )
            .select(
                "query_id",
                F.col("_b.doc_id").alias("doc_id"),
                F.col("_b.score").alias("score"),
            )
            .withColumn("g_rank", F.row_number().over(wq))
        ).localCheckpoint(eager=True)

        # per-query certificate (tiny: one row per query, collected)
        probe_stats = s.groupBy("query_id").agg(
            F.count(F.lit(1)).alias("n_probe"), F.min("score").alias("s_K")
        )
        grp_stats = bestr.groupBy("query_id").agg(
            F.count(F.lit(1)).alias("n_groups"),
            F.max(F.when(F.col("g_rank") == k, F.col("score"))).alias("b_k"),
        )
        cert = {
            r["query_id"]: (
                r["n_probe"] < K
                or (
                    r["n_groups"] >= k
                    and r["b_k"] is not None
                    and r["b_k"] > r["s_K"]
                )
            )
            for r in probe_stats.join(grp_stats, "query_id").collect()
        }
        failing = sorted(q for q, ok in cert.items() if not ok)
        fast = bestr.select(
            "query_id",
            F.col("g_rank").cast("int").alias("rank"),
            "doc_id",
            "score",
        ).where(F.col("rank") <= k)
        if not failing:
            accepted.append(fast)
            remaining = None
            break
        accepted.append(fast.where(~F.col("query_id").isin(failing)))
        remaining = remaining.where(F.col("query_id").isin(failing))
        if K >= cap:
            break
        K = min(K * 10, cap)
    if remaining is not None:
        per_doc = ranked_scores_docpartitioned(
            spark, index_df, remaining, codec, num_docs, avg_len,
            term_stats_df=term_stats_df, tomb_bc=tomb_bc,
        )
        accepted.append(_collapse_scored(per_doc, groups_df, k))
    out = accepted[0]
    for part in accepted[1:]:
        out = out.unionByName(part)
    return out


def run_ranked_and_docpartitioned(
    spark,
    index_df: DataFrame,
    queries: "DataFrame | QueryPlan",
    codec,
    num_docs: int,
    avg_len: float,
    k: int = 10,
    *,
    term_stats_df: DataFrame,
    tomb_bc=None,
) -> DataFrame:
    """Document-partitioned CONJUNCTIVE BM25 — the ranked_and twin of
    run_ranked_docpartitioned: per-chunk partials carry which term
    contributed, the (query, doc) aggregation keeps only docs matched
    by EVERY query term (count(distinct term) == n_terms — the
    leapfrog intersection's result set, computed relationally), and
    the global top-k is a window over the survivors.  Rank-identical
    to ranked_and under the round-then-rank discipline.  Chunks flow
    once per batch (batched_query_lists_df), not once per query."""
    from partitioned_ef_ans_spark.session import ship_package
    from pyspark.sql.window import Window

    ship_package(spark)
    codec_bc = codec_broadcast(spark, codec)
    joined = batched_query_lists_df(index_df, as_plan(queries, term_stats_df))

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from partitioned_ef_ans_spark.index.build import decode_lists_segmented

        codec_l = codec_bc.value
        tomb = tomb_bc.value[0] if tomb_bc is not None else None
        for pdf in batches:
            if not len(pdf):
                continue
            decoded = decode_lists_segmented(
                codec_l, [bytes(p) for p in pdf["payload"]], pdf["chunk_id"]
            )
            qids, terms_out, nts, docs_out, scores = [], [], [], [], []
            for (term, qs, df_, dl), (docs, freqs) in zip(
                zip(pdf["term"], pdf["qs"], pdf["df"], pdf["doc_lens"]),
                decoded,
            ):
                nlv = np.asarray(dl, dtype=np.float64) / avg_len
                keep = tomb_keep(docs, tomb)
                if keep is not None:
                    docs, freqs, nlv = docs[keep], freqs[keep], nlv[keep]
                    if not len(docs):
                        continue
                dw = _doc_weights(freqs, nlv, np.float64)
                for s in qs:
                    qw = _q_weight(int(s["qtf"]), df_, num_docs, np.float64)
                    qids.append(
                        np.full(len(docs), int(s["query_id"]), dtype=np.int64)
                    )
                    terms_out.extend([term] * len(docs))
                    nts.append(
                        np.full(len(docs), int(s["n_terms"]), dtype=np.int64)
                    )
                    docs_out.append(docs)
                    scores.append(dw * qw)
            if not docs_out:
                continue
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(qids),
                    "term": terms_out,
                    "n_terms": np.concatenate(nts),
                    "doc_id": np.concatenate(docs_out),
                    "partial": np.concatenate(scores),
                }
            )

    per_doc = (
        joined.select(
            "term", "qs", "df", "chunk_id", "payload", "doc_lens",
        )
        .mapInPandas(
            partials,
            schema="query_id long, term string, n_terms long, doc_id long, partial double",
        )
        .groupBy("query_id", "doc_id")
        .agg(
            F.round(F.sum("partial"), bm25.ROUND_DECIMALS).alias("score"),
            F.count_distinct("term").alias("nt_hit"),
            F.first("n_terms").alias("n_terms"),
        )
        # conjunctive: drop docs missing ANY query term (the plan
        # folded duplicate query terms into qtf, so n_terms counts
        # DISTINCT terms, OOV ones included)
        .where(F.col("nt_hit") == F.col("n_terms"))
    )
    return topk_per_query(per_doc, k)


def run_boolean_docpartitioned(
    spark,
    index_df: DataFrame,
    queries: "DataFrame | QueryPlan",
    codec,
    conjunctive: bool,
    *,
    term_stats_df: DataFrame,
    tomb_bc=None,
) -> DataFrame:
    """Document-partitioned boolean match counting — the gather-free
    twin of run_boolean for giant queries: the distributed match set
    from :func:`boolean_matches_docpartitioned` collapses to per-query
    counts.  Zero-match queries emit no row, exactly like the kernel
    path."""
    matches = boolean_matches_docpartitioned(
        spark, index_df, queries, codec, conjunctive,
        term_stats_df=term_stats_df, tomb_bc=tomb_bc,
    )
    return matches.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("matches")
    )


def boolean_match_rows_docpartitioned(
    spark,
    index_df: DataFrame,
    queries: "DataFrame | QueryPlan",
    codec,
    *,
    term_stats_df: DataFrame,
    tomb_bc=None,
) -> DataFrame:
    """The raw per-term match relation ``(query_id, term, n_terms,
    doc_id)`` — one row per (query, term, matching doc), never
    gathered: every chunk emits its matches locally, and chunks decode
    once per batch (batched_query_lists_df), not once per referencing
    query.  ``n_terms`` is the query's FULL distinct-term count (terms
    missing from the index still count — conjunctive consumers need
    that to refuse partial matches, overlap consumers to divide by the
    true denominator).  Consumers aggregate relationally: distinct
    docs for OR, count_distinct(term)==n_terms for AND,
    count_distinct(term)/n_terms for n-gram overlap."""
    from partitioned_ef_ans_spark.session import ship_package

    ship_package(spark)
    codec_bc = codec_broadcast(spark, codec)
    joined = batched_query_lists_df(
        index_df, as_plan(queries, term_stats_df, distinct=True)
    )

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from partitioned_ef_ans_spark.index.build import decode_lists_segmented

        codec_l = codec_bc.value
        tomb = tomb_bc.value[0] if tomb_bc is not None else None
        for pdf in batches:
            if not len(pdf):
                continue
            decoded = decode_lists_segmented(
                codec_l, [bytes(p) for p in pdf["payload"]], pdf["chunk_id"]
            )
            qids, terms_out, nts, docs_out = [], [], [], []
            for (term, qs), (docs, _f) in zip(
                zip(pdf["term"], pdf["qs"]), decoded
            ):
                keep = tomb_keep(docs, tomb)
                if keep is not None:
                    docs = docs[keep]
                    if not len(docs):
                        continue
                for s in qs:
                    qids.append(
                        np.full(len(docs), int(s["query_id"]), dtype=np.int64)
                    )
                    terms_out.extend([term] * len(docs))
                    nts.append(
                        np.full(len(docs), int(s["n_terms"]), dtype=np.int64)
                    )
                    docs_out.append(docs)
            if not docs_out:
                continue
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(qids),
                    "term": terms_out,
                    "n_terms": np.concatenate(nts),
                    "doc_id": np.concatenate(docs_out),
                }
            )

    # doc_lens/scoring columns pruned: the exchange carries ids only
    return joined.select(
        "term", "qs", "chunk_id", "payload"
    ).mapInPandas(
        partials,
        schema="query_id long, term string, n_terms long, doc_id long",
    )


def boolean_matches_docpartitioned(
    spark,
    index_df: DataFrame,
    queries: "DataFrame | QueryPlan",
    codec,
    conjunctive: bool,
    *,
    term_stats_df: DataFrame,
    tomb_bc=None,
) -> DataFrame:
    """The DISTRIBUTED boolean match set ``(query_id, doc_id)`` — one
    row per matching doc, never gathered: membership is a relational
    aggregation over boolean_match_rows_docpartitioned (distinct docs
    for OR; docs hit by every distinct query term for AND).  This is
    the substrate count/facet/export consumers aggregate further."""
    rows = boolean_match_rows_docpartitioned(
        spark, index_df, queries, codec,
        term_stats_df=term_stats_df, tomb_bc=tomb_bc,
    )
    if conjunctive:
        return (
            rows.groupBy("query_id", "doc_id")
            .agg(
                F.count_distinct("term").alias("nt_hit"),
                F.first("n_terms").alias("n_terms"),
            )
            .where(F.col("nt_hit") == F.col("n_terms"))
            .select("query_id", "doc_id")
        )
    return rows.select("query_id", "doc_id").distinct()


def run_boolean(
    spark,
    index_df: DataFrame,
    queries_df: DataFrame,
    codec,
    conjunctive: bool,
    *,
    term_stats_df: DataFrame,
    docpart_budget_bytes: int | None = DOCPART_DISPATCH_BUDGET_BYTES,
    tombstones=None,
    allowlist=None,
) -> DataFrame:
    """Boolean match counts; giant queries auto-route to the
    doc-partitioned twin exactly like run_ranked (the match count is a
    commutative aggregate, so the split is seamless).  ``tombstones``
    masks deleted docs out of the match sets; ``allowlist`` restricts
    them to the given ids (see run_ranked)."""
    from partitioned_ef_ans_spark.session import ship_package

    ship_package(spark)
    codec_bc = codec_broadcast(spark, codec)
    if allowlist is not None:
        tombstones = make_allowlist(allowlist, tombstones)
    tomb_bc = _as_tomb_bc(spark, tombstones)
    # boolean ops dedup query terms first (queries.hpp:30-34)
    qside, routed = plan_queries(queries_df, term_stats_df, distinct=True), None
    big = qside.giant_ids(docpart_budget_bytes)
    if big:
        big_plan, qside = qside.split(big)
        routed = run_boolean_docpartitioned(
            spark, index_df, big_plan, codec, conjunctive,
            term_stats_df=term_stats_df, tomb_bc=tomb_bc,
        )
    joined = query_lists_df(index_df, qside, term_stats_df)
    kernel = make_bool_kernel(codec_bc, conjunctive, tomb_bc=tomb_bc)
    out = joined.groupBy("query_id").applyInPandas(kernel, schema=COUNT_SCHEMA)
    return out if routed is None else out.unionByName(routed)


def facet_counts(
    spark,
    index_df: DataFrame,
    queries_df: DataFrame,
    codec,
    docs_meta_df: DataFrame,
    facet_col: str,
    conjunctive: bool = False,
    *,
    term_stats_df: DataFrame,
    tombstones=None,
    allowlist=None,
    top_n: int | None = None,
) -> DataFrame:
    """Faceted search: per-query match counts grouped by a document
    metadata attribute (``SELECT facet, count(*) ... GROUP BY facet``
    over the boolean match set — Lucene/Solr terms faceting).

    Returns ``(query_id, facet, matches)``; ``top_n`` keeps the N
    largest facet buckets per query (ties by facet value).  The match
    set is the doc-partitioned boolean relation
    (:func:`boolean_matches_docpartitioned`) — gather-free at any
    query size, which matters here more than anywhere: facet queries
    are routinely stopword-broad, and the match relation joins the
    column-pruned ``docs_meta_df`` (doc_id + the one facet column
    reach the scan) with map-side partial aggregation on
    (query_id, facet).  ``tombstones``/``allowlist`` mask exactly like
    run_boolean."""
    from pyspark.sql.window import Window

    if allowlist is not None:
        tombstones = make_allowlist(allowlist, tombstones)
    tomb_bc = _as_tomb_bc(spark, tombstones)
    matches = boolean_matches_docpartitioned(
        spark, index_df, queries_df, codec, conjunctive,
        term_stats_df=term_stats_df, tomb_bc=tomb_bc,
    )
    meta = docs_meta_df.select(
        "doc_id", F.col(facet_col).cast("string").alias("facet")
    )
    out = (
        matches.join(meta, "doc_id")
        .groupBy("query_id", "facet")
        .agg(F.count(F.lit(1)).cast("long").alias("matches"))
    )
    if top_n is not None:
        w = Window.partitionBy("query_id").orderBy(
            F.desc("matches"), F.asc("facet")
        )
        out = (
            out.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= top_n)
            .drop("rank")
        )
    return out.select("query_id", "facet", "matches")
