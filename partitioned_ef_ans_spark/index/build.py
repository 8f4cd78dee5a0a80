"""Compressed-index build: the reference's two-pass pipeline as Spark jobs.

Reference lifecycle (create_freq_index.cpp:249-307): pass 1 models every
posting list (ANS symbol counts), freeze_models() on one node, pass 2
encodes every list against the frozen models.  Spark mapping
(SURVEY.md §3.1):

  pass 1  = mapInPandas over the chunked postings table emitting one
            partial (256 x 1025) count matrix per stream per partition,
            summed on the driver (a treeAggregate in spirit: the
            matrices are 2 MB each, so partials->driver is the tree).
  freeze  = driver-side condense/normalize/table build (tiny state),
            then sc.broadcast of the frozen models.
  pass 2  = mapInPandas encoding whole Arrow batches of chunks through
            the interleaved-rANS kernels; emits the index table.

The index is a parquet table (one row per posting-list chunk) plus a
sidecar with the frozen models + collection stats — the reference's
single frozen blob (succinct::mapper::freeze) becomes table + manifest.

Scale notes: every stage is a single pass over the postings table; the
only shuffles upstream are the salted (term, chunk) aggregation and
the doc_id join that ships each chunk its ``norms`` slice.  The
count-matrix collect is O(#partitions x 4 MB) regardless of data size.
Nothing num_docs-sized ever touches the driver: doc stats write
straight to parquet, norm_lens ride inside the chunks (the sharded
analogue of the reference's mmapped wand_data norm table,
wand_data.hpp:78-81), and the per-term WAND metadata
(``max_term_weight``, wand_data.hpp:35-50) freezes once into
``term_stats.parquet`` so query batches never aggregate the index.
"""

from __future__ import annotations

import json
import os
import pickle
import time
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from partitioned_ef_ans_spark.codecs import ans_msb, blocks
from partitioned_ef_ans_spark.functions import bm25
from partitioned_ef_ans_spark.operators import doc_stats as ds_mod
from partitioned_ef_ans_spark.operators import postings as p_mod
from partitioned_ef_ans_spark.tokenizer import term_frequencies, tokenize

INDEX_SCHEMA = (
    "term string, df long, cf long, num_chunks int, chunk_id int, "
    "n int, first_doc long, last_doc long, payload binary, "
    "block_maxs array<long>, block_max_weights array<float>, "
    "chunk_max_weight float, doc_lens array<int>"
)

#: codec name -> ANS-MSB model variant (index_types.hpp:50-53)
ANS_CODEC_VARIANTS = {
    "ans": "medmax_2d_merged",
    "ans_max1d": "max_1d",
    "ans_minmax2d": "minmax_2d",
    "ans_med90p2d": "med90p_2d",
    "ans_med90p2dm": "med90p_2d_merged",
}


def _count_batches_factory(variant: str):
    def _count_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cd = ans_msb.new_counts(variant)
        cf = ans_msb.new_counts(variant)
        saw = False
        for pdf in batches:
            if not len(pdf):
                continue
            saw = True
            doc_lists = [np.asarray(x, dtype=np.int64) for x in pdf["doc_ids"]]
            freq_lists = [np.asarray(x, dtype=np.int64) for x in pdf["freqs"]]
            DB, FB, NS, SUMS, _, _ = blocks.blockize_many(
                doc_lists, freq_lists, ans_msb.BLOCK_SIZE
            )
            ans_msb.accumulate_counts(cd, DB, NS, SUMS, variant)
            ans_msb.accumulate_counts(
                cf, FB, NS, np.full(len(NS), ans_msb.SUM_UNKNOWN), variant
            )
        if saw:
            # sparse partials: (model,sym) grids are ~99% zero; shipping
            # nonzero triples keeps the driver collect O(active cells)
            def sparse(c):
                idx = np.flatnonzero(c.ravel())
                return np.concatenate([idx.astype(np.int64), c.ravel()[idx].astype(np.int64)]).tobytes()

            yield pd.DataFrame(
                {
                    "stream": ["docs", "freqs"],
                    "counts": [sparse(cd), sparse(cf)],
                }
            )

    return _count_batches


def _count_batches_packed(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from partitioned_ef_ans_spark.codecs import ans_packed as ap

    cd, mvd = ap.new_counts()
    cf, mvf = ap.new_counts()
    saw = False
    for pdf in batches:
        if not len(pdf):
            continue
        saw = True
        doc_lists = [np.asarray(x, dtype=np.int64) for x in pdf["doc_ids"]]
        freq_lists = [np.asarray(x, dtype=np.int64) for x in pdf["freqs"]]
        DB, FB, NS, SUMS, _, _ = blocks.blockize_many(
            doc_lists, freq_lists, ap.BLOCK_SIZE
        )
        ap.accumulate_counts(cd, mvd, DB, NS, SUMS)
        ap.accumulate_counts(cf, mvf, FB, NS, np.full(len(NS), ap.SUM_UNKNOWN))
    if saw:
        def pack(c, mv):
            return np.concatenate(
                [c.ravel().astype(np.int64), mv.astype(np.int64)]
            ).tobytes()

        yield pd.DataFrame(
            {"stream": ["docs", "freqs"], "counts": [pack(cd, mvd), pack(cf, mvf)]}
        )


#: fan-in of the executor-side merge level: the driver collects at most
#: 2 x this many rows no matter how many input partitions (tasks) the
#: count pass ran with — at 100 TB (10^5-10^6 tasks) a flat collect of
#: per-partition partials would bottleneck the driver
_MERGE_FANIN = 8


def _merge_sparse_partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Executor-side merge of sparse (idx, count) partials: same wire
    format in and out, so the driver-side freeze loop is unchanged."""
    idxs: dict[str, list] = {"docs": [], "freqs": []}
    vals: dict[str, list] = {"docs": [], "freqs": []}
    saw = False
    for pdf in batches:
        for stream, blob in zip(pdf["stream"], pdf["counts"]):
            flat = np.frombuffer(blob, dtype=np.int64)
            h = len(flat) // 2
            idxs[stream].append(flat[:h])
            vals[stream].append(flat[h:])
            saw = True
    if not saw:
        return
    rows = []
    for stream in ("docs", "freqs"):
        if not idxs[stream]:
            continue
        i = np.concatenate(idxs[stream])
        v = np.concatenate(vals[stream])
        ui, inv = np.unique(i, return_inverse=True)
        sv = np.zeros(len(ui), dtype=np.int64)
        np.add.at(sv, inv, v)
        rows.append(
            {"stream": stream, "counts": np.concatenate([ui, sv]).tobytes()}
        )
    yield pd.DataFrame(rows)


def _merge_packed_partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Executor-side merge of ans_packed dense partials (sum counts,
    max max_value); wire format preserved."""
    from partitioned_ef_ans_spark.codecs import ans_packed as ap

    ncells = ap.new_counts()[0].size
    acc: dict[str, list] = {}
    for pdf in batches:
        for stream, blob in zip(pdf["stream"], pdf["counts"]):
            flat = np.frombuffer(blob, dtype=np.int64)
            c, mv = flat[:ncells].copy(), flat[ncells:].copy()
            if stream not in acc:
                acc[stream] = [c, mv]
            else:
                acc[stream][0] += c
                np.maximum(acc[stream][1], mv, out=acc[stream][1])
    if not acc:
        return
    yield pd.DataFrame(
        [
            {"stream": s, "counts": np.concatenate([c, mv]).tobytes()}
            for s, (c, mv) in acc.items()
        ]
    )


def train_ans_packed_models(postings: DataFrame):
    """Pass 1 + freeze for the ans_packed family: partial per-magnitude
    count grids (tiny: 16x33) merge by sum, max_value by max — two
    levels (executor merge tasks, then a bounded driver collect)."""
    from partitioned_ef_ans_spark.codecs import ans_packed as ap

    rows = (
        postings.select("doc_ids", "freqs")
        .mapInPandas(_count_batches_packed, schema="stream string, counts binary")
        .repartition(_MERGE_FANIN)
        .mapInPandas(_merge_packed_partials, schema="stream string, counts binary")
        .collect()
    )
    train_ans_packed_models.last_partials_collected = len(rows)
    cd, mvd = ap.new_counts()
    cf, mvf = ap.new_counts()
    ncells = cd.size
    for r in rows:
        flat = np.frombuffer(r["counts"], dtype=np.int64)
        c, mv = flat[:ncells].reshape(cd.shape), flat[ncells:]
        if r["stream"] == "docs":
            cd += c.astype(np.uint64)
            np.maximum(mvd, mv.astype(np.uint32), out=mvd)
        else:
            cf += c.astype(np.uint64)
            np.maximum(mvf, mv.astype(np.uint32), out=mvf)
    return ap.freeze_models(cd, mvd), ap.freeze_models(cf, mvf)


def ans_counts(postings: DataFrame, variant: str = ans_msb.DEFAULT_VARIANT,
               fanin: int = _MERGE_FANIN):
    """Pass 1 of the ANS model training: the raw (docs_counts,
    freqs_counts) matrices of the given chunked lists.

    Two-level aggregation: per-partition sparse partials merge on
    executors (``fanin`` tasks) before a bounded driver collect —
    the reference's single-node accumulation (create_freq_index.cpp
    model pass) becomes a treeAggregate, not a driver fan-in.
    ``fanin=1`` skips the executor level for inputs of a few
    partitions (a delta segment's staged part): the driver folds their
    partials directly, one python task wave fewer."""
    rows = postings.select("doc_ids", "freqs").mapInPandas(
        _count_batches_factory(variant), schema="stream string, counts binary"
    )
    if fanin > 1:
        rows = rows.repartition(fanin).mapInPandas(
            _merge_sparse_partials, schema="stream string, counts binary"
        )
    rows = rows.collect()
    # bounded by construction: <= 2 * fanin rows regardless of input
    # partitioning, 2 per input partition at fanin=1 (recorded in the
    # build manifest)
    ans_counts.last_partials_collected = len(rows)
    cd = ans_msb.new_counts(variant)
    cf = ans_msb.new_counts(variant)
    for r in rows:
        flat = np.frombuffer(r["counts"], dtype=np.int64)
        idx, vals = flat[: len(flat) // 2], flat[len(flat) // 2 :]
        tgt = cd if r["stream"] == "docs" else cf
        np.add.at(tgt.ravel(), idx, vals.astype(np.uint64))
    return cd, cf


def train_ans_models(postings: DataFrame, variant: str = ans_msb.DEFAULT_VARIANT,
                     fanin: int = _MERGE_FANIN):
    """Pass 1 (`ans_counts`) + freeze: returns ((enc_d, dec_d),
    (enc_f, dec_f))."""
    cd, cf = ans_counts(postings, variant, fanin)
    train_ans_models.last_partials_collected = ans_counts.last_partials_collected
    return ans_msb.freeze_models(cd, variant), ans_msb.freeze_models(cf, variant)


class IndexCodec:
    """Doc/freq dual-stream codec bundle used by encode/decode passes.

    codec names (index_types.hpp:18-53 mapping):
      block family: 'ans' (headline medmax-2d-merged), 'u32', 'vbyte',
                    'simple16', 'interpolative'
      whole-list EF family: 'pef' (= the reference's `opt`), 'ef',
                    'single', 'uniform'
    The list-level interface (encode_lists/decode_lists) is what
    build/query use.
    """

    def __init__(self, codec_name: str, models=None, num_docs: int = 0,
                 delta_models: dict | None = None,
                 delta_universes: dict | None = None):
        import uuid

        self.codec_name = codec_name
        self.models = models
        self.num_docs = num_docs
        #: per-DELTA-SEGMENT model sets ({seg: models}) for LSM-updated
        #: indexes (checkpoint.update_index_delta): each segment trains
        #: its own ANS models on its own batch, and decode selects by
        #: the segment embedded in chunk_id (seg = chunk_id >> 20).
        #: Empty for fresh/compacted indexes and model-free codecs.
        self.delta_models = dict(delta_models or {})
        #: per-segment docID universes for concat-merged EF-family
        #: indexes (checkpoint.merge_indexes mode="concat"): an
        #: appended segment's EF payloads stay laid out against the
        #: SOURCE index's universe — decode routes by segment exactly
        #: like models.  Empty everywhere else (universe-free codecs
        #: never need it; compaction re-encodes under one universe).
        self.delta_universes = {
            int(k): int(v) for k, v in (delta_universes or {}).items()
        }
        self._seg_cache: dict = {}
        # per-bundle identity: worker-global decode/weight caches key on
        # this so two indexes served by the same long-lived python
        # worker (bench builds several per session) never collide
        self.tag = uuid.uuid4().hex[:12]
        if codec_name in ANS_CODEC_VARIANTS:
            (enc_d, dec_d), (enc_f, dec_f) = models
            self.docs = blocks.AnsCodec(enc=enc_d, dec=dec_d)
            self.freqs = blocks.AnsCodec(enc=enc_f, dec=dec_f)
            self.block_size = self.docs.block_size
        elif codec_name == "ans_packed":
            (enc_d, dec_d), (enc_f, dec_f) = models
            self.docs = blocks.AnsPackedCodec(enc=enc_d, dec=dec_d)
            self.freqs = blocks.AnsPackedCodec(enc=enc_f, dec=dec_f)
            self.block_size = self.docs.block_size
        elif codec_name == "pef" or codec_name in ("ef", "single", "uniform"):
            self.docs = self.freqs = None
            self.block_size = 1 << 7  # maxs granularity for block_maxs col
        else:
            self.docs = blocks.CODECS[codec_name]()
            self.freqs = self.docs
            self.block_size = self.docs.block_size

    def seg(self, s: int) -> "IndexCodec":
        """The codec bundle for delta segment ``s`` (0 = base).  Raises
        KeyError when the segment's models are missing — decoding a
        delta payload with the wrong models would be silent garbage."""
        s = int(s)
        if not (self.delta_models or self.delta_universes):
            return self
        if s == 0 and s not in self.delta_universes:
            return self
        if s not in self._seg_cache:
            sub = IndexCodec(
                self.codec_name,
                # model-based codecs MUST have the segment's models
                # (KeyError, not silent garbage); EF concat segments
                # carry a universe instead.  Segment 0 only ever routes
                # for a universe (concat-merged EF base whose payloads
                # predate the union universe) — its models are the base
                # models.
                self.models if s == 0
                else (self.delta_models[s] if self.delta_models else None),
                num_docs=int(self.delta_universes.get(s, self.num_docs)),
            )
            # deterministic per-parent tag: worker caches key on
            # (tag, chunk_id) and chunk_id embeds the segment
            sub.tag = f"{self.tag}s{s}"
            self._seg_cache[s] = sub
        return self._seg_cache[s]

    def __getstate__(self):
        state = dict(self.__dict__)
        state["_seg_cache"] = {}  # rebuilt lazily post-broadcast
        # the per-context broadcast memo (query.codec_broadcast) is
        # driver-side state: a Broadcast handle must never ride inside
        # the broadcast payload itself
        state.pop("_pefa_bc", None)
        return state

    # block-family batch interface (used via blocks.write/decode_lists)
    def encode_batch(self, blk, ns, sums):
        if np.all(np.asarray(sums) == blocks.SUM_UNKNOWN):
            return self.freqs.encode_batch(blk, ns, sums)
        return self.docs.encode_batch(blk, ns, sums)

    def decode_batch(self, payload, offsets, ns, sums):
        if np.all(np.asarray(sums) == blocks.SUM_UNKNOWN):
            return self.freqs.decode_batch(payload, offsets, ns, sums)
        return self.docs.decode_batch(payload, offsets, ns, sums)

    # list-level interface
    def encode_lists(self, doc_lists, freq_lists) -> list[bytes]:
        if self.codec_name == "pef":
            from partitioned_ef_ans_spark.codecs import pef

            return pef.encode_lists(doc_lists, freq_lists, self.num_docs)
        if self.codec_name in ("ef", "single", "uniform"):
            from partitioned_ef_ans_spark.codecs import eflist

            return eflist.encode_lists(
                doc_lists, freq_lists, self.num_docs, self.codec_name
            )
        return blocks.write_lists(doc_lists, freq_lists, self)

    def decode_lists(self, payloads):
        if self.codec_name == "pef":
            from partitioned_ef_ans_spark.codecs import pef

            return pef.decode_lists(payloads, self.num_docs)
        if self.codec_name in ("ef", "single", "uniform"):
            from partitioned_ef_ans_spark.codecs import eflist

            return eflist.decode_lists(payloads, self.num_docs, self.codec_name)
        return blocks.decode_lists(payloads, self)


def _encode_factory(codec_bc, avg_len: float):
    """Encode pass: postings chunks (with their ``doc_lens`` slice
    joined in by build_postings) -> index rows.  No broadcast side
    state beyond the frozen codec and the scalar avg_len: the
    per-posting doc_len arrives WITH the chunk, so the pass scales to
    any num_docs.  norm = doc_len / avg_len is exact and engine-
    independent (integer doc_len sums < 2^53 make avg_len a
    deterministic double)."""

    def encode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        codec: IndexCodec = codec_bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            doc_lists = [np.asarray(x, dtype=np.int64) for x in pdf["doc_ids"]]
            freq_lists = [np.asarray(x, dtype=np.int64) for x in pdf["freqs"]]
            len_lists = [np.asarray(x, dtype=np.int32) for x in pdf["doc_lens"]]
            payloads = codec.encode_lists(doc_lists, freq_lists)
            maxw = np.empty(len(doc_lists), dtype=np.float32)
            bmax = []
            bmaxw = []
            for i, (d, f, dl) in enumerate(zip(doc_lists, freq_lists, len_lists)):
                # float32 doc-side BM25 weight (bm25.hpp:11-15); list max
                # is the WAND upper bound (wand_data.hpp:35-50), block
                # maxes are the block-max WAND bounds (wand_data block
                # max table, queries.hpp block_max_* usage)
                nl = dl.astype(np.float64) / avg_len
                w = bm25.doc_term_weight_vec(
                    f.astype(np.float32), nl.astype(np.float32)
                )
                maxw[i] = np.float32(w.max()) if len(w) else np.float32(0)
                nb = (len(d) + codec.block_size - 1) // codec.block_size
                ends = np.minimum(
                    np.arange(1, nb + 1) * codec.block_size, len(d)
                ) - 1
                bmax.append(d[ends])
                bmaxw.append(
                    np.maximum.reduceat(w, np.arange(0, len(w), codec.block_size))
                )
            yield pd.DataFrame(
                {
                    "term": pdf["term"].to_numpy(),
                    "df": pdf["df"].to_numpy(),
                    "cf": pdf["cf"].to_numpy(),
                    "num_chunks": pdf["num_chunks"].to_numpy(),
                    "chunk_id": pdf["chunk_id"].to_numpy(),
                    "n": [len(d) for d in doc_lists],
                    "first_doc": [int(d[0]) for d in doc_lists],
                    "last_doc": [int(d[-1]) for d in doc_lists],
                    "payload": payloads,
                    "block_maxs": bmax,
                    "block_max_weights": bmaxw,
                    "chunk_max_weight": maxw,
                    "doc_lens": len_lists,
                }
            )

    return encode_batches


def build_index(
    spark: SparkSession,
    corpus_docs: DataFrame,
    out_dir: str,
    codec: str = "ans",
    chunk_postings: int = p_mod.DEFAULT_CHUNK_POSTINGS,
    doc_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 1,
) -> dict:
    """End-to-end: corpus -> tokenize -> postings -> models -> encoded
    index at ``out_dir`` (parquet + sidecar).  Returns build metrics.
    ``ngram>=2`` builds a word-shingle (phrase) index — the token rule
    is recorded in the manifest so maintenance paths keep it."""
    from partitioned_ef_ans_spark.session import ship_package
    from partitioned_ef_ans_spark.tokenizer import tokenize_ngram

    ship_package(spark)
    os.makedirs(out_dir, exist_ok=True)
    t0 = time.perf_counter()
    tokens = tokenize_ngram(
        corpus_docs, doc_col=doc_col, text_col=text_col, ngram=ngram
    )
    tf = term_frequencies(tokens).cache()  # reused by stats + postings
    # doc lengths: ONE traversal of the tf table, materialized small
    # (num_docs rows of (doc_id, doc_len)).  The previous shape —
    # build_doc_stats' crossJoin(broadcast(avg)) — planned the whole
    # lens+join subtree TWICE (once under the avg aggregate's
    # broadcast, once for the output rows); localCheckpoint truncates
    # the plan so the avg aggregate, the norm_len projection and the
    # parquet write all read the materialized 45k-row frame instead.
    # Doc stats stay DISTRIBUTED: nothing num_docs-sized ever reaches
    # the driver — only the 1-row (count, avg, max) aggregate does.
    lens = tf.groupBy("doc_id").agg(F.sum("tf").alias("doc_len"))
    all_docs = (
        corpus_docs.select(F.col(doc_col).alias("doc_id"))
        .join(lens, "doc_id", "left")
        .fillna({"doc_len": 0})
        .select("doc_id", F.col("doc_len").cast("long").alias("doc_len"))
        .localCheckpoint(eager=True)  # tf cache materializes here
    )
    agg = all_docs.agg(
        F.count(F.lit(1)).alias("n"), F.avg("doc_len").alias("avg"),
        F.max("doc_id").alias("mx"),
    ).collect()[0]
    num_docs = int(agg["n"])
    avg_len = float(agg["avg"] or 0.0)
    # norm_len = doc_len / avg_len with the SAME double avg the old
    # broadcast-aggregate produced (integer doc_len sums < 2^53 make
    # F.avg a deterministic double), so doc_stats.parquet is
    # value-identical to the build_doc_stats output
    stats = all_docs.withColumn(
        "norm_len",
        F.col("doc_len").cast("double") / F.lit(avg_len),
    )
    stats.write.mode("overwrite").parquet(f"{out_dir}/doc_stats.parquet")
    stats_df = spark.read.parquet(f"{out_dir}/doc_stats.parquet")
    # the docID UNIVERSE (EF layout bound + chunk stride) is max_id+1,
    # NOT the doc count — equal for densely-assigned ids, but sparse
    # ids (delta updates only require freshness) would otherwise
    # overflow the EF higher-bits region and corrupt payloads
    universe = int(agg["mx"]) + 1 if agg["mx"] is not None else 0
    t_stats = time.perf_counter()

    postings = p_mod.build_postings(
        tf, num_docs=universe, chunk_postings=chunk_postings, doc_norms=stats_df
    )
    postings = postings.cache()

    models = None
    partials_collected = 0
    if codec in ANS_CODEC_VARIANTS:
        models = train_ans_models(postings, variant=ANS_CODEC_VARIANTS[codec])
        partials_collected = train_ans_models.last_partials_collected
    elif codec == "ans_packed":
        models = train_ans_packed_models(postings)
        partials_collected = train_ans_packed_models.last_partials_collected
    t_model = time.perf_counter()

    sc = spark.sparkContext
    codec_bundle = IndexCodec(codec, models, num_docs=universe)
    codec_bc = sc.broadcast(codec_bundle)

    index_df = postings.mapInPandas(
        _encode_factory(codec_bc, avg_len), schema=INDEX_SCHEMA
    )
    index_df.write.mode("overwrite").parquet(f"{out_dir}/index.parquet")
    t_enc = time.perf_counter()

    with open(f"{out_dir}/models.pkl", "wb") as fh:
        pickle.dump({"codec": codec, "models": models}, fh)

    # freeze the per-term WAND metadata ONCE (the reference's
    # m_max_term_weight, wand_data.hpp:35-50,78-81): query batches join
    # this table instead of re-aggregating the whole index.  Per-term
    # postings/bytes ride along so the global metrics come from this
    # (vocabulary-sized) table — one index scan, not two.
    written = spark.read.parquet(f"{out_dir}/index.parquet")
    term_stats_agg(written).write.mode("overwrite").parquet(
        f"{out_dir}/term_stats.parquet"
    )

    agg_row = (
        spark.read.parquet(f"{out_dir}/term_stats.parquet")
        .agg(F.sum("postings").alias("p"), F.sum("payload_bytes").alias("b"))
        .collect()[0]
    )
    total_postings = int(agg_row["p"] or 0)
    payload_bytes = int(agg_row["b"] or 0)

    partition_stats = None
    if codec == "pef":
        # V4: average partition length of long lists
        # (create_freq_index.cpp:200-220 prints it for lists >= 4096)
        def pstats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from partitioned_ef_ans_spark.codecs import pef as pef_mod

            for pdf in batches:
                if not len(pdf):
                    continue
                pc = pef_mod.partition_counts(
                    [bytes(p) for p in pdf["payload"]]
                )
                longs = [(n, p) for n, p in pc if n >= 4096]
                yield pd.DataFrame(
                    {
                        "lists": [len(longs)],
                        "postings": [sum(n for n, _ in longs)],
                        "partitions": [sum(p for _, p in longs)],
                    }
                )

        prow = (
            written.select("payload")
            .mapInPandas(pstats, schema="lists long, postings long, partitions long")
            .agg(F.sum("lists"), F.sum("postings"), F.sum("partitions"))
            .collect()[0]
        )
        n_lists = int(prow[0] or 0)
        n_parts = int(prow[2] or 0)
        partition_stats = {
            "min_list_len": 4096,
            "lists": n_lists,
            "partitions": n_parts,
            "avg_partition_len": (int(prow[1] or 0) / n_parts) if n_parts else 0.0,
        }
    metrics = {
        "codec": codec,
        "ngram": int(ngram),
        "num_docs": num_docs,
        "universe": universe,
        "avg_doc_len": avg_len,
        "total_postings": total_postings,
        "payload_bytes": payload_bytes,
        "bits_per_posting": (payload_bytes * 8 / total_postings) if total_postings else 0.0,
        "tf_stats_sec": t_stats - t0,
        "model_pass_sec": t_model - t0,
        "counts_freeze_sec": t_model - t_stats,
        "encode_pass_sec": t_enc - t_model,
        "metrics_sec": time.perf_counter() - t_enc,
        "build_sec": t_enc - t0,
        "postings_per_sec": total_postings / (t_enc - t0) if t_enc > t0 else 0.0,
        "chunk_postings": chunk_postings,
        # driver fan-in of the model pass (two-level tree aggregation:
        # bounded at 2 x _MERGE_FANIN rows at ANY input partitioning)
        "model_partials_collected": partials_collected,
    }
    if partition_stats is not None:
        metrics["partition_stats"] = partition_stats
    with open(f"{out_dir}/manifest.json", "w") as fh:
        json.dump(metrics, fh, indent=2)
    postings.unpersist()
    codec_bc.destroy()
    return metrics


def group_by_segment(chunk_ids) -> dict[int, list[int]] | None:
    """Delta-segment grouping of chunk ids — the ONE place the
    ``seg = chunk_id >> 20`` layout constant lives for decode routing
    (update_index_delta embeds the segment in bits 20+; segments are
    capped at 2047 so the int32 chunk_id never wraps).  Returns None
    when every chunk is base-segment: callers take their direct
    single-model path."""
    from collections import defaultdict

    groups: dict[int, list[int]] = defaultdict(list)
    for i, s in enumerate(chunk_ids):
        groups[int(s) >> 20].append(i)
    if list(groups) == [0]:
        return None
    return groups


def decode_lists_segmented(codec, payloads: list[bytes], segs) -> list:
    """decode_lists with per-payload SEGMENT routing: payloads from a
    delta segment decode under that segment's own models (ANS
    families) or its own docID universe (EF families on concat-merged
    indexes).  Single-segment indexes take the direct path."""
    if not (codec.delta_models or getattr(codec, "delta_universes", None)):
        return codec.decode_lists(payloads)
    groups = group_by_segment(segs)
    if groups is None:
        # all base-segment — still route seg 0, whose universe may be
        # pinned on a concat-merged EF index
        return codec.seg(0).decode_lists(payloads)
    out: list = [None] * len(payloads)
    for s, idxs in groups.items():
        dec = codec.seg(s).decode_lists([payloads[i] for i in idxs])
        for i, d in zip(idxs, dec):
            out[i] = d
    return out


def decode_flat(spark, index_df: DataFrame, codec, tf_type: str = "int") -> DataFrame:
    """Decode the ENTIRE compressed index back to (term, doc_id, tf) —
    the verification pass (create_freq_index.cpp:15-62) shared by the
    gate's decode-equality entries and the CLI's ``--check``."""
    from typing import Iterator

    from partitioned_ef_ans_spark.session import ship_package

    ship_package(spark)
    codec_bc = spark.sparkContext.broadcast(codec)

    def decode_all(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c = codec_bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            decoded = decode_lists_segmented(
                c, [bytes(p) for p in pdf["payload"]], pdf["chunk_id"]
            )
            terms, docs, tfs = [], [], []
            for term, (d, f) in zip(pdf["term"], decoded):
                terms.extend([term] * len(d))
                docs.append(d)
                tfs.append(f)
            if not terms:
                continue
            tf_np = np.concatenate(tfs)
            yield pd.DataFrame(
                {
                    "term": terms,
                    "doc_id": np.concatenate(docs),
                    "tf": tf_np.astype(np.int32) if tf_type == "int" else tf_np,
                }
            )

    return index_df.select("term", "chunk_id", "payload").mapInPandas(
        decode_all, schema=f"term string, doc_id long, tf {tf_type}"
    )


def term_stats_agg(index_df: DataFrame) -> DataFrame:
    """The frozen per-term WAND metadata (the reference's
    m_max_term_weight, wand_data.hpp:35-50,78-81) plus the per-term
    postings/bytes that make it the single source of the global
    metrics — one vocabulary-sized aggregation, one index scan.  Every
    column is a sum or max over the term's chunks, so the result is a
    function of the index alone, however its chunks are shuffled."""
    return index_df.groupBy("term").agg(
        # df == list length == sum of chunk sizes: stays correct when a
        # term's list spans delta SEGMENTS (chunk-row df is frozen at
        # its segment's build); identical to first(df) on a fresh index
        F.sum("n").cast("long").alias("df"),
        F.max("chunk_max_weight").alias("max_term_weight"),
        F.sum("n").alias("postings"),
        F.sum(F.length("payload")).alias("payload_bytes"),
    )


def apply_bound_scales(index_df: DataFrame, scales: dict[int, float]) -> DataFrame:
    """Inflate a partitioned index's frozen max-weight bounds by the
    per-part admissibility factors (checkpoint.part_bound_scales):
    after a delta update grew avg_doc_len, stale parts' bounds
    stay valid upper bounds when multiplied by avg_new/avg_at_encode.
    Payloads and scores are untouched — only pruning metadata."""
    pairs = [x for kv in scales.items() for x in (F.lit(kv[0]), F.lit(kv[1]))]
    s = F.coalesce(
        F.create_map(*pairs)[F.col("part").cast("int")], F.lit(1.0)
    )
    return index_df.withColumn(
        "chunk_max_weight",
        (F.col("chunk_max_weight").cast("double") * s).cast("float"),
    ).withColumn(
        "block_max_weights",
        F.transform("block_max_weights", lambda v: (v.cast("double") * s).cast("float")),
    )


def load_index(spark: SparkSession, out_dir: str):
    """(index_df, doc_stats_df, term_stats_df, IndexCodec, manifest).

    For a resumable layout grown by delta updates, the max-weight
    bounds of parts encoded under a smaller avg_doc_len are inflated
    admissibly at load (apply_bound_scales)."""
    with open(f"{out_dir}/models.pkl", "rb") as fh:
        side = pickle.load(fh)
    with open(f"{out_dir}/manifest.json") as fh:
        manifest = json.load(fh)
    codec = IndexCodec(
        side["codec"], side["models"],
        # decode universe = the universe the payloads were ENCODED
        # under (max_id+1), falling back to num_docs for pre-universe
        # manifests (dense ids, where the two are equal)
        num_docs=manifest.get("universe", manifest["num_docs"]),
        # per-delta-segment models for LSM-updated indexes
        delta_models=side.get("delta_models"),
        delta_universes=side.get("delta_universes"),
    )
    index_df = spark.read.parquet(f"{out_dir}/index.parquet")
    if "part" in index_df.columns:
        from partitioned_ef_ans_spark.index.checkpoint import part_bound_scales

        scales = part_bound_scales(out_dir, float(manifest["avg_doc_len"]))
        if scales:
            index_df = apply_bound_scales(index_df, scales)
    stats_df = spark.read.parquet(f"{out_dir}/doc_stats.parquet")
    term_stats_df = spark.read.parquet(f"{out_dir}/term_stats.parquet")
    return index_df, stats_df, term_stats_df, codec, manifest
