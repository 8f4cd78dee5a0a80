"""Storage-direct query serving: distribute QUERIES, not postings.

``run_ranked`` gathers each query's referenced chunk rows through a
shuffle (query_lists_df replicates a chunk's compressed payload once
per referencing query); measured at 144.5M postings that gather —
not the scoring kernels — limits batch read-path scaling (BENCH_
QSCALING.json: 2→8-core efficiency 0.684, per-mode kernel speedups
2.5-3.1x).  This module is the serving shape a real cluster uses
instead (a PISA/Lucene searcher tier, matching the reference's
process model where each query thread reads the index in place,
tools/queries.cpp:23-52): the tiny query batch is partitioned across
tasks and EACH TASK READS the term chunks it needs straight from the
shared index store via parquet row-group predicate pushdown
(``term IN (...)``) — zero shuffle, zero payload replication between
queries in different tasks, and the per-task read is bounded by the
queries it serves, not by the index size.

At cluster scale ``index_dir`` is S3/HDFS and every executor does
key-range reads of the hot vocabulary slice; on local[N] it is a
tmpfs mmap.  Scoring reuses ``make_ranked_kernel`` VERBATIM, so every
mode is rank-identical to the gather path (same rounding, tie-break,
tombstone mask, per-segment model/universe routing).

Giant queries (referenced bytes over the docpart budget) still route
to the doc-partitioned runners through ``run_ranked`` — a stopword
query's list must be SPLIT across tasks, which no per-query fetch
shape can do.
"""

from __future__ import annotations

import json
import os
import pickle
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from partitioned_ef_ans_spark.index import query as q_mod

#: (idx_dir, term_stats mtime) -> whole-index compressed payload total
#: for the giant-query probe short-circuit.  Multi-entry: sharded
#: direct serving calls run_ranked_direct once per SHARD per batch,
#: so a single-entry cache would thrash and re-run the payload agg —
#: a per-call Spark job in a serving wrapper — on every call.  Mtime
#: keying bounds it to (index dirs x mutations) per process; the cap
#: is a leak guard for pathological dir churn.
_TOTAL_BYTES_CACHE: dict = {}
_TOTAL_BYTES_CACHE_CAP = 256


def _dir_payload_total(spark, idx_dir: str) -> int:
    """Whole-index compressed payload total for ``idx_dir``, cached
    per (dir, term_stats mtime): this path reads a fresh term_stats
    frame every call, so run_ranked's frame-attached memo would not
    stick and each serving call would pay a Spark agg job."""
    try:
        mt = os.path.getmtime(f"{idx_dir}/term_stats.parquet")
    except OSError:
        mt = -1.0
    key = (idx_dir, mt)  # mtime-keyed: updates rewrite the stats
    tot = _TOTAL_BYTES_CACHE.get(key)
    if tot is None:
        tot = q_mod._total_payload_bytes(
            spark.read.parquet(f"{idx_dir}/term_stats.parquet")
        )
        if len(_TOTAL_BYTES_CACHE) >= _TOTAL_BYTES_CACHE_CAP:
            _TOTAL_BYTES_CACHE.clear()
        _TOTAL_BYTES_CACHE[key] = tot
    return tot

#: queries per serving task (a task fetches the union of its queries'
#: lists once; more queries per task amortize hot-term reads through
#: the worker decode cache, fewer bound the per-task fetch)
DEFAULT_QUERIES_PER_TASK = 16


def _serve_factory(idx_dir: str, codec_bc, scales_bc, num_docs: int,
                   avg_len: float, k: int, mode: str, dtype: str, tomb_bc,
                   num_parts: int | None, df_over_bc=None,
                   default_scale: float = 1.0):
    """mapInPandas worker: (query_id, terms[]) batches -> top-k rows.

    Reads only the referenced terms' chunk rows from the index store:
    on the resumable layout a term's base chunks live in EXACTLY
    ``part = crc32(term) % num_parts`` (checkpoint.py staging rule),
    so the read is scoped to those part directories plus the (small)
    delta-segment parts — at production part counts that is the whole
    read-scoping story, with parquet term-predicate pushdown pruning
    row groups inside them.  Applies the stale-bound inflation for its
    parts, then runs the SAME per-query kernel as the gather path."""

    def serve(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import zlib

        import numpy as np
        import pyarrow.dataset as pads

        from partitioned_ef_ans_spark.index.query import make_ranked_kernel

        kernel = make_ranked_kernel(
            codec_bc, num_docs, avg_len, k, mode, dtype, tomb_bc=tomb_bc
        )
        scales = scales_bc.value
        df_over = df_over_bc.value if df_over_bc is not None else {}
        dataset = None
        for pdf in batches:
            if not len(pdf):
                continue
            queries = [
                (int(qid), [str(t) for t in terms])
                for qid, terms in zip(pdf["query_id"], pdf["terms"])
            ]
            all_terms = sorted({t for _, ts in queries for t in ts})
            if not all_terms:
                continue
            if dataset is None:
                dataset = pads.dataset(
                    f"{idx_dir}/index.parquet", partitioning="hive"
                )
            has_parts = "part" in dataset.schema.names
            cols = [
                "term", "chunk_id", "n", "first_doc", "last_doc",
                "payload", "block_maxs", "block_max_weights",
                "chunk_max_weight", "doc_lens",
            ] + (["part"] if has_parts else [])
            flt = pads.field("term").isin(all_terms)
            if has_parts and num_parts:
                # base parts by the staging hash; every part beyond
                # num_parts is a delta segment (O(batch)-sized, any
                # term may have chunks there)
                cand = sorted(
                    {zlib.crc32(t.encode()) % num_parts for t in all_terms}
                )
                flt = flt & (
                    pads.field("part").isin(cand)
                    | (pads.field("part") >= num_parts)
                )
            tbl = dataset.to_table(columns=cols, filter=flt).to_pandas()
            if (scales or default_scale != 1.0) and len(tbl):
                # mirror build.apply_bound_scales: frozen bounds of
                # stale parts inflate admissibly after avg_len growth;
                # default_scale covers parts with no checkpoint record
                # (and layouts without parts) under a stats_override
                # average larger than the manifest's
                if "part" in tbl.columns:
                    s = (
                        tbl["part"].astype(int).map(scales)
                        .fillna(default_scale).to_numpy()
                    )
                else:
                    s = np.full(len(tbl), default_scale)
                tbl["chunk_max_weight"] = (
                    tbl["chunk_max_weight"].to_numpy(dtype=np.float64) * s
                ).astype(np.float32)
                tbl["block_max_weights"] = [
                    None if bw is None
                    else (np.asarray(bw, dtype=np.float64) * sc).astype(
                        np.float32
                    )
                    for bw, sc in zip(tbl["block_max_weights"], s)
                ]
            by_term = {t: g for t, g in tbl.groupby("term")}
            # authoritative term-level df (chunk-row df is stale on
            # delta-segmented indexes) + per-TERM max bound — the same
            # columns query_lists_df ships
            dfs = {
                t: int(df_over.get(t, g["n"].sum()))
                for t, g in by_term.items()
            }
            maxw = {
                t: float(g["chunk_max_weight"].max())
                for t, g in by_term.items()
            }
            out = []
            for qid, terms in queries:
                from collections import Counter

                c = Counter(terms)
                rows = [by_term[t] for t in sorted(c) if t in by_term]
                if not rows:
                    continue
                qpdf = pd.concat(rows, ignore_index=True)
                qpdf["query_id"] = qid
                qpdf["n_terms"] = len(c)
                qpdf["qtf"] = [int(c[t]) for t in qpdf["term"]]
                qpdf["df"] = [dfs[t] for t in qpdf["term"]]
                qpdf["max_weight"] = [maxw[t] for t in qpdf["term"]]
                res = kernel(qpdf)
                if len(res):
                    out.append(res)
            if out:
                yield pd.concat(out, ignore_index=True)

    return serve


def run_ranked_direct(
    spark: SparkSession,
    idx_dir: str,
    queries_df: DataFrame,
    mode: str = "blockmax",
    k: int = 10,
    dtype: str = "float64",
    queries_per_task: int = DEFAULT_QUERIES_PER_TASK,
    tombstones="auto",
    docpart_budget_bytes: int | None = q_mod.DOCPART_DISPATCH_BUDGET_BYTES,
    stats_override: tuple[int, float] | None = None,
    term_df_override: dict[str, int] | None = None,
    allowlist=None,
) -> DataFrame:
    """Serve ``queries_df`` (query_id, terms[]) against the frozen
    index at ``idx_dir`` with storage-direct per-task reads — no
    posting bytes ever cross a shuffle.  Rank-identical to
    ``run_ranked`` on the same index for every mode.

    ``tombstones="auto"`` masks the index's tombstone sidecar exactly
    like ``cli.py queries`` does; pass an id collection or ``None`` to
    override.  Giant queries (frozen term_stats says their referenced
    payload exceeds ``docpart_budget_bytes``) fall back to
    ``run_ranked``'s doc-partitioned dispatch — their lists must be
    split ACROSS tasks, the one thing a fetch-per-query shape cannot
    do.

    ``stats_override=(num_docs, avg_len)`` scores with EXTERNAL corpus
    statistics instead of the manifest's — the sharded scatter-gather
    path (index/sharded.py) passes the global pair; the per-part bound
    inflation then derives from the override average, so pruning stays
    admissible when it exceeds the parts' encode-time averages.
    ``term_df_override`` ({term: df}, bounded by the query batch
    vocabulary) likewise substitutes authoritative df values for the
    shard-local sums the worker derives from its fetched chunks."""
    from partitioned_ef_ans_spark.index import build as b_mod
    from partitioned_ef_ans_spark.index.checkpoint import (
        load_tombstones,
        part_bound_scales,
    )
    from partitioned_ef_ans_spark.session import ship_package

    ship_package(spark)
    with open(f"{idx_dir}/manifest.json") as fh:
        man = json.load(fh)
    with open(f"{idx_dir}/models.pkl", "rb") as fh:
        side = pickle.load(fh)
    codec = b_mod.IndexCodec(
        side["codec"], side["models"],
        num_docs=man.get("universe", man["num_docs"]),
        delta_models=side.get("delta_models"),
        delta_universes=side.get("delta_universes"),
    )
    if stats_override is not None:
        num_docs, avg_len = int(stats_override[0]), float(stats_override[1])
    else:
        num_docs = int(man["num_docs"])
        avg_len = float(man["avg_doc_len"])
    if isinstance(tombstones, str) and tombstones == "auto":
        tombstones = load_tombstones(idx_dir)
    if allowlist is not None:
        # filtered retrieval (keep-mode mask), composed with tombstones
        tombstones = q_mod.make_allowlist(allowlist, tombstones)
    tomb_bc = q_mod._as_tomb_bc(spark, tombstones)

    if mode == "auto":
        # run_ranked's measured-crossover dispatch, on the dir-cached
        # payload scalar (no per-call Spark job)
        mode = "maxscore_blockmax"
        if _dir_payload_total(spark, idx_dir) <= q_mod.PROBE_EXHAUSTIVE_BUDGET_BYTES:
            mode = "ranked_or"
    if codec.docs is None and mode in ("blockmax", "maxscore_blockmax"):
        mode = "taat"  # EF families carry no intra-list blocks
    if codec.docs is None and mode == "wand_bmw":
        mode = "wand"

    rest_df = queries_df
    routed = None
    if docpart_budget_bytes is not None:
        term_stats_df = spark.read.parquet(f"{idx_dir}/term_stats.parquet")
        # an index whose whole compressed payload fits the budget
        # cannot host a giant query: the dir-cached scalar skips the
        # planning collect
        tot = _dir_payload_total(spark, idx_dir)
        big = (
            q_mod.giant_query_ids(
                queries_df, term_stats_df, docpart_budget_bytes
            )
            if tot > docpart_budget_bytes
            else []
        )
        if big:
            index_df, _stats, ts, codec2, man2 = b_mod.load_index(
                spark, idx_dir
            )
            if stats_override is not None:
                # the loaded bounds froze under the MANIFEST average;
                # under a larger override average they inflate further
                # (over-inflation on already-record-scaled parts only
                # weakens pruning, never rank)
                from partitioned_ef_ans_spark.index.sharded import (
                    _scale_bounds,
                )

                man_avg = float(man["avg_doc_len"]) or avg_len
                s = (
                    (avg_len / man_avg) * (1.0 + 1e-6)
                    if avg_len > man_avg else 1.0
                )
                index_df = _scale_bounds(index_df, s)
                if s > 1.0:
                    ts = ts.withColumn(
                        "max_term_weight",
                        (
                            F.col("max_term_weight").cast("double")
                            * F.lit(s)
                        ).cast("float"),
                    )
            if term_df_override:
                pairs = [
                    x for kv in term_df_override.items()
                    for x in (F.lit(kv[0]), F.lit(int(kv[1])))
                ]
                m = F.create_map(*pairs)[F.col("term")]
                ts = ts.withColumn(
                    "df", F.coalesce(m.cast("long"), F.col("df"))
                )
            routed = q_mod.run_ranked(
                spark, index_df,
                queries_df.where(F.col("query_id").isin(big)),
                codec2, num_docs, avg_len, mode=mode, k=k, dtype=dtype,
                term_stats_df=ts, tombstones=tomb_bc,
                docpart_budget_bytes=docpart_budget_bytes,
            )
            rest_df = queries_df.where(~F.col("query_id").isin(big))

    scales = part_bound_scales(idx_dir, avg_len)
    default_scale = 1.0
    if stats_override is not None:
        man_avg = float(man["avg_doc_len"])
        if man_avg > 0 and avg_len > man_avg:
            # parts without a checkpoint record (or layouts without
            # parts) froze their bounds at the manifest average
            default_scale = (avg_len / man_avg) * (1.0 + 1e-6)
    sc = spark.sparkContext
    codec_bc = q_mod.codec_broadcast(spark, codec)
    scales_bc = sc.broadcast(scales)
    df_over_bc = (
        sc.broadcast(dict(term_df_override)) if term_df_override else None
    )
    n_q = rest_df.count()
    n_tasks = max(1, -(-n_q // max(1, queries_per_task)))
    out = rest_df.repartition(n_tasks).mapInPandas(
        _serve_factory(
            idx_dir, codec_bc, scales_bc, num_docs, avg_len, k, mode,
            dtype, tomb_bc, num_parts=man.get("num_parts"),
            df_over_bc=df_over_bc, default_scale=default_scale,
        ),
        schema=q_mod.RESULT_SCHEMA,
    )
    return out.unionByName(routed) if routed is not None else out
