"""Scatter-gather top-k serving across shard indexes.

At 100 TB the index is never one artifact: shards build independently
(the per-shard parallel-build pattern of checkpoint.merge_indexes) and
a serving tier queries them all.  ``merge_indexes`` makes ONE index
out of many; this module answers queries over the shards DIRECTLY —
rank-identical to querying the concat-merged index, with zero merge
cost — by fixing the one thing naive per-shard execution gets wrong:
corpus statistics.  BM25 is global (idf needs the UNION df, length
norms need the UNION avg_doc_len; bm25.hpp:11-22), so per-shard
scoring with local stats disagrees with the merged index wherever dfs
or averages differ across shards.

Protocol (the classic distributed-search scatter-gather with global
idf, as in Lucene/Solr/Elasticsearch DFS query-then-fetch):

1. ``load_shards`` freezes the global stats once per serving session:
   num_docs / avg_len from the union of the shards' ``doc_stats``
   tables — the EXACT aggregate ``merge_indexes`` computes for the
   merged manifest (integer doc_len sums < 2^53 → one deterministic
   double), so scores are bit-identical to the merged index — and
   per-term global df by summing the shards' frozen ``term_stats``
   (exact integer sums; one vocabulary-sized table, never the index).
2. Each shard's frozen pruning bounds froze under its OWN average doc
   length.  When the global average is LARGER, every bound inflates by
   ``avg_global/avg_shard`` — the ``part_bound_scales`` lemma
   (checkpoint.py:219-239: BM25's doc weight grows at most linearly in
   the average) — so block-max/WAND/MaxScore pruning stays admissible
   under global scoring.  A smaller global average only lowers true
   weights below the frozen bounds — admissible as-is.  This composes
   with the shard's own load-time stale-part inflation: both factors
   only ever over-estimate, which weakens pruning but never rank.
3. Scatter: the ordinary :func:`~..index.query.run_ranked` runs per
   shard — same kernels, same giant-query docpart dispatch, same
   tombstone masking — with the global scalars and global-df
   term_stats.  A term absent from a shard simply matches no chunks
   there.
4. Gather: union the per-shard top-k and keep the global top-k by
   (score desc, doc_id asc).  Correct because scores are globally
   consistent: any doc in the global top-k ranks at least as high
   within its own shard under the SAME total order, so it survives the
   per-shard cut; ties break identically at both levels (shard docID
   spaces are disjoint).  The gather moves k rows per (query, shard) —
   bytes independent of index size.

Reference parity: the reference is single-node and has no serving
tier; this plane is the standard way its indexes are actually deployed
at scale (one index per corpus shard, broker merges top-k), built from
the same frozen artifacts.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from partitioned_ef_ans_spark.index import query as q_mod

#: absorbs the float32 re-rounding of inflated bounds, exactly like
#: checkpoint.part_bound_scales
_BOUND_MARGIN = 1.0 + 1e-6


def _scale_bounds(index_df: DataFrame, s: float) -> DataFrame:
    """Inflate a shard's frozen max-weight pruning bounds by ``s`` (>1
    only when the global average doc length exceeds the shard's).
    Payloads and scores are untouched — only pruning metadata."""
    if s <= 1.0:
        return index_df
    lit = F.lit(float(s))
    return index_df.withColumn(
        "chunk_max_weight",
        (F.col("chunk_max_weight").cast("double") * lit).cast("float"),
    ).withColumn(
        "block_max_weights",
        F.transform(
            "block_max_weights", lambda v: (v.cast("double") * lit).cast("float")
        ),
    )


def load_shards(spark: SparkSession, idx_dirs: list[str]) -> dict:
    """Open every shard index and freeze the session-global statistics.

    Returns a plain dict (reusable across query batches — the scalar
    aggregation over the unioned doc_stats runs once here):
    ``{"shards": [per-shard dicts], "num_docs": int, "avg_len": float}``
    where each shard dict carries its bound-scaled ``index_df``, its
    ``term_stats`` rewritten with the GLOBAL df, its codec and its own
    tombstone sidecar.
    """
    from partitioned_ef_ans_spark.index import build as b_mod
    from partitioned_ef_ans_spark.index.checkpoint import load_tombstones

    if not idx_dirs:
        raise ValueError("load_shards: no shard directories given")
    loads = []
    for d in idx_dirs:
        index_df, stats_df, ts_df, codec, man = b_mod.load_index(spark, d)
        loads.append(
            dict(dir=d, index_df=index_df, stats=stats_df, ts=ts_df,
                 codec=codec, man=man, tomb=load_tombstones(d))
        )
    fams = {l["codec"].codec_name for l in loads}
    if len(fams) > 1:
        raise ValueError(
            f"load_shards: shards use different codecs {sorted(fams)} — "
            "global scoring is codec-independent but the serving modes "
            "are not; rebuild or merge to one codec first"
        )

    # global scalars: the exact aggregate merge_indexes computes for the
    # merged manifest (num_docs = count, avg_len = exact-long-sum / n)
    stats_u = reduce(
        lambda a, b: a.unionByName(b), [l["stats"] for l in loads]
    )
    srow = stats_u.agg(
        F.count(F.lit(1)).alias("n"), F.avg("doc_len").alias("avg")
    ).collect()[0]
    num_docs = int(srow["n"])
    avg_len = float(srow["avg"] or 0.0)

    # per-term GLOBAL df: exact long sums over the frozen vocab tables
    gdf = (
        reduce(
            lambda a, b: a.unionByName(b),
            [l["ts"].select("term", "df") for l in loads],
        )
        .groupBy("term")
        .agg(F.sum("df").cast("long").alias("_gdf"))
    )

    shards = []
    for l in loads:
        shard_avg = float(l["man"]["avg_doc_len"]) or avg_len
        s = (avg_len / shard_avg) * _BOUND_MARGIN if avg_len > shard_avg else 1.0
        ts = l["ts"]
        if s > 1.0:
            ts = ts.withColumn(
                "max_term_weight",
                (F.col("max_term_weight").cast("double") * F.lit(s)).cast(
                    "float"
                ),
            )
        # global df for scoring; the shard keeps its own payload_bytes
        # so giant-query dispatch budgets against what THIS shard would
        # actually gather
        ts = ts.drop("df").join(gdf, "term").withColumnRenamed("_gdf", "df")
        shards.append(
            dict(
                dir=l["dir"],
                index_df=_scale_bounds(l["index_df"], s),
                term_stats=ts,
                codec=l["codec"],
                tombstones=l["tomb"],
            )
        )
    return dict(
        shards=shards, num_docs=num_docs, avg_len=avg_len,
        global_df=gdf.withColumnRenamed("_gdf", "df"),
    )


def _as_loaded(spark: SparkSession, shards_or_dirs) -> dict:
    if isinstance(shards_or_dirs, dict):
        return shards_or_dirs
    return load_shards(spark, list(shards_or_dirs))


def run_ranked_sharded(
    spark: SparkSession,
    shards_or_dirs,
    queries_df: DataFrame,
    mode: str = "blockmax",
    k: int = 10,
    dtype: str = "float64",
    docpart_budget_bytes: int | None = q_mod.DOCPART_DISPATCH_BUDGET_BYTES,
    fetch: str = "gather",
    allowlist=None,
) -> DataFrame:
    """Global top-k over shard indexes — rank-identical to
    ``run_ranked`` on the concat-merged index, every mode.  Accepts a
    list of index dirs or a pre-frozen :func:`load_shards` dict (use
    the latter to amortize the one-time stats aggregation across query
    batches).  ``allowlist`` restricts scoring to the given GLOBAL doc
    ids (filtered retrieval), composed per shard with that shard's
    tombstones.

    ``fetch="direct"`` runs each shard through the storage-direct
    serving path (index/serve.py) with the global statistics injected
    — per-task in-place reads of the shard's store, no payload gather
    shuffle in any shard, giant queries still docpart-routed (with
    override-scaled bounds).  This is the 100 TB serving composition:
    shards × direct reads × global scoring."""
    sh = _as_loaded(spark, shards_or_dirs)

    def _filt(s):
        if allowlist is None:
            return s["tombstones"]
        return q_mod.make_allowlist(allowlist, s["tombstones"])

    if fetch == "direct":
        from partitioned_ef_ans_spark.index import serve as sv_mod

        # authoritative global df for the batch's terms only: the
        # vocabulary comes from the driver, one filtered collect
        vocab = sorted({
            t for r in queries_df.select("terms").collect()
            for t in r[0] or () if t is not None
        })
        gmap = {
            r["term"]: int(r["df"])
            for r in sh["global_df"].where(F.col("term").isin(vocab)).collect()
        } if vocab else {}
        parts = [
            sv_mod.run_ranked_direct(
                spark, s["dir"], queries_df, mode=mode, k=k, dtype=dtype,
                tombstones=_filt(s),
                docpart_budget_bytes=docpart_budget_bytes,
                stats_override=(sh["num_docs"], sh["avg_len"]),
                term_df_override=gmap,
            )
            for s in sh["shards"]
        ]
    else:
        parts = [
            q_mod.run_ranked(
                spark, s["index_df"], queries_df, s["codec"],
                sh["num_docs"], sh["avg_len"], mode=mode, k=k, dtype=dtype,
                term_stats_df=s["term_stats"],
                docpart_budget_bytes=docpart_budget_bytes,
                tombstones=_filt(s),
            )
            for s in sh["shards"]
        ]
    u = reduce(lambda a, b: a.unionByName(b), parts)
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        u.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )


def run_boolean_sharded(
    spark: SparkSession,
    shards_or_dirs,
    queries_df: DataFrame,
    conjunctive: bool,
    docpart_budget_bytes: int | None = q_mod.DOCPART_DISPATCH_BUDGET_BYTES,
    allowlist=None,
) -> DataFrame:
    """Boolean match counts over shard indexes: docID spaces are
    disjoint, so the global count is the sum of per-shard counts —
    identical to ``run_boolean`` on the merged index.  ``allowlist``
    restricts matching to the given global ids (composed per shard
    with that shard's tombstones)."""
    sh = _as_loaded(spark, shards_or_dirs)
    parts = [
        q_mod.run_boolean(
            spark, s["index_df"], queries_df, s["codec"], conjunctive,
            term_stats_df=s["term_stats"],
            docpart_budget_bytes=docpart_budget_bytes,
            tombstones=(
                s["tombstones"] if allowlist is None
                else q_mod.make_allowlist(allowlist, s["tombstones"])
            ),
        )
        for s in sh["shards"]
    ]
    u = reduce(lambda a, b: a.unionByName(b), parts)
    return u.groupBy("query_id").agg(
        F.sum("matches").cast("long").alias("matches")
    )
