"""Query spell correction ("did-you-mean") against the index
dictionary — fuzzy OOV repair the reference engine lacks (its
transform_queries, transform_queries.cpp:139-160, DROPS any query with
an unmapped token; search engines correct first and drop last).

Rule (fully integer-ordered, so Spark and DuckDB agree bit-for-bit):
an out-of-vocabulary query term is replaced by the dictionary term
with the smallest Levenshtein distance ``<= max_dist``; ties break by
HIGHER document frequency (the more common reading wins), then by
ascending term.  In-vocabulary terms pass through untouched.  A query
keeping any unresolvable term is dropped whole — the same skip
semantics as the S6 transformer, applied after correction.

Scale shape: the OOV tokens of a query batch are tiny and BROADCAST;
the dictionary (the index's frozen ``term_stats`` — vocabulary-sized,
already the serving sidecar) is scanned ONCE map-side under a length
pre-filter (``abs(len(t) - len(cand)) <= max_dist`` — a necessary
condition for the distance, pruning most of the vocabulary before any
Levenshtein evaluation).  Nothing shuffles but the per-(query, pos)
best-candidate window over the few surviving candidates.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

#: q-gram width for the large-dictionary candidate prefilter
_Q = 3

#: dictionary-size crossover: at or below this many terms the plain
#: length-banded scan is cheaper than building/joining the gram
#: relation (the gate-scale and bench-scale vocabularies sit far
#: below it); above it, candidates come from the 3-gram join and only
#: survivors pay Levenshtein.  Env-tunable like the other dispatch
#: budgets; read at call time so tests can force either path.
FUZZY_SCAN_VOCAB_MAX = 200_000


def _padded_grams(term: Column) -> Column:
    """Padded character 3-grams of ``term`` ('#' never occurs in
    tokens, which match [a-z0-9_]+): '##a', '#ab', ..., 'z##' —
    |t| + q - 1 grams.  Padding is what buys the tight count bound
    below (each edit destroys at most q padded grams)."""
    pad = F.lit("#" * (_Q - 1))
    s = F.concat(pad, term, pad)
    return F.transform(
        F.sequence(F.lit(1), F.length(s) - (_Q - 1)),
        lambda i: F.substring(s, i, _Q),
    )


def _dict_grams(dict_df: DataFrame) -> DataFrame:
    """(g, cand, df) — the dictionary's padded-3-gram relation,
    materialized ONCE and memoized on the frame (the serving-sidecar
    discipline: never a per-call rebuild of per-index state)."""
    memo = getattr(dict_df, "_pefa_fuzzy_grams", None)
    if memo is not None:
        return memo
    grams = dict_df.select(
        F.col("term").alias("cand"), "df",
        F.explode(_padded_grams(F.col("term"))).alias("g"),
    ).localCheckpoint(eager=True)
    try:
        dict_df._pefa_fuzzy_grams = grams
    except Exception:
        pass
    return grams


def _dict_size(dict_df: DataFrame) -> int:
    memo = getattr(dict_df, "_pefa_vocab_count", None)
    if memo is not None:
        return memo
    n = dict_df.count()
    try:
        dict_df._pefa_vocab_count = n
    except Exception:
        pass
    return n


def correct_query_terms(
    queries_df: DataFrame,
    dict_df: DataFrame,
    max_dist: int = 2,
) -> DataFrame:
    """(query_id, terms array<string>) -> same shape, OOV terms
    corrected per the module rule; unresolvable queries dropped.

    ``dict_df`` needs (term, df) — the index's term_stats qualifies.

    Candidate generation dispatches on the dictionary size: a small
    vocabulary takes the length-banded scan (broadcast OOV x dict);
    past ``FUZZY_SCAN_VOCAB_MAX`` terms, candidates come from a
    padded-3-gram join against the memoized dictionary gram relation —
    edit distance <= d implies at least |t| + q - 1 - q*d shared
    padded q-grams (each edit destroys at most q of them), so any true
    correction survives the count threshold and only the surviving
    sliver pays Levenshtein.  OOV terms too short for a positive bound
    (|t| < q*d - q + 2) keep the scan path.  Both paths end in the
    same exact distance filter + window, so the result is identical —
    locked by test_spellcheck's path-equality test.
    """
    d = int(max_dist)
    dic = dict_df.select("term", "df")
    toks = queries_df.select(
        "query_id", F.posexplode("terms").alias("pos", "raw")
    ).select("query_id", "pos", F.lower("raw").alias("term"))
    hit = toks.join(dic.select("term"), "term", "left_semi").select(
        "query_id", "pos", "term"
    )
    oov = toks.join(dic.select("term"), "term", "left_anti")

    def scan_candidates(oov_part: DataFrame) -> DataFrame:
        return (
            F.broadcast(oov_part)
            .crossJoin(dic.select(F.col("term").alias("cand"), "df"))
            .where(F.abs(F.length("term") - F.length("cand")) <= d)
        )

    scan_max = int(
        os.environ.get("PEFA_FUZZY_SCAN_VOCAB", FUZZY_SCAN_VOCAB_MAX)
    )
    if _dict_size(dict_df) <= scan_max:
        cand = scan_candidates(oov)
    else:
        # positive-bound terms take the gram join; the (rare) short
        # ones keep the scan so no correction is ever missed
        min_len = _Q * d - _Q + 2
        long_oov = oov.where(F.length("term") >= min_len)
        short_oov = oov.where(F.length("term") < min_len)
        og = F.broadcast(long_oov).withColumn(
            "g", F.explode(_padded_grams(F.col("term")))
        )
        # raw gram streams on both sides: the pair count is an upper
        # bound of the multiset intersection the theorem bounds, so
        # the threshold can only ADMIT extra candidates (the exact
        # distance filter removes them), never drop a true one
        shared = (
            og.join(_dict_grams(dict_df), "g")
            .groupBy("query_id", "pos", "term", "cand", "df")
            .agg(F.count(F.lit(1)).alias("_sh"))
        )
        gram_cand = (
            shared.where(
                F.col("_sh")
                >= F.length("term") + F.lit(_Q - 1) - F.lit(_Q * d)
            )
            .where(F.abs(F.length("term") - F.length("cand")) <= d)
            .drop("_sh")
        )
        cand = gram_cand.unionByName(scan_candidates(short_oov))
    cand = cand.withColumn("dist", F.levenshtein("term", "cand")).where(
        F.col("dist") <= d
    )
    w = Window.partitionBy("query_id", "pos").orderBy(
        F.asc("dist"), F.desc("df"), F.asc("cand")
    )
    fixed = (
        cand.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("query_id", "pos", F.col("cand").alias("term"))
    )
    resolved = hit.unionByName(fixed)
    npos = toks.groupBy("query_id").agg(F.count(F.lit(1)).alias("_n"))
    nres = resolved.groupBy("query_id").agg(F.count(F.lit(1)).alias("_m"))
    keep = (
        npos.join(nres, "query_id")
        .where(F.col("_n") == F.col("_m"))
        .select("query_id")
    )
    return (
        resolved.join(F.broadcast(keep), "query_id")
        .groupBy("query_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "term"))),
                lambda s: s["term"],
            ).alias("terms")
        )
    )


def run_ranked_fuzzy(
    spark,
    index_df: DataFrame,
    queries_df: DataFrame,
    codec,
    num_docs: int,
    avg_len: float,
    *,
    term_stats_df: DataFrame,
    max_dist: int = 2,
    mode: str = "blockmax",
    k: int = 10,
    dtype: str = "float32",
    **kw,
) -> DataFrame:
    """Correct-then-retrieve: ``correct_query_terms`` over the frozen
    term_stats, then the certified ``run_ranked`` (every kernel /
    masking / dispatch guarantee inherited)."""
    from partitioned_ef_ans_spark.index import query as q_mod

    corrected = correct_query_terms(queries_df, term_stats_df, max_dist)
    return q_mod.run_ranked(
        spark, index_df, corrected, codec, num_docs, avg_len,
        mode=mode, k=k, dtype=dtype, term_stats_df=term_stats_df, **kw,
    )
