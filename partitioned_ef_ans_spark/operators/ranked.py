"""Exhaustive ranked retrieval as pure DataFrame ops (the oracle plane).

The reference's ``ranked_or_query`` scores EVERY doc in the union of the
query's posting lists (queries.hpp:405-476) and is the oracle its own
tests compare WAND/MaxScore against (test_ranked_queries.cpp:42-54).
Its natural Spark expression is relational: postings x query terms ->
groupBy(doc) sum of partial scores -> top-k.  ``ranked_and`` adds the
conjunctive filter (match count == #distinct query terms,
queries.hpp:324-403).

These run entirely in Catalyst/Tungsten (no Python), so they double as
both the correctness oracle for the compressed WAND path and as a
legitimately scalable scoring pipeline: the big side (tf) is shuffled
at most once, the query set and df-histogram are broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from partitioned_ef_ans_spark.functions import bm25


def queries_to_df(
    spark: SparkSession, queries: list[tuple[int, list[str]]]
) -> DataFrame:
    """Literal query set -> (query_id, terms array<string>), built from
    Arrow: the frame plans as a local relation, so collecting it (the
    serving planner does, once per call) schedules no Spark job."""
    import pyarrow as pa

    return spark.createDataFrame(pa.table({
        "query_id": pa.array([int(q) for q, _ in queries], pa.int64()),
        "terms": pa.array([list(t) for _, t in queries], pa.list_(pa.string())),
    }))


def query_freqs(queries_df: DataFrame) -> DataFrame:
    """(query_id, terms[]) -> (query_id, n_terms, term, qtf).

    Mirrors ``query_freqs`` (queries.hpp:139-153): duplicate terms fold
    into a multiplicity; n_terms = #distinct terms (the conjunctive
    match requirement).
    """
    exploded = queries_df.select(
        "query_id", F.explode("terms").alias("term")
    ).groupBy("query_id", "term").agg(F.count(F.lit(1)).cast("int").alias("qtf"))
    n = exploded.groupBy("query_id").agg(F.count(F.lit(1)).cast("int").alias("n_terms"))
    return exploded.join(n, "query_id")


def ranked_query(
    tf: DataFrame,
    doc_stats: DataFrame,
    dfs: DataFrame,
    queries_df: DataFrame,
    num_docs: int,
    k: int = 10,
    conjunctive: bool = False,
) -> DataFrame:
    """Exhaustive BM25 top-k: (query_id, rank, doc_id, score).

    Physical plan: broadcast(queries x df-histogram) hash-joined into
    the tf table (no shuffle of tf for the join), hash aggregation by
    (query_id, doc_id) with map-side combine, then per-query top-k via
    window (queries are few; candidates per query may be large — the
    compressed path does distributed partial top-k instead).

    Ties broken by ascending doc_id (deterministic, FIXTURES.md F5).
    Scores are double here; the float32 kernel path lives in the
    compressed index plane.
    """
    qf = query_freqs(queries_df)
    q_terms = qf.join(dfs, "term")  # drops OOV terms (df unknown)
    q_terms = q_terms.withColumn(
        "q_weight",
        bm25.query_term_weight_col(F.col("qtf"), F.col("df"), F.lit(num_docs)),
    ).select("query_id", "n_terms", "term", "q_weight")

    cand = tf.join(F.broadcast(q_terms), "term").join(
        doc_stats.select("doc_id", "norm_len"), "doc_id"
    )
    scored = cand.withColumn(
        "partial",
        F.col("q_weight") * bm25.doc_term_weight_col(F.col("tf"), F.col("norm_len")),
    )
    per_doc = scored.groupBy("query_id", "doc_id").agg(
        F.sum("partial").alias("score"),
        F.count(F.lit(1)).cast("int").alias("matched"),
        F.first("n_terms").alias("n_terms"),
    )
    if conjunctive:
        per_doc = per_doc.where(F.col("matched") == F.col("n_terms"))
    # Round BEFORE ranking: double sums accumulate in engine-dependent
    # order; ranking the rounded score (ties -> doc_id) makes the top-k
    # selection identical across Spark and the DuckDB oracle.
    per_doc = per_doc.withColumn(
        "score", F.round(F.col("score"), bm25.ROUND_DECIMALS)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        per_doc.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )


def ranked_or(tf, doc_stats, dfs, queries_df, num_docs, k=10) -> DataFrame:
    return ranked_query(tf, doc_stats, dfs, queries_df, num_docs, k, conjunctive=False)


def ranked_and(tf, doc_stats, dfs, queries_df, num_docs, k=10) -> DataFrame:
    return ranked_query(tf, doc_stats, dfs, queries_df, num_docs, k, conjunctive=True)


def boolean_query(
    tf: DataFrame, queries_df: DataFrame, conjunctive: bool
) -> DataFrame:
    """Boolean AND/OR result counts per query (and_query / or_query,
    queries.hpp:36-134 — they return match counts, not doc sets).

    Duplicate query terms are removed first (remove_duplicate_terms,
    queries.hpp:30-34).  Returns (query_id, matches).
    """
    terms = queries_df.select(
        "query_id", F.explode(F.array_distinct("terms")).alias("term")
    )
    n = terms.groupBy("query_id").agg(F.count(F.lit(1)).cast("int").alias("n_terms"))
    hits = tf.join(F.broadcast(terms), "term").groupBy("query_id", "doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("matched")
    )
    hits = hits.join(F.broadcast(n), "query_id")
    if conjunctive:
        hits = hits.where(F.col("matched") == F.col("n_terms"))
    return (
        hits.groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("matches"))
    )
