"""More-like-this: similar-document retrieval (the Lucene
MoreLikeThis analogue; the reference engine's query pipeline has no
document-as-query operator).

A source document's query is its ``m`` most SALIENT terms — highest
term frequency first, then LOWEST document frequency (rare terms
discriminate), then ascending term.  All three keys are integers, so
Spark and the DuckDB oracle order identically with no float rounding.
The query then runs through the certified ``run_ranked`` machinery;
the source document itself is excluded from its result list exactly:
the kernels return top-(k+1), the self row is dropped, ranks are
recomputed over the survivors and trimmed to k — identical to
excluding self from the exhaustive ordering, because removing one
element from a total order shifts, never reorders, the rest.

Scale shape: source ids are a tiny broadcast semi-join that prunes the
forward table BEFORE tokenization (point lookups at 100 TB); df
salience comes from the frozen term_stats sidecar (vocabulary-sized,
broadcast-joined against the few source-doc term rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from partitioned_ef_ans_spark import tokenizer


def mlt_queries(
    doc_ids_df: DataFrame,
    docs_df: DataFrame,
    dict_df: DataFrame,
    m: int = 5,
) -> DataFrame:
    """(doc_id) -> (query_id=doc_id, terms array<string>): the top-m
    salient terms of each source doc by (tf desc, df asc, term asc).

    ``dict_df`` needs (term, df) — the frozen term_stats qualifies.
    Terms of a source doc missing from ``dict_df`` (impossible when
    the dictionary comes from the same corpus) are skipped.
    """
    src = docs_df.join(
        F.broadcast(doc_ids_df.select("doc_id").distinct()), "doc_id"
    )
    toks = tokenizer.tokenize(src, doc_col="doc_id", text_col="text")
    tf = tokenizer.term_frequencies(toks)
    sal = tf.join(dict_df.select("term", "df"), "term")
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tf"), F.asc("df"), F.asc("term")
    )
    top = (
        sal.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= int(m))
    )
    return top.groupBy("doc_id").agg(
        F.array_sort(F.collect_list("term")).alias("terms")
    ).select(F.col("doc_id").alias("query_id"), "terms")


def run_more_like_this(
    spark: SparkSession,
    index_df: DataFrame,
    doc_ids_df: DataFrame,
    codec,
    num_docs: int,
    avg_len: float,
    docs_df: DataFrame,
    *,
    term_stats_df: DataFrame,
    m: int = 5,
    k: int = 10,
    mode: str = "blockmax",
    dtype: str = "float32",
    **kw,
) -> DataFrame:
    """(query_id=source doc_id, rank, doc_id, score) — top-k most
    similar documents, source excluded."""
    from partitioned_ef_ans_spark.index import query as q_mod

    qdf = mlt_queries(doc_ids_df, docs_df, term_stats_df, m=m)
    res = q_mod.run_ranked(
        spark, index_df, qdf, codec, num_docs, avg_len,
        mode=mode, k=int(k) + 1, dtype=dtype,
        term_stats_df=term_stats_df, **kw,
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("rank"))
    return (
        res.where(F.col("doc_id") != F.col("query_id"))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= int(k))
        .select("query_id", "rank", "doc_id", "score")
    )
