"""Phrase retrieval via word-bigram shingles.

The reference indexes frequencies only — no positions (README.md:
86-101: ``.docs``/``.freqs`` files) — so exact phrase match cannot
come from its index layout.  The standard positional-free design is
Lucene's ShingleFilter: index word n-grams ("a b") as ordinary terms,
answer a phrase query as a CONJUNCTION of its consecutive shingles,
and (for phrases longer than the shingle width) verify the candidate
docs against the token stream.  Everything reuses the existing engine:

* the shingle index is the ordinary index build with
  ``tokenizer.tokenize_shingles`` swapped in (same codecs, same
  chunking, same maintenance planes — a shingle is just a term);
* candidate generation is the doc-partitioned conjunctive match
  relation (``query.boolean_matches_docpartitioned``) — gather-free,
  masked by tombstones/allowlists exactly like every other path;
* for a 2-word phrase the single-bigram "conjunction" is EXACT by
  construction (bigram presence == adjacency); longer phrases get an
  exact verification join: candidates semi-join the corpus and keep
  docs whose space-joined token stream contains the phrase — the scan
  reads only candidate docs' text (predicate on the join), never the
  corpus;
* ranked phrases score the shingle conjunction with BM25 over shingle
  statistics (``run_ranked`` mode="ranked_and" on the shingle index)
  — for 2-word phrases this is exactly "the phrase as a unit term".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from partitioned_ef_ans_spark import tokenizer
from partitioned_ef_ans_spark.index import build as b_mod
from partitioned_ef_ans_spark.index import query as q_mod


def build_phrase_index(spark: SparkSession, corpus_docs: DataFrame,
                       out_dir: str, codec: str = "ans", n: int = 2,
                       doc_col: str = "doc_id", text_col: str = "text",
                       **kw) -> dict:
    """The ordinary index build over n-gram shingle terms.  The token
    rule rides in the manifest (``ngram``), so the maintenance planes
    (LSM delta updates, compaction, merge) keep shingling
    new docs exactly like the build did."""
    return b_mod.build_index(
        spark, corpus_docs, out_dir, codec=codec,
        doc_col=doc_col, text_col=text_col, ngram=n, **kw,
    )


def shingle_queries(queries_df: DataFrame, n: int = 2) -> DataFrame:
    """Phrase queries (query_id, terms[]) -> the same ids with terms
    replaced by the phrase's consecutive n-gram shingles.  Phrases
    shorter than ``n`` words have no shingle and are dropped (a 1-word
    "phrase" is an ordinary term query — route it to run_ranked)."""
    t = F.col("terms")
    sh = F.when(
        F.size(t) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - (n - 1)),
            lambda i: F.array_join(F.slice(t, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        queries_df.select("query_id", sh.alias("terms"))
        .where(F.size("terms") > 0)
    )


def phrase_matches(
    spark: SparkSession,
    index_df: DataFrame,
    queries_df: DataFrame,
    codec,
    docs_df: DataFrame | None = None,
    text_col: str = "text",
    n: int = 2,
    *,
    term_stats_df: DataFrame,
    tombstones=None,
    allowlist=None,
) -> DataFrame:
    """Exact phrase match relation ``(query_id, doc_id)`` over the
    shingle index at width ``n``.

    ``docs_df`` (doc_id + ``text_col``) enables the verification join
    — REQUIRED for exactness when any query phrase is longer than
    ``n`` words; with every phrase exactly ``n`` words the shingle
    conjunction is already exact and ``docs_df`` may be None."""
    if allowlist is not None:
        tombstones = q_mod.make_allowlist(allowlist, tombstones)
    tomb_bc = q_mod._as_tomb_bc(spark, tombstones)
    sq = shingle_queries(queries_df, n)
    cand = q_mod.boolean_matches_docpartitioned(
        spark, index_df, sq, codec, conjunctive=True,
        term_stats_df=term_stats_df, tomb_bc=tomb_bc,
    )
    if docs_df is None:
        return cand
    phrases = queries_df.select(
        "query_id", F.array_join("terms", " ").alias("_phrase")
    )
    toks = tokenizer.tokens_array(F.col(text_col))
    stream = F.concat(F.lit(" "), F.array_join(toks, " "), F.lit(" "))
    return (
        cand.join(F.broadcast(phrases), "query_id")
        .join(docs_df.select("doc_id", text_col), "doc_id")
        .where(
            F.instr(stream, F.concat(F.lit(" "), F.col("_phrase"), F.lit(" ")))
            > 0
        )
        .select("query_id", "doc_id")
    )


def phrase_match_counts(spark, index_df, queries_df, codec, **kw) -> DataFrame:
    """Per-query exact phrase match counts (query_id, matches)."""
    m = phrase_matches(spark, index_df, queries_df, codec, **kw)
    return m.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("matches")
    )


def run_phrase_ranked(
    spark: SparkSession,
    index_df: DataFrame,
    queries_df: DataFrame,
    codec,
    num_docs: int,
    avg_len: float,
    k: int = 10,
    dtype: str = "float64",
    n: int = 2,
    *,
    term_stats_df: DataFrame,
    tombstones=None,
    allowlist=None,
) -> DataFrame:
    """BM25-ranked phrase retrieval: the phrase's shingle conjunction
    scored over the shingle index (run_ranked mode="ranked_and" —
    same kernels, same giant-query dispatch, same masking).  For
    ``n``-word phrases this scores the phrase as a unit term; longer
    phrases rank the conjunctive CANDIDATE set (exact membership
    requires the verification join — compose with phrase_matches when
    that matters more than rank speed)."""
    return q_mod.run_ranked(
        spark, index_df, shingle_queries(queries_df, n), codec,
        num_docs, avg_len, mode="ranked_and", k=k, dtype=dtype,
        term_stats_df=term_stats_df, tombstones=tombstones,
        allowlist=allowlist,
    )
