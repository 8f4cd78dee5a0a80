"""Pseudo-relevance-feedback query expansion (RM3-style PRF).

A classic retrieval quality loop the reference engine has no analogue
of (its query pipeline ends at `wand_query`/`maxscore_query`,
queries.hpp): run the query, treat the top ``k_fb`` results as
pseudo-relevant, mine their strongest terms, append them to the query
and re-run.  Both retrieval stages reuse the proven index kernels
(``index.query.run_ranked`` — any mode, masking, dispatch) unchanged;
only the expansion step is new.

Determinism across engines (the gate discipline):

- feedback-doc selection is the ordinary rounded-score top-k (ties by
  doc_id) — the exact machinery every ranked gate already certifies;
- expansion-term weights are INTEGER sums of term frequencies over the
  feedback docs (``sum(tf)``), so Spark and DuckDB agree bit-for-bit
  with no float rounding at all; ties break by ascending term;
- original query terms are excluded (they would only bump qtf), and
  each expansion term joins the query with qtf=1, so stage 2 is just
  ``run_ranked`` over a longer query — idf does the weighting.

Scale shape: the feedback set is ``n_queries x k_fb`` rows (tiny) and
is BROADCAST into a semi-join that prunes the documents table BEFORE
tokenization — a point-lookup read of the forward table (partition/
row-group pruned at 100 TB), never a corpus scan.  Stage-2 inherits
run_ranked's giant-query dispatch, so a stopword-heavy expanded query
still routes to the doc-partitioned twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from partitioned_ef_ans_spark import tokenizer


def _fb_term_freqs(fb_docs_tbl: DataFrame) -> DataFrame:
    """(doc_id, text) -> (doc_id, term, tf) for the FEEDBACK docs in
    one Arrow pass.  The feedback set is n_queries x k_fb docs (tiny),
    so the general tokenizer's explode + hash-agg shuffle costs more
    in scheduling than the whole computation; a per-doc Counter inside
    mapInPandas emits the aggregated rows directly, zero shuffles.
    Token rule identical to tokenizer.tokenize (lowercase, keep runs
    of [a-z0-9_] — the equivalence the tokenize_arrow tests pin)."""
    import collections
    import re

    import numpy as np
    import pandas as pd

    pat = re.compile(tokenizer.TOKEN_KEEP_RE)

    def fn(batches):
        for pdf in batches:
            ids: list = []
            terms: list = []
            tfs: list = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                c = collections.Counter(pat.findall((text or "").lower()))
                ids.extend([did] * len(c))
                terms.extend(c.keys())
                tfs.extend(c.values())
            yield pd.DataFrame(
                {
                    "doc_id": np.asarray(ids, dtype=np.int64),
                    "term": terms,
                    "tf": np.asarray(tfs, dtype=np.int32),
                }
            )

    return fb_docs_tbl.select("doc_id", "text").mapInPandas(
        fn, schema="doc_id long, term string, tf int"
    )


def expansion_terms(
    fb_docs: DataFrame,
    fb_tf: DataFrame,
    orig_terms: DataFrame,
    m: int,
) -> DataFrame:
    """Top-``m`` expansion terms per query: (query_id, term).

    ``fb_docs`` = (query_id, doc_id) pseudo-relevant pairs, ``fb_tf`` =
    (doc_id, term, tf) over the feedback docs only, ``orig_terms`` =
    (query_id, term) the original terms to exclude.  Weight = integer
    ``sum(tf)`` over the query's feedback docs (engine-exact); ties by
    ascending term.
    """
    cand = fb_tf.join(F.broadcast(fb_docs), "doc_id")
    wt = cand.groupBy("query_id", "term").agg(
        F.sum("tf").cast("long").alias("wt")
    )
    wt = wt.join(orig_terms, ["query_id", "term"], "left_anti")
    w = Window.partitionBy("query_id").orderBy(F.desc("wt"), F.asc("term"))
    return (
        wt.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= int(m))
        .select("query_id", "term")
    )


def expand_queries(queries_df: DataFrame, exp: DataFrame) -> DataFrame:
    """Append each query's expansion terms to its terms array.

    Queries with no expansion (OOV-only, no feedback hits) pass
    through unchanged; the array order is canonicalized (sorted) for
    determinism, which is semantics-free — query_freqs counts terms.
    """
    arr = exp.groupBy("query_id").agg(
        F.array_sort(F.collect_list("term")).alias("_exp")
    )
    return queries_df.join(arr, "query_id", "left").select(
        "query_id",
        F.concat(
            F.col("terms"), F.coalesce(F.col("_exp"), F.array())
        ).alias("terms"),
    )


def run_ranked_prf(
    spark: SparkSession,
    index_df: DataFrame,
    queries_df: DataFrame,
    codec,
    num_docs: int,
    avg_len: float,
    docs_df: DataFrame,
    *,
    k: int = 10,
    k_fb: int = 5,
    m: int = 3,
    mode: str = "blockmax",
    dtype: str = "float32",
    term_stats_df: DataFrame,
    **kw,
) -> DataFrame:
    """Two-stage PRF retrieval: (query_id, rank, doc_id, score).

    Stage 1: ``run_ranked(mode, k=k_fb)``.  Expansion: top-``m``
    non-original terms by integer tf mass over the feedback docs,
    fetched by tokenizing ONLY those docs (broadcast semi-join prunes
    the forward-table scan first).  Stage 2: ``run_ranked(mode, k=k)``
    on the expanded queries — same kernels, same masking, same
    dispatch, rank-identical to the exhaustive oracle on the expanded
    query by the existing ranked guarantees.
    """
    from partitioned_ef_ans_spark.index import query as q_mod

    # materialize the feedback pairs: ``fb`` is read twice (feedback
    # doc ids + expansion weights), and without materialization each
    # read would re-execute the whole stage-1 retrieval.
    # localCheckpoint (not cache) so lineage is truncated and the
    # blocks are reclaimed by the ContextCleaner when the frame goes
    # out of scope — repeated invocations in one session never
    # accumulate pinned cache entries.
    # Stage 1 is an internal FEEDBACK PROBE: its rows never surface,
    # only the (query, doc) pairs feed expansion, and run_ranked modes
    # are rank- and value-identical (the gate families' guarantee) —
    # so it routes through the measured-crossover auto dispatch
    # exactly like run_ranked_collapsed's probe, regardless of the
    # caller's stage-2 mode.
    fb = q_mod.run_ranked(
        spark, index_df, queries_df, codec, num_docs, avg_len,
        mode="auto", k=int(k_fb), dtype=dtype, term_stats_df=term_stats_df,
        **kw,
    ).select("query_id", "doc_id").localCheckpoint(eager=True)
    fb_doc_ids = fb.select("doc_id").distinct()
    fb_docs_tbl = docs_df.join(F.broadcast(fb_doc_ids), "doc_id")
    fb_tf = _fb_term_freqs(fb_docs_tbl)
    orig = queries_df.select(
        "query_id", F.explode(F.array_distinct("terms")).alias("term")
    )
    exp = expansion_terms(fb, fb_tf, orig, m)
    expanded = expand_queries(queries_df, exp)
    return q_mod.run_ranked(
        spark, index_df, expanded, codec, num_docs, avg_len,
        mode=mode, k=int(k), dtype=dtype, term_stats_df=term_stats_df,
        **kw,
    )
