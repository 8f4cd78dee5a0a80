"""Plan-shape regressions for the query path (VERDICT r1 items 1+5):

- a query batch must NOT aggregate the full index for WAND bounds —
  the per-term max weight is frozen at build into term_stats.parquet
  and semi-joined down to the query terms (exactly one index scan in
  the whole ranked plan);
- nothing num_docs-sized is collected or broadcast: the norms ride
  inside the index chunks, so doc_stats.parquet never appears in a
  query plan.
"""

from __future__ import annotations

import pytest

from partitioned_ef_ans_spark.plans.inspect import formatted_plan


@pytest.fixture(scope="module")
def built(spark, sf_small):
    from partitioned_ef_ans_spark.gate import _get_index

    return _get_index(spark, sf_small)


def _ranked_plan(spark, built, mode="wand"):
    from partitioned_ef_ans_spark.gate import gate_queries_df
    from partitioned_ef_ans_spark.index import query as q_mod

    df = q_mod.run_ranked(
        spark, built["index_df"], gate_queries_df(spark), built["codec"],
        built["num_docs"], built["avg_len"], mode=mode, k=10, dtype="float64",
        term_stats_df=built["term_stats"],
    )
    return formatted_plan(df)


def test_single_index_scan_no_full_index_agg(spark, built):
    plan = _ranked_plan(spark, built)
    # exactly ONE scan of the index table: the old per-batch
    # max(chunk_max_weight) groupBy added a second full-index scan
    assert plan.count("index.parquet") == 1, plan
    # the term-stats side is pruned by the query terms, never the
    # index: no aggregate may read the index scan (the query side is a
    # driver-built local relation)
    for line in plan.splitlines():
        if "Location" in line and "index.parquet" in line:
            break
    assert "doc_stats.parquet" not in plan


def test_no_doc_stats_in_query_plan(spark, built):
    for mode in ("wand", "ranked_or"):
        plan = _ranked_plan(spark, built, mode)
        assert "doc_stats.parquet" not in plan


def test_term_stats_frozen_equals_index_agg(spark, built):
    """term_stats.parquet must carry exactly the per-term max the old
    full-index aggregation computed."""
    from pyspark.sql import functions as F

    frozen = {
        r["term"]: r["max_term_weight"]
        for r in built["term_stats"].collect()
    }
    live = {
        r["term"]: r["mw"]
        for r in built["index_df"]
        .groupBy("term")
        .agg(F.max("chunk_max_weight").alias("mw"))
        .collect()
    }
    assert frozen == live


def test_planned_side_follows_each_term_stats_frame(spark, built):
    """One queries frame served against two term_stats frames (two
    indexes' frozen stats) gets each frame's own df and bounds, in
    either order and on repeat calls — nothing from an earlier plan
    leaks into a later one."""
    from pyspark.sql import functions as F

    from partitioned_ef_ans_spark.index import query as q_mod

    ts_a = built["term_stats"]
    # a second "index" whose stats carry shifted dfs and bounds
    ts_b = ts_a.withColumn("df", F.col("df") + 1).withColumn(
        "max_term_weight", (F.col("max_term_weight") * 2).cast("float")
    )
    qdf = spark.createDataFrame(
        [(0, ["dup", "data"])], "query_id long, terms array<string>"
    )

    def side(ts):
        rows = q_mod.query_lists_df(built["index_df"], qdf, ts).collect()
        assert rows
        return {r["term"]: (r["df"], r["max_weight"]) for r in rows}

    def frozen(ts):
        return {
            r["term"]: (r["df"], r["max_term_weight"])
            for r in ts.where(F.col("term").isin("dup", "data")).collect()
        }

    for ts in (ts_a, ts_b, ts_a, ts_b):
        assert side(ts) == frozen(ts)
    da, db = frozen(ts_a), frozen(ts_b)
    assert all(db[t][0] == da[t][0] + 1 for t in da)


def _count_jobs(spark, group, fn):
    """Spark jobs ``fn`` runs, counted under its own job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_fresh_serving_call_job_count(spark, built):
    """A fresh serving call plans its query side on the driver: one
    term_stats collect, the side's broadcast, the index-scan map stage
    and the kernel stage — at most 4 jobs, for run_ranked and
    run_boolean alike (the Spark-planned query side ran 14)."""
    from partitioned_ef_ans_spark.index import query as q_mod
    from partitioned_ef_ans_spark.operators.ranked import queries_to_df

    def ranked():
        q_mod.run_ranked(
            spark, built["index_df"], queries_to_df(spark, [(0, ["dup", "spark"])]),
            built["codec"], built["num_docs"], built["avg_len"], k=10,
            term_stats_df=built["term_stats"],
        ).collect()

    def boolean():
        q_mod.run_boolean(
            spark, built["index_df"],
            queries_to_df(spark, [(0, ["dup", "spark"]), (1, ["the", "a"])]),
            built["codec"], True, term_stats_df=built["term_stats"],
        ).collect()

    ranked()  # first-call set-up (codec broadcast, package ship)
    assert _count_jobs(spark, "pefa_jobs_ranked", ranked) <= 4
    assert _count_jobs(spark, "pefa_jobs_boolean", boolean) <= 4


#: planner edge cases: empty terms list, all-OOV, duplicate terms
#: (qtf=2 ranked / deduped boolean), a non-ASCII term beside a real one
EDGE_QUERIES = [
    (0, []),
    (1, ["zzqq_missing", "qqzz_absent"]),
    (2, ["dup", "dup", "the"]),
    (3, ["spark", "spark"]),
    (4, ["caf\u00e9", "dup"]),
    (5, ["\u00fcber", "na\u00efve"]),
    (6, ["table", "a"]),
]


@pytest.fixture(scope="module")
def oracle_inputs(spark, sf_small):
    from partitioned_ef_ans_spark import gate, tokenizer
    from partitioned_ef_ans_spark.operators import doc_stats as ds_mod
    from partitioned_ef_ans_spark.operators import postings as p_mod

    docs = gate.load_documents(spark, sf_small)
    tokens = tokenizer.tokenize(docs, doc_col="doc_id", text_col="text")
    tf = tokenizer.term_frequencies(tokens).cache()
    stats = ds_mod.build_doc_stats(docs, tokens)
    return tf, stats, p_mod.term_doc_freqs(tf), docs.count()


@pytest.mark.parametrize(
    "queries,routed",
    [([], False), (EDGE_QUERIES, False), ([], True), (EDGE_QUERIES, True)],
    ids=["empty", "edge", "empty-routed", "edge-routed"],
)
def test_planner_edge_cases_match_spark_oracles(
    spark, built, oracle_inputs, queries, routed
):
    """``routed`` serves every query with an in-vocabulary term through
    its doc-partitioned twin (``docpart_budget_bytes=1``)."""
    from partitioned_ef_ans_spark.index import query as q_mod
    from partitioned_ef_ans_spark.operators import ranked as r_mod

    budget = 1 if routed else q_mod.DOCPART_DISPATCH_BUDGET_BYTES

    tf, stats, dfs, n_docs = oracle_inputs
    qdf = r_mod.queries_to_df(spark, queries)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    for mode, conj in (("blockmax", False), ("ranked_and", True)):
        got = rows(q_mod.run_ranked(
            spark, built["index_df"], qdf, built["codec"], built["num_docs"],
            built["avg_len"], mode=mode, k=10, dtype="float64",
            term_stats_df=built["term_stats"], docpart_budget_bytes=budget,
        ))
        want = rows(r_mod.ranked_query(
            tf, stats, dfs, qdf, n_docs, k=10, conjunctive=conj
        ))
        assert got == want, mode
        if queries:
            # all-OOV, empty and OOV-conjunct queries serve no rows
            served = {r[0] for r in got}
            assert not served & {0, 1, 5}
            assert {2, 3, 6} <= served
            assert (4 in served) is not conj
    for conj in (True, False):
        got = rows(q_mod.run_boolean(
            spark, built["index_df"], qdf, built["codec"], conj,
            term_stats_df=built["term_stats"], docpart_budget_bytes=budget,
        ))
        assert got == rows(r_mod.boolean_query(tf, qdf, conj)), conj


def test_plan_folds_duplicates_and_keeps_non_ascii_terms(spark, built):
    """qtf counts duplicates for ranked and collapses them for
    boolean; n_terms counts distinct terms, OOV ones included; a
    non-ASCII vocabulary term survives the Arrow round trip with its
    own stats."""
    from pyspark.sql import functions as F

    from partitioned_ef_ans_spark.index import query as q_mod
    from partitioned_ef_ans_spark.operators.ranked import queries_to_df

    ts = built["term_stats"]
    # graft a non-ASCII term into the vocabulary (the gate tokenizer
    # never emits one)
    ts_x = ts.unionByName(
        ts.where(F.col("term") == "dup").withColumn("term", F.lit("caf\u00e9"))
    )
    qdf = queries_to_df(spark, [
        (0, ["dup", "dup", "caf\u00e9", "zzqq_missing"]),
        (1, []),
    ])
    side = {
        (r["query_id"], r["term"]): (r["qtf"], r["n_terms"], r["term_df"])
        for r in q_mod.plan_queries(qdf, ts_x).side_frame(spark).collect()
    }
    dup_df = ts.where(F.col("term") == "dup").collect()[0]["df"]
    assert side == {
        (0, "dup"): (2, 3, dup_df),
        (0, "caf\u00e9"): (1, 3, dup_df),
    }
    bside = q_mod.plan_queries(qdf, ts_x, distinct=True).batched_frame(spark)
    qs = {r["term"]: [tuple(s) for s in r["qs"]] for r in bside.collect()}
    assert qs == {"caf\u00e9": [(0, 1, 3)], "dup": [(0, 1, 3)]}
