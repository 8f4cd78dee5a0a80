"""Giant-query auto-dispatch: a query whose referenced compressed
lists exceed the budget must route to the doc-partitioned path (no
whole-list gather into one task) and stay rank-identical."""

from __future__ import annotations

import pyspark.sql.functions as F


def _baseline_and_index(spark, sf_small):
    from partitioned_ef_ans_spark import gate

    ix = gate._get_index(spark, sf_small)
    qdf = gate.gate_queries_df(spark)
    return ix, qdf


def test_giant_query_auto_dispatch_blockmax(spark, sf_small, monkeypatch):
    from partitioned_ef_ans_spark import gate
    from partitioned_ef_ans_spark.index import blockmax as bmx
    from partitioned_ef_ans_spark.index import query as q_mod

    ix, qdf = _baseline_and_index(spark, sf_small)
    # budget just under the stopword-heavy query's referenced bytes:
    # query 7 = ("a", "the", "table") — the skew probe in GATE_QUERIES
    ref = (
        ix["term_stats"]
        .where(F.col("term").isin(["a", "the", "table"]))
        .agg(F.sum("payload_bytes").alias("b"))
        .collect()[0]["b"]
    )
    budget = int(ref) - 1
    expected_big = sorted(q_mod.giant_query_ids(qdf, ix["term_stats"], budget))
    assert 7 in expected_big

    baseline = sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["score"])
        for r in q_mod.run_ranked(
            spark, ix["index_df"], qdf, ix["codec"], ix["num_docs"],
            ix["avg_len"], mode="blockmax", k=gate.TOP_K, dtype="float64",
            term_stats_df=ix["term_stats"], docpart_budget_bytes=None,
        ).collect()
    )

    routed: list[list[int]] = []
    orig = bmx.run_blockmax_docpartitioned

    def spy(spark_, index_df, plan, *a, **kw):
        routed.append(sorted(qid for qid, _ in plan.queries))
        return orig(spark_, index_df, plan, *a, **kw)

    monkeypatch.setattr(bmx, "run_blockmax_docpartitioned", spy)
    out = sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["score"])
        for r in q_mod.run_ranked(
            spark, ix["index_df"], qdf, ix["codec"], ix["num_docs"],
            ix["avg_len"], mode="blockmax", k=gate.TOP_K, dtype="float64",
            term_stats_df=ix["term_stats"], docpart_budget_bytes=budget,
        ).collect()
    )
    assert routed and routed[0] == expected_big  # the dispatch fired
    assert out == baseline  # and stayed rank-identical


def test_ranked_and_dispatches_to_conjunctive_twin(spark, sf_small, monkeypatch):
    """ranked_and is conjunctive: the dispatch must route its giant
    queries to run_ranked_and_docpartitioned — NEVER the union-scoring
    twins — and stay rank-identical to the gather path."""
    from partitioned_ef_ans_spark import gate
    from partitioned_ef_ans_spark.index import blockmax as bmx
    from partitioned_ef_ans_spark.index import query as q_mod

    ix, qdf = _baseline_and_index(spark, sf_small)
    baseline = sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["score"])
        for r in q_mod.run_ranked(
            spark, ix["index_df"], qdf, ix["codec"], ix["num_docs"],
            ix["avg_len"], mode="ranked_and", k=gate.TOP_K, dtype="float64",
            term_stats_df=ix["term_stats"], docpart_budget_bytes=None,
        ).collect()
    )
    union_called = []
    monkeypatch.setattr(
        bmx, "run_blockmax_docpartitioned",
        lambda *a, **kw: union_called.append(1),
    )
    monkeypatch.setattr(
        q_mod, "run_ranked_docpartitioned",
        lambda *a, **kw: union_called.append(1),
    )
    conj_called = []
    orig = q_mod.run_ranked_and_docpartitioned

    def spy(*a, **kw):
        conj_called.append(1)
        return orig(*a, **kw)

    monkeypatch.setattr(q_mod, "run_ranked_and_docpartitioned", spy)
    out = sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["score"])
        for r in q_mod.run_ranked(
            spark, ix["index_df"], qdf, ix["codec"], ix["num_docs"],
            ix["avg_len"], mode="ranked_and", k=gate.TOP_K, dtype="float64",
            term_stats_df=ix["term_stats"], docpart_budget_bytes=1,
        ).collect()
    )
    assert conj_called and not union_called
    assert out == baseline


def test_boolean_dispatch_matches_gather(spark, sf_small, monkeypatch):
    """run_boolean routes giant queries to the doc-partitioned count
    twin; results (query_id -> matches) must be identical."""
    from partitioned_ef_ans_spark import gate
    from partitioned_ef_ans_spark.index import query as q_mod

    ix, qdf = _baseline_and_index(spark, sf_small)
    for conj in (True, False):
        base = {
            r["query_id"]: r["matches"]
            for r in q_mod.run_boolean(
                spark, ix["index_df"], qdf, ix["codec"], conj,
                term_stats_df=ix["term_stats"], docpart_budget_bytes=None,
            ).collect()
        }
        routed = []
        orig = q_mod.run_boolean_docpartitioned

        def spy(*a, **kw):
            routed.append(1)
            return orig(*a, **kw)

        monkeypatch.setattr(q_mod, "run_boolean_docpartitioned", spy)
        got = {
            r["query_id"]: r["matches"]
            for r in q_mod.run_boolean(
                spark, ix["index_df"], qdf, ix["codec"], conj,
                term_stats_df=ix["term_stats"], docpart_budget_bytes=1,
            ).collect()
        }
        monkeypatch.undo()
        assert routed and got == base


#: Spark jobs per call with every gate query routed to its docpart
#: twin (``docpart_budget_bytes=1``), gate sf0.001 index; the twins
#: that planned their own query side in Spark ran 19 / 19 / 6 / 7
#: (ranked) and 7 / 6 (boolean)
ROUTED_JOBS = {
    "blockmax": 7, "maxscore_blockmax": 7, "ranked_or": 5, "ranked_and": 6,
    "bool_and": 6, "bool_or": 5,
}


def test_routed_call_job_counts(spark, sf_small):
    """Routed legs run on the driver-built plan: no second term_stats
    collect, and blockmax's bound components and tau join come from
    the driver instead of Spark windows, groupBys and joins."""
    from test_term_stats_plan import _count_jobs

    from partitioned_ef_ans_spark.index import query as q_mod

    ix, qdf = _baseline_and_index(spark, sf_small)

    def ranked(mode):
        return lambda: q_mod.run_ranked(
            spark, ix["index_df"], qdf, ix["codec"], ix["num_docs"],
            ix["avg_len"], mode=mode, k=10, dtype="float64",
            term_stats_df=ix["term_stats"], docpart_budget_bytes=1,
        ).collect()

    def boolean(conj):
        return lambda: q_mod.run_boolean(
            spark, ix["index_df"], qdf, ix["codec"], conj,
            term_stats_df=ix["term_stats"], docpart_budget_bytes=1,
        ).collect()

    ranked("blockmax")()  # first-call set-up (codec broadcast, package ship)
    calls = {m: ranked(m) for m in ROUTED_JOBS if not m.startswith("bool")}
    calls.update(bool_and=boolean(True), bool_or=boolean(False))
    got = {
        name: _count_jobs(spark, f"pefa_routed_{name}", fn)
        for name, fn in calls.items()
    }
    assert all(got[name] <= n for name, n in ROUTED_JOBS.items()), got


def test_payload_total_memo_invalidated_by_mutation_epoch(spark, sf_small):
    """The frame-attached whole-index payload memo must not survive a
    mutation: a delta update can grow the index past the docpart
    budget, and a stale sub-budget memo would silently disable the
    giant-query routing for callers serving from the same frame."""
    from partitioned_ef_ans_spark import gate
    from partitioned_ef_ans_spark.index import query as q_mod

    ix = _baseline_and_index(spark, sf_small)[0]
    ts = ix["term_stats"]
    tot = q_mod._total_payload_bytes(ts)
    assert tot > 0
    memo_before = ts._pefa_total_payload_bytes
    assert q_mod._total_payload_bytes(ts) == tot  # memo hit
    assert ts._pefa_total_payload_bytes is memo_before
    q_mod.bump_payload_epoch()  # what every mutator refresh does
    assert q_mod._total_payload_bytes(ts) == tot  # disk unchanged
    assert ts._pefa_total_payload_bytes is not memo_before  # re-measured


def test_refresh_path_bumps_payload_epoch(spark, tmp_path):
    """checkpoint._refresh_path (every mutator's entry/exit guard) is
    the invalidation hook for the payload memo."""
    from partitioned_ef_ans_spark.index import checkpoint as cp
    from partitioned_ef_ans_spark.index import query as q_mod

    e0 = q_mod._PAYLOAD_EPOCH
    cp._refresh_path(spark, str(tmp_path))
    assert q_mod._PAYLOAD_EPOCH == e0 + 1


def test_auto_mode_crossover_dispatch(spark, sf_small, monkeypatch):
    """mode='auto' resolves by the measured payload crossover and is
    rank-identical on both sides of the threshold (probe results are
    mode-invariant, so only the kernel choice may differ)."""
    from partitioned_ef_ans_spark import gate
    from partitioned_ef_ans_spark.index import query as q_mod

    ix, qdf = _baseline_and_index(spark, sf_small)

    def run(mode):
        return sorted(
            (r["query_id"], r["rank"], r["doc_id"], r["score"])
            for r in q_mod.run_ranked(
                spark, ix["index_df"], qdf, ix["codec"], ix["num_docs"],
                ix["avg_len"], mode=mode, k=gate.TOP_K, dtype="float64",
                term_stats_df=ix["term_stats"],
            ).collect()
        )

    want = run("ranked_or")
    # tiny test index sits under the 8 MiB crossover -> ranked_or side
    assert q_mod._total_payload_bytes(ix["term_stats"]) <= \
        q_mod.PROBE_EXHAUSTIVE_BUDGET_BYTES
    assert run("auto") == want
    # force the over-crossover side: auto -> maxscore_blockmax
    monkeypatch.setattr(q_mod, "PROBE_EXHAUSTIVE_BUDGET_BYTES", 0)
    assert run("auto") == want
    assert run("maxscore_blockmax") == want
