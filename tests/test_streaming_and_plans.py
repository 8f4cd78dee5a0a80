"""Streaming ingest correctness + physical-plan assertions."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_streaming_ingest_matches_batch(spark, tmp_path):
    from partitioned_ef_ans_spark.streaming.ingest import compact_deltas, start_ingest
    from partitioned_ef_ans_spark.tokenizer import term_frequencies, tokenize

    inp = str(tmp_path / "in")
    staging = str(tmp_path / "staging")
    ckpt = str(tmp_path / "ckpt")

    b1 = spark.createDataFrame(
        [(0, "alpha beta beta"), (1, "gamma alpha")], "doc_id long, content string"
    )
    b1.write.mode("append").parquet(inp)
    start_ingest(spark, inp, staging, ckpt)

    # second wave: new doc + CORRECTION of doc 1 (latest batch wins)
    b2 = spark.createDataFrame(
        [(2, "delta"), (1, "gamma gamma")], "doc_id long, content string"
    )
    b2.write.mode("append").parquet(inp)
    start_ingest(spark, inp, staging, ckpt)

    got = {
        (r["doc_id"], r["term"]): r["tf"]
        for r in compact_deltas(spark, staging).collect()
    }
    assert got[(0, "beta")] == 2
    assert got[(2, "delta")] == 1
    assert got[(1, "gamma")] == 2  # corrected doc
    assert (1, "alpha") not in got  # old version of doc 1 superseded


def test_plans_pushdown_and_broadcast(spark, sf_small):
    from partitioned_ef_ans_spark.plans.inspect import (
        count_exchanges,
        formatted_plan,
        plan_has,
        scan_read_schema,
    )
    from partitioned_ef_ans_spark.tokenizer import term_frequencies, tokenize

    # earlier tests may have cached a DataFrame whose logical plan
    # matches this read (gate._get_index caches); Spark would then
    # substitute the InMemoryRelation and change the plan shape this
    # test asserts on
    spark.catalog.clearCache()
    docs = spark.read.parquet(f"{sf_small}/documents.parquet")

    # column pruning: tokenize must read only (doc_id, text)
    tf = term_frequencies(tokenize(docs, doc_col="doc_id", text_col="text"))
    schemas = scan_read_schema(tf)
    assert schemas and all("lang" not in s and "source" not in s for s in schemas)

    # tf is one shuffle (partial+final hash agg)
    assert count_exchanges(tf) == 1

    # ranked oracle: query set joins are broadcast, no shuffled join of tf
    from partitioned_ef_ans_spark import gate

    ranked = gate.q_ranked_or(spark, sf_small)
    checks = plan_has(ranked, "BroadcastHashJoin", "HashAggregate")
    assert checks["BroadcastHashJoin"] and checks["HashAggregate"]

    # filter pushdown reaches the parquet scan
    filtered = docs.where(F.col("doc_id") < 10).select("doc_id")
    assert plan_has(filtered, "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,10)]")[
        "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,10)]"
    ] or "LessThan(doc_id,10)" in formatted_plan(filtered)
