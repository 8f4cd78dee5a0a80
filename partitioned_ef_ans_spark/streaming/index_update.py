"""Streaming corpus -> live index: micro-batches fold into an
existing index as delta segments.

The end-to-end Spark-native shape the reference's batch-only pipeline
cannot express: documents land in a directory, each micro-batch calls
`index/checkpoint.py::update_index_delta` (one O(batch) delta segment
with its own models), and the index directory stays queryable between
batches.  Exactly-once effect on the index: the file source checkpoint
makes delivery at-least-once, and the update's `skip_stale`
id-freshness filter makes replays no-ops (doc_ids are monotone by
contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from partitioned_ef_ans_spark.streaming.ingest import CORPUS_STREAM_SCHEMA


def start_index_update_stream(
    spark: SparkSession,
    input_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    trigger_once: bool = True,
    max_segments: int | None = None,
):
    """File-source stream of (doc_id, content) documents; each
    micro-batch is folded into the index at ``index_dir`` (which must
    exist — build it with ``build_index_resumable`` first, possibly on
    an empty-ish seed corpus).

    Each micro-batch becomes an LSM delta segment.  ``max_segments``
    bounds the stack via the in-line tiered-merge policy (minor
    compaction, O(live deltas)); otherwise run
    ``compact_index``/``compact_deltas`` periodically yourself."""
    from partitioned_ef_ans_spark.index.checkpoint import update_index_delta

    src = spark.readStream.schema(CORPUS_STREAM_SCHEMA).parquet(input_dir)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        update_index_delta(
            spark, index_dir, batch_df, doc_col="doc_id",
            text_col="content", skip_stale=True, max_segments=max_segments,
        )

    writer = src.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_once:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return None
    return writer.start()
