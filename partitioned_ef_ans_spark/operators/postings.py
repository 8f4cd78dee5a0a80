"""Posting-list construction with explicit skew handling.

Reference data product: per term, a strictly-increasing docID sequence
plus aligned >=1 frequencies (binary_freq_collection.hpp:42-45,
README.md:86-101).  The reference builds this single-threaded from a
pre-inverted file; we build it from the token stream with Spark
aggregations.

Scale design (the north_rule's "partitioning / shuffle / skew handled
explicitly"):

- A naive ``groupBy(term).agg(collect_list(...))`` puts an entire
  stopword-like list (df ~ N, billions of postings at 10^12 files) into
  ONE reduce task and one row.  Instead every term's doc space is cut
  into deterministic doc-id RANGE CHUNKS sized so a chunk holds at most
  ``chunk_postings`` entries; the aggregation key is (term, chunk_id).
  That *is* the salting — the salt is doc_id-range-based, so chunks come
  out internally sorted and globally ordered by (chunk_id), and no
  post-merge is needed: the chunked table is the engine's native
  posting-list layout (the distributed analogue of the reference's
  partitioned lists, partitioned_sequence.hpp:16-120).
- The chunk fan-out per term is data-driven: ceil(df / chunk_postings)
  from a df-histogram aggregation, never a constant (SURVEY.md §7).
- Map-side combine applies to the (doc,term) tf aggregation upstream,
  so the only big shuffle here moves exactly one row per posting.

Schema out: (term, term_id?, df, cf, num_chunks, chunk_id,
doc_ids array<long>, freqs array<int>).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: max postings per chunk row (bounds reduce-task memory per group).
DEFAULT_CHUNK_POSTINGS = 1 << 16


def term_doc_freqs(tf: DataFrame) -> DataFrame:
    """df-histogram: (term) -> df (list length) + cf (sum tf).

    This is both the salting driver and the dictionary's df column
    (query_term_weight needs df = list size, queries.hpp:236).
    """
    return tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"), F.sum("tf").cast("long").alias("cf")
    )


def build_postings(
    tf: DataFrame,
    num_docs: int,
    chunk_postings: int = DEFAULT_CHUNK_POSTINGS,
    dictionary: DataFrame | None = None,
    broadcast_dictionary: bool = True,
    doc_norms: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, term, tf) -> chunked, sorted posting lists.

    ``num_docs`` bounds the doc-id universe (docIDs < num_docs, the
    reference's universe convention, compact_elias_fano.hpp:109-111).

    ``doc_norms`` (doc_id, doc_len) distributes the reference's
    wand_data norm table (wand_data.hpp:22-33) INTO the chunks: each
    chunk row carries a ``doc_lens`` int array aligned with its
    doc_ids, so neither the encode pass nor the query kernels ever
    need a num_docs-sized driver collect/broadcast — the join is a
    doc_id shuffle join that scales with the data.  The int32 doc_len
    (not the double norm) rides the shuffle: norm = doc_len / avg_len
    is recomputed exactly wherever needed (integer sums < 2^53 are
    exact in double, so avg_len — and hence the norm — is the same
    double in Spark, DuckDB and the kernels), and bit-packed ints cost
    a fraction of raw doubles in shuffle and parquet I/O.  A ``tf``
    that already carries a ``doc_len`` column (the delta update and the
    segment fold, whose rows come with their lengths) is chunked with
    it as-is, no join.
    """
    dfs = term_doc_freqs(tf)
    dfs = dfs.withColumn(
        "num_chunks",
        F.ceil(F.col("df") / F.lit(chunk_postings)).cast("int"),
    ).withColumn(
        "doc_stride",
        F.ceil(F.lit(num_docs) / F.col("num_chunks")).cast("long"),
    )
    # df-histogram is V rows (vocabulary) — broadcast unless huge.
    joined = tf.join(F.broadcast(dfs) if broadcast_dictionary else dfs, "term")
    struct_cols = ["doc_id", "tf"]
    if doc_norms is not None:
        joined = joined.join(
            doc_norms.select(
                "doc_id", F.col("doc_len").cast("int").alias("doc_len")
            ),
            "doc_id",
        )
        struct_cols.append("doc_len")
    elif "doc_len" in tf.columns:
        joined = joined.withColumn("doc_len", F.col("doc_len").cast("int"))
        struct_cols.append("doc_len")
    chunked = joined.withColumn(
        "chunk_id", (F.col("doc_id") / F.col("doc_stride")).cast("int")
    )
    # df/cf/num_chunks ride the partial agg as first() buffers — a
    # post-agg re-join of the dfs table would execute the whole
    # term_doc_freqs aggregation twice (two differently-pruned
    # broadcasts, no exchange reuse; measured in the physical plan)
    lists = chunked.groupBy("term", "chunk_id").agg(
        F.first("df").alias("df"),
        F.first("cf").alias("cf"),
        F.first("num_chunks").alias("num_chunks"),
        F.sort_array(F.collect_list(F.struct(*struct_cols))).alias("plist"),
    )
    out_cols = [
        "term",
        "df",
        "cf",
        "num_chunks",
        "chunk_id",
        F.col("plist.doc_id").alias("doc_ids"),
        F.col("plist.tf").alias("freqs"),
    ]
    if "doc_len" in struct_cols:
        out_cols.append(F.col("plist.doc_len").alias("doc_lens"))
    out = lists.select(*out_cols)
    if dictionary is not None:
        dict_side = F.broadcast(dictionary) if broadcast_dictionary else dictionary
        out = out.join(dict_side, "term")
    return out


def merge_posting_chunks(postings: DataFrame) -> DataFrame:
    """Collapse chunked lists into one row per term (full arrays).

    Test/oracle convenience and input to whole-list codecs at small
    scale; at 100 TB the chunked layout stays chunked (each chunk is
    encoded independently, like the reference's list partitions).
    """
    extra = (
        [F.first("term_id").alias("term_id")] if "term_id" in postings.columns else []
    )
    by_term = postings.groupBy("term").agg(
        *extra,
        F.first("df").alias("df"),
        F.first("cf").alias("cf"),
        F.flatten(
            F.transform(
                F.sort_array(F.collect_list(F.struct("chunk_id", "doc_ids"))),
                lambda s: s["doc_ids"],
            )
        ).alias("doc_ids"),
        F.flatten(
            F.transform(
                F.sort_array(F.collect_list(F.struct("chunk_id", "freqs"))),
                lambda s: s["freqs"],
            )
        ).alias("freqs"),
    )
    return by_term
