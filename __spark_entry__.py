"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship ranked-OR BM25 query end-to-end on
sf0.001; ``queries``/``oracle_sql`` expose each implemented operator
from SURVEY.md §2 with a DuckDB-equivalent oracle.

Registry order matters: the driver's correctness artifact records the
FIRST 50 entries.  The registry holds 32, so every entry sits inside
that window; the rows-only ANS stats twins (independently pinned by
pytest — tests/test_decode_kinds.py, tests/test_stats_pinned.py) stay
last by convention.  Per-codec decode twins are collapsed into three
family-union entries covering all 16 reference index types, the WAND
twins (incl. true BMW and the doc-partitioned shape) into
``wand_family``, the MaxScore twins into ``maxscore_family``, the
EF-family WAND twins into one, and the docpart / indexed ranked twin
pairs into one union each (same oracle strength, fewer entries; the
retrieval extensions ride those unions too — PRF query expansion as
``ranked_indexed_family`` mode ``rm3``, did-you-mean spell correction
as its mode ``fuzzy``, more-like-this as its mode ``mlt``,
field-collapsed diversified top-k as ``ranked_docpart_family`` mode
``collapse``; the two boolean execution substrates as
``bool_engines_family``; prefix autocomplete as ``suggest_top``).
29 entries are oracle-hashed: ranked_deleted_top10 /
ranked_filtered_top10 gate the two masking polarities; the pruned
TAAT twin rides in ranked_indexed_family; phrase_match_counts /
phrase_ranked_top10 gate shingle-index phrase retrieval; corpus_sha
gates the per-row sha256 content invariant; transform_queries goes
through the pinned Porter stem table (functions/stem_fixture.py).  The
last 3 are rows-only.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))

from partitioned_ef_ans_spark import gate  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: exhaustive BM25 ranked-OR top-10 for the fixed
    gate query set over /root/testdata/sf0.001 documents."""
    return gate.q_ranked_or(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # ---- core relational plane (8)
        "tokenize_tf": gate.q_tokenize_tf,
        "term_dictionary": gate.q_term_dictionary,
        "term_stats": gate.q_term_stats,
        "doc_stats": gate.q_doc_stats,
        "postings_flat": gate.q_postings_flat,
        "bool_family": gate.q_bool_family,
        "ranked_or_top10": gate.q_ranked_or,
        "ranked_and_top10": gate.q_ranked_and,
        # ---- compressed-index retrieval (13)
        "index_decode_flat": gate.q_index_decode_flat,
        "wand_family": gate.q_wand_family,
        "maxscore_family": gate.q_maxscore_family,
        "ranked_docpart_family": gate.q_ranked_docpart_family,
        "ranked_indexed_family": gate.q_ranked_indexed_family,
        "bool_engines_family": gate.q_bool_engines,
        "suggest_top": gate.q_suggest_top,
        "wand_top10_ef_family": gate.q_wand_top10_ef_family,
        "ranked_deleted_top10": gate.q_ranked_deleted_top10,
        "ranked_filtered_top10": gate.q_ranked_filtered_top10,
        "facet_counts": gate.q_facet_counts,
        "phrase_match_counts": gate.q_phrase_match_counts,
        "phrase_ranked_top10": gate.q_phrase_ranked_top10,
        # ---- stats with closed-form oracles (2)
        "index_stats_u32": gate.q_index_stats_u32,
        "index_block_stats_u32": gate.q_index_block_stats_u32,
        # ---- codec-family decode equality, collapsed (3)
        "index_decode_flat_ef_family": gate.q_index_decode_flat_ef_family,
        "index_decode_flat_ans_family": gate.q_index_decode_flat_ans_family,
        "index_decode_flat_block_family": gate.q_index_decode_flat_block_family,
        # ---- sha invariant + query transformer (3)
        "corpus_sha": gate.q_corpus_sha,
        "transform_queries": gate.q_transform_queries,
        "transform_queries_uids": gate.q_transform_queries_uids,
        # ---- rows-only ANS stats twins (pytest-pinned)
        "index_stats": gate.q_index_stats,
        "index_block_stats": gate.q_index_block_stats,
        "index_decode_kinds": gate.q_index_decode_kinds,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "tokenize_tf": gate.sql_tokenize_tf(),
        "term_dictionary": gate.sql_term_dictionary(),
        "term_stats": gate.sql_term_stats(),
        "doc_stats": gate.sql_doc_stats(),
        "postings_flat": gate.sql_postings_flat(),
        "bool_family": gate.sql_bool_family(),
        "ranked_or_top10": gate.sql_ranked_or(),
        "ranked_and_top10": gate.sql_ranked_and(),
        # compressed-path operators share the relational oracles: the
        # index must reproduce them exactly (decode-equality + rank-
        # identical top-k).  index_stats/index_block_stats/
        # index_decode_kinds are rows-only (ANS codec byte counts have
        # no SQL equivalent; exact values pinned in pytest).
        "index_decode_flat": gate.sql_postings_flat(),
        "wand_family": gate.sql_wand_family(),
        "maxscore_family": gate.sql_maxscore_family(),
        "ranked_docpart_family": gate.sql_ranked_docpart_family(),
        "ranked_indexed_family": gate.sql_ranked_indexed_family(),
        "bool_engines_family": gate.sql_bool_engines(),
        "suggest_top": gate.sql_suggest_top(),
        "wand_top10_ef_family": gate.sql_wand_union_ef_family(),
        "ranked_deleted_top10": gate.sql_ranked_deleted(),
        "ranked_filtered_top10": gate.sql_ranked_filtered(),
        "facet_counts": gate.sql_facet_counts(),
        "phrase_match_counts": gate.sql_phrase_match_counts(),
        "phrase_ranked_top10": gate.sql_phrase_ranked(),
        "index_stats_u32": gate.sql_index_stats_u32(),
        "index_block_stats_u32": gate.sql_index_block_stats_u32(),
        "index_decode_flat_ef_family": gate.sql_decode_flat_union(
            gate.EF_FAMILY_CODECS
        ),
        "index_decode_flat_ans_family": gate.sql_decode_flat_union(
            gate.ANS_FAMILY_CODECS
        ),
        "index_decode_flat_block_family": gate.sql_decode_flat_union(
            gate.BLOCK_FAMILY_CODECS
        ),
        "corpus_sha": gate.sql_corpus_sha(),
        # transform_queries: hashed via the pinned stem table (DuckDB has
        # no Porter stemmer; functions/stem_fixture.py is pytest-locked to
        # a live recomputation over the actual corpus vocabulary)
        "transform_queries": gate.sql_transform_queries(),
        "transform_queries_uids": gate.sql_transform_queries_uids(),
    }
