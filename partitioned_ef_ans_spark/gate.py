"""Correctness-gate wiring: Spark queries + equivalent DuckDB oracle SQL.

Every operator claimed in SURVEY.md §2 gets a named entry here; the
driver runs the Spark side and the DuckDB SQL side-by-side on the same
parquet tables and compares row counts, schemas and value hashes.

The fulltext pipeline runs over the ``documents`` table (adapted to the
engine's corpus shape) with a FIXED literal query set (GATE_QUERIES) so
both sides see the identical workload.  All score comparisons round to
``bm25.ROUND_DECIMALS`` BEFORE top-k selection (see operators/ranked.py
for why).
"""

from __future__ import annotations

import atexit
import os
import re
import shutil
from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from partitioned_ef_ans_spark.functions import bm25
from partitioned_ef_ans_spark import tokenizer
from partitioned_ef_ans_spark.operators import doc_stats as ds_mod
from partitioned_ef_ans_spark.operators import postings as p_mod
from partitioned_ef_ans_spark.operators import ranked as r_mod
from partitioned_ef_ans_spark.operators.dictionary import build_term_dictionary

# ---------------------------------------------------------------------------
# Fixed query workload (reference query-set shape: test/test_data/queries —
# short term lists, duplicates within a query, OOV terms; FIXTURES.md F2).
# Terms come from the documents-table vocabulary.
# ---------------------------------------------------------------------------
GATE_QUERIES: list[tuple[int, list[str]]] = [
    (0, ["spark", "join"]),
    (1, ["the"]),
    (2, ["group", "group", "window"]),  # duplicate term -> qtf=2
    (3, ["hash", "merge", "sort"]),
    (4, ["zzqq_missing"]),  # all-OOV -> no results
    (5, ["customer", "zzqq_missing"]),  # partial OOV
    (6, ["vector", "stream", "filter", "query"]),
    (7, ["a", "the", "table"]),  # stopword-heavy (skew lists)
    (8, ["scan"]),
    (9, ["big", "small", "fast", "slow", "value", "data"]),
    (10, ["dup"]),  # the one low-df term -> positive idf
    (11, ["dup", "spark"]),  # mixed rare + stopword-like
    (12, ["dup", "dup", "the"]),  # rare term with qtf=2
]

TOP_K = 10

#: PRF (rm3 mode): feedback depth / expansion-term count — shared by
#: the Spark gate call and the DuckDB oracle so both cut identically.
PRF_K_FB = 5
PRF_M = 3

#: did-you-mean (fuzzy mode): typo'd queries over the gate vocabulary.
#: Each row exercises a distinct corner of the correction rule —
#: multi-typo, distance-2, in-vocab passthrough, uncorrectable token
#: (whole-query drop), rare-term typo (positive idf), a distance-1 TIE
#: (sow -> {slow, row}: df must break it), and a correction colliding
#: with a literal occurrence (qtf folds to 2).
FUZZY_QUERIES: list[tuple[int, list[str]]] = [
    (0, ["sprak", "joim"]),
    (1, ["tabel"]),
    (2, ["group", "windoq"]),
    (3, ["zzqq_missing", "scan"]),
    (4, ["dupp"]),
    (5, ["sow"]),
    (6, ["joim", "join"]),
]
FUZZY_MAX_DIST = 2

#: more-like-this (mlt mode): source docs (present at every sf) and
#: the salient-term budget — shared by Spark gate call and oracle.
MLT_DOC_IDS = (0, 3, 11)
MLT_M = 5



_SHM_ARTIFACTS: set = set()

#: ``pefa_index_<pid>_<sha1[:12]>`` — the only tree layout gate writes
#: (other ``pefa_*`` trees, e.g. bench.py's shared index, are not ours)
_SHM_TREE = re.compile(r"pefa_index_(\d+)_[0-9a-f]{12}")


def _sweep_dead_shm_artifacts(root: str) -> None:
    """Remove ``pefa_index_<pid>_<tag>`` trees under ``root`` whose
    PID has no ``/proc`` entry — left by a run that was killed, so its
    atexit hook never ran (the rule perfbench's RunEnv applies to its
    run directories)."""
    for entry in os.scandir(root):
        m = _SHM_TREE.fullmatch(entry.name)
        if (
            m
            and entry.is_dir(follow_symlinks=False)
            and not os.path.exists(f"/proc/{m.group(1)}")
        ):
            shutil.rmtree(entry.path, ignore_errors=True)


def _register_shm_artifact(path: str) -> None:
    """Gate helpers build PID-keyed index trees on /dev/shm — a shared,
    throttled resource.  The caches are process-local dicts, so each
    tree is registered for atexit removal; the first registration in a
    process also sweeps the trees of dead processes, which a kill
    (timeout, SIGKILL) leaves behind."""
    if not _SHM_ARTIFACTS:
        _sweep_dead_shm_artifacts(os.path.dirname(path))
        atexit.register(
            lambda: [
                shutil.rmtree(d, ignore_errors=True)
                for d in list(_SHM_ARTIFACTS)
            ]
        )
    _SHM_ARTIFACTS.add(path)


def load_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def gate_queries_df(spark: SparkSession) -> DataFrame:
    return r_mod.queries_to_df(spark, GATE_QUERIES)


# --------------------------------------------------------------- Spark side

def build_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_documents(spark, sf_dir)
    tokens = tokenizer.tokenize(docs, doc_col="doc_id", text_col="text")
    return tokenizer.term_frequencies(tokens)


def q_tokenize_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return build_tf(spark, sf_dir).select("doc_id", "term", "tf")


def q_term_dictionary(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_documents(spark, sf_dir)
    tokens = tokenizer.tokenize(docs, doc_col="doc_id", text_col="text")
    return build_term_dictionary(tokens).select("term", "term_id")


def q_term_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    tf = build_tf(spark, sf_dir)
    return p_mod.term_doc_freqs(tf).select("term", "df", "cf")


def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_documents(spark, sf_dir)
    tokens = tokenizer.tokenize(docs, doc_col="doc_id", text_col="text")
    st = ds_mod.build_doc_stats(docs, tokens)
    return st.select("doc_id", "doc_len", F.round("norm_len", 6).alias("norm_len"))


def q_postings_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trips the chunked posting-list build: build -> merge ->
    explode back to (term, doc_id, tf).  Equality with the tf table
    proves the salted chunked aggregation loses/duplicates nothing and
    keeps docIDs strictly increasing."""
    docs = load_documents(spark, sf_dir)
    tf = build_tf(spark, sf_dir)
    n_docs = docs.count()
    postings = p_mod.build_postings(tf, num_docs=n_docs, chunk_postings=256)
    merged = p_mod.merge_posting_chunks(postings)
    return merged.select(
        "term", F.explode(F.arrays_zip("doc_ids", "freqs")).alias("z")
    ).select(
        "term",
        F.col("z.doc_ids").alias("doc_id"),
        F.col("z.freqs").alias("tf"),
    )


def _ranked(spark: SparkSession, sf_dir: str, conjunctive: bool) -> DataFrame:
    docs = load_documents(spark, sf_dir)
    tokens = tokenizer.tokenize(docs, doc_col="doc_id", text_col="text")
    tf = tokenizer.term_frequencies(tokens)
    stats = ds_mod.build_doc_stats(docs, tokens)
    dfs = p_mod.term_doc_freqs(tf)
    n_docs = docs.count()
    qdf = gate_queries_df(spark)
    return r_mod.ranked_query(
        tf, stats, dfs, qdf, n_docs, k=TOP_K, conjunctive=conjunctive
    )


def q_ranked_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ranked(spark, sf_dir, conjunctive=False)


def q_ranked_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ranked(spark, sf_dir, conjunctive=True)


def _boolean(spark: SparkSession, sf_dir: str, conjunctive: bool) -> DataFrame:
    tf = build_tf(spark, sf_dir)
    qdf = gate_queries_df(spark)
    return r_mod.boolean_query(tf, qdf, conjunctive=conjunctive)


def q_bool_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _boolean(spark, sf_dir, True)


def q_bool_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _boolean(spark, sf_dir, False)


# ----------------------------------------------- compressed-index entries

_INDEX_CACHE: dict = {}


def _get_index(spark: SparkSession, sf_dir: str, codec: str = "ans"):
    """Build (once per sf_dir+codec) and load the compressed index."""
    import hashlib

    from partitioned_ef_ans_spark.index import build as b_mod

    key = (sf_dir, codec)
    if key in _INDEX_CACHE:
        return _INDEX_CACHE[key]
    tag = hashlib.sha1(f"{sf_dir}|{codec}".encode()).hexdigest()[:12]
    # /dev/shm, not /tmp: this sandbox's /tmp is a throttled shared
    # disk.  Path is per-PID: two processes (e.g. pytest + the driver
    # gate) building the same dir concurrently would corrupt each
    # other's parquet commits.
    out_dir = f"/dev/shm/pefa_index_{os.getpid()}_{tag}"
    _register_shm_artifact(out_dir)
    docs = load_documents(spark, sf_dir)
    b_mod.build_index(
        spark, docs, out_dir, codec=codec, chunk_postings=256,
        doc_col="doc_id", text_col="text",
    )
    index_df, _stats_df, term_stats_df, codec_obj, manifest = b_mod.load_index(
        spark, out_dir
    )
    bundle = {
        "index_df": index_df.cache(),
        "term_stats": term_stats_df.cache(),
        "codec": codec_obj,
        "num_docs": manifest["num_docs"],
        "avg_len": manifest["avg_doc_len"],
        "manifest": manifest,
        "out_dir": out_dir,
    }
    _INDEX_CACHE[key] = bundle
    return bundle


def _indexed_ranked(spark: SparkSession, sf_dir: str, mode: str) -> DataFrame:
    from partitioned_ef_ans_spark.index import query as q_mod

    ix = _get_index(spark, sf_dir)
    return q_mod.run_ranked(
        spark,
        ix["index_df"],
        gate_queries_df(spark),
        ix["codec"],
        ix["num_docs"],
        ix["avg_len"],
        mode=mode,
        k=TOP_K,
        dtype="float64",
        term_stats_df=ix["term_stats"],
    )


def q_wand_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _indexed_ranked(spark, sf_dir, "wand")


def q_maxscore_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _indexed_ranked(spark, sf_dir, "maxscore")


def q_maxscore_blockmax_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized MaxScore (essential/non-essential split over block
    metadata + block-selective decode, queries.hpp:478-587 semantics)
    — rank-identical to the ranked-OR oracle like blockmax."""
    return _indexed_ranked(spark, sf_dir, "maxscore_blockmax")


def q_wand_bmw_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Faithful Block-Max WAND (Ding & Suel 2011) — the true-BMW
    extension the reference's WAND leaves on list maxima: shallow
    per-block re-bound at the pivot + block-boundary skipping
    (query._kernel_wand_bmw).  Non-default mode; must stay
    rank-identical to the ranked-OR oracle."""
    return _indexed_ranked(spark, sf_dir, "wand_bmw")


def q_ranked_or_docpart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-partitioned exhaustive BM25 over the compressed index
    (second distribution axis: per-chunk partial scores + hash-agg +
    global top-k)."""
    from partitioned_ef_ans_spark.index import query as q_mod

    ix = _get_index(spark, sf_dir)
    return q_mod.run_ranked_docpartitioned(
        spark, ix["index_df"], gate_queries_df(spark), ix["codec"],
        ix["num_docs"], ix["avg_len"], k=TOP_K, term_stats_df=ix["term_stats"],
    )


def q_ranked_and_docpart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-partitioned CONJUNCTIVE BM25 (the ranked_and shape the
    giant-query dispatch routes to): per-chunk partials + distinct-term
    match-count filter + global top-k window."""
    from partitioned_ef_ans_spark.index import query as q_mod

    ix = _get_index(spark, sf_dir)
    return q_mod.run_ranked_and_docpartitioned(
        spark, ix["index_df"], gate_queries_df(spark), ix["codec"],
        ix["num_docs"], ix["avg_len"], k=TOP_K, term_stats_df=ix["term_stats"],
    )


def q_ranked_collapsed_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Field-collapsed top-k (≤1 result per (query, source) — SERP
    host-collapse) over the doc-partitioned exhaustive substrate:
    per-group best needs ALL scores, so it rides
    ranked_scores_docpartitioned, not a pruned kernel."""
    from partitioned_ef_ans_spark.index import query as q_mod

    ix = _get_index(spark, sf_dir)
    groups = load_documents(spark, sf_dir).select(
        "doc_id", F.col("source").alias("grp")
    )
    return q_mod.run_ranked_collapsed(
        spark, ix["index_df"], gate_queries_df(spark), ix["codec"],
        ix["num_docs"], ix["avg_len"], groups, k=TOP_K,
        term_stats_df=ix["term_stats"],
    )


def q_ranked_docpart_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The document-partitioned ranked twins (exhaustive OR /
    conjunctive AND — the shapes the giant-query dispatch routes to)
    plus the field-collapsed diversified top-k (which NEEDS the
    exhaustive docpart substrate) collapsed into one window entry
    keyed by ``mode``: same oracle strength as the twins, one fewer
    driver-window slot (the family-union pattern applied to the
    docpart plane)."""
    a = q_ranked_or_docpart(spark, sf_dir).withColumn("mode", F.lit("or"))
    b = q_ranked_and_docpart(spark, sf_dir).withColumn("mode", F.lit("and"))
    c = q_ranked_collapsed_top10(spark, sf_dir).withColumn(
        "mode", F.lit("collapse")
    )
    return a.unionByName(b).unionByName(c)


def sql_ranked_docpart_family() -> str:
    return (
        f"SELECT 'or' AS mode, v.* FROM ({sql_ranked_or()}) v "
        "UNION ALL "
        f"SELECT 'and' AS mode, v.* FROM ({sql_ranked_and()}) v "
        "UNION ALL "
        f"SELECT 'collapse' AS mode, v.* FROM ({sql_ranked_collapsed()}) v"
    )


def q_wand_blockmax_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized block-max WAND (index/blockmax.py): block-granular
    pruning via the stored block_max_weights, selective decode, exact
    scoring of survivors — rank-identical to the ranked-OR oracle."""
    return _indexed_ranked(spark, sf_dir, "blockmax")


def q_blockmax_docpart_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-partitioned block-max retrieval (the 100-TB shape): tau from
    the strongest term's chunks, chunk-local block pruning, hash-agg +
    global top-k — a single query never gathers a full list into one
    task."""
    from partitioned_ef_ans_spark.index import blockmax as bmx

    ix = _get_index(spark, sf_dir)
    return bmx.run_blockmax_docpartitioned(
        spark, ix["index_df"], gate_queries_df(spark), ix["codec"],
        ix["num_docs"], ix["avg_len"], ix["term_stats"], k=TOP_K,
    )


def q_wand_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The four WAND twins over the compressed index (faithful
    per-posting pivot walk, queries.hpp:203-322 / vectorized block-max
    interval sweep, index/blockmax.py / true BMW with shallow
    per-block re-bound, Ding & Suel 2011 / the doc-partitioned
    block-max shape — a single query never gathers a full list into
    one task) in one union entry keyed by ``mode`` — the family-union
    pattern: same oracle strength, one driver-window slot."""
    a = q_wand_top10(spark, sf_dir).withColumn("mode", F.lit("wand"))
    b = q_wand_blockmax_top10(spark, sf_dir).withColumn(
        "mode", F.lit("blockmax")
    )
    c = q_wand_bmw_top10(spark, sf_dir).withColumn("mode", F.lit("bmw"))
    d = q_blockmax_docpart_top10(spark, sf_dir).withColumn(
        "mode", F.lit("blockmax_docpart")
    )
    return a.unionByName(b).unionByName(c).unionByName(d)


def sql_wand_family() -> str:
    return " UNION ALL ".join(
        f"SELECT '{m}' AS mode, v.* FROM ({sql_ranked_or()}) v"
        for m in ("wand", "blockmax", "bmw", "blockmax_docpart")
    )


def q_maxscore_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two MaxScore twins (faithful per-posting essential-list
    walk, queries.hpp:478-587 / vectorized essential split over block
    metadata + selective decode) in one union entry keyed by
    ``mode``."""
    a = q_maxscore_top10(spark, sf_dir).withColumn("mode", F.lit("maxscore"))
    b = q_maxscore_blockmax_top10(spark, sf_dir).withColumn(
        "mode", F.lit("maxscore_blockmax")
    )
    return a.unionByName(b)


def sql_maxscore_family() -> str:
    return " UNION ALL ".join(
        f"SELECT '{m}' AS mode, v.* FROM ({sql_ranked_or()}) v"
        for m in ("maxscore", "maxscore_blockmax")
    )


def q_taat_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized pruned TAAT (the NumPy scale path) — must be
    rank-identical to the ranked-OR oracle like WAND/MaxScore."""
    return _indexed_ranked(spark, sf_dir, "taat")


def q_ranked_or_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _indexed_ranked(spark, sf_dir, "ranked_or")


def q_ranked_and_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _indexed_ranked(spark, sf_dir, "ranked_and")


def q_ranked_prf_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance-feedback retrieval (operators/prf.py): stage-1
    top-``PRF_K_FB`` via the pruned blockmax kernel, integer-tf
    expansion mining over the (semi-join-pruned) forward table,
    stage-2 re-run on the expanded queries — both stages the certified
    run_ranked machinery."""
    from partitioned_ef_ans_spark.operators import prf as prf_mod

    ix = _get_index(spark, sf_dir)
    return prf_mod.run_ranked_prf(
        spark, ix["index_df"], gate_queries_df(spark), ix["codec"],
        ix["num_docs"], ix["avg_len"], load_documents(spark, sf_dir),
        k=TOP_K, k_fb=PRF_K_FB, m=PRF_M, mode="blockmax",
        dtype="float64", term_stats_df=ix["term_stats"],
    )


def q_ranked_fuzzy_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Did-you-mean retrieval (operators/spellcheck.py): OOV query
    terms corrected against the frozen term_stats dictionary
    (min Levenshtein ≤ FUZZY_MAX_DIST, ties df desc then term —
    all-integer ordering), then the certified run_ranked."""
    from partitioned_ef_ans_spark.operators import spellcheck as sp_mod

    ix = _get_index(spark, sf_dir)
    return sp_mod.run_ranked_fuzzy(
        spark, ix["index_df"],
        r_mod.queries_to_df(spark, FUZZY_QUERIES), ix["codec"],
        ix["num_docs"], ix["avg_len"], term_stats_df=ix["term_stats"],
        max_dist=FUZZY_MAX_DIST, mode="blockmax", k=TOP_K,
        dtype="float64",
    )


def q_mlt_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """More-like-this (operators/mlt.py): each source doc's top-MLT_M
    salient terms (tf desc, df asc, term — all integers) become its
    query; certified run_ranked serves it; self excluded exactly via
    top-(k+1) + trim."""
    from partitioned_ef_ans_spark.operators import mlt as mlt_mod

    ix = _get_index(spark, sf_dir)
    ids = spark.createDataFrame(
        [(int(i),) for i in MLT_DOC_IDS], "doc_id long"
    )
    return mlt_mod.run_more_like_this(
        spark, ix["index_df"], ids, ix["codec"], ix["num_docs"],
        ix["avg_len"], load_documents(spark, sf_dir),
        term_stats_df=ix["term_stats"], m=MLT_M, k=TOP_K,
        mode="blockmax", dtype="float64",
    )


def q_ranked_indexed_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The index-backed exhaustive ranked twins (disjunctive /
    conjunctive full scoring + the vectorized pruned TAAT kernel) plus
    the PRF, did-you-mean and more-like-this extensions in one union
    entry keyed by ``mode`` — the family-union pattern: same oracle
    strength, one driver-window slot."""
    a = q_ranked_or_indexed(spark, sf_dir).withColumn("mode", F.lit("or"))
    b = q_ranked_and_indexed(spark, sf_dir).withColumn("mode", F.lit("and"))
    c = q_taat_top10(spark, sf_dir).withColumn("mode", F.lit("taat"))
    d = q_ranked_prf_top10(spark, sf_dir).withColumn("mode", F.lit("rm3"))
    e = q_ranked_fuzzy_top10(spark, sf_dir).withColumn(
        "mode", F.lit("fuzzy")
    )
    f = q_mlt_top10(spark, sf_dir).withColumn("mode", F.lit("mlt"))
    return (
        a.unionByName(b).unionByName(c).unionByName(d)
        .unionByName(e).unionByName(f)
    )


def sql_ranked_indexed_family() -> str:
    return (
        f"SELECT 'or' AS mode, v.* FROM ({sql_ranked_or()}) v "
        "UNION ALL "
        f"SELECT 'and' AS mode, v.* FROM ({sql_ranked_and()}) v "
        "UNION ALL "
        f"SELECT 'taat' AS mode, v.* FROM ({sql_ranked_or()}) v "
        "UNION ALL "
        f"SELECT 'rm3' AS mode, v.* FROM ({sql_ranked_prf()}) v "
        "UNION ALL "
        f"SELECT 'fuzzy' AS mode, v.* FROM ({sql_ranked_fuzzy()}) v "
        "UNION ALL "
        f"SELECT 'mlt' AS mode, v.* FROM ({sql_mlt()}) v"
    )


def _indexed_boolean(spark: SparkSession, sf_dir: str, conjunctive: bool) -> DataFrame:
    from partitioned_ef_ans_spark.index import query as q_mod

    ix = _get_index(spark, sf_dir)
    return q_mod.run_boolean(
        spark, ix["index_df"], gate_queries_df(spark), ix["codec"], conjunctive,
        term_stats_df=ix["term_stats"],
    )


def q_bool_and_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _indexed_boolean(spark, sf_dir, True)


def q_bool_or_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _indexed_boolean(spark, sf_dir, False)


def q_bool_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean match counts over the compressed index, both ops in one
    union entry (and = Q3 over the index, or = Q4) — one registry slot
    instead of two, same oracle strength."""
    out = None
    for op, conj in (("and", True), ("or", False)):
        d = _indexed_boolean(spark, sf_dir, conj).withColumn("op", F.lit(op))
        out = d if out is None else out.unionByName(d)
    return out.select("op", "query_id", "matches")


def sql_bool_indexed() -> str:
    return (
        f"SELECT 'and' AS op, * FROM ({sql_bool_and()}) "
        f"UNION ALL SELECT 'or' AS op, * FROM ({sql_bool_or()})"
    )


def q_bool_docpart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-partitioned boolean counts, both ops in one union entry
    (the gather-free shape run_boolean's giant-query dispatch routes
    to): per-chunk local matches, relational distinct/match-count
    aggregation."""
    from partitioned_ef_ans_spark.index import query as q_mod

    ix = _get_index(spark, sf_dir)
    out = None
    for op, conj in (("and", True), ("or", False)):
        d = q_mod.run_boolean_docpartitioned(
            spark, ix["index_df"], gate_queries_df(spark), ix["codec"],
            conj, term_stats_df=ix["term_stats"],
        ).withColumn("op", F.lit(op))
        out = d if out is None else out.unionByName(d)
    return out.select("op", "query_id", "matches")


def sql_bool_docpart() -> str:
    # same result contract as the query-parallel twin — one oracle,
    # no drift between the two
    return sql_bool_indexed()


def q_bool_engines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two boolean execution substrates (query-parallel indexed,
    doc-partitioned gather-free) in ONE union entry keyed by
    ``engine`` — identical schema, identical oracle; folding them
    frees a driver-window slot for the suggest gate while keeping
    both engines hashed."""
    a = q_bool_indexed(spark, sf_dir).withColumn("engine", F.lit("indexed"))
    b = q_bool_docpart(spark, sf_dir).withColumn("engine", F.lit("docpart"))
    return a.unionByName(b)


def sql_bool_engines() -> str:
    return (
        f"SELECT v.*, 'indexed' AS engine FROM ({sql_bool_indexed()}) v "
        "UNION ALL "
        f"SELECT v.*, 'docpart' AS engine FROM ({sql_bool_docpart()}) v"
    )


#: fixed autocomplete prefixes for the suggest gate: vocabulary hits
#: of different breadths plus a guaranteed-empty one (zz) — chosen
#: from the same corpus vocabulary GATE_QUERIES draws on
SUGGEST_PREFIXES: list[str] = ["s", "qu", "gr", "da", "zz"]


def q_suggest_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix autocomplete (operators/suggest.py) over the index's
    FROZEN term dictionary — the real serving path (CLI ``suggest``
    reads load_index's term_stats).  Deterministic ordering: df DESC,
    term ASC, integers only."""
    from partitioned_ef_ans_spark.operators.suggest import suggest_terms

    ix = _get_index(spark, sf_dir)
    pre = spark.createDataFrame(
        [(p,) for p in SUGGEST_PREFIXES], "prefix string"
    )
    return suggest_terms(pre, ix["term_stats"], n=8).withColumn(
        "df", F.col("df").cast("long")
    )


def sql_suggest_top() -> str:
    vals = ", ".join(f"('{p}')" for p in SUGGEST_PREFIXES)
    return f"""
WITH {_TOK_CTE}, {_TF_CTE}, {_DFS_CTE},
pre AS (SELECT * FROM (VALUES {vals}) AS p(prefix))
SELECT prefix, CAST(row_number() OVER w AS INT) AS "rank", term,
       CAST(df AS BIGINT) AS df
FROM pre JOIN dfs ON starts_with(term, prefix)
WINDOW w AS (PARTITION BY prefix ORDER BY df DESC, term)
QUALIFY "rank" <= 8"""


def q_index_decode_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V1 verification pass (create_freq_index.cpp:15-62): decode the
    ENTIRE compressed index back to (term, doc_id, tf) and diff against
    the DuckDB-computed truth — proves the codec+layout lossless on the
    real corpus, not just on synthetic fixtures."""
    return _index_decode_flat_impl(spark, sf_dir, codec="ans")


def _index_decode_flat_impl(spark: SparkSession, sf_dir: str, codec: str) -> DataFrame:
    from partitioned_ef_ans_spark.index.build import decode_flat

    ix = _get_index(spark, sf_dir, codec=codec)
    return decode_flat(spark, ix["index_df"], ix["codec"])


def q_index_decode_flat_pef(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same full-index decode-equality check for the partitioned
    Elias-Fano (`opt` family) codec."""
    return _index_decode_flat_impl(spark, sf_dir, codec="pef")


def q_index_decode_flat_ef(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode-equality for the `ef` family (compact EF docs +
    positive<strict EF> freqs, index_types.hpp:18-20)."""
    return _index_decode_flat_impl(spark, sf_dir, codec="ef")


def q_index_decode_flat_single(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode-equality for the `single` family (indexed_sequence docs +
    positive<strict_sequence> freqs, index_types.hpp:22-24)."""
    return _index_decode_flat_impl(spark, sf_dir, codec="single")


def q_index_decode_flat_uniform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode-equality for the `uniform` family (uniform-partitioned
    sequences, index_types.hpp:26-28)."""
    return _index_decode_flat_impl(spark, sf_dir, codec="uniform")


def q_index_decode_flat_simple16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode-equality for the simple16 block family (K7)."""
    return _index_decode_flat_impl(spark, sf_dir, codec="simple16")


def q_index_decode_flat_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode-equality for the binary-interpolative block family (K4)."""
    return _index_decode_flat_impl(spark, sf_dir, codec="interpolative")


def q_index_decode_flat_ans_max1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode-equality for the ANS-MSB max_1d model variant
    (ans_msb_model.hpp:23-65)."""
    return _index_decode_flat_impl(spark, sf_dir, codec="ans_max1d")


def q_index_decode_flat_ans_minmax2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode-equality for the ANS-MSB minmax_2d model variant
    (ans_msb_model.hpp:67-110)."""
    return _index_decode_flat_impl(spark, sf_dir, codec="ans_minmax2d")


def q_index_decode_flat_ans_med90p2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode-equality for the ANS-MSB med90p_2d model variant
    (ans_msb_model.hpp:112-155)."""
    return _index_decode_flat_impl(spark, sf_dir, codec="ans_med90p2d")


def q_index_decode_flat_ans_med90p2dm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode-equality for the ANS-MSB med90p_2d_merged model variant
    (ans_msb_model.hpp:157-305)."""
    return _index_decode_flat_impl(spark, sf_dir, codec="ans_med90p2dm")


def q_index_decode_flat_anspacked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode-equality for the ans_packed family (A10, per-magnitude
    models, ans_packed_model.hpp:17-421 / index_types.hpp:55)."""
    return _index_decode_flat_impl(spark, sf_dir, codec="ans_packed")


def q_wand_top10_ef(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAND over the `ef`-family index — rank-identical to the
    relational ranked-OR oracle like the ANS and PEF paths."""
    from partitioned_ef_ans_spark.index import query as q_mod

    ix = _get_index(spark, sf_dir, codec="ef")
    return q_mod.run_ranked(
        spark, ix["index_df"], gate_queries_df(spark), ix["codec"],
        ix["num_docs"], ix["avg_len"], mode="wand", k=TOP_K, dtype="float64",
        term_stats_df=ix["term_stats"],
    )


def _wand_for_codec(spark: SparkSession, sf_dir: str, codec: str) -> DataFrame:
    from partitioned_ef_ans_spark.index import query as q_mod

    ix = _get_index(spark, sf_dir, codec=codec)
    return q_mod.run_ranked(
        spark, ix["index_df"], gate_queries_df(spark), ix["codec"],
        ix["num_docs"], ix["avg_len"], mode="wand", k=TOP_K, dtype="float64",
        term_stats_df=ix["term_stats"],
    )


def q_wand_top10_uniform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAND over the `uniform` family (uniform_partitioned sequences)
    — proves the ranked path over every EF family, not just decode."""
    return _wand_for_codec(spark, sf_dir, "uniform")


def q_wand_top10_single(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAND over the `single` family (indexed_sequence lists)."""
    return _wand_for_codec(spark, sf_dir, "single")


def q_wand_top10_ef_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranked WAND across ALL four EF index families in one collapsed
    entry (pef/`opt`, ef, single, uniform) — same oracle strength as
    the four per-family twins, one registry slot (the driver records
    its first 50 entries only)."""
    out = None
    for c in ("pef", "ef", "single", "uniform"):
        d = _wand_for_codec(spark, sf_dir, c).withColumn("codec", F.lit(c))
        out = d if out is None else out.unionByName(d)
    return out.select("codec", "query_id", "rank", "doc_id", "score")


def sql_wand_union_ef_family() -> str:
    vals = ", ".join(f"('{c}')" for c in ("pef", "ef", "single", "uniform"))
    return (
        f"SELECT c.codec, r.* FROM ({sql_ranked_or()}) r "
        f"CROSS JOIN (VALUES {vals}) AS c(codec)"
    )


#: codec groups for the collapsed decode-equality entries (the driver
#: caps its correctness record at 50 entries; one union entry per
#: family keeps every codec oracle-hashed without spending 13 slots)
EF_FAMILY_CODECS = ("pef", "ef", "single", "uniform")
ANS_FAMILY_CODECS = (
    "ans_max1d", "ans_minmax2d", "ans_med90p2d", "ans_med90p2dm", "ans_packed",
)
BLOCK_FAMILY_CODECS = (
    "simple16", "interpolative", "optpfor", "varintg8iu", "u32", "vbyte",
)


def _decode_flat_union(spark: SparkSession, sf_dir: str, codecs) -> DataFrame:
    out = None
    for c in codecs:
        d = _index_decode_flat_impl(spark, sf_dir, codec=c).withColumn(
            "codec", F.lit(c)
        )
        out = d if out is None else out.unionByName(d)
    return out.select("codec", "term", "doc_id", "tf")


def sql_decode_flat_union(codecs) -> str:
    vals = ", ".join(f"('{c}')" for c in codecs)
    return (
        f"WITH {_TOK_CTE}, {_TF_CTE} "
        f"SELECT c.codec, term, doc_id, tf FROM tf "
        f"CROSS JOIN (VALUES {vals}) AS c(codec)"
    )


def q_index_decode_flat_ef_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode-equality across the whole-list EF families in one entry:
    pef (`opt`), ef, single, uniform (index_types.hpp:18-28)."""
    return _decode_flat_union(spark, sf_dir, EF_FAMILY_CODECS)


def q_index_decode_flat_ans_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode-equality across the non-default ANS families: the four
    ans_msb model variants (ans_msb_model.hpp:23-305) + ans_packed
    (ans_packed_model.hpp:17-421)."""
    return _decode_flat_union(spark, sf_dir, ANS_FAMILY_CODECS)


def q_index_decode_flat_block_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode-equality across the non-ANS block codecs: simple16 (K7),
    interpolative (K4), optpfor (K2), varint-G8IU (K3), u32 (K5),
    vbyte (K6) — with the EF and ANS unions this driver-hashes all
    16 reference index families."""
    return _decode_flat_union(spark, sf_dir, BLOCK_FAMILY_CODECS)


def q_wand_top10_pef(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAND over the PEF-compressed index — must equal the relational
    ranked-OR oracle exactly like the ANS path."""
    from partitioned_ef_ans_spark.index import query as q_mod

    ix = _get_index(spark, sf_dir, codec="pef")
    return q_mod.run_ranked(
        spark, ix["index_df"], gate_queries_df(spark), ix["codec"],
        ix["num_docs"], ix["avg_len"], mode="wand", k=TOP_K, dtype="float64",
        term_stats_df=ix["term_stats"],
    )


def q_index_block_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V2 block-class byte accounting (small/full/last docs+freqs BPI),
    rows-only (codec byte counts have no SQL oracle)."""
    from partitioned_ef_ans_spark.index.stats import block_class_stats

    ix = _get_index(spark, sf_dir)
    pdf = block_class_stats(spark, ix["index_df"], ix["codec"])
    return spark.createDataFrame(
        pdf.round({"docs_bpi": 4, "freqs_bpi": 4})
    )


_U32_CHUNK_CTE = """
dfs2 AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
strides AS (
  SELECT term, CAST(CEIL((SELECT count(*) FROM documents) * 1.0
                         / CEIL(df * 1.0 / 256)) AS BIGINT) AS stride
  FROM dfs2
),
chunks AS (
  SELECT t.term,
         CAST(FLOOR(t.doc_id / s.stride) AS INT) AS chunk_id,
         count(*) AS n
  FROM tf t JOIN strides s USING (term)
  GROUP BY 1, 2
),
csizes AS (
  SELECT term, chunk_id, n,
         CAST(CEIL(n / 128.0) AS BIGINT) AS nblocks,
         (CASE WHEN n < 128 THEN 1 WHEN n < 16384 THEN 2 ELSE 3 END)
           + 4 * CAST(CEIL(n / 128.0) AS BIGINT)
           + 4 * (CAST(CEIL(n / 128.0) AS BIGINT) - 1)
           + 8 * n AS bytes
  FROM chunks
)"""


def q_index_stats_u32(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V3 stats line with a REAL oracle: the u32 block family's payload
    bytes are closed-form (vbyte(n) + 4*maxs + 4*endpoints + 8n per
    chunk), so DuckDB can recount num_docs/postings/bytes/bpp
    independently from the raw postings."""
    ix = _get_index(spark, sf_dir, codec="u32")
    m = ix["manifest"]
    return spark.createDataFrame(
        [
            (
                int(m["num_docs"]),
                int(m["total_postings"]),
                int(m["payload_bytes"]),
                round(float(m["bits_per_posting"]), 6),
            )
        ],
        "num_docs long, total_postings long, payload_bytes long, bits_per_posting double",
    )


def sql_index_stats_u32() -> str:
    return f"""
WITH {_TOK_CTE}, {_TF_CTE}, {_U32_CHUNK_CTE}
SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS num_docs,
       CAST(sum(n) AS BIGINT) AS total_postings,
       CAST(sum(bytes) AS BIGINT) AS payload_bytes,
       round(sum(bytes) * 8.0 / sum(n), 6) AS bits_per_posting
FROM csizes"""


def q_index_block_stats_u32(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V2 block-class byte accounting with a REAL oracle (u32 family:
    4 bytes per posting per stream, classes small/full/last by block
    position, ans_block_posting_list.hpp:10-136 semantics)."""
    from partitioned_ef_ans_spark.index.stats import block_class_stats

    ix = _get_index(spark, sf_dir, codec="u32")
    pdf = block_class_stats(spark, ix["index_df"], ix["codec"])
    return spark.createDataFrame(
        pdf.round({"docs_bpi": 4, "freqs_bpi": 4})
    )


def sql_index_block_stats_u32() -> str:
    cls_p = """
cls AS (
  SELECT 'small' AS cls, CAST(sum(CASE WHEN n < 128 THEN n ELSE 0 END) AS BIGINT) AS postings FROM csizes
  UNION ALL
  SELECT 'full', CAST(sum(CASE WHEN n >= 128 THEN (n // 128) * 128 ELSE 0 END) AS BIGINT) FROM csizes
  UNION ALL
  SELECT 'last', CAST(sum(CASE WHEN n >= 128 THEN n % 128 ELSE 0 END) AS BIGINT) FROM csizes
  UNION ALL
  SELECT 'total', CAST(sum(n) AS BIGINT) FROM csizes
)"""
    return f"""
WITH {_TOK_CTE}, {_TF_CTE}, {_U32_CHUNK_CTE}, {cls_p}
SELECT cls, postings,
       CAST(4 * postings AS BIGINT) AS doc_bytes,
       CAST(4 * postings AS BIGINT) AS freq_bytes,
       round(32.0, 4) AS docs_bpi,
       round(32.0, 4) AS freqs_bpi
FROM cls WHERE postings > 0"""


def q_index_decode_kinds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 per-kind decode counters (ans_decoding_stats.hpp:6-92):
    blocks/postings/exception-bytes per decode kind.  Rows-only (kind
    assignment depends on the trained model remap, which SQL cannot
    reproduce); invariants are pytest-checked (test_decode_kinds)."""
    from partitioned_ef_ans_spark.index.stats import ans_decode_kind_stats

    ix = _get_index(spark, sf_dir)
    return spark.createDataFrame(
        ans_decode_kind_stats(spark, ix["index_df"], ix["codec"])
    )


def q_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression/stats plane (V2/V3): bits-per-posting etc. —
    rows-only check (no SQL oracle can reproduce codec byte counts)."""
    ix = _get_index(spark, sf_dir)
    m = ix["manifest"]
    return spark.createDataFrame(
        [
            (
                m["codec"],
                int(m["num_docs"]),
                int(m["total_postings"]),
                int(m["payload_bytes"]),
                float(m["bits_per_posting"]),
                float(m["postings_per_sec"]),
            )
        ],
        "codec string, num_docs long, total_postings long, payload_bytes long, "
        "bits_per_posting double, postings_per_sec double",
    )


# -------------------------------------------------------------- DuckDB side

def _values_queries() -> tuple[str, str]:
    """(qrys, nq) VALUES clauses: per-(query,term) qtf multiplicities +
    per-query distinct-term counts — query_freqs semantics
    (queries.hpp:139-153)."""
    rows = []
    nrows = []
    for qid, terms in GATE_QUERIES:
        c = Counter(terms)
        nrows.append(f"({qid}, {len(c)})")
        for term, qtf in sorted(c.items()):
            rows.append(f"({qid}, '{term}', {qtf})")
    qrys = "SELECT * FROM (VALUES " + ", ".join(rows) + ") AS q(query_id, term, qtf)"
    nq = "SELECT * FROM (VALUES " + ", ".join(nrows) + ") AS n(query_id, n_terms)"
    return qrys, nq


_TOK_CTE = f"""
tok AS (
  SELECT doc_id, term FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(lower(text), '{tokenizer.DUCKDB_TOKEN_SPLIT}')) AS term
    FROM documents
  ) WHERE term <> ''
)"""

_TF_CTE = """
tf AS (
  SELECT doc_id, term, CAST(count(*) AS INT) AS tf FROM tok GROUP BY doc_id, term
)"""

_DFS_CTE = """
dfs AS (
  SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf FROM tf GROUP BY term
)"""

_ND_CTE = """
nd AS (
  SELECT CAST(count(*) AS BIGINT) AS num_docs FROM documents
)"""

_DS_CTE = """
lens AS (
  SELECT d.doc_id, CAST(coalesce(t.c, 0) AS BIGINT) AS doc_len
  FROM documents d LEFT JOIN (SELECT doc_id, count(*) AS c FROM tok GROUP BY doc_id) t
  USING (doc_id)
),
ds AS (
  SELECT doc_id, doc_len,
         CAST(doc_len AS DOUBLE) / (SELECT avg(doc_len) FROM lens) AS norm_len
  FROM lens
)"""


def sql_tokenize_tf() -> str:
    return f"WITH {_TOK_CTE}, {_TF_CTE} SELECT doc_id, term, tf FROM tf"


def sql_term_dictionary() -> str:
    return (
        f"WITH {_TOK_CTE} SELECT term, "
        "CAST(row_number() OVER (ORDER BY term) - 1 AS BIGINT) AS term_id "
        "FROM (SELECT DISTINCT term FROM tok)"
    )


def sql_term_stats() -> str:
    return f"WITH {_TOK_CTE}, {_TF_CTE}, {_DFS_CTE} SELECT term, df, cf FROM dfs"


def sql_doc_stats() -> str:
    return (
        f"WITH {_TOK_CTE}, {_DS_CTE} "
        "SELECT doc_id, doc_len, round(norm_len, 6) AS norm_len FROM ds"
    )


def sql_postings_flat() -> str:
    return f"WITH {_TOK_CTE}, {_TF_CTE} SELECT term, doc_id, tf FROM tf"


def _sql_ranked(conjunctive: bool, doc_filter: str = "") -> str:
    qrys, nq = _values_queries()
    docw = bm25.duckdb_doc_term_weight(tf="tf.tf", norm_len="ds.norm_len")
    qw = bm25.duckdb_query_term_weight(qtf="q.qtf", df="dfs.df", num_docs="nd.num_docs")
    having = "HAVING count(*) = any_value(qn.n_terms)" if conjunctive else ""
    # doc_filter applies to SCORING only — dfs/nd/ds stay full-corpus,
    # mirroring the tombstone plane's frozen-stats semantics
    where = f"WHERE {doc_filter}" if doc_filter else ""
    return f"""
WITH {_TOK_CTE}, {_TF_CTE}, {_DFS_CTE}, {_ND_CTE}, {_DS_CTE},
qrys AS ({qrys}),
nq AS ({nq}),
qw AS (
  SELECT q.query_id, q.term, {qw} AS q_weight
  FROM qrys q JOIN dfs USING (term) CROSS JOIN nd
),
per_doc AS (
  SELECT qw.query_id AS query_id, tf.doc_id AS doc_id,
         round(sum(qw.q_weight * {docw}), {bm25.ROUND_DECIMALS}) AS score
  FROM tf
  JOIN qw ON tf.term = qw.term
  JOIN ds ON tf.doc_id = ds.doc_id
  JOIN nq qn ON qw.query_id = qn.query_id
  {where}
  GROUP BY qw.query_id, tf.doc_id
  {having}
)
SELECT query_id, CAST(row_number() OVER w AS INT) AS "rank", doc_id, score
FROM per_doc
WINDOW w AS (PARTITION BY query_id ORDER BY score DESC, doc_id)
QUALIFY "rank" <= {TOP_K}
ORDER BY query_id, "rank"
"""


def sql_ranked_or() -> str:
    return _sql_ranked(False)


def sql_ranked_prf() -> str:
    """Two-stage PRF oracle: exhaustive rounded top-PRF_K_FB feedback
    set -> integer-tf expansion mining (no floats: engines agree
    bit-for-bit; ties by term) -> exhaustive rounded top-k over the
    expanded (original qtf + expansion qtf=1) query."""
    qrys, _nq = _values_queries()
    docw = bm25.duckdb_doc_term_weight(tf="tf.tf", norm_len="ds.norm_len")
    qw1 = bm25.duckdb_query_term_weight(
        qtf="q.qtf", df="dfs.df", num_docs="nd.num_docs"
    )
    qw2 = bm25.duckdb_query_term_weight(
        qtf="q2.qtf", df="dfs.df", num_docs="nd.num_docs"
    )
    return f"""
WITH {_TOK_CTE}, {_TF_CTE}, {_DFS_CTE}, {_ND_CTE}, {_DS_CTE},
qrys AS ({qrys}),
qw AS (
  SELECT q.query_id, q.term, {qw1} AS q_weight
  FROM qrys q JOIN dfs USING (term) CROSS JOIN nd
),
per_doc AS (
  SELECT qw.query_id AS query_id, tf.doc_id AS doc_id,
         round(sum(qw.q_weight * {docw}), {bm25.ROUND_DECIMALS}) AS score
  FROM tf
  JOIN qw ON tf.term = qw.term
  JOIN ds ON tf.doc_id = ds.doc_id
  GROUP BY qw.query_id, tf.doc_id
),
fb AS (
  SELECT query_id, doc_id FROM (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, doc_id) AS rn
    FROM per_doc
  ) WHERE rn <= {PRF_K_FB}
),
expw AS (
  SELECT f.query_id, t.term, CAST(sum(t.tf) AS BIGINT) AS wt
  FROM tf t
  JOIN fb f ON t.doc_id = f.doc_id
  LEFT JOIN qrys q ON q.query_id = f.query_id AND q.term = t.term
  WHERE q.term IS NULL
  GROUP BY f.query_id, t.term
),
expsel AS (
  SELECT query_id, term FROM (
    SELECT query_id, term,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY wt DESC, term) AS rn
    FROM expw
  ) WHERE rn <= {PRF_M}
),
qrys2 AS (
  SELECT query_id, term, qtf FROM qrys
  UNION ALL
  SELECT query_id, term, 1 AS qtf FROM expsel
),
qw2c AS (
  SELECT q2.query_id, q2.term, {qw2} AS q_weight
  FROM qrys2 q2 JOIN dfs USING (term) CROSS JOIN nd
),
per_doc2 AS (
  SELECT qw2c.query_id AS query_id, tf.doc_id AS doc_id,
         round(sum(qw2c.q_weight * {docw}), {bm25.ROUND_DECIMALS}) AS score
  FROM tf
  JOIN qw2c ON tf.term = qw2c.term
  JOIN ds ON tf.doc_id = ds.doc_id
  GROUP BY qw2c.query_id, tf.doc_id
)
SELECT query_id, CAST(row_number() OVER w AS INT) AS "rank", doc_id, score
FROM per_doc2
WINDOW w AS (PARTITION BY query_id ORDER BY score DESC, doc_id)
QUALIFY "rank" <= {TOP_K}
ORDER BY query_id, "rank"
"""


def sql_ranked_fuzzy() -> str:
    """Did-you-mean oracle: OOV tokens of FUZZY_QUERIES corrected
    against the corpus df-histogram (== the index's frozen term_stats
    df, itself a hashed gate entry) by (levenshtein, df desc, term) —
    all integers, engines agree exactly — then exhaustive rounded
    BM25 top-k over the corrected queries (qtf recounted after
    correction, so a correction colliding with a literal folds to
    qtf=2; queries keeping an unresolvable token drop whole)."""
    rows = []
    for qid, terms in FUZZY_QUERIES:
        for pos, t in enumerate(terms):
            rows.append(f"({qid}, {pos}, '{t.lower()}')")
    q_vals = (
        "SELECT * FROM (VALUES " + ", ".join(rows)
        + ") AS q(query_id, pos, term)"
    )
    docw = bm25.duckdb_doc_term_weight(tf="tf.tf", norm_len="ds.norm_len")
    qw = bm25.duckdb_query_term_weight(
        qtf="q2.qtf", df="dfs.df", num_docs="nd.num_docs"
    )
    return f"""
WITH {_TOK_CTE}, {_TF_CTE}, {_DFS_CTE}, {_ND_CTE}, {_DS_CTE},
q AS ({q_vals}),
hit AS (
  SELECT q.query_id, q.pos, q.term FROM q JOIN dfs USING (term)
),
oov AS (
  SELECT q.query_id, q.pos, q.term
  FROM q LEFT JOIN dfs USING (term) WHERE dfs.term IS NULL
),
cand AS (
  SELECT o.query_id, o.pos, d.term AS cand, d.df,
         levenshtein(o.term, d.term) AS dist
  FROM oov o JOIN dfs d
    ON abs(length(o.term) - length(d.term)) <= {FUZZY_MAX_DIST}
  WHERE levenshtein(o.term, d.term) <= {FUZZY_MAX_DIST}
),
fixed AS (
  SELECT query_id, pos, cand AS term FROM (
    SELECT query_id, pos, cand,
           row_number() OVER (PARTITION BY query_id, pos
                              ORDER BY dist, df DESC, cand) AS rn
    FROM cand
  ) WHERE rn = 1
),
resolved AS (
  SELECT * FROM hit UNION ALL SELECT * FROM fixed
),
keep AS (
  SELECT r.query_id FROM resolved r
  JOIN (SELECT query_id, count(*) AS n FROM q GROUP BY query_id) c
    USING (query_id)
  GROUP BY r.query_id, c.n HAVING count(*) = any_value(c.n)
),
qrys2 AS (
  SELECT r.query_id, r.term, CAST(count(*) AS INT) AS qtf
  FROM resolved r JOIN keep USING (query_id)
  GROUP BY r.query_id, r.term
),
qw2 AS (
  SELECT q2.query_id, q2.term, {qw} AS q_weight
  FROM qrys2 q2 JOIN dfs USING (term) CROSS JOIN nd
),
per_doc AS (
  SELECT qw2.query_id AS query_id, tf.doc_id AS doc_id,
         round(sum(qw2.q_weight * {docw}), {bm25.ROUND_DECIMALS}) AS score
  FROM tf
  JOIN qw2 ON tf.term = qw2.term
  JOIN ds ON tf.doc_id = ds.doc_id
  GROUP BY qw2.query_id, tf.doc_id
)
SELECT query_id, CAST(row_number() OVER w AS INT) AS "rank", doc_id, score
FROM per_doc
WINDOW w AS (PARTITION BY query_id ORDER BY score DESC, doc_id)
QUALIFY "rank" <= {TOP_K}
ORDER BY query_id, "rank"
"""


def sql_mlt() -> str:
    """More-like-this oracle: top-MLT_M salient terms per source doc
    (tf desc, df asc, term — all integers) -> exhaustive rounded BM25
    with the source doc excluded, top-k."""
    ids = ", ".join(f"({int(i)})" for i in MLT_DOC_IDS)
    docw = bm25.duckdb_doc_term_weight(tf="tf.tf", norm_len="ds.norm_len")
    qw = bm25.duckdb_query_term_weight(
        qtf="q3.qtf", df="dfs.df", num_docs="nd.num_docs"
    )
    return f"""
WITH {_TOK_CTE}, {_TF_CTE}, {_DFS_CTE}, {_ND_CTE}, {_DS_CTE},
src AS (SELECT * FROM (VALUES {ids}) AS s(doc_id)),
sal AS (
  SELECT tf.doc_id AS qid, tf.term, tf.tf, dfs.df
  FROM tf JOIN src USING (doc_id) JOIN dfs USING (term)
),
sel AS (
  SELECT qid, term FROM (
    SELECT qid, term,
           row_number() OVER (PARTITION BY qid
                              ORDER BY tf DESC, df, term) AS rn
    FROM sal
  ) WHERE rn <= {MLT_M}
),
qrys3 AS (SELECT qid AS query_id, term, 1 AS qtf FROM sel),
qw3 AS (
  SELECT q3.query_id, q3.term, {qw} AS q_weight
  FROM qrys3 q3 JOIN dfs USING (term) CROSS JOIN nd
),
per_doc AS (
  SELECT qw3.query_id AS query_id, tf.doc_id AS doc_id,
         round(sum(qw3.q_weight * {docw}), {bm25.ROUND_DECIMALS}) AS score
  FROM tf
  JOIN qw3 ON tf.term = qw3.term
  JOIN ds ON tf.doc_id = ds.doc_id
  GROUP BY qw3.query_id, tf.doc_id
)
SELECT query_id, CAST(row_number() OVER w AS INT) AS "rank", doc_id, score
FROM per_doc
WHERE doc_id <> query_id
WINDOW w AS (PARTITION BY query_id ORDER BY score DESC, doc_id)
QUALIFY "rank" <= {TOP_K}
ORDER BY query_id, "rank"
"""


def sql_ranked_collapsed() -> str:
    """Field-collapse oracle: exhaustive rounded scores -> best doc per
    (query, source) (score desc, doc_id) -> global top-k."""
    qrys, _nq = _values_queries()
    docw = bm25.duckdb_doc_term_weight(tf="tf.tf", norm_len="ds.norm_len")
    qw = bm25.duckdb_query_term_weight(
        qtf="q.qtf", df="dfs.df", num_docs="nd.num_docs"
    )
    return f"""
WITH {_TOK_CTE}, {_TF_CTE}, {_DFS_CTE}, {_ND_CTE}, {_DS_CTE},
qrys AS ({qrys}),
qw AS (
  SELECT q.query_id, q.term, {qw} AS q_weight
  FROM qrys q JOIN dfs USING (term) CROSS JOIN nd
),
per_doc AS (
  SELECT qw.query_id AS query_id, tf.doc_id AS doc_id,
         round(sum(qw.q_weight * {docw}), {bm25.ROUND_DECIMALS}) AS score
  FROM tf
  JOIN qw ON tf.term = qw.term
  JOIN ds ON tf.doc_id = ds.doc_id
  GROUP BY qw.query_id, tf.doc_id
),
best AS (
  SELECT query_id, doc_id, score FROM (
    SELECT p.query_id, p.doc_id, p.score,
           row_number() OVER (
               PARTITION BY p.query_id,
                            COALESCE(d.source,
                                     chr(0) || 'doc:' || CAST(p.doc_id AS VARCHAR))
               ORDER BY p.score DESC, p.doc_id) AS g_rn
    FROM per_doc p JOIN documents d USING (doc_id)
  ) WHERE g_rn = 1
)
SELECT query_id, CAST(row_number() OVER w AS INT) AS "rank", doc_id, score
FROM best
WINDOW w AS (PARTITION BY query_id ORDER BY score DESC, doc_id)
QUALIFY "rank" <= {TOP_K}
ORDER BY query_id, "rank"
"""


# every 7th doc tombstoned — deterministic at any scale factor, and
# dense enough that deleted docs DO rank in the unfiltered top-10
# (the mask is load-bearing, tests/test_deletes.py proves the same at
# build scale)
GATE_DELETE_PRED = "doc_id % 7 = 3"


def q_ranked_deleted_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tombstone-masked block-max retrieval (the document-deletion
    plane, index/checkpoint.delete_docs semantics): docs matching
    GATE_DELETE_PRED are deleted; corpus statistics stay frozen at
    build so surviving docs' scores are bit-stable, and the pruned
    kernel must remain rank-identical to the oracle that filters
    deleted docs from scoring only."""
    from partitioned_ef_ans_spark.index import query as q_mod

    ix = _get_index(spark, sf_dir)
    tomb = [
        r["doc_id"]
        for r in load_documents(spark, sf_dir)
        .where(F.expr(GATE_DELETE_PRED))
        .select("doc_id")
        .collect()
    ]
    return q_mod.run_ranked(
        spark,
        ix["index_df"],
        gate_queries_df(spark),
        ix["codec"],
        ix["num_docs"],
        ix["avg_len"],
        mode="blockmax",
        k=TOP_K,
        dtype="float64",
        term_stats_df=ix["term_stats"],
        tombstones=tomb,
    )


def sql_ranked_deleted() -> str:
    return _sql_ranked(False, doc_filter=f"NOT (tf.{GATE_DELETE_PRED})")


# filtered retrieval: a metadata predicate restricts which docs may
# serve (~2/3 selectivity; residue class disjoint from the deletion
# predicate so both masking polarities stay independently load-bearing)
GATE_FILTER_PRED = "doc_id % 3 != 1"


def q_ranked_filtered_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Allowlist-FILTERED retrieval (keep-mode masking,
    query.make_allowlist / KeepList — the polar twin of the tombstone
    plane): only docs matching GATE_FILTER_PRED may serve.  Corpus
    statistics stay frozen (Lucene filter semantics: a filter never
    changes collection stats), tau derivation sees only allowed docs,
    and the pre-filter maxima remain admissible — the pruned
    maxscore_blockmax kernel must stay rank-identical to the oracle
    that restricts scoring to the allowed set."""
    from partitioned_ef_ans_spark.index import query as q_mod

    ix = _get_index(spark, sf_dir)
    allow = [
        r["doc_id"]
        for r in load_documents(spark, sf_dir)
        .where(F.expr(GATE_FILTER_PRED))
        .select("doc_id")
        .collect()
    ]
    return q_mod.run_ranked(
        spark,
        ix["index_df"],
        gate_queries_df(spark),
        ix["codec"],
        ix["num_docs"],
        ix["avg_len"],
        mode="maxscore_blockmax",
        k=TOP_K,
        dtype="float64",
        term_stats_df=ix["term_stats"],
        allowlist=allow,
    )


def sql_ranked_filtered() -> str:
    return _sql_ranked(False, doc_filter=f"tf.{GATE_FILTER_PRED}")


def sql_ranked_and() -> str:
    return _sql_ranked(True)


# --------------------------------------------------- phrase (shingle) plane

#: exact-match phrase queries: two frequent bigrams, a trigram whose
#: bigram-conjunction CANDIDATES exceed its exact matches at sf0.01
#: (8 vs 3 — the verification join is load-bearing), a rare dup
#: trigram, and an OOV phrase (no row on either side)
PHRASE_QUERIES = [
    (0, "table hash"),
    (1, "merge group"),
    (2, "fast hash slow"),
    (3, "batch small dup"),
    (4, "zz0 zz1"),
]

#: ranked phrases are all exactly shingle-width (2 words): the shingle
#: conjunction is exact by construction and BM25 scores the phrase as
#: a unit term over the shingle statistics
PHRASE_RANKED_QUERIES = [
    (0, "table hash"),
    (1, "merge group"),
    (2, "slow key"),
    (3, "customer join"),
]


def _get_phrase_index(spark: SparkSession, sf_dir: str, n: int = 2):
    """Build (once per (sf_dir, n)) and load the n-gram shingle index
    — the ordinary build with tokenize_shingles swapped in."""
    import hashlib

    from partitioned_ef_ans_spark.index import build as b_mod
    from partitioned_ef_ans_spark.index import phrase as ph_mod

    key = (sf_dir, f"shingle{n}")
    if key in _INDEX_CACHE:
        return _INDEX_CACHE[key]
    tag = hashlib.sha1(f"{sf_dir}|shingle{n}".encode()).hexdigest()[:12]
    out_dir = f"/dev/shm/pefa_index_{os.getpid()}_{tag}"
    _register_shm_artifact(out_dir)
    ph_mod.build_phrase_index(
        spark, load_documents(spark, sf_dir), out_dir, codec="ans", n=n,
        chunk_postings=256, doc_col="doc_id", text_col="text",
    )
    index_df, _stats_df, term_stats_df, codec_obj, manifest = b_mod.load_index(
        spark, out_dir
    )
    bundle = {
        "index_df": index_df.cache(),
        "term_stats": term_stats_df.cache(),
        "codec": codec_obj,
        "num_docs": manifest["num_docs"],
        "avg_len": manifest["avg_doc_len"],
        "manifest": manifest,
    }
    _INDEX_CACHE[key] = bundle
    return bundle


def _phrase_qdf(spark, queries):
    from partitioned_ef_ans_spark.operators.ranked import queries_to_df

    return queries_to_df(spark, [(q, p.split()) for q, p in queries])


def q_phrase_match_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT phrase match counts over the 2-gram shingle index
    (index/phrase.py): conjunctive shingle candidates from the
    doc-partitioned match relation, then the verification join against
    the candidate docs' token stream — exact at any phrase length.
    The trigram gate query has more candidates than matches, so the
    verify step is provably load-bearing."""
    from partitioned_ef_ans_spark.index import phrase as ph_mod

    ix = _get_phrase_index(spark, sf_dir)
    return ph_mod.phrase_match_counts(
        spark, ix["index_df"], _phrase_qdf(spark, PHRASE_QUERIES),
        ix["codec"], docs_df=load_documents(spark, sf_dir),
        text_col="text", n=2, term_stats_df=ix["term_stats"],
    )


def sql_phrase_match_counts() -> str:
    vals = ", ".join(
        f"({qid}, '{p}')" for qid, p in PHRASE_QUERIES
    )
    return f"""
WITH arr AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text),
                     '{tokenizer.DUCKDB_TOKEN_SPLIT}'),
                     x -> x <> '') AS a
  FROM documents
),
phrases AS (SELECT * FROM (VALUES {vals}) AS p(query_id, phrase))
SELECT p.query_id AS query_id, CAST(count(*) AS BIGINT) AS matches
FROM arr CROSS JOIN phrases p
WHERE position(' ' || p.phrase || ' ' IN
               ' ' || array_to_string(arr.a, ' ') || ' ') > 0
GROUP BY p.query_id
"""


def q_phrase_ranked_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25-ranked phrase retrieval: 2-word phrases scored as unit
    terms over the shingle index (run_ranked mode=ranked_and on
    shingle statistics) — rank-identical to the shingle-tf relational
    oracle."""
    from partitioned_ef_ans_spark.index import phrase as ph_mod

    ix = _get_phrase_index(spark, sf_dir)
    return ph_mod.run_phrase_ranked(
        spark, ix["index_df"], _phrase_qdf(spark, PHRASE_RANKED_QUERIES),
        ix["codec"], ix["num_docs"], ix["avg_len"], k=TOP_K,
        dtype="float64", n=2, term_stats_df=ix["term_stats"],
    )


def sql_phrase_ranked() -> str:
    docw = bm25.duckdb_doc_term_weight(tf="tf2.tf", norm_len="ds2.norm_len")
    qw = bm25.duckdb_query_term_weight(
        qtf="1", df="dfs2.df", num_docs="nd.num_docs"
    )
    vals = ", ".join(f"({qid}, '{p}')" for qid, p in PHRASE_RANKED_QUERIES)
    return f"""
WITH arr AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text),
                     '{tokenizer.DUCKDB_TOKEN_SPLIT}'),
                     x -> x <> '') AS a
  FROM documents
),
ixn AS (SELECT doc_id, a, unnest(range(1, len(a))) AS i FROM arr),
tf2 AS (
  SELECT doc_id, a[i] || ' ' || a[i+1] AS term,
         CAST(count(*) AS INT) AS tf
  FROM ixn GROUP BY doc_id, a[i] || ' ' || a[i+1]
),
dfs2 AS (SELECT term, count(*) AS df FROM tf2 GROUP BY term),
nd AS (SELECT CAST(count(*) AS BIGINT) AS num_docs FROM documents),
lens2 AS (
  SELECT d.doc_id, CAST(coalesce(t.c, 0) AS BIGINT) AS doc_len
  FROM documents d LEFT JOIN (
    SELECT doc_id, sum(tf) AS c FROM tf2 GROUP BY doc_id
  ) t USING (doc_id)
),
ds2 AS (
  SELECT doc_id,
         CAST(doc_len AS DOUBLE) / (SELECT avg(doc_len) FROM lens2)
           AS norm_len
  FROM lens2
),
phrases AS (SELECT * FROM (VALUES {vals}) AS p(query_id, term)),
qw AS (
  SELECT p.query_id, p.term, {qw} AS q_weight
  FROM phrases p JOIN dfs2 USING (term) CROSS JOIN nd
),
per_doc AS (
  SELECT qw.query_id AS query_id, tf2.doc_id AS doc_id,
         round(sum(qw.q_weight * {docw}), {bm25.ROUND_DECIMALS}) AS score
  FROM tf2
  JOIN qw ON tf2.term = qw.term
  JOIN ds2 ON tf2.doc_id = ds2.doc_id
  GROUP BY qw.query_id, tf2.doc_id
)
SELECT query_id, CAST(row_number() OVER w AS INT) AS "rank", doc_id, score
FROM per_doc
WINDOW w AS (PARTITION BY query_id ORDER BY score DESC, doc_id)
QUALIFY "rank" <= {TOP_K}
ORDER BY query_id, "rank"
"""


def _sql_boolean(conjunctive: bool) -> str:
    qrys, nq = _values_queries()
    having = "HAVING count(*) = any_value(nq.n_terms)" if conjunctive else ""
    return f"""
WITH {_TOK_CTE}, {_TF_CTE},
qrys AS ({qrys}),
nq AS ({nq}),
hits AS (
  SELECT q.query_id AS query_id, tf.doc_id AS doc_id
  FROM tf JOIN (SELECT DISTINCT query_id, term FROM qrys) q ON tf.term = q.term
          JOIN nq ON q.query_id = nq.query_id
  GROUP BY q.query_id, tf.doc_id
  {having}
)
SELECT query_id, CAST(count(*) AS BIGINT) AS matches FROM hits GROUP BY query_id
"""


def sql_bool_and() -> str:
    return _sql_boolean(True)


def sql_bool_or() -> str:
    return _sql_boolean(False)


def q_bool_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The relational boolean twins (conjunctive / disjunctive match
    counts over the tf truth) in one union entry keyed by ``mode`` —
    the family-union pattern: same oracle strength, one driver-window
    slot."""
    a = q_bool_or(spark, sf_dir).withColumn("mode", F.lit("or"))
    b = q_bool_and(spark, sf_dir).withColumn("mode", F.lit("and"))
    return a.unionByName(b)


def sql_bool_family() -> str:
    return (
        f"SELECT 'or' AS mode, v.* FROM ({sql_bool_or()}) v "
        "UNION ALL "
        f"SELECT 'and' AS mode, v.* FROM ({sql_bool_and()}) v"
    )


def q_facet_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Faceted search over the compressed index
    (query.facet_counts): the doc-partitioned boolean match set joins
    the column-pruned document metadata and aggregates per
    (query, facet) — Lucene/Solr terms faceting, gather-free at any
    query breadth.  Two shapes in one union entry: disjunctive match
    sets faceted by ``lang`` (full buckets) and conjunctive match sets
    faceted by ``source`` with top-3 bucket selection (ties by facet
    value — determinism under uniform bucket sizes)."""
    from partitioned_ef_ans_spark.index import query as q_mod

    ix = _get_index(spark, sf_dir)
    docs = load_documents(spark, sf_dir)
    a = q_mod.facet_counts(
        spark, ix["index_df"], gate_queries_df(spark), ix["codec"], docs,
        "lang", conjunctive=False, term_stats_df=ix["term_stats"],
    ).withColumn("facet_of", F.lit("lang_or"))
    b = q_mod.facet_counts(
        spark, ix["index_df"], gate_queries_df(spark), ix["codec"], docs,
        "source", conjunctive=True, term_stats_df=ix["term_stats"],
        top_n=3,
    ).withColumn("facet_of", F.lit("source_and_top3"))
    return a.unionByName(b)


def sql_facet_counts() -> str:
    qrys, nq = _values_queries()
    return f"""
WITH {_TOK_CTE}, {_TF_CTE},
qrys AS ({qrys}),
nq AS ({nq}),
hits_or AS (
  SELECT q.query_id AS query_id, tf.doc_id AS doc_id
  FROM tf JOIN (SELECT DISTINCT query_id, term FROM qrys) q ON tf.term = q.term
  GROUP BY q.query_id, tf.doc_id
),
hits_and AS (
  SELECT q.query_id AS query_id, tf.doc_id AS doc_id
  FROM tf JOIN (SELECT DISTINCT query_id, term FROM qrys) q ON tf.term = q.term
          JOIN nq ON q.query_id = nq.query_id
  GROUP BY q.query_id, tf.doc_id
  HAVING count(*) = any_value(nq.n_terms)
),
f1 AS (
  SELECT 'lang_or' AS facet_of, h.query_id AS query_id, d.lang AS facet,
         CAST(count(*) AS BIGINT) AS matches
  FROM hits_or h JOIN documents d ON h.doc_id = d.doc_id
  GROUP BY h.query_id, d.lang
),
f2 AS (
  SELECT 'source_and_top3' AS facet_of, h.query_id AS query_id,
         d.source AS facet, CAST(count(*) AS BIGINT) AS matches
  FROM hits_and h JOIN documents d ON h.doc_id = d.doc_id
  GROUP BY h.query_id, d.source
  QUALIFY row_number() OVER (
    PARTITION BY h.query_id ORDER BY count(*) DESC, d.source
  ) <= 3
)
SELECT facet_of, query_id, facet, matches FROM f1
UNION ALL
SELECT facet_of, query_id, facet, matches FROM f2
"""


# ------------------------------------- sha invariant / query transformer

def q_corpus_sha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BASELINE.json per-row invariant: sha256(content) fingerprints of
    the corpus adaptation (verified against the DuckDB-computed
    truth)."""
    from partitioned_ef_ans_spark.corpus import corpus_from_documents, corpus_sha

    return corpus_sha(corpus_from_documents(load_documents(spark, sf_dir))).select(
        "repo", "path", "sha256"
    )


def sql_corpus_sha() -> str:
    return """
SELECT source AS repo,
       printf('doc/%09d.txt', doc_id) AS path,
       sha256(text) AS sha256
FROM documents"""


def q_transform_queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 (transform_queries.cpp): text queries -> (stemmed-id,
    unstemmed-id) sequences with whole-query OOV drop.  Oracle-hashed
    via the pinned stem table (functions/stem_fixture.py) — DuckDB has
    no Porter stemmer, but the gate vocabulary is closed, so the
    fixture join is exact; semantics also covered by
    tests/test_transform.py."""
    from partitioned_ef_ans_spark.operators.transform import (
        stem_udf_df,
        transform_queries,
    )

    docs = load_documents(spark, sf_dir)
    tokens = tokenizer.tokenize(docs, doc_col="doc_id", text_col="text")
    udict = build_term_dictionary(tokens)
    sdict = build_term_dictionary(
        stem_udf_df(tokens.select("term").distinct())
        .select(F.col("stemmed").alias("term"))
        .distinct()
    )
    qdf = gate_queries_df(spark)
    out = transform_queries(qdf, sdict, udict)
    return out.select(
        "query_id",
        F.concat_ws(" ", F.transform("term_ids", lambda x: x.cast("string"))).alias("tline"),
        F.concat_ws(" ", F.transform("uterm_ids", lambda x: x.cast("string"))).alias("uline"),
    )


def q_transform_queries_uids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6, oracle-checkable projection: the UNSTEMMED id line plus the
    whole-query OOV drop.  The drop is fully determined by the
    unstemmed lookup (any corpus term's Porter stem is by construction
    in the stemmed dictionary, so sid is null only when uid is), which
    makes this half of transform_queries exactly SQL-expressible; the
    stemmed line stays rows-only (no SQL Porter stemmer).  A pure
    projection of :func:`q_transform_queries` — one pipeline, no
    drift."""
    return q_transform_queries(spark, sf_dir).select("query_id", "uline")


def _values_query_positions() -> str:
    """VALUES clause of every gate query token with its position."""
    rows = []
    for qid, terms in GATE_QUERIES:
        for pos, t in enumerate(terms):
            rows.append(f"({qid}, {pos}, '{t.lower()}')")
    return "SELECT * FROM (VALUES " + ", ".join(rows) + ") AS q(query_id, pos, term)"


def sql_transform_queries() -> str:
    """Full S6 oracle: both the stemmed and unstemmed id lines.

    DuckDB has no Porter stemmer, so stemming goes through the PINNED
    stem table (functions/stem_fixture.py — the gate corpus vocabulary
    is closed at 31 terms, identical at every sf, and pytest locks the
    fixture against a live recomputation over the actual parquet
    vocabulary).  The stemmed dictionary is rebuilt in SQL exactly as
    build_term_dictionary does it: distinct stems of distinct corpus
    terms, row_number ordered by stem, 0-based."""
    from partitioned_ef_ans_spark.functions.stem_fixture import (
        stem_fixture_values_sql,
    )

    q_vals = _values_query_positions()
    return f"""
WITH {_TOK_CTE},
udict AS (
  SELECT term, CAST(row_number() OVER (ORDER BY term) - 1 AS BIGINT) AS term_id
  FROM (SELECT DISTINCT term FROM tok)
),
sdict AS (
  SELECT stemmed, CAST(row_number() OVER (ORDER BY stemmed) - 1 AS BIGINT) AS sid
  FROM (
    SELECT DISTINCT stemmap.stemmed
    FROM (SELECT DISTINCT term FROM tok) v
    JOIN {stem_fixture_values_sql()} USING (term)
  )
),
q AS ({q_vals}),
qs AS (
  SELECT q.query_id, q.pos, q.term, stemmap.stemmed
  FROM q LEFT JOIN {stem_fixture_values_sql()} ON q.term = stemmap.term
),
m AS (
  SELECT qs.query_id, qs.pos, sd.sid, ud.term_id AS uid
  FROM qs
  LEFT JOIN sdict sd ON qs.stemmed = sd.stemmed
  LEFT JOIN udict ud ON qs.term = ud.term
),
keep AS (
  SELECT query_id FROM m GROUP BY query_id
  HAVING max(CASE WHEN sid IS NULL OR uid IS NULL THEN 1 ELSE 0 END) = 0
)
SELECT m.query_id,
       string_agg(CAST(sid AS VARCHAR), ' ' ORDER BY pos) AS tline,
       string_agg(CAST(uid AS VARCHAR), ' ' ORDER BY pos) AS uline
FROM m JOIN keep USING (query_id)
GROUP BY m.query_id"""


def sql_transform_queries_uids() -> str:
    q_vals = _values_query_positions()
    return f"""
WITH {_TOK_CTE},
dict AS (
  SELECT term, CAST(row_number() OVER (ORDER BY term) - 1 AS BIGINT) AS term_id
  FROM (SELECT DISTINCT term FROM tok)
),
q AS ({q_vals}),
m AS (SELECT q.query_id, q.pos, d.term_id FROM q LEFT JOIN dict d USING (term)),
keep AS (
  SELECT query_id FROM m GROUP BY query_id
  HAVING max(CASE WHEN term_id IS NULL THEN 1 ELSE 0 END) = 0
)
SELECT m.query_id,
       string_agg(CAST(term_id AS VARCHAR), ' ' ORDER BY pos) AS uline
FROM m JOIN keep USING (query_id)
GROUP BY m.query_id"""
