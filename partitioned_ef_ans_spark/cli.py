"""spark-submit CLI — the reference's four executables, Spark-first.

Mirrors the entry-point surface a partitioned_ef_ans user drives today
(SURVEY.md §3):

  create_freq_index <type> <corpus> <out> [--check]
      create_freq_index.cpp:309-347 — build one of the 16 index types
      over a corpus table; ``--check`` re-reads the frozen index and
      verifies full decode equality (create_freq_index.cpp:15-62).
  create_wand_data <index_dir> <out>
      create_wand_data.cpp:25-29 — freeze the per-term WAND metadata.
      (Our build already freezes term_stats.parquet; this re-derives it
      from the frozen index alone, proving the sidecar reproducible.)
  queries <index_dir> [--mode M] [-k K] [--runs R] < queries.tsv
      queries.cpp:63-115 — run the timed top-k suite over stdin
      queries; prints per-run wall/qps and (``--print-topk``) results.
  transform_queries <corpus> < raw_queries.txt
      transform_queries.cpp:49-198 — text queries to (stemmed-id,
      unstemmed-id) lines with whole-query OOV drop.
  package [--out pefa.zip]
      writes the ``--py-files`` zip for cluster submission.

Index type names accept BOTH the reference's QS_INDEX_TYPES spellings
(index_types.hpp:57 — ``ef single uniform opt block_optpfor
block_varint block_interpolative block_u32 block_vbyte block_simple16
block_anspacked block_ansmsb block_ansmsbminmax block_ansmsbmed90p
block_ansmsbmed90pmerged block_ansmsbmedmaxmerged``) and this engine's
internal codec names.

Cluster usage (north_rule packaging):

    python -m partitioned_ef_ans_spark.cli package --out pefa.zip
    spark-submit --master <cluster> --py-files pefa.zip \
        partitioned_ef_ans_spark/cli.py create_freq_index \
        block_ansmsbmedmaxmerged s3://corpus out_dir/

Local smoke (identical code path — spark-submit only changes the
master):  python -m partitioned_ef_ans_spark.cli ...
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

#: reference index-type name -> internal codec name (index_types.hpp)
TYPE_MAP = {
    "ef": "ef",
    "single": "single",
    "uniform": "uniform",
    "opt": "pef",
    "block_optpfor": "optpfor",
    "block_varint": "varintg8iu",
    "block_interpolative": "interpolative",
    "block_u32": "u32",
    "block_vbyte": "vbyte",
    "block_simple16": "simple16",
    "block_anspacked": "ans_packed",
    "block_ansmsb": "ans_max1d",
    "block_ansmsbminmax": "ans_minmax2d",
    "block_ansmsbmed90p": "ans_med90p2d",
    "block_ansmsbmed90pmerged": "ans_med90p2dm",
    "block_ansmsbmedmaxmerged": "ans",
}
INTERNAL_CODECS = set(TYPE_MAP.values())


def resolve_type(name: str) -> str:
    if name in TYPE_MAP:
        return TYPE_MAP[name]
    if name in INTERNAL_CODECS:
        return name
    raise SystemExit(
        f"unknown index type {name!r}; expected one of "
        f"{sorted(TYPE_MAP)} or internal {sorted(INTERNAL_CODECS)}"
    )


#: True when _spark() reused a caller-owned session (in-process
#: embedding: tests, notebooks) — _stop() then leaves its lifecycle
#: to the caller instead of tearing it down mid-suite
_SHARED_SESSION = False


def _spark(args):
    global _SHARED_SESSION
    from pyspark.sql import SparkSession

    from partitioned_ef_ans_spark.session import get_spark

    active = SparkSession.getActiveSession()
    if active is not None:
        _SHARED_SESSION = True
        cur = active.sparkContext.master
        if args.master and args.master != cur:
            # a silently-dropped --master poisons any parallelism
            # measurement (the two-cluster-size scaling evidence runs
            # through this flag) — reuse the session, but SAY so
            print(
                f"warning: reusing active Spark session on {cur!r}; "
                f"--master {args.master!r} ignored",
                file=sys.stderr,
            )
        return active
    _SHARED_SESSION = False
    spark = get_spark(master=args.master)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    if not _SHARED_SESSION:
        spark.stop()


def _read_corpus(spark, path: str, args):
    """Corpus parquet in either driver shape (doc_id, text) or the
    Iceberg source-code shape (repo, path, commit, lang, content) —
    the latter gets deterministic dense doc ids from (repo, path)
    ordering (BASELINE input_hint)."""
    from partitioned_ef_ans_spark import corpus as c_mod

    df = spark.read.parquet(path)
    cols = set(df.columns)
    if {"doc_id", args.text_col} <= cols:
        return df, "doc_id", args.text_col
    if {"repo", "path", "content"} <= cols:
        return c_mod.assign_doc_ids(df), "doc_id", "content"
    if {"doc_id", "text"} <= cols:
        return df, "doc_id", "text"
    raise SystemExit(
        f"corpus at {path} has columns {sorted(cols)}; need "
        "(doc_id, text|content) or (repo, path, ..., content)"
    )


def _apply_partition_knobs(args) -> None:
    """Mirror configuration.hpp:28-31's env knobs (QS_EPS1 / QS_EPS2 /
    QS_FIXCOST) from CLI flags: exported BEFORE the SparkSession so
    local-mode python workers inherit them, and pushed into the
    driver-side module for any in-process encode.  On a real cluster
    set spark.executorEnv.QS_* too (documented in --help)."""
    import os

    from partitioned_ef_ans_spark.codecs import ef as ef_mod

    for flag, env, attr, cast in (
        ("eps1", "QS_EPS1", "EPS1", float),
        ("eps2", "QS_EPS2", "EPS2", float),
        ("fix_cost", "QS_FIXCOST", "FIX_COST", int),
    ):
        v = getattr(args, flag, None)
        if v is not None:
            os.environ[env] = str(v)
            setattr(ef_mod, attr, cast(v))


def cmd_create_freq_index(args) -> int:
    from pyspark.sql import functions as F

    from partitioned_ef_ans_spark.index import build as b_mod
    from partitioned_ef_ans_spark.tokenizer import term_frequencies, tokenize

    codec = resolve_type(args.type)
    _apply_partition_knobs(args)
    spark = _spark(args)
    docs, doc_col, text_col = _read_corpus(spark, args.corpus, args)
    if args.resumable:
        # checkpointed per-part layout: survives preemption and is the
        # layout `update_index` extends with delta segments
        from partitioned_ef_ans_spark.index.checkpoint import (
            build_index_resumable,
        )

        m = build_index_resumable(
            spark, docs, args.out, codec=codec,
            doc_col=doc_col, text_col=text_col,
            chunk_postings=args.chunk_postings, num_parts=args.num_parts,
            ngram=args.ngram,
        )
    else:
        m = b_mod.build_index(
            spark, docs, args.out, codec=codec,
            doc_col=doc_col, text_col=text_col,
            chunk_postings=args.chunk_postings, ngram=args.ngram,
        )
    # the reference's stats lines (create_freq_index.cpp:290-299)
    print(f"{args.type} collection built in {m['build_sec']:.3f} seconds")
    from partitioned_ef_ans_spark.codecs import ef as ef_mod

    print(json.dumps({
        "type": args.type, "codec": codec, "worker_threads": None,
        "construction_time": m["build_sec"],
        "construction_user_time": m["build_sec"],
        "postings": m["total_postings"],
        "bits_per_doc": None,
        "bits_per_posting": m["bits_per_posting"],
        "postings_per_sec": round(m["total_postings"] / m["build_sec"], 1),
        "num_docs": m["num_docs"],
        # effective DP knobs (configuration.hpp parity — flags export
        # QS_* env vars so executors see the same values)
        "eps1": ef_mod.EPS1, "eps2": ef_mod.EPS2,
        "fix_cost": ef_mod.FIX_COST,
    }))
    rc = 0
    if args.check:
        # full verification pass (create_freq_index.cpp:15-62): decode
        # the frozen index and diff against the relational truth
        index_df, _stats, _ts, ixcodec, man = b_mod.load_index(spark, args.out)
        from partitioned_ef_ans_spark.tokenizer import tokenize_ngram

        truth = (
            term_frequencies(tokenize_ngram(
                docs, doc_col=doc_col, text_col=text_col, ngram=args.ngram))
            .select("term", "doc_id", F.col("tf").cast("long").alias("tf"))
        )
        decoded = _decode_flat(spark, index_df, ixcodec)
        bad = decoded.exceptAll(truth).count() + truth.exceptAll(decoded).count()
        n = truth.count()
        if bad:
            print(f"CHECK FAILED: {bad} mismatched postings", file=sys.stderr)
            rc = 1
        else:
            print(f"check ok: {n} postings decode-identical")
    _stop(spark)
    return rc


def _decode_flat(spark, index_df, codec):
    """(term, doc_id, tf long) from the compressed chunks — the shared
    verification decode (index/build.py::decode_flat)."""
    from partitioned_ef_ans_spark.index.build import decode_flat

    return decode_flat(spark, index_df, codec, tf_type="long")


def cmd_create_wand_data(args) -> int:
    """Re-derive the WAND sidecar from the frozen index ALONE (the
    reference computes it from the collection + .sizes;
    wand_data.hpp:18-54).  Our chunks carry doc_lens + per-chunk max
    weights, so one vocabulary-sized aggregation reproduces
    term_stats.parquet bit-for-bit — on a delta-updated index too:
    every column is a sum or max over the term's chunks, so the
    result depends on the index alone, not on shuffle order."""
    from partitioned_ef_ans_spark.index import build as b_mod

    spark = _spark(args)
    # load_index (not a raw parquet read): for a delta-updated index
    # the stale parts' bounds must be inflated, or the re-derived
    # max_term_weight would under-bound true BM25 weights
    index_df, _s, _t, _codec, _man = b_mod.load_index(spark, args.index_dir)
    b_mod.term_stats_agg(index_df).write.mode("overwrite").parquet(args.out)
    n = spark.read.parquet(args.out).count()
    print(f"wand data: {n} terms -> {args.out}")
    _stop(spark)
    return 0


def _read_query_lines(lines) -> list[tuple[int, list[str]]]:
    """queries.tsv from stdin: ``qid<TAB>terms...`` or bare ``terms...``
    (qid = line number), the reference's parse_query shape
    (queries.hpp:15-28)."""
    qs = []
    for i, line in enumerate(lines):
        line = line.strip()
        if not line:
            continue
        if "\t" in line:
            qid, rest = line.split("\t", 1)
            qs.append((int(qid), rest.split()))
        else:
            qs.append((i, line.split()))
    return qs


def _require_resumable_layout(index_dir: str) -> None:
    import os

    if not os.path.exists(f"{index_dir}/staging_postings.parquet/_SUCCESS"):
        raise SystemExit(
            f"{index_dir} is not a resumable-layout index (no staging "
            "table) — build it with create_freq_index --resumable to "
            "use update_index/compact"
        )


def cmd_update_index(args) -> int:
    """Fold new documents into an existing resumable-layout index as an
    O(batch) LSM delta segment (``compact`` folds segments back)."""
    from partitioned_ef_ans_spark.index.checkpoint import update_index_delta

    _require_resumable_layout(args.index_dir)
    spark = _spark(args)
    docs, doc_col, text_col = _read_corpus(spark, args.corpus, args)
    man = update_index_delta(
        spark, args.index_dir, docs, doc_col=doc_col, text_col=text_col,
        skip_stale=args.skip_stale, max_segments=args.max_segments,
    )
    print(json.dumps({
        "num_docs": man["num_docs"],
        "total_postings": man["total_postings"],
        "bits_per_posting": round(man["bits_per_posting"], 3),
        "delta_segments": man.get("delta_segments"),
        "auto_minor_compacted": man.get("auto_minor_compacted"),
        "update_sec": man.get("update_sec"),
    }))
    _stop(spark)
    return 0


def cmd_compact(args) -> int:
    """Retrain models + full re-encode under the current corpus stats:
    folds every delta segment back into the single-segment layout,
    restores build-fresh compression and removes stale-bound
    inflation after a chain of delta updates.  ``--deltas-only``
    runs the MINOR compaction instead: fold the live delta segments
    into one in O(live deltas), base parts untouched."""
    from partitioned_ef_ans_spark.index.checkpoint import (
        compact_deltas,
        compact_index,
    )

    _require_resumable_layout(args.index_dir)
    spark = _spark(args)
    fn = compact_deltas if args.deltas_only else compact_index
    man = fn(spark, args.index_dir)
    print(json.dumps({
        "num_docs": man["num_docs"],
        "total_postings": man["total_postings"],
        "bits_per_posting": round(man["bits_per_posting"], 3),
        "compactions": man.get("compactions"),
        "compact_sec": man.get("compact_sec"),
        "minor_compactions": man.get("minor_compactions"),
        "minor_compact_sec": man.get("minor_compact_sec"),
        "folded_segments": man.get("folded_segments"),
    }))
    _stop(spark)
    return 0


def cmd_merge(args) -> int:
    """Merge independently built shard indexes (disjoint docID spaces,
    one codec) into one — the parallel per-shard build pattern; source
    tombstones fold in and the merge skips tokenization."""
    from partitioned_ef_ans_spark.index.checkpoint import merge_indexes

    for s in args.sources:
        _require_resumable_layout(s)
    spark = _spark(args)
    man = merge_indexes(
        spark, args.out, args.sources, num_parts=args.num_parts,
        mode=args.mode,
    )
    print(json.dumps({
        "num_docs": man["num_docs"],
        "total_postings": man["total_postings"],
        "bits_per_posting": round(man["bits_per_posting"], 3),
        "merged_from": man["merged_from"],
        "merge_mode": man.get("merge_mode", "rebuild"),
    }))
    _stop(spark)
    return 0


def cmd_delete(args) -> int:
    """Tombstone documents by id (Lucene-style liveness masking):
    `queries` masks them immediately from the sidecar; `compact`
    folds them physically (stats/models/universe recomputed over the
    survivors) and resets the sidecar."""
    from partitioned_ef_ans_spark.index.checkpoint import delete_docs

    _require_resumable_layout(args.index_dir)
    ids: list[int] = []
    if args.ids:
        ids += [int(x) for x in args.ids.replace(",", " ").split()]
    if args.ids_file:
        with open(args.ids_file) as fh:
            ids += [int(x) for x in fh.read().split()]
    if not ids:
        print("no ids given (--ids / --ids-file)", file=sys.stderr)
        return 1
    spark = _spark(args)
    info = delete_docs(spark, args.index_dir, ids)
    print(json.dumps(info))
    _stop(spark)
    return 0


def cmd_queries(args) -> int:
    from partitioned_ef_ans_spark.index import build as b_mod
    from partitioned_ef_ans_spark.index import query as q_mod
    from partitioned_ef_ans_spark.index.checkpoint import load_tombstones
    from partitioned_ef_ans_spark.operators.ranked import queries_to_df

    qs = _read_query_lines(sys.stdin)
    if not qs:
        print("no queries on stdin", file=sys.stderr)
        return 1
    allow = None
    if getattr(args, "filter_ids_file", None):
        with open(args.filter_ids_file) as fh:
            allow = [int(l) for l in fh if l.strip()]
    prf = getattr(args, "prf", False)
    collapse_by = getattr(args, "collapse_by", None)
    fuzzy = getattr(args, "fuzzy", False)
    mlt = getattr(args, "more_like", False)
    if (prf or collapse_by or mlt) and not getattr(args, "corpus", None):
        print("--prf / --collapse-by / --more-like need --corpus",
              file=sys.stderr)
        return 1
    shard_dirs = [d for d in args.index_dir.split(",") if d]
    if (prf or collapse_by or fuzzy or mlt) and (
        len(shard_dirs) > 1 or args.latency
        or getattr(args, "fetch", "gather") == "direct"
    ):
        print("--prf / --collapse-by / --fuzzy / --more-like serve one "
              "index through the gather path (no shards / --latency / "
              "--fetch direct)", file=sys.stderr)
        return 1
    if len(shard_dirs) > 1:
        # scatter-gather serving over shard indexes (index/sharded.py):
        # global stats frozen once, per-shard top-k gathered — rank-
        # identical to querying the concat-merged index.  --fetch
        # direct composes: per-shard storage-direct reads under the
        # injected global statistics.
        if args.latency:
            print("--latency serves one index directory; got a "
                  "comma-separated shard list", file=sys.stderr)
            return 1
        from partitioned_ef_ans_spark.index.sharded import (
            load_shards,
            run_ranked_sharded,
        )

        spark = _spark(args)
        sh = load_shards(spark, shard_dirs)
        if args.include_deleted:
            for s in sh["shards"]:
                s["tombstones"] = None
        qdf = queries_to_df(spark, qs).cache()
        qdf.count()
        try:
            for mode in args.mode.split(","):
                for run in range(args.runs):
                    t0 = time.perf_counter()
                    res = run_ranked_sharded(
                        spark, sh, qdf, mode=mode, k=args.k, dtype="float32",
                        fetch=getattr(args, "fetch", "gather"),
                        allowlist=allow,
                    )
                    nrows = res.count()
                    dt = time.perf_counter() - t0
                    print(json.dumps({
                        "mode": mode, "run": run, "queries": len(qs),
                        "results": nrows, "wall_sec": round(dt, 3),
                        "qps": round(len(qs) / dt, 1),
                        "shards": len(shard_dirs),
                    }))
                if args.print_topk:
                    for r in res.orderBy("query_id", "rank").collect():
                        print(f"{r['query_id']}\t{r['rank']}\t{r['doc_id']}\t"
                              f"{r['score']}")
        finally:
            # _spark may hand back a long-lived shared session; a
            # pinned cache surviving _stop (no-op in shared mode)
            # accumulates across in-process invocations
            try:
                qdf.unpersist()
            except Exception:
                pass
        _stop(spark)
        return 0
    if args.latency:
        # the reference's op_perftest: sequential in-process per-query
        # timing, quantiles per operator (queries.cpp:23-52)
        from partitioned_ef_ans_spark.latency import kernel_latency_stats

        tombs = None if args.include_deleted else load_tombstones(
            args.index_dir
        )
        if allow is not None:
            tombs = q_mod.make_allowlist(allow, tombs)
        try:
            stats = kernel_latency_stats(
                args.index_dir, qs, modes=tuple(args.mode.split(",")),
                runs=max(2, args.runs), k=args.k, tombstones=tombs,
            )
        except ValueError as exc:
            # e.g. --mode auto: the size-crossover resolver lives in the
            # run_ranked serving paths, not the kernel timer — fail with
            # one clean line instead of a traceback
            print(f"--latency: {exc}", file=sys.stderr)
            return 2
        for mode, s in stats.items():
            print(json.dumps({"mode": mode, "unit": "us", **s}))
        return 0
    spark = _spark(args)
    # every frame cached below is unpersisted in the finally — _spark
    # may hand back a long-lived shared session (in-process tests,
    # --runs loops), and leaked pinned caches accumulate across
    # invocations on one JVM
    _cached = []
    direct = getattr(args, "fetch", "gather") == "direct"
    if direct:
        # storage-direct serving (index/serve.py): queries partition
        # across tasks, each task reads its terms' chunks straight
        # from the index store — no payload gather shuffle
        from partitioned_ef_ans_spark.index.serve import run_ranked_direct
    else:
        index_df, _stats, term_stats, codec, man = b_mod.load_index(
            spark, args.index_dir
        )
        index_df = index_df.cache()
        _cached.append(index_df)
        index_df.count()  # warmup, like the reference's mmap warmup
    # tombstoned docs are masked by default; --include-deleted ignores
    # the sidecar (e.g. to diff pre/post-delete rankings)
    tombs = None if args.include_deleted else load_tombstones(args.index_dir)
    qdf = queries_to_df(spark, qs).cache()
    _cached.append(qdf)
    qdf.count()
    if fuzzy:
        # did-you-mean: correct OOV terms against the frozen term_stats
        # BEFORE serving (operators/spellcheck.py) — mode-independent,
        # so it happens once for the whole run matrix
        from partitioned_ef_ans_spark.operators import spellcheck as sp_mod

        qdf = sp_mod.correct_query_terms(
            qdf, term_stats, max_dist=args.fuzzy_max_dist
        ).cache()
        _cached.append(qdf)
        qdf.count()
    corpus_df = (
        spark.read.parquet(args.corpus)
        if (prf or collapse_by or mlt) else None
    )
    # collapse rides the exhaustive docpart substrate and ignores
    # --mode (per the help text) — collapse the mode matrix to one
    # iteration so `--mode a,b --collapse-by x` doesn't silently rerun
    # the identical job under misleading per-mode timing labels
    run_modes = (
        args.mode.split(",") if not collapse_by else ["collapse"]
    )
    try:
        for mode in run_modes:
            for run in range(args.runs):
                t0 = time.perf_counter()
                if direct:
                    res = run_ranked_direct(
                        spark, args.index_dir, qdf, mode=mode, k=args.k,
                        dtype="float32", tombstones=tombs, allowlist=allow,
                    )
                elif collapse_by:
                    from pyspark.sql import functions as F

                    res = q_mod.run_ranked_collapsed(
                        spark, index_df, qdf, codec, man["num_docs"],
                        man["avg_doc_len"],
                        corpus_df.select(
                            "doc_id", F.col(collapse_by).alias("grp")
                        ),
                        k=args.k, term_stats_df=term_stats,
                        tombstones=tombs, allowlist=allow,
                    )
                elif mlt:
                    # stdin lines are source DOC IDS, one per line
                    from partitioned_ef_ans_spark.operators import mlt as mlt_mod

                    ids = spark.createDataFrame(
                        [(int(t[0]),) for _q, t in qs], "doc_id long"
                    )
                    res = mlt_mod.run_more_like_this(
                        spark, index_df, ids, codec, man["num_docs"],
                        man["avg_doc_len"], corpus_df,
                        term_stats_df=term_stats, m=args.mlt_terms,
                        k=args.k, mode=mode, dtype="float32",
                        tombstones=tombs, allowlist=allow,
                    )
                elif prf:
                    from partitioned_ef_ans_spark.operators import prf as prf_mod

                    res = prf_mod.run_ranked_prf(
                        spark, index_df, qdf, codec, man["num_docs"],
                        man["avg_doc_len"], corpus_df, k=args.k,
                        k_fb=args.prf_depth, m=args.prf_terms, mode=mode,
                        dtype="float32", term_stats_df=term_stats,
                        tombstones=tombs, allowlist=allow,
                    )
                else:
                    res = q_mod.run_ranked(
                        spark, index_df, qdf, codec, man["num_docs"],
                        man["avg_doc_len"], mode=mode, k=args.k,
                        dtype="float32", term_stats_df=term_stats,
                        tombstones=tombs, allowlist=allow,
                    )
                nrows = res.count()
                dt = time.perf_counter() - t0
                print(json.dumps({
                    "mode": mode, "run": run, "queries": len(qs),
                    "results": nrows, "wall_sec": round(dt, 3),
                    "qps": round(len(qs) / dt, 1),
                }))
            if args.print_topk:
                for r in res.orderBy("query_id", "rank").collect():
                    print(f"{r['query_id']}\t{r['rank']}\t{r['doc_id']}\t{r['score']}")
    finally:
        for _f in _cached:
            try:
                _f.unpersist()
            except Exception:
                pass
    _stop(spark)
    return 0


def cmd_suggest(args) -> int:
    """Prefix autocomplete from the index dictionary
    (operators/suggest.py): stdin lines are prefixes; prints
    prefix\\trank\\tterm\\tdf ordered (df desc, term)."""
    from partitioned_ef_ans_spark.index import build as b_mod
    from partitioned_ef_ans_spark.operators.suggest import suggest_terms

    prefixes = [ln.strip().lower() for ln in sys.stdin if ln.strip()]
    if not prefixes:
        print("no prefixes on stdin", file=sys.stderr)
        return 1
    spark = _spark(args)
    _ix, _stats, term_stats, _codec, _man = b_mod.load_index(
        spark, args.index_dir
    )
    pre = spark.createDataFrame([(p,) for p in prefixes], "prefix string")
    res = suggest_terms(pre, term_stats, n=args.n)
    for r in res.orderBy("prefix", "rank").collect():
        print(f"{r['prefix']}\t{r['rank']}\t{r['term']}\t{r['df']}")
    _stop(spark)
    return 0


def cmd_phrase(args) -> int:
    """Exact phrase search over a shingle index (index/phrase.py):
    candidates from the conjunctive shingle match, verified against
    the corpus token stream; --ranked scores the phrase as a unit
    term (BM25 over shingle statistics, 2-word phrases)."""
    from partitioned_ef_ans_spark.index import build as b_mod
    from partitioned_ef_ans_spark.index import phrase as ph_mod
    from partitioned_ef_ans_spark.index.checkpoint import load_tombstones
    from partitioned_ef_ans_spark.operators.ranked import queries_to_df

    qs = _read_query_lines(sys.stdin)
    if not qs:
        print("no queries on stdin", file=sys.stderr)
        return 1
    spark = _spark(args)
    index_df, _stats, term_stats, codec, man = b_mod.load_index(
        spark, args.index_dir
    )
    n = int(man.get("ngram", 1))
    if n < 2:
        print(f"{args.index_dir} is a unigram index (ngram={n}); build "
              "with create_freq_index --ngram 2 first", file=sys.stderr)
        _stop(spark)
        return 1
    qdf = queries_to_df(spark, qs)
    tombs = None if args.include_deleted else load_tombstones(args.index_dir)
    if args.ranked:
        res = ph_mod.run_phrase_ranked(
            spark, index_df, qdf, codec, man["num_docs"],
            man["avg_doc_len"], k=args.k, dtype="float32", n=n,
            term_stats_df=term_stats, tombstones=tombs,
        )
        for r in res.orderBy("query_id", "rank").collect():
            print(f"{r['query_id']}\t{r['rank']}\t{r['doc_id']}\t"
                  f"{r['score']}")
    else:
        docs = spark.read.parquet(args.corpus) if args.corpus else None
        res = ph_mod.phrase_match_counts(
            spark, index_df, qdf, codec, docs_df=docs,
            text_col=args.text_col, n=n, term_stats_df=term_stats,
            tombstones=tombs,
        )
        for r in res.orderBy("query_id").collect():
            print(f"{r['query_id']}\t{r['matches']}")
    _stop(spark)
    return 0


def cmd_facets(args) -> int:
    """Faceted search: per-query match counts grouped by a metadata
    column of the docs table (query.facet_counts — doc-partitioned
    match set, gather-free at any query breadth)."""
    from partitioned_ef_ans_spark.index import build as b_mod
    from partitioned_ef_ans_spark.index import query as q_mod
    from partitioned_ef_ans_spark.index.checkpoint import load_tombstones
    from partitioned_ef_ans_spark.operators.ranked import queries_to_df

    qs = _read_query_lines(sys.stdin)
    if not qs:
        print("no queries on stdin", file=sys.stderr)
        return 1
    allow = None
    if getattr(args, "filter_ids_file", None):
        with open(args.filter_ids_file) as fh:
            allow = [int(l) for l in fh if l.strip()]
    spark = _spark(args)
    index_df, _stats, term_stats, codec, _man = b_mod.load_index(
        spark, args.index_dir
    )
    meta = spark.read.parquet(args.meta)
    res = q_mod.facet_counts(
        spark, index_df, queries_to_df(spark, qs), codec, meta,
        args.facet_col, conjunctive=args.conjunctive,
        term_stats_df=term_stats,
        tombstones=None if args.include_deleted
        else load_tombstones(args.index_dir),
        allowlist=allow, top_n=args.top_n,
    )
    from pyspark.sql import functions as F

    for r in res.orderBy("query_id", F.desc("matches"), "facet").collect():
        print(f"{r['query_id']}\t{r['facet']}\t{r['matches']}")
    _stop(spark)
    return 0


def cmd_transform_queries(args) -> int:
    from pyspark.sql import functions as F

    from partitioned_ef_ans_spark import tokenizer
    from partitioned_ef_ans_spark.operators.dictionary import build_term_dictionary
    from partitioned_ef_ans_spark.operators.ranked import queries_to_df
    from partitioned_ef_ans_spark.operators.transform import (
        stem_udf_df,
        transform_queries,
    )

    raw = _read_query_lines(sys.stdin)
    if not raw:
        print("no queries on stdin", file=sys.stderr)
        return 1
    spark = _spark(args)
    docs, doc_col, text_col = _read_corpus(spark, args.corpus, args)
    tokens = tokenizer.tokenize(docs, doc_col=doc_col, text_col=text_col)
    udict = build_term_dictionary(tokens)
    sdict = build_term_dictionary(
        stem_udf_df(tokens.select("term").distinct())
        .select(F.col("stemmed").alias("term"))
        .distinct()
    )
    out = transform_queries(queries_to_df(spark, raw), sdict, udict)
    # the reference emits one stemmed-id line and one unstemmed-id
    # line per surviving query (transform_queries.cpp:162-196)
    for r in out.orderBy("query_id").collect():
        print(" ".join(str(t) for t in r["term_ids"]))
        print(" ".join(str(t) for t in r["uterm_ids"]))
    _stop(spark)
    return 0


def cmd_package(args) -> int:
    import zipfile

    pkg_dir = Path(__file__).resolve().parent
    out = Path(args.out)
    with zipfile.ZipFile(out, "w") as zf:
        for f in sorted(pkg_dir.rglob("*.py")):
            if "__pycache__" in f.parts:
                continue
            zf.write(f, f"partitioned_ef_ans_spark/{f.relative_to(pkg_dir)}")
    print(f"wrote {out} ({out.stat().st_size} bytes) — pass via "
          "spark-submit --py-files")
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="partitioned_ef_ans_spark")
    p.add_argument("--master", default=None,
                   help="Spark master (default: local[$SPARK_GRAFT_CPUS])")
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("create_freq_index")
    b.add_argument("type")
    b.add_argument("corpus")
    b.add_argument("out")
    b.add_argument("--check", action="store_true")
    b.add_argument("--chunk-postings", type=int, default=1 << 16)
    b.add_argument("--text-col", default="text")
    b.add_argument("--resumable", action="store_true",
                   help="checkpointed per-part layout (preemption-safe; "
                        "required for update_index)")
    b.add_argument("--num-parts", type=int, default=8)
    b.add_argument("--ngram", type=int, default=1,
                   help=">=2 builds a word-shingle (phrase) index; the "
                        "token rule rides in the manifest so updates/"
                        "merges keep it (query with the `phrase` "
                        "command)")
    b.add_argument("--eps1", type=float, default=None,
                   help="PEF partition-DP approximation knob "
                        "(configuration.hpp QS_EPS1, default 0.03); "
                        "exported as QS_EPS1 — on a cluster also set "
                        "spark.executorEnv.QS_EPS1")
    b.add_argument("--eps2", type=float, default=None,
                   help="PEF window cost-ladder growth "
                        "(QS_EPS2, default 0.3)")
    b.add_argument("--fix-cost", type=int, default=None,
                   help="per-partition fixed cost in bits for the DP "
                        "(QS_FIXCOST, default 64)")
    b.set_defaults(fn=cmd_create_freq_index)

    u = sub.add_parser("update_index")
    u.add_argument("index_dir")
    u.add_argument("corpus")
    u.add_argument("--skip-stale", action="store_true",
                   help="silently drop already-indexed doc_ids "
                        "(at-least-once replay tolerance)")
    u.add_argument("--max-segments", type=int, default=None,
                   help="tiered-merge policy: minor-compact "
                        "(fold segments into one, O(live deltas)) when "
                        "the stack exceeds this many segments")
    u.add_argument("--text-col", default="text")
    u.set_defaults(fn=cmd_update_index)

    cpt = sub.add_parser("compact")
    cpt.add_argument("index_dir")
    cpt.add_argument("--deltas-only", action="store_true",
                     help="minor compaction: fold delta segments into "
                          "one (O(live deltas), base parts untouched)")
    cpt.set_defaults(fn=cmd_compact)

    mg = sub.add_parser("merge")
    mg.add_argument("out")
    mg.add_argument("sources", nargs="+")
    mg.add_argument("--num-parts", type=int, default=8)
    mg.add_argument("--mode", default="rebuild",
                    choices=("rebuild", "concat"),
                    help="concat = segment-append, no re-encode "
                         "(needs ordered disjoint id ranges)")
    mg.set_defaults(fn=cmd_merge)

    dl = sub.add_parser("delete")
    dl.add_argument("index_dir")
    dl.add_argument("--ids", default=None,
                    help="comma/space-separated doc ids to tombstone")
    dl.add_argument("--ids-file", default=None,
                    help="file of whitespace-separated doc ids")
    dl.set_defaults(fn=cmd_delete)

    w = sub.add_parser("create_wand_data")
    w.add_argument("index_dir")
    w.add_argument("out")
    w.set_defaults(fn=cmd_create_wand_data)

    q = sub.add_parser("queries")
    q.add_argument("index_dir",
                   help="index directory, or a comma-separated list of "
                        "shard index directories (scatter-gather serving "
                        "with global statistics, index/sharded.py)")
    q.add_argument("--mode", default="blockmax",
                   help="comma-separated run_ranked modes ('auto' = "
                        "measured size-crossover dispatch)")
    q.add_argument("-k", type=int, default=10)
    q.add_argument("--runs", type=lambda v: max(1, int(v)), default=1)
    q.add_argument("--print-topk", action="store_true")
    q.add_argument("--fetch", default="gather",
                   choices=("gather", "direct"),
                   help="gather = shuffle referenced lists per query "
                        "(run_ranked); direct = partition queries and "
                        "read term chunks from the index store per "
                        "task, no payload shuffle (index/serve.py)")
    q.add_argument("--include-deleted", action="store_true",
                   help="ignore the tombstone sidecar (pre-delete view)")
    q.add_argument("--filter-ids-file", default=None,
                   help="filtered retrieval: path to a file of doc ids "
                        "(one per line) — only these docs may serve "
                        "(keep-mode mask, composed with the tombstone "
                        "sidecar; every serving shape incl. sharded + "
                        "--fetch direct + --latency)")
    q.add_argument("--latency", action="store_true",
                   help="per-query in-process latency quantiles "
                        "(op_perftest shape) instead of the Spark suite")
    q.add_argument("--corpus", default=None,
                   help="forward corpus parquet (doc_id, text, ...) — "
                        "required by --prf and --collapse-by")
    q.add_argument("--prf", action="store_true",
                   help="two-stage pseudo-relevance-feedback expansion "
                        "(operators/prf.py): top --prf-depth docs mine "
                        "--prf-terms expansion terms, query re-runs")
    q.add_argument("--prf-depth", type=int, default=5)
    q.add_argument("--prf-terms", type=int, default=3)
    q.add_argument("--collapse-by", default=None,
                   help="field collapse: at most one result per value "
                        "of this --corpus column per query (exhaustive "
                        "docpart substrate; ignores --mode)")
    q.add_argument("--fuzzy", action="store_true",
                   help="did-you-mean: correct OOV query terms against "
                        "the index dictionary before serving (min "
                        "levenshtein, ties df desc then term; queries "
                        "keeping an unresolvable term drop whole)")
    q.add_argument("--fuzzy-max-dist", type=int, default=2)
    q.add_argument("--more-like", action="store_true",
                   help="more-like-this: stdin lines are source doc "
                        "ids; each doc's --mlt-terms most salient "
                        "terms (tf desc, df asc) become its query, "
                        "self excluded from results (needs --corpus)")
    q.add_argument("--mlt-terms", type=int, default=5)
    q.set_defaults(fn=cmd_queries)

    sg = sub.add_parser("suggest")
    sg.add_argument("index_dir")
    sg.add_argument("-n", type=int, default=8,
                    help="completions per prefix (df desc, term asc)")
    sg.set_defaults(fn=cmd_suggest)

    ph = sub.add_parser("phrase")
    ph.add_argument("index_dir", help="shingle index (built with --ngram 2)")
    ph.add_argument("--corpus", default=None,
                    help="corpus parquet for the exact-verification join "
                         "(required for phrases longer than the shingle "
                         "width)")
    ph.add_argument("--text-col", default="text")
    ph.add_argument("--ranked", action="store_true",
                    help="BM25 top-k instead of match counts")
    ph.add_argument("-k", type=int, default=10)
    ph.add_argument("--include-deleted", action="store_true")
    ph.set_defaults(fn=cmd_phrase)

    fc = sub.add_parser("facets")
    fc.add_argument("index_dir")
    fc.add_argument("--meta", required=True,
                    help="parquet with doc_id + the facet column")
    fc.add_argument("--facet-col", default="lang")
    fc.add_argument("--conjunctive", action="store_true",
                    help="facet over AND match sets (default OR)")
    fc.add_argument("--top-n", type=int, default=None)
    fc.add_argument("--include-deleted", action="store_true")
    fc.add_argument("--filter-ids-file", default=None)
    fc.set_defaults(fn=cmd_facets)

    t = sub.add_parser("transform_queries")
    t.add_argument("corpus")
    t.add_argument("--text-col", default="text")
    t.set_defaults(fn=cmd_transform_queries)

    z = sub.add_parser("package")
    z.add_argument("--out", default="pefa.zip")
    z.set_defaults(fn=cmd_package)
    return p


def main(argv=None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    raise SystemExit(main())
