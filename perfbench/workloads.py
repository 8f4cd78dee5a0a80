"""The benchmark's workloads: each is one closed-loop client (the next
call starts when the previous one returned) against ``local[<cores>]``.

A workload function takes a ``Ctx`` and returns a ``Result``.  Only the
calls into the package's public functions are timed; generating inputs
and checking outputs against the oracle happen outside the timed calls.
"""

from __future__ import annotations

import random
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from perfbench import oracle, probes
from perfbench.harness import RssSampler, RunEnv, Tracer, per_call, start_session

VOCAB = 20_000
K = 10
# serve: one cold build_index in set-up, then rounds of calls
SERVE_DOCS = 2_000
WARM_QUERIES = 20        # queries of the set-up warm-up call
BULK_QUERIES = 100       # queries per bulk run_ranked / run_boolean call
SERVE_ROUND = ("interactive", "bulk", "interactive", "bool")
# ingest: resumable base build, then rounds of updates, deletes and a read
INGEST_BASE_DOCS = 1_000
INGEST_PARTS = 1
DELTA_DOCS = 200
# the tiered fold trips when the committed delta segments exceed this:
# a run's first update adds segment 1, every later one folds
MAX_SEGMENTS = 1
UPDATES_PER_ROUND = 2
MAX_ROUNDS = 3           # the corpus holds this many rounds of batches
DELETE_FRAC = 0.01
FRESH_QUERIES = 50
KERNEL_QUERIES = 20      # queries of the traced run's kernel probe


@dataclass
class Ctx:
    seed: int
    seconds: float
    env: RunEnv
    tracer: Tracer
    spark: object = None
    rss: RssSampler = None


@dataclass
class Result:
    end_to_end: dict = field(default_factory=dict)
    per_layer: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    extra: dict = field(default_factory=dict)   # printed, not in the JSON
    counts: dict = field(default_factory=dict)  # sample counts, printed


def _session(ctx: Ctx) -> float:
    t0 = time.perf_counter()
    with ctx.tracer.span("session.get_spark"):
        ctx.spark = start_session(ctx.env)
    ctx.rss.attach_jvm()
    ctx.tracer.attach(ctx.spark)
    return time.perf_counter() - t0


def _corpus(ctx: Ctx, n_docs: int, name: str):
    """``synthesize_corpus_distributed(seed=)`` -> (doc_id, text),
    materialized once under the run directory."""
    from partitioned_ef_ans_spark import corpus as c_mod

    path = ctx.env.path(name)
    c_mod.synthesize_corpus_distributed(
        ctx.spark, n_docs, vocab_size=VOCAB, seed=ctx.seed,
        num_partitions=2 * ctx.env.cpus,
    ).select(
        F.regexp_extract("path", r"f(\d+)\.", 1).cast("long").alias("doc_id"),
        F.col("content").alias("text"),
    ).write.parquet(path)
    return ctx.spark.read.parquet(path)


def _queries(seed: int, n: int):
    from partitioned_ef_ans_spark.corpus import synthesize_queries

    return synthesize_queries(n, vocab_size=VOCAB, seed=seed)


def _median(xs):
    return float(statistics.median(xs)) if xs else 0.0


def _rate(n: float, seconds: float) -> float:
    return n / seconds if seconds > 0 else 0.0


def _side_seed(ctx: Ctx, k: int) -> int:
    """Seed of an input the measured loop never sends (warm-up, probes)."""
    return ctx.seed * 7919 + k


def _build_layer(tr: Tracer, metrics: dict) -> dict:
    counts = tr.counts_of("build.build_index")
    return {
        "build.tf_stats_s": metrics["tf_stats_sec"],
        "build.model_s": metrics["counts_freeze_sec"],
        "build.encode_s": metrics["encode_pass_sec"],
        "build.jobs": per_call(counts, "jobs"),
        "build.stages": per_call(counts, "stages"),
        "build.task_busy_s": per_call(counts, "task_busy_s"),
        "build.shuffle_write_mb": per_call(counts, "shuffle_write_mb"),
        "build.spill_mb": per_call(counts, "spill_mb"),
    }


def _query_layer(tr: Tracer, phase: str, span: str) -> dict:
    counts = tr.counts_of(span)
    return {
        f"query.{phase}.jobs_per_call": per_call(counts, "jobs"),
        f"query.{phase}.stages_per_call": per_call(counts, "stages"),
        f"query.{phase}.task_busy_s_per_call": per_call(counts, "task_busy_s"),
        f"query.{phase}.shuffle_mb_per_call": per_call(counts, "shuffle_write_mb"),
    }


# ---------------------------------------------------------------- serve

def serve(ctx: Ctx) -> Result:
    """Read-only serving.  Set-up builds the index once (the first build
    in a fresh JVM) and warms the ranked path with one call.  The loop
    sends rounds of SERVE_ROUND calls until the deadline, at least one
    round: two interactive 1-query run_ranked calls, a bulk
    BULK_QUERIES-query run_ranked call in its default mode and a bulk
    run_boolean AND call.  Every call gets a fresh queries frame."""
    from partitioned_ef_ans_spark.index import build as b_mod
    from partitioned_ef_ans_spark.index import query as q_mod
    from partitioned_ef_ans_spark.operators.ranked import queries_to_df

    tr, res = ctx.tracer, Result()
    start_s = _session(ctx)
    spark = ctx.spark
    t0 = time.perf_counter()
    corpus = _corpus(ctx, SERVE_DOCS, "corpus")
    gen_s = time.perf_counter() - t0

    out = ctx.env.path("index")
    t0 = time.perf_counter()
    with tr.span("build.build_index", spark=True):
        build_m = b_mod.build_index(spark, corpus, out, codec="ans")
    build_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    with tr.span("query.load_index", spark=True):
        index_df, _stats, ts, codec, man = b_mod.load_index(spark, out)
    load_s = time.perf_counter() - t0
    nd, avg = man["num_docs"], man["avg_doc_len"]

    def ranked(qs, span):
        with tr.span(span, spark=True):
            return q_mod.run_ranked(
                spark, index_df, queries_to_df(spark, qs), codec, nd, avg,
                k=K, term_stats_df=ts,
            ).collect()

    def boolean(qs):
        with tr.span("query.run_boolean", spark=True):
            return q_mod.run_boolean(
                spark, index_df, queries_to_df(spark, qs), codec, True,
                term_stats_df=ts,
            ).collect()

    t0 = time.perf_counter()
    ranked(_queries(_side_seed(ctx, 1), WARM_QUERIES), "query.warmup")
    warm_s = time.perf_counter() - t0
    setup_s = start_s + build_s + load_s + warm_s

    rng = random.Random(ctx.seed)
    sent_ranked, sent_bool = [], []  # (queries, rows) of every call
    spent = {kind: 0.0 for kind in SERVE_ROUND}
    sent = {kind: 0 for kind in SERVE_ROUND}
    calls = {kind: 0 for kind in SERVE_ROUND}
    call_ms: list[float] = []
    round_s: list[float] = []
    qseed = ctx.seed * 1_000_003
    deadline = time.perf_counter() + ctx.seconds
    while not round_s or time.perf_counter() < deadline:
        t_round = time.perf_counter()
        for kind in SERVE_ROUND:
            qseed += 1
            qs = _queries(qseed, 1 if kind == "interactive" else BULK_QUERIES)
            with tr.span(f"client.{kind}", call=tr.new_call()):
                t0 = time.perf_counter()
                if kind == "bool":
                    rows = boolean(qs)
                else:
                    rows = ranked(qs, f"query.run_ranked.{kind}")
                dt = time.perf_counter() - t0
            spent[kind] += dt
            sent[kind] += len(qs)
            calls[kind] += 1
            res.attempted += 1
            if kind == "interactive":
                call_ms.append(dt * 1e3)
            (sent_bool if kind == "bool" else sent_ranked).append((qs, rows))
        round_s.append(time.perf_counter() - t_round)

    # ---- correctness: exhaustive uncompressed oracle over the tf table
    t0 = time.perf_counter()
    ref = oracle.Reference(corpus, SERVE_DOCS)
    res.failed += ref.check_ranked(sent_ranked, K)
    res.failed += ref.check_boolean(sent_bool)
    res.failed += ref.check_build(out, codec, build_m, rng)
    res.attempted += 1
    oracle_s = time.perf_counter() - t0

    res.end_to_end = {
        "setup_s": setup_s,
        "build_postings_per_s": build_m["total_postings"] / build_s,
        "round_s": _median(round_s),
        "ranked_qps": _rate(sent["bulk"], spent["bulk"]),
        "op_p50_ms": _median(call_ms),
        "bits_per_posting": build_m["bits_per_posting"],
    }
    res.extra = {"bool_qps": _rate(sent["bool"], spent["bool"])}
    res.counts = {
        "postings": build_m["total_postings"],
        "rounds": len(round_s), "calls": calls,
        "gen_s": round(gen_s, 2), "build_s": round(build_s, 2),
        "warm_s": round(warm_s, 2), "oracle_s": round(oracle_s, 2),
    }
    if tr.enabled:
        res.per_layer = {
            "session.start_s": start_s,
            **_build_layer(tr, build_m),
            "query.load_s": load_s,
            **_query_layer(tr, "bulk", "query.run_ranked.bulk"),
            **_query_layer(tr, "interactive", "query.run_ranked.interactive"),
            **probes.codecs(out, codec, tr),
            **probes.kernels(out, _queries(_side_seed(ctx, 2), KERNEL_QUERIES), tr),
        }
    return res


# --------------------------------------------------------------- ingest

def ingest(ctx: Ctx) -> Result:
    """Writes beside reads.  Set-up: a resumable INGEST_PARTS-part base
    build.  Each round: UPDATES_PER_ROUND times (update_index_delta with
    DELTA_DOCS new docs at max_segments=MAX_SEGMENTS, then delete_docs
    on DELETE_FRAC of the live ids), then load_index of the new version
    and one tombstone-masked FRESH_QUERIES-query run_ranked call.
    Rounds run until the deadline, at least one, so every run measures a
    plain delta update, a folding one and a read of the folded index."""
    from partitioned_ef_ans_spark.index import build as b_mod
    from partitioned_ef_ans_spark.index import checkpoint as ck
    from partitioned_ef_ans_spark.index import query as q_mod
    from partitioned_ef_ans_spark.operators.ranked import queries_to_df

    tr, res = ctx.tracer, Result()
    start_s = _session(ctx)
    spark = ctx.spark
    t0 = time.perf_counter()
    corpus = _corpus(
        ctx, INGEST_BASE_DOCS + MAX_ROUNDS * UPDATES_PER_ROUND * DELTA_DOCS, "corpus"
    )
    gen_s = time.perf_counter() - t0

    out = ctx.env.path("index")
    t0 = time.perf_counter()
    with tr.span("checkpoint.build_index_resumable", spark=True):
        base_m = ck.build_index_resumable(
            spark, corpus.where(F.col("doc_id") < INGEST_BASE_DOCS), out,
            codec="ans", num_parts=INGEST_PARTS,
        )
    base_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    with tr.span("query.load_index", spark=True):
        b_mod.load_index(spark, out)
    setup_s = start_s + base_s + (time.perf_counter() - t0)

    rng = random.Random(ctx.seed)
    live = set(range(INGEST_BASE_DOCS))
    deleted: set[int] = set()
    lo = INGEST_BASE_DOCS
    upd_s, folded, del_s = [], [], []
    fresh_t, fresh_n = 0.0, 0
    last = None  # (queries, rows) of the last fresh call
    qseed = ctx.seed * 1_000_003
    deadline = time.perf_counter() + ctx.seconds
    round_s: list[float] = []
    while len(round_s) < MAX_ROUNDS and (not round_s or time.perf_counter() < deadline):
        t_round = time.perf_counter()
        call = tr.new_call()
        with tr.span("client.round", call=call):
            for _ in range(UPDATES_PER_ROUND):
                batch = corpus.where(
                    (F.col("doc_id") >= lo) & (F.col("doc_id") < lo + DELTA_DOCS)
                )
                t0 = time.perf_counter()
                with tr.span("checkpoint.update_index_delta", call=call, spark=True):
                    man = ck.update_index_delta(
                        spark, out, batch, max_segments=MAX_SEGMENTS
                    )
                upd_s.append(time.perf_counter() - t0)
                folded.append(bool(man.get("auto_minor_compacted")))
                live.update(range(lo, lo + DELTA_DOCS))
                lo += DELTA_DOCS
                victims = rng.sample(sorted(live), max(1, int(DELETE_FRAC * len(live))))
                t0 = time.perf_counter()
                with tr.span("checkpoint.delete_docs", call=call):
                    ck.delete_docs(spark, out, victims)
                del_s.append(time.perf_counter() - t0)
                live.difference_update(victims)
                deleted.update(victims)
                res.attempted += 2

            qseed += 1
            qs = _queries(qseed, FRESH_QUERIES)
            t0 = time.perf_counter()
            with tr.span("query.load_index", call=call, spark=True):
                index_df, _s, ts, codec, man = b_mod.load_index(spark, out)
            with tr.span("query.run_ranked.fresh", call=call, spark=True):
                rows = q_mod.run_ranked(
                    spark, index_df, queries_to_df(spark, qs), codec,
                    man["num_docs"], man["avg_doc_len"], k=K,
                    term_stats_df=ts, tombstones=ck.load_tombstones(out),
                ).collect()
            fresh_t += time.perf_counter() - t0
            fresh_n += len(qs)
            res.attempted += 1
            # a tombstoned doc must never be served
            res.failed += int(any(r["doc_id"] in deleted for r in rows))
            last = (qs, rows)
        round_s.append(time.perf_counter() - t_round)

    # ---- correctness: exhaustive uncompressed ranking over every
    # ingested doc (corpus statistics keep counting deleted docs, as
    # tombstones do), with the deleted docs masked out
    t0 = time.perf_counter()
    ref = oracle.Reference(corpus.where(F.col("doc_id") < lo), lo)
    res.failed += ref.check_ranked([last], K, deleted=deleted)
    res.attempted += 1
    oracle_s = time.perf_counter() - t0

    plain = [s for s, f in zip(upd_s, folded) if not f]
    folds = [s for s, f in zip(upd_s, folded) if f]
    res.end_to_end = {
        "setup_s": setup_s,
        "build_postings_per_s": base_m["total_postings"] / base_s,
        "round_s": _median(round_s),
        "ranked_qps": _rate(fresh_n, fresh_t),
        "op_p50_ms": 1e3 * _median(upd_s),
        "bits_per_posting": man["bits_per_posting"],
    }
    res.extra = {"ingest_docs_per_s": _rate(DELTA_DOCS * len(upd_s), sum(upd_s))}
    res.counts = {
        "postings": man["total_postings"], "rounds": len(round_s), "updates": len(upd_s),
        "folds": len(folds), "deleted": len(deleted),
        "gen_s": round(gen_s, 2), "base_build_s": round(base_s, 2),
        "oracle_s": round(oracle_s, 2),
    }
    if tr.enabled:
        res.per_layer = {
            "session.start_s": start_s,
            "query.load_s": _median([
                sp.end - sp.start for sp in tr.spans if sp.name == "query.load_index"
            ]),
            **_query_layer(tr, "bulk", "query.run_ranked.fresh"),
            **probes.codecs(out, codec, tr),
            **probes.kernels(out, _queries(_side_seed(ctx, 2), KERNEL_QUERIES), tr),
            "checkpoint.delta_s": _median(plain),
            "checkpoint.fold_s": max(0.0, _median(folds) - _median(plain)),
            "checkpoint.folds": float(len(folds)),
            "checkpoint.delete_s": _median(del_s),
            "checkpoint.jobs_per_update": per_call(
                tr.counts_of("checkpoint.update_index_delta"), "jobs"
            ),
            "checkpoint.bpp_drift_pct": 100.0 * (
                man["bits_per_posting"] / base_m["bits_per_posting"] - 1.0
            ),
        }
    return res


WORKLOADS = {"serve": serve, "ingest": ingest}
