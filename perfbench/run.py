"""Repository benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 20 --trace 0

Run from the repository root.  ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` re-runs the same workload with spans around every
call into the package and prints the per-layer metrics, the self time
of each layer and the tracing overhead.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import signal
import sys
import time
import traceback
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench.harness import PACKAGE, ROOT  # noqa: E402

# name -> unit; every workload reports every one of them
END_TO_END = {
    "setup_s": "s",
    "build_postings_per_s": "1/s",
    "round_s": "s",
    "ranked_qps": "1/s",
    "op_p50_ms": "ms",
    "bits_per_posting": "bits",
    "peak_rss_mb": "MB",
}

_SPARK_PER_CALL = {
    "jobs_per_call": "count", "stages_per_call": "count",
    "task_busy_s_per_call": "s", "shuffle_mb_per_call": "MB",
}
# traced runs report every one of these; a layer the workload does not
# exercise reads 0
PER_LAYER = {
    "session.start_s": "s",
    "build.tf_stats_s": "s", "build.model_s": "s", "build.encode_s": "s",
    "build.jobs": "count", "build.stages": "count", "build.task_busy_s": "s",
    "build.shuffle_write_mb": "MB", "build.spill_mb": "MB",
    "codecs.decode_mvals_per_s": "1/s", "codecs.encode_mvals_per_s": "1/s",
    "query.load_s": "s",
    **{f"query.{phase}.{k}": u for phase in ("bulk", "interactive")
       for k, u in _SPARK_PER_CALL.items()},
    **{f"kernel.{mode}.{k}": u
       for mode in ("blockmax", "maxscore_blockmax", "ranked_or")
       for k, u in (("q50_us", "us"), ("q95_us", "us"), ("scored_frac", "ratio"))},
    "checkpoint.delta_s": "s", "checkpoint.fold_s": "s",
    "checkpoint.folds": "count", "checkpoint.delete_s": "s",
    "checkpoint.jobs_per_update": "count", "checkpoint.bpp_drift_pct": "%",
    **{f"self.{layer}_s": "s" for layer in (
        "session", "build", "checkpoint", "query", "codecs", "kernel", "client")},
    "trace.hook_s": "s",
}


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    a = _args(argv)
    if not PACKAGE.is_dir():
        print(f"perfbench: package directory {PACKAGE.name}/ not found under "
              f"{ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    from perfbench import workloads as w
    from perfbench.harness import RssSampler, RunEnv, Tracer, stop_session

    if a.workload not in w.WORKLOADS:
        print(f"perfbench: unknown workload {a.workload!r}; choose from "
              f"{sorted(w.WORKLOADS)}", file=sys.stderr)
        return 2
    # SIGTERM unwinds like an exception: the session stops, the JVM is
    # awaited and the run directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    env = RunEnv(a.workload, a.seed)
    ctx = w.Ctx(a.seed, a.seconds, env, Tracer(bool(a.trace)),
                rss=RssSampler().start())
    t_run = time.perf_counter()
    try:
        res = w.WORKLOADS[a.workload](ctx)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        peak_mb = ctx.rss.stop()
        if ctx.spark is not None:
            stop_session(ctx.spark)
        env.close()
    wall = time.perf_counter() - t_run
    if a.trace:
        ctx.tracer.dump(ROOT / ".perfbench" / "traces" / f"{a.workload}-{a.seed}.jsonl")
    e2e = {**res.end_to_end, "peak_rss_mb": peak_mb}
    missing = sorted(set(END_TO_END) - set(e2e))
    if missing:
        print(f"perfbench: workload did not report {missing}", file=sys.stderr)
        return 1

    results = ROOT / ".perfbench" / "results"
    results.mkdir(parents=True, exist_ok=True)
    base_file = results / f"{a.workload}-{a.seed}.json"
    print(f"workload={a.workload} seed={a.seed} seconds={a.seconds:g} "
          f"trace={a.trace} wall_s={wall:.1f} samples={json.dumps(res.counts)}")
    for name, unit in END_TO_END.items():
        print(f"  {name:<22} {e2e[name]:>14.4f} {unit}")
    for name, v in res.extra.items():
        print(f"  {name:<22} {v:>14.4f} 1/s")
    verdict = "PASS" if res.failed == 0 else "FAIL"
    print(f"  oracle: {verdict}  failed={res.failed} attempted={res.attempted}"
          f"  error_rate={res.failed / max(res.attempted, 1):.4f}")

    if a.trace:
        tr = ctx.tracer
        metrics = dict(res.per_layer)
        for layer, s in tr.self_times().items():
            metrics[f"self.{layer}_s"] = s
        metrics["trace.hook_s"] = tr.hook_s
        unknown = sorted(set(metrics) - set(PER_LAYER))
        if unknown:
            print(f"perfbench: unlisted per-layer metrics {unknown}", file=sys.stderr)
            return 1
        print("  self time per layer:  " + "  ".join(
            f"{k[5:-2]}={v:.2f}s" for k, v in metrics.items() if k.startswith("self.")))
        if base_file.exists():
            untraced = json.loads(base_file.read_text())
            print("  tracing overhead (traced - untraced, same seed):")
            for name, unit in END_TO_END.items():
                if not untraced.get(name):
                    continue
                d = e2e[name] - untraced[name]
                print(f"    {name:<22} {d:>+14.4f} {unit} "
                      f"({100 * d / untraced[name]:+.1f}%)")
        out = {k: {"value": float(metrics.get(k, 0.0)), "unit": u}
               for k, u in PER_LAYER.items()}
    else:
        base_file.write_text(json.dumps(e2e))
        out = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": out,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
