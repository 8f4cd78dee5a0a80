"""Run-time plumbing shared by every workload.

* ``RunEnv``: a per-run scratch directory inside the checkout, with the
  Spark/JVM/Python environment pinned to it and to this host's cores.
* ``start_session``: ``session.get_spark`` plus shipping the package to
  the Python workers from that scratch directory.
* ``RssSampler``: peak resident memory of the driver, its JVM and the
  JVM's Python worker tree, read from ``/proc``.
* ``SparkCounters``: per-call Spark accounting (job group per call;
  jobs, stages, task time, shuffle and spill from the JVM status store).
* ``Tracer``: spans around public calls, kept in memory, with self time
  per layer and the tracer's own cost.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import threading
import time
import zipfile
from contextlib import contextmanager
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "partitioned_ef_ans_spark"
# JVM heap: enough for the benchmark's indexes at local[4], far below
# the session default (sized for a 32-core host) and below host RAM
DRIVER_MEM_MB = 2048


def host_cpus() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


class RunEnv:
    """Scratch directory of one run, removed by ``close``.

    Every file the run writes (corpus, indexes, Spark local dirs, JVM
    and Python temp files, the shipped package zip) lands below it, so
    nothing outlives the run and no index built by another checkout is
    ever served."""

    def __init__(self, workload: str, seed: int):
        base = ROOT / ".perfbench" / "runs"
        base.mkdir(parents=True, exist_ok=True)
        for stale in base.iterdir():  # left by a run that was killed
            if not Path(f"/proc/{stale.name.rsplit('-', 1)[-1]}").exists():
                shutil.rmtree(stale, ignore_errors=True)
        self.dir = base / f"{workload}-{seed}-{os.getpid()}"
        shutil.rmtree(self.dir, ignore_errors=True)
        (self.dir / "tmp").mkdir(parents=True)
        self.cpus = host_cpus()
        tmp = str(self.dir / "tmp")
        os.environ.update(
            SPARK_GRAFT_CPUS=str(self.cpus),
            SPARK_DRIVER_MEM=f"{DRIVER_MEM_MB}m",
            SPARK_LOCAL_DIRS=str(self.dir / "spark-local"),
            TMPDIR=tmp,
            # every JVM (spark-submit's launcher too): temp files in the
            # run directory, no hsperfdata file in the host's /tmp
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        )
        os.environ.pop("SPARK_CONF_DIR", None)

    def path(self, name: str) -> str:
        return str(self.dir / name)

    def close(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)


def start_session(env: RunEnv):
    """``session.get_spark`` at ``local[<cores>]``, then the package zip
    shipped to the workers.  ``session.ship_package`` would write the zip
    to a host-wide directory; the benchmark ships the same zip from its
    scratch directory and marks the context as shipped."""
    from partitioned_ef_ans_spark.session import get_spark

    spark = get_spark(master=f"local[{env.cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    zip_path = env.path("pefa_pkg.zip")
    with zipfile.ZipFile(zip_path, "w") as zf:
        for f in sorted(PACKAGE.rglob("*.py")):
            zf.write(f, f"partitioned_ef_ans_spark/{f.relative_to(PACKAGE)}")
    sc = spark.sparkContext
    sc.addPyFile(zip_path)
    sc._pefa_shipped = True
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def _proc_tree(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry.name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class RssSampler:
    """Peak of (driver RSS + JVM RSS + JVM descendants' RSS), sampled
    every ``interval`` seconds on a daemon thread."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._jvm: int | None = None
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def attach_jvm(self) -> None:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        self._jvm = proc.pid if proc is not None else None

    def sample(self) -> None:
        pids = [os.getpid()]
        if self._jvm is not None:
            pids += _proc_tree(self._jvm)
        self.peak = max(self.peak, sum(_rss_bytes(p) for p in pids))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def stop(self) -> float:
        """Stop sampling; peak in MB."""
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
        return self.peak / 2**20


class SparkCounters:
    """Outside-in Spark accounting for one call: the call runs under its
    own job group; afterwards the group's jobs and their stages are read
    from the status tracker and the JVM status store (which the listener
    bus fills even with the UI disabled)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.tracker = self.sc.statusTracker()

    def begin(self, group: str, name: str) -> None:
        self.sc.setJobGroup(group, name)

    def end(self, group: str) -> dict:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        job_ids = self._settled_jobs(group)
        stages = set()
        for jid in job_ids:
            info = self.tracker.getJobInfo(jid)
            if info is not None:
                stages.update(info.stageIds)
        busy_ms = shuffle = spill = ran = 0
        for sid in stages:
            try:
                sd = self.store.lastStageAttempt(int(sid))
            except Exception:  # skipped stage (reused shuffle): never ran
                continue
            if str(sd.status()) == "SKIPPED":
                continue
            ran += 1
            busy_ms += sd.executorRunTime()
            shuffle += sd.shuffleWriteBytes()
            spill += sd.diskBytesSpilled()
        return {
            "jobs": len(job_ids),
            "stages": ran,
            "task_busy_s": busy_ms / 1e3,
            "shuffle_write_mb": shuffle / 2**20,
            "spill_mb": spill / 2**20,
        }

    def _settled_jobs(self, group: str, timeout: float = 5.0) -> list[int]:
        """The group's job ids once the listener bus has recorded every
        one of them as finished."""
        deadline = time.perf_counter() + timeout
        while True:
            ids = list(self.tracker.getJobIdsForGroup(group))
            running = [
                j for j in ids
                if (info := self.tracker.getJobInfo(j)) is None
                or info.status not in ("SUCCEEDED", "FAILED")
            ]
            if not running or time.perf_counter() > deadline:
                return ids
            time.sleep(0.02)


class Span:
    __slots__ = ("id", "parent", "call", "name", "start", "end", "counts")

    def __init__(self, sid, parent, call, name, start):
        self.id, self.parent, self.call, self.name = sid, parent, call, name
        self.start, self.end, self.counts = start, None, {}


class Tracer:
    """Spans around the benchmark's calls into the package.

    Disabled (the untraced run), ``span`` is a bare yield.  Enabled,
    every span records name, start, end, parent and the request (call)
    id it belongs to; spans opened with ``spark=True`` also run under
    their own job group and carry the group's Spark counts (such spans
    are leaves: job groups do not nest).  Time spent in the tracer
    itself is accumulated in ``hook_s``."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.hook_s = 0.0
        self.counters: SparkCounters | None = None
        self._stack: list[Span] = []
        self._calls = 0

    def attach(self, spark) -> None:
        if self.enabled:
            self.counters = SparkCounters(spark)

    def new_call(self) -> int:
        self._calls += 1
        return self._calls

    @contextmanager
    def span(self, name: str, call: int = 0, spark: bool = False):
        if not self.enabled:
            yield None
            return
        h0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), parent.id if parent else None,
                  call or (parent.call if parent else 0), name, 0.0)
        self.spans.append(sp)
        self._stack.append(sp)
        group = f"pb{sp.id}"
        if spark and self.counters is not None:
            self.counters.begin(group, name)
        sp.start = time.perf_counter()
        self.hook_s += sp.start - h0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            if spark and self.counters is not None:
                sp.counts.update(self.counters.end(group))
            self._stack.pop()
            self.hook_s += time.perf_counter() - sp.end

    def self_times(self) -> dict[str, float]:
        """Self time summed per layer (the span name's first component):
        a span's duration minus the union of its children's intervals."""
        kids: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                kids.setdefault(sp.parent, []).append(sp)
        out: dict[str, float] = {}
        for sp in self.spans:
            if sp.end is None:
                continue
            covered, cur = 0.0, sp.start
            for c in sorted(kids.get(sp.id, ()), key=lambda c: c.start):
                lo, hi = max(c.start, cur), min(c.end or c.start, sp.end)
                if hi > lo:
                    covered += hi - lo
                    cur = hi
            layer = sp.name.split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (sp.end - sp.start) - covered
        return out

    def counts_of(self, name: str) -> list[dict]:
        return [sp.counts for sp in self.spans if sp.name == name and sp.counts]

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        t0 = self.spans[0].start if self.spans else 0.0
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps({
                    "id": sp.id, "parent": sp.parent, "call": sp.call,
                    "name": sp.name, "start_s": sp.start - t0,
                    "end_s": (sp.end or sp.start) - t0, **sp.counts,
                }) + "\n")


def per_call(counts: list[dict], key: str) -> float:
    """Median of one Spark counter over a span's calls (0 if none ran)."""
    vals = [c[key] for c in counts if key in c]
    return float(statistics.median(vals)) if vals else 0.0
