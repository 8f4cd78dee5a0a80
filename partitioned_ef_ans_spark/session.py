"""SparkSession factory with the engine's recommended configuration."""

from __future__ import annotations

import os
import zipfile
from pathlib import Path

from pyspark.sql import SparkSession


def ship_package(spark: SparkSession) -> None:
    """Make the engine importable on executors (the local-mode analogue
    of ``spark-submit --py-files pefa.zip``).  Idempotent per context."""
    sc = spark.sparkContext
    if getattr(sc, "_pefa_shipped", False):
        return
    pkg_dir = Path(__file__).resolve().parent
    # Content-addressed zip name: a PID-keyed path can resurrect a
    # STALE package after PID recycling (executors then import old
    # code — signature mismatches surface as worker TypeErrors far
    # from the cause).  Hashing source content makes reuse safe and
    # the tmp+rename write makes concurrent builders race-free.
    import hashlib

    files = sorted(pkg_dir.rglob("*.py"))
    h = hashlib.sha1()
    for f in files:
        h.update(str(f.relative_to(pkg_dir)).encode())
        h.update(f.read_bytes())
    zip_path = Path(f"/dev/shm/pefa_pkg_{h.hexdigest()[:16]}.zip")
    if not zip_path.exists():
        tmp = zip_path.with_suffix(f".{os.getpid()}.tmp")
        with zipfile.ZipFile(tmp, "w") as zf:
            for f in files:
                zf.write(f, f"partitioned_ef_ans_spark/{f.relative_to(pkg_dir)}")
        os.replace(tmp, zip_path)
    sc.addPyFile(str(zip_path))
    sc._pefa_shipped = True


#: heap ceiling for the local-mode driver
DRIVER_MEM_CAP_MB = 24 * 1024


def default_driver_mem(meminfo: str = "/proc/meminfo") -> str:
    """Half of host RAM (``MemTotal``), capped at 24g; the cap alone
    where ``/proc/meminfo`` does not exist."""
    try:
        with open(meminfo) as fh:
            kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
    except (OSError, StopIteration):
        return f"{DRIVER_MEM_CAP_MB}m"
    return f"{min(kb // 2048, DRIVER_MEM_CAP_MB)}m"


def get_spark(
    master: str | None = None,
    app_name: str = "partitioned_ef_ans_spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for the index pipeline.

    Defaults are scale-oriented: AQE on (runtime skew-join/coalesce),
    Arrow on (every codec kernel is an Arrow-batched pandas UDF).  On a
    real cluster the same settings apply; only master/shuffle sizing
    change (spark-submit supplies them).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # deterministic event-time semantics across engines/hosts
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # local-mode: driver JVM hosts all executor threads; size the
        # heap for the thread count (32 tasks x hash-agg state), but
        # never past what the host can back
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or default_driver_mem(),
        )
        # shuffle/spill on tmpfs: this sandbox's /tmp disk is shared
        # with noisy neighbors and throttles shuffle I/O (measured 3x
        # wall variance); RAM-backed local dirs remove that variable
        .config(
            "spark.local.dir",
            os.environ.get("SPARK_LOCAL_DIRS", "/dev/shm/pefa_spark_local"),
        )
    )
    return builder.getOrCreate()
