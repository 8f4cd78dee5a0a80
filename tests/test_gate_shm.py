"""Gate artifact trees: a killed run's trees are swept on the next
process's first registration; live processes' trees are left alone."""

from __future__ import annotations

import os

from partitioned_ef_ans_spark import gate


def test_first_registration_sweeps_dead_pid_trees(tmp_path, monkeypatch):
    # pid_max itself is never assigned, so this PID is dead for certain
    with open("/proc/sys/kernel/pid_max") as fh:
        dead_pid = int(fh.read())
    dead = tmp_path / f"pefa_index_{dead_pid}_0ab1f15aab9a"
    # bench.py's long-lived shared index: digits fit the tag pattern,
    # and its doc count would read as a (dead) PID
    bench = tmp_path / "pefa_bench_index_lat_40000_123456"
    live = tmp_path / f"pefa_index_{os.getpid()}_17adaf9216ea"
    other = tmp_path / f"pefa_spark_local_{dead_pid}"  # no tag: not ours
    for d in (dead, bench, live, other):
        (d / "part").mkdir(parents=True)
    pkg_zip = tmp_path / "pefa_pkg_dac3bc21b48f34f8.zip"
    pkg_zip.write_bytes(b"")

    registered = []
    monkeypatch.setattr(gate, "_SHM_ARTIFACTS", set())
    monkeypatch.setattr(gate.atexit, "register", registered.append)
    gate._register_shm_artifact(str(tmp_path / f"pefa_index_{os.getpid()}_aa"))

    assert not dead.exists()
    assert bench.exists()
    assert live.exists()
    assert other.exists()
    assert pkg_zip.exists()
    assert len(registered) == 1

    # later registrations in the same process do not sweep again
    (dead / "part").mkdir(parents=True)
    gate._register_shm_artifact(str(tmp_path / f"pefa_index_{os.getpid()}_bb"))
    assert dead.exists()
    assert len(registered) == 1
