"""The local-mode driver heap defaults to what the host can back."""

from __future__ import annotations

from partitioned_ef_ans_spark.session import DRIVER_MEM_CAP_MB, default_driver_mem


def _meminfo(tmp_path, kb: int) -> str:
    p = tmp_path / "meminfo"
    p.write_text(f"MemFree:         1000 kB\nMemTotal:       {kb} kB\n")
    return str(p)


def test_driver_mem_is_half_of_host_ram(tmp_path):
    assert default_driver_mem(_meminfo(tmp_path, 15 * 1024 * 1024)) == "7680m"


def test_driver_mem_is_capped(tmp_path):
    big = default_driver_mem(_meminfo(tmp_path, 256 * 1024 * 1024))
    assert big == f"{DRIVER_MEM_CAP_MB}m" == "24576m"


def test_driver_mem_without_meminfo(tmp_path):
    assert default_driver_mem(str(tmp_path / "absent")) == f"{DRIVER_MEM_CAP_MB}m"
