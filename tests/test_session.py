"""Session sizing: the default driver heap comes from the host."""

from __future__ import annotations

import os

import pytest

from cm_well_spark.session import MAX_DRIVER_MEM_MB, default_driver_mem


def _mb(size: str) -> int:
    assert size.endswith("m"), size
    return int(size[:-1])


@pytest.mark.skipif(not os.path.exists("/proc/meminfo"), reason="needs /proc/meminfo")
def test_default_heap_fits_in_physical_memory():
    with open("/proc/meminfo") as fh:
        total_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    heap = _mb(default_driver_mem())
    assert 0 < heap <= total_kb // 1024 // 2
    assert heap <= MAX_DRIVER_MEM_MB


@pytest.mark.parametrize(
    "total_kb, expected",
    [(16 * 1024 * 1024, "8192m"), (256 * 1024 * 1024, f"{MAX_DRIVER_MEM_MB}m")],
)
def test_default_heap_is_half_of_memtotal_capped(tmp_path, total_kb, expected):
    fake = tmp_path / "meminfo"
    fake.write_text(f"MemTotal:       {total_kb} kB\nMemFree:        1024 kB\n")
    assert default_driver_mem(str(fake)) == expected


def test_default_heap_without_meminfo_keeps_the_ceiling(tmp_path):
    assert default_driver_mem(str(tmp_path / "missing")) == f"{MAX_DRIVER_MEM_MB}m"
