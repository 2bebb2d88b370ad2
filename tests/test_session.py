"""Default driver heap of session.get_spark (no JVM started).

The heap must fit the host: min(16g, half the memory the process may use),
so a test or bench session is not OOM-killed on a machine smaller than 32 GB.
An explicit SPARK_GRAFT_DRIVER_MEM is passed through unchanged.
"""

from __future__ import annotations

import os

from biodiversity_graph_db_spark.session import driver_memory, usable_memory_bytes

GIB = 1 << 30


def _bytes(spec: str) -> int:
    unit = {"m": 1 << 20, "g": GIB}[spec[-1]]
    return int(spec[:-1]) * unit


def test_default_fits_host():
    physical = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    heap = _bytes(driver_memory({}))
    assert 0 < heap <= 16 * GIB
    assert heap <= physical // 2


def test_default_is_16g_on_large_hosts():
    assert driver_memory({}, usable_bytes=32 * GIB) == "16g"
    assert driver_memory({}, usable_bytes=256 * GIB) == "16g"


def test_numeric_cgroup_limit_lowers_default(tmp_path):
    limited = tmp_path / "memory.max"
    limited.write_text("2147483648\n")
    unlimited = tmp_path / "memory.max.none"
    unlimited.write_text("max\n")
    missing = str(tmp_path / "absent")

    physical = usable_memory_bytes(cgroup_files=())
    assert usable_memory_bytes(cgroup_files=(str(unlimited), missing)) == physical
    usable = usable_memory_bytes(cgroup_files=(str(unlimited), str(limited), missing))
    assert usable == min(physical, 2 * GIB)
    assert _bytes(driver_memory({}, usable_bytes=usable)) <= GIB


def test_explicit_setting_used_as_given():
    assert driver_memory({"SPARK_GRAFT_DRIVER_MEM": "3g"}) == "3g"
    assert driver_memory({"SPARK_GRAFT_DRIVER_MEM": "40g"}, usable_bytes=GIB) == "40g"
    # empty counts as unset
    assert driver_memory({"SPARK_GRAFT_DRIVER_MEM": ""}, usable_bytes=4 * GIB) == "2048m"
