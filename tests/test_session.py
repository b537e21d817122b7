"""Driver-heap sizing in ``get_spark``, checked without starting Spark.

The rule (session module docstring): heap = 0.75 x available memory / 1.4,
capped at 16g, with ``SPARK_DRIVER_MEM`` as an explicit override."""

from __future__ import annotations

import os

from hypothesis import given, settings
from hypothesis import strategies as st

from deltasink_spark import session

GIB = 1024**3
MIB = 1024**2


def _mib(value: str) -> int:
    assert value.endswith("m"), value
    return int(value[:-1])


def test_heap_on_a_16_gib_host():
    # 4,119,856 pages of 4 KiB: a host that reports 15.7 GiB of RAM.
    assert session.default_driver_memory(16_874_930_176) == "8621m"


def test_heap_is_capped_at_16g():
    assert session.default_driver_memory(64 * GIB) == "16384m"


@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=MIB, max_value=1024 * GIB))
def test_heap_never_exceeds_three_quarters_of_memory(total):
    heap = _mib(session.default_driver_memory(total)) * MIB
    assert heap <= 0.75 * total
    assert heap <= 16 * GIB


def test_cgroup_limit_lowers_physical_ram(tmp_path, monkeypatch):
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    v2 = tmp_path / "memory.max"
    v1 = tmp_path / "memory.limit_in_bytes"
    monkeypatch.setattr(session, "_CGROUP_MEMORY_LIMITS", (str(v2), str(v1)))

    assert session.available_memory_bytes() == phys  # no cgroup files
    v2.write_text("max\n")
    v1.write_text("9223372036854771712\n")  # v1 "unlimited"
    assert session.available_memory_bytes() == phys
    v1.write_text(f"{2 * GIB}\n")
    assert session.available_memory_bytes() == min(phys, 2 * GIB)
    v2.write_text(f"{GIB}\n")
    assert session.available_memory_bytes() == min(phys, GIB)


class _FakeBuilder:
    """Stands in for ``SparkSession.builder``: records the conf and
    returns itself as the session."""

    def __init__(self):
        self.conf: dict[str, str] = {}
        self.sparkContext = self

    def master(self, _):
        return self

    def appName(self, _):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self

    def setLogLevel(self, _):
        pass


def _driver_memory_passed(monkeypatch) -> str:
    fake = _FakeBuilder()
    monkeypatch.setattr(session.SparkSession, "builder", fake)
    session.get_spark(cores=1)
    return fake.conf["spark.driver.memory"]


def test_get_spark_passes_the_computed_heap(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    monkeypatch.setattr(session, "available_memory_bytes", lambda: 16_874_930_176)
    assert _driver_memory_passed(monkeypatch) == "8621m"


def test_spark_driver_mem_overrides_the_computed_heap(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    monkeypatch.setattr(session, "available_memory_bytes", lambda: 16_874_930_176)
    assert _driver_memory_passed(monkeypatch) == "3g"
