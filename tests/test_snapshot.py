"""Snapshot cache tests for DeltaLogTable: one cached fold per table
version, kept fresh by the `_delta_log` listing — a commit by another
handle is seen at once, a warm handle's commit reads back only what it
wrote, a caller's mutation never reaches the cache, and a commit file
deleted mid-log fails the same handle's next read."""

from __future__ import annotations

import os
import sys
import threading

import pytest
from pyspark.sql import functions as F

from deltasink_spark.delta_log import DeltaLogTable, LogStore


class CountingLogStore(LogStore):
    """The local store, counting the log reads and listings it serves."""

    def __init__(self) -> None:
        self.reads = 0
        self.lists = 0

    def read(self, path: str) -> str:
        self.reads += 1
        return super().read(path)

    def list(self, log_dir: str) -> list[str]:
        self.lists += 1
        return super().list(log_dir)


def _ev(spark, n=10, lo=0):
    return spark.range(lo, n).select(
        F.col("id").alias("event_id"),
        (F.col("id") * 1.5).alias("value"),
    )


def test_other_handles_commits_are_seen_without_refresh(spark, tmp_path):
    path = str(tmp_path / "t")
    a, b = DeltaLogTable(path), DeltaLogTable(path)
    assert a.txn_versions() == {}
    assert b.append(_ev(spark), "x", 5) == 0
    assert a.txn_versions() == {"x": 5}
    assert a.schema().fieldNames() == ["event_id", "value"]
    wider = _ev(spark, 20, lo=10).withColumn("note", F.lit("n"))
    assert b.append(wider, merge_schema=True) == 1
    assert a.schema().fieldNames() == ["event_id", "value", "note"]


def test_warm_handle_append_reads_back_only_its_commit(spark, tmp_path):
    store = CountingLogStore()
    t = DeltaLogTable(str(tmp_path / "t"), log_store=store)
    t.append(_ev(spark), "app", 0)
    t.append(_ev(spark, 20, lo=10), "app", 1)
    t.checkpoint()
    for n in (2, 3, 4):
        t.append(_ev(spark, 10 * n + 10, lo=10 * n), "app", n)
    store.reads = store.lists = 0
    assert t.append(_ev(spark, 60, lo=50), "app", 5) == 5
    assert store.reads <= 5, (store.reads, store.lists)
    assert t.txn_versions() == {"app": 5}
    assert t.read(spark).count() == 60


def test_returned_state_is_a_copy(spark, tmp_path):
    t = DeltaLogTable(str(tmp_path / "t"))
    t.append(_ev(spark), "app", 0)
    t.set_properties({"delta.appendOnly": "false"})
    config = t._metadata_dict()["configuration"]
    assert config["delta.appendOnly"] == "false"
    meta = t._metadata_dict()
    meta["configuration"]["delta.appendOnly"] = "true"
    meta["configuration"]["poison"] = "1"
    adds = t.snapshot_adds()
    n_files = len(adds)
    adds.clear()
    txns = t.txn_versions()
    txns["app"] = 99
    assert t._metadata_dict()["configuration"] == config
    assert len(t.snapshot_adds()) == n_files > 0
    assert t.txn_versions() == {"app": 0}


def test_deleted_mid_log_commit_fails_the_same_handle(spark, tmp_path):
    t = DeltaLogTable(str(tmp_path / "t"))
    for n in range(3):
        t.append(_ev(spark, 10 * n + 10, lo=10 * n))
    assert len(t.snapshot_adds()) > 0  # the handle holds a snapshot
    os.remove(os.path.join(t.log_dir, f"{1:020d}.json"))
    with pytest.raises(ValueError, match="commit file is missing"):
        t.snapshot_adds()


def test_one_handle_shared_by_threads(spark, tmp_path):
    """Threads committing and reading through ONE handle: each commit
    lands once, in sequence, and the shared cached snapshot ends equal
    to a fresh handle's fold."""
    t = DeltaLogTable(str(tmp_path / "t"))
    t.append(_ev(spark), "app", 0)
    t.set_domain_metadata("seed", {"n": 0})  # ledgers the feature
    errors = []

    def work(i):
        try:
            for j in range(5):
                t.set_domain_metadata(f"d{i}", {"n": j})
                assert t.domain_metadata()[f"d{i}"] == {"n": j}
        except Exception as ex:  # reported by the assertion below
            errors.append(ex)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(i,)) for i in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    assert errors == []
    assert t.latest_version() == 1 + 8 * 5
    fresh = DeltaLogTable(t.path)
    assert t.domain_metadata() == fresh.domain_metadata()
    assert {d: c["n"] for d, c in fresh.domain_metadata().items()} == {
        "seed": 0, **{f"d{i}": 4 for i in range(8)}
    }
    assert t.txn_versions() == {"app": 0}
