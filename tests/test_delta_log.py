"""Adversarial protocol tests for the real Delta `_delta_log` layer
(deltasink_spark/delta_log.py): crash recovery, replay idempotence,
put-if-absent commits, DML visibility, and the table-as-stream source
contract — the same matrix tests/test_streaming.py pins for the
bespoke-ledger sink, applied to the public format."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from deltasink_spark.delta_log import (
    DeltaLogSink,
    DeltaLogTable,
    DeltaTableStreamDataSource,
)

from tests.conftest import SF_SMALL


def _ev(spark, n=100):
    return (
        spark.range(n)
        .select(
            F.col("id").alias("event_id"),
            (F.col("id") % 7).alias("user_id"),
            (F.col("id") * 1.5).alias("value"),
        )
    )


def _table(tmp_path, name="t") -> DeltaLogTable:
    return DeltaLogTable(str(tmp_path / name))


def test_txn_replay_is_skipped(spark, tmp_path):
    t = _table(tmp_path)
    df = _ev(spark)
    assert t.append(df, "app", 0) == 0
    assert t.append(df, "app", 0) is None  # replay: no commit
    assert t.latest_version() == 0
    assert t.read(spark).count() == 100


def test_streaming_sink_no_duplicates_without_txn_guard_would_double(spark, tmp_path):
    # The same frame appended twice WITHOUT txn actions doubles —
    # proving the txn guard (previous test) is what carries
    # exactly-once, not accidental dedup anywhere else.
    t = _table(tmp_path)
    df = _ev(spark)
    t.append(df)
    t.append(df)
    assert t.read(spark).count() == 200


def test_commit_files_are_put_if_absent(spark, tmp_path):
    t = _table(tmp_path)
    t.append(_ev(spark))
    # A racer that somehow wrote version 1 outside the lock: the next
    # commit must NOT clobber it — the put-if-absent collision surfaces
    # as a retryable ConcurrentAppendError (the LogStore funnel), and
    # the racer's bytes stay untouched.
    from deltasink_spark.delta_log import ConcurrentAppendError

    racer = os.path.join(t.log_dir, f"{1:020d}.json")
    with open(racer, "w") as fh:
        fh.write(json.dumps({"commitInfo": {"operation": "RACER"}}) + "\n")
    orig = t.latest_version
    t.latest_version = lambda: 0  # force the stale version choice
    try:
        with pytest.raises(ConcurrentAppendError):
            t._commit([{"commitInfo": {"operation": "LOSER"}}])
    finally:
        t.latest_version = orig
    with open(racer) as fh:  # racer's content untouched
        assert json.loads(fh.readline())["commitInfo"]["operation"] == "RACER"


def test_crash_before_commit_leaves_table_unchanged(spark, tmp_path):
    t = _table(tmp_path)
    t.append(_ev(spark))
    before = t.read(spark).count()
    # Crash simulation: data files staged (renamed into the root) but
    # the commit never happened — unreferenced files must be invisible.
    t._stage_files(_ev(spark, 50))
    assert t.read(spark).count() == before
    assert t.latest_version() == 0
    # and the next real commit proceeds normally
    t.append(_ev(spark, 10))
    assert t.read(spark).count() == before + 10


def test_optimize_preserves_rows_and_skips_cdf(spark, tmp_path):
    t = _table(tmp_path)
    t.append(_ev(spark, 60))
    t.append(_ev(spark, 40))
    v = t.optimize(spark, target_files=1)
    assert t.read(spark).count() == 100
    assert len(t.snapshot_files()) == 1
    # dataChange=false commit emits NOTHING in a CDF read
    assert t.read_changes(spark, v - 1, v).count() == 0


def test_delete_where_rewrites_only_affected_files(spark, tmp_path):
    t = _table(tmp_path)
    t.append(_ev(spark, 50))  # ids 0..49: contains matches
    t.append(
        _ev(spark, 100).filter(F.col("event_id") >= 80)
    )  # ids 80..99: no matches
    before = set(t.snapshot_files())
    t.delete_where(spark, "event_id < 10")
    after = set(t.snapshot_files())
    # the no-match file survives as the SAME physical file
    untouched = before & after
    assert untouched, "file without matches must not be rewritten"
    assert t.read(spark).count() == 60  # 50 + 20 - 10 deleted
    assert t.read(spark).filter(F.col("event_id") < 10).count() == 0


def test_delete_where_nulls_survive(spark, tmp_path):
    t = _table(tmp_path)
    df = _ev(spark, 20).withColumn(
        "value", F.when(F.col("event_id") % 5 == 0, None).otherwise(F.col("value"))
    )
    t.append(df)
    t.delete_where(spark, "value < 15")
    out = t.read(spark)
    assert out.filter(F.col("value").isNull()).count() == 4  # NULLs kept


def test_delete_where_no_match_is_noop_commit(spark, tmp_path):
    t = _table(tmp_path)
    t.append(_ev(spark, 10))
    v0 = t.latest_version()
    assert t.delete_where(spark, "event_id > 999") == v0
    assert t.latest_version() == v0


def test_delete_emits_cdc_rows(spark, tmp_path):
    t = _table(tmp_path)
    t.append(_ev(spark, 30))
    v = t.delete_where(spark, "event_id < 5")
    cdf = t.read_changes(spark, v - 1, v)
    rows = {r["event_id"] for r in cdf.collect()}
    assert rows == set(range(5))
    assert cdf.filter(F.col("_change_type") == "delete").count() == 5


def test_vacuum_drops_superseded_but_keeps_current(spark, tmp_path):
    t = _table(tmp_path)
    t.append(_ev(spark, 40))
    t.optimize(spark, target_files=1)
    removed = t.vacuum(0, force=True)
    assert removed >= 1
    assert t.read(spark).count() == 40  # current snapshot intact
    # time travel PAST the vacuumed version now fails on missing files
    # (Delta's documented VACUUM consequence)
    with pytest.raises(Exception):
        t.read(spark, as_of_version=0).collect()


def test_first_commit_carries_protocol_and_metadata(spark, tmp_path):
    t = _table(tmp_path)
    t.append(_ev(spark, 5))
    with open(os.path.join(t.log_dir, f"{0:020d}.json")) as fh:
        kinds = [next(iter(json.loads(line))) for line in fh if line.strip()]
    assert kinds[0] == "protocol"
    assert kinds[1] == "metaData"
    assert "add" in kinds and "commitInfo" in kinds
    # schemaString round-trips through an EMPTY snapshot read
    t2 = DeltaLogTable(t.path)
    assert t2.schema() is not None


def test_stream_source_serves_appends_skips_optimize(spark, tmp_path):
    t = _table(tmp_path)
    t.append(_ev(spark, 30))
    t.optimize(spark, target_files=1)
    t.append(_ev(spark, 60).filter(F.col("event_id") >= 30))
    spark.dataSource.register(DeltaTableStreamDataSource)
    from deltasink_spark.queries.sources_sinks import _run_until

    out = _run_until(
        spark,
        spark.readStream.format("delta_log_table").option("path", t.path).load(),
        min_rows=60,
    )
    # optimize's rewritten file must NOT be re-served: exactly 60 rows
    assert out.count() == 60
    assert {r["event_id"] for r in out.collect()} == set(range(60))


def test_stream_source_raises_on_delete_without_optin(spark, tmp_path):
    t = _table(tmp_path)
    t.append(_ev(spark, 20))
    t.delete_where(spark, "event_id < 5")
    from deltasink_spark.delta_log import DeltaTableStreamReader

    r = DeltaTableStreamReader({"path": t.path})
    with pytest.raises(ValueError, match="ignore_deletes"):
        r.partitions({"v": -1}, {"v": t.latest_version()})
    r2 = DeltaTableStreamReader({"path": t.path, "ignore_deletes": "true"})
    parts = r2.partitions({"v": -1}, {"v": t.latest_version()})
    assert parts  # serves the adds, skips the delete


def test_streaming_sink_replay_via_txn(spark, tmp_path, sf_small):
    from deltasink_spark.sources import events_stream

    path = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    sink = DeltaLogSink(path, app_id="t_replay")
    for _ in range(2):
        s = events_stream(spark, sf_small).select("event_id", "value")
        q = (
            s.writeStream.foreachBatch(sink.foreach_batch())
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    from deltasink_spark.tables import load

    expected = load(spark, sf_small, "events").count()
    assert sink.table.read(spark).count() == expected


def test_checkpoint_integrity_across_dedup_drains(spark, tmp_path):
    """Two availableNow drains on one checkpoint, file stream ->
    dedup_within_watermark -> DeltaLogSink, written by the session's
    FileSystem-based checkpoint manager: every key lands once (the
    redelivered ones too, across the restart), the txn high-water mark
    is the last batch id, the second drain resumes at the next batch id
    and no rename temp file is left under the checkpoint."""
    import datetime as dt
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from deltasink_spark.session import CHECKPOINT_FILE_MANAGER
    from deltasink_spark.streaming.pipeline import dedup_within_watermark

    key = "spark.sql.streaming.checkpointFileManagerClass"
    assert spark.conf.get(key) == CHECKPOINT_FILE_MANAGER
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    t0 = dt.datetime(2024, 1, 1, 10, tzinfo=dt.timezone.utc)

    def stage(i, ids):
        # one file per micro-batch, discovered in mtime order
        path = str(src / f"batch_{i}.parquet")
        ts = [t0 + dt.timedelta(minutes=k) for k in ids]
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array(ids, pa.int64()),
                    "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
                    "value": pa.array([k * 1.5 for k in ids], pa.float64()),
                }
            ),
            path,
        )
        mtime = time.time() + i * 10
        os.utime(path, (mtime, mtime))

    sink = DeltaLogSink(str(tmp_path / "sink"), app_id="t_ckpt")
    seen: list[int] = []

    def write(df, batch_id):
        seen.append(batch_id)
        sink.write_batch(df, batch_id)

    def drain() -> list[int]:
        start = len(seen)
        stream = (
            spark.readStream.schema("event_id long, ts timestamp, value double")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src))
        )
        q = (
            dedup_within_watermark(stream, ["event_id"], "ts", "1 hour")
            .writeStream.foreachBatch(write)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return seen[start:]

    stage(0, list(range(10)))
    stage(1, list(range(5, 20)))  # 5..9 redelivered
    first = drain()
    stage(2, list(range(15, 30)))  # 15..19 redelivered after the restart
    second = drain()

    assert first and second and second[0] == first[-1] + 1
    ids = [r["event_id"] for r in sink.table.read(spark).select("event_id").collect()]
    assert sorted(ids) == list(range(30))
    assert sink.table.txn_versions()["t_ckpt"] == second[-1]

    def logged(sub):
        return max(int(f) for f in os.listdir(os.path.join(ckpt, sub)) if f.isdigit())

    assert logged("offsets") == logged("commits") == second[-1]
    leftovers = [
        os.path.join(d, f) for d, _, files in os.walk(ckpt) for f in files if ".tmp" in f
    ]
    assert leftovers == []


def test_add_stats_carry_numrecords_and_minmax(spark, tmp_path):
    t = _table(tmp_path)
    t.append(_ev(spark, 25))
    adds = [a["add"] for _, a in t._actions() if "add" in a]
    assert adds
    stats = [json.loads(a["stats"]) for a in adds]  # one per part file
    assert sum(s["numRecords"] for s in stats) == 25
    assert min(s["minValues"]["event_id"] for s in stats) == 0
    assert max(s["maxValues"]["event_id"] for s in stats) == 24
    assert sum(s["nullCount"]["value"] for s in stats) == 0


def test_checkpoint_reconstructs_and_bounds_replay(spark, tmp_path):
    t = _table(tmp_path)
    t.append(_ev(spark, 30), "cpapp", 0)
    t.append(_ev(spark, 60).filter(F.col("event_id") >= 30), "cpapp", 1)
    t.optimize(spark, target_files=1)
    cv = t.checkpoint()
    assert t.last_checkpoint() == cv == 2
    # a JSON tail after the checkpoint
    t.append(_ev(spark, 70).filter(F.col("event_id") >= 60))
    got = {r["event_id"] for r in t.read_via_checkpoint(spark).collect()}
    assert got == set(range(70))
    # checkpoint carries protocol/metaData/txn state, one action per row
    import pyarrow.parquet as pq

    cp = pq.read_table(
        os.path.join(t.log_dir, f"{cv:020d}.checkpoint.parquet")
    ).to_pylist()
    kinds = [next(k for k, v in r.items() if v is not None) for r in cp]
    assert "protocol" in kinds and "metaData" in kinds
    txns = [r["txn"] for r in cp if r["txn"] is not None]
    assert {(x["appId"], x["version"]) for x in txns} == {("cpapp", 1)}


def test_merge_emits_full_cdf_vocabulary(spark, tmp_path):
    t = _table(tmp_path)
    t.append(_ev(spark, 10))  # ids 0..9
    src = _ev(spark, 15).filter(F.col("event_id") >= 5).withColumn(
        "value", F.col("value") + 1000
    )  # ids 5..14: 5..9 update, 10..14 insert
    v = t.merge(spark, src, "event_id")
    out = {(r["event_id"], r["value"]) for r in t.read(spark).collect()}
    expect = {(i, i * 1.5) for i in range(5)} | {
        (i, i * 1.5 + 1000) for i in range(5, 15)
    }
    assert out == expect
    cdf = t.read_changes(spark, v - 1, v)
    by_type = {
        k: {r["event_id"] for r in g}
        for k, g in __import__("itertools").groupby(
            sorted(cdf.collect(), key=lambda r: r["_change_type"]),
            key=lambda r: r["_change_type"],
        )
    }
    assert by_type["update_preimage"] == set(range(5, 10))
    assert by_type["update_postimage"] == set(range(5, 10))
    assert by_type["insert"] == set(range(10, 15))


def test_merge_untouched_files_not_rewritten(spark, tmp_path):
    t = _table(tmp_path)
    t.append(_ev(spark, 10))  # file A: 0..9 (contains matches)
    t.append(_ev(spark, 60).filter(F.col("event_id") >= 50))  # file B: no match
    before = set(t.snapshot_files())
    src = _ev(spark, 5).withColumn("value", F.col("value") + 1)
    t.merge(spark, src, "event_id")
    after = set(t.snapshot_files())
    assert before & after, "files without matched keys must survive verbatim"
    assert t.read(spark).count() == 20


def test_partition_prune_opens_only_matching_files(spark, tmp_path):
    t = _table(tmp_path)
    df = _ev(spark, 40).withColumn(
        "et", F.when(F.col("event_id") % 2 == 0, "a").otherwise("b")
    )
    t.append(df, partition_by=("et",))
    pruned = t.read_partition(spark, et="a")
    files = pruned.inputFiles()
    assert files and all("et=a" in f for f in files)
    assert pruned.count() == 20
    assert {r["et"] for r in pruned.collect()} == {"a"}


def test_concurrent_rewrite_conflict_detected(spark, tmp_path):
    """OPTIMIZE/DELETE/MERGE re-validate under the commit lock that
    every file they remove is STILL live — a racer's commit landing
    between snapshot and commit point aborts the stale plan
    (ConcurrentDeleteReadError) instead of double-removing rows."""
    from deltasink_spark.delta_log import ConcurrentDeleteReadError

    t = _table(tmp_path)
    t.append(_ev(spark, 30))
    stale_adds = dict(t.snapshot_adds())
    # racer rewrites the snapshot first
    t.optimize(spark, target_files=1)
    # a stale actor now tries to commit removes of the old files: the
    # shared precondition must reject it
    assert t._commit(
        [{"remove": {"path": p, "deletionTimestamp": 0, "dataChange": True}}
         for p in stale_adds],
        t._adds_unchanged(stale_adds),
    ) is None
    # end-to-end: interleave a racer INSIDE delete_where's commit —
    # the verb's optimistic-concurrency loop must RE-PLAN against the
    # racer's state and land without any caller retry
    real_commit = t._commit
    raced = {"done": False}

    def racing_commit(actions, precondition=None):
        if not raced["done"]:
            raced["done"] = True
            DeltaLogTable(t.path).optimize(spark, target_files=2)
        return real_commit(actions, precondition)

    t._commit = racing_commit
    try:
        assert t.delete_where(spark, "event_id < 5") is not None
    finally:
        t._commit = real_commit
    assert raced["done"]
    # serializable outcome: the racer's compaction landed AND the
    # delete applied exactly once on top of it
    assert t.read(spark).count() == 25
    assert {r["event_id"] for r in t.read(spark).collect()} == set(range(5, 30))
    # a conflict with NO winning commit in between (a stale plan, not a
    # race) must NOT retry-loop: it aborts immediately
    calls = {"n": 0}

    def always_conflict(actions, precondition=None):
        calls["n"] += 1
        return None  # precondition-style abort with no log progress

    t._commit = always_conflict
    try:
        with pytest.raises(ConcurrentDeleteReadError):
            t.delete_where(spark, "event_id < 10")
    finally:
        t._commit = real_commit
    assert calls["n"] == 1, "no-progress conflict must not be retried"


def test_partitioned_table_dml_preserves_partitions(spark, tmp_path):
    """The full DML matrix on a PARTITIONED table: append inherits the
    table's partitioning, DELETE/OPTIMIZE/MERGE rewrite within
    partition dirs and keep the partition column and partitionValues
    intact (the review's silent-data-loss scenario: an OPTIMIZE that
    restaged unpartitioned would permanently drop the column)."""
    t = _table(tmp_path)
    df = _ev(spark, 40).withColumn(
        "et", F.when(F.col("event_id") % 2 == 0, "a").otherwise("b")
    )
    t.append(df, partition_by=("et",))
    # later append INHERITS partitioning without redeclaring
    t.append(
        _ev(spark, 50).filter(F.col("event_id") >= 40).withColumn("et", F.lit("a"))
    )
    # conflicting redeclaration raises
    with pytest.raises(ValueError, match="partitioned by"):
        t.append(df, partition_by=("event_id",))
    assert t.read(spark).columns.count("et") == 1
    t.delete_where(spark, "event_id < 4")
    assert {r["et"] for r in t.read(spark).collect()} == {"a", "b"}
    assert t.read(spark).count() == 46
    t.optimize(spark, target_files=1)
    out = t.read_partition(spark, et="a")
    assert out.count() == 28  # 20-2 evens + 10 appended
    assert all("et=a" in f for f in out.inputFiles())
    src = _ev(spark, 5).withColumn("et", F.lit("b")).withColumn(
        "value", F.col("value") + 9
    )
    t.merge(spark, src, "event_id")
    m = t.read(spark)
    # src inserts ids 0-3 (deleted earlier) and updates id 4 in place
    assert m.count() == 46 + 4
    assert {r["et"] for r in m.filter(F.col("event_id") < 5).collect()} == {"b"}


def test_merge_duplicate_source_keys_rejected(spark, tmp_path):
    t = _table(tmp_path)
    t.append(_ev(spark, 10))
    dup = _ev(spark, 3).unionByName(_ev(spark, 3))
    with pytest.raises(ValueError, match="duplicate"):
        t.merge(spark, dup, "event_id")


def test_hive_escaped_partition_values_roundtrip(spark, tmp_path):
    """partitionValues must carry the LOGICAL value, not the
    Hive-escaped directory name — and read_partition must match on
    the logical value."""
    t = _table(tmp_path)
    df = _ev(spark, 6).withColumn(
        "shop", F.when(F.col("event_id") % 2 == 0, "online store").otherwise("hq")
    )
    t.append(df, partition_by=("shop",))
    adds = [a["add"] for _, a in t._actions() if "add" in a]
    vals = {a["partitionValues"]["shop"] for a in adds}
    assert "online store" in vals  # unescaped in the protocol
    out = t.read_partition(spark, shop="online store")
    assert out.count() == 3
    assert {r["shop"] for r in out.collect()} == {"online store"}


def test_stream_source_partitioned_serves_partition_column(spark, tmp_path):
    t = _table(tmp_path)
    df = _ev(spark, 20).withColumn(
        "et", F.when(F.col("event_id") % 2 == 0, "a").otherwise("b")
    )
    t.append(df, partition_by=("et",))
    spark.dataSource.register(DeltaTableStreamDataSource)
    from deltasink_spark.queries.sources_sinks import _run_until

    out = _run_until(
        spark,
        spark.readStream.format("delta_log_table").option("path", t.path).load(),
        min_rows=20,
    )
    rows = out.collect()
    assert len(rows) == 20
    assert {(r["event_id"] % 2 == 0, r["et"]) for r in rows} == {
        (True, "a"), (False, "b")
    }


def test_stream_ignore_deletes_skips_whole_commit_no_duplicates(spark, tmp_path):
    """The review's duplicate-delivery scenario: a DELETE commit's
    rewrite adds must NOT be re-served under ignore_deletes — the
    whole commit is skipped, so a full drain sees each original row
    exactly once."""
    t = _table(tmp_path)
    t.append(_ev(spark, 20))
    t.delete_where(spark, "event_id < 5")
    from deltasink_spark.delta_log import DeltaTableStreamReader

    r = DeltaTableStreamReader({"path": t.path, "ignore_deletes": "true"})
    parts = r.partitions({"v": -1}, {"v": t.latest_version()})
    # only v0's add files are served; the delete commit contributes none
    assert all(p.version == 0 for p in parts)
    import pyarrow as pa

    served = []
    for p in parts:
        for b in r.read(p):
            served.extend(b.column(0).to_pylist() if b.num_rows else [])
    assert sorted(served) == list(range(20))  # no duplicates, no loss


def test_schema_enforcement_and_evolution(spark, tmp_path):
    """Appending new columns without merge_schema is rejected (write
    enforcement); with it, a new metaData action widens the schema and
    old files read the new column as NULL — including through the
    stream source, which pads evolution gaps with typed nulls."""
    t = _table(tmp_path)
    t.append(_ev(spark, 10).select("event_id", "value"))
    widened = _ev(spark, 20).filter(F.col("event_id") >= 10)
    with pytest.raises(ValueError, match="merge_schema"):
        t.append(widened)  # carries user_id: enforcement rejects
    t.append(widened, merge_schema=True)
    out = t.read(spark)
    assert set(out.columns) == {"event_id", "value", "user_id"}
    assert out.filter(F.col("user_id").isNull()).count() == 10  # v0 files
    assert out.filter(F.col("user_id").isNotNull()).count() == 10
    # metaData id persists across the evolution commit (same table)
    metas = [a["metaData"] for _, a in t._actions() if "metaData" in a]
    assert len(metas) == 2 and metas[0]["id"] == metas[1]["id"]
    # stream source serves the evolved schema: old files padded
    spark.dataSource.register(DeltaTableStreamDataSource)
    from deltasink_spark.queries.sources_sinks import _run_until

    s = _run_until(
        spark,
        spark.readStream.format("delta_log_table").option("path", t.path).load(),
        min_rows=20,
    )
    assert s.count() == 20
    assert s.filter(F.col("user_id").isNull()).count() == 10


def test_restore_rolls_back_and_is_versioned(spark, tmp_path):
    t = _table(tmp_path)
    t.append(_ev(spark, 30))
    v1 = t.append(_ev(spark, 60).filter(F.col("event_id") >= 30))
    t.delete_where(spark, "event_id < 10")
    assert t.read(spark).count() == 50
    rv = t.restore(spark, v1)
    assert rv == t.latest_version()  # the rollback is a NEW commit
    assert t.read(spark).count() == 60
    # CDF over the restore NETS correctly: the re-added file serves all
    # its rows as inserts AND the superseded rewrite's rows come back
    # as deletes (the reader fallback) — a replica applying both ends
    # with exactly the 10 resurrected rows, no duplicates
    cdf = t.read_changes(spark, rv - 1, rv)
    ins = cdf.filter(F.col("_change_type") == "insert")
    dels = cdf.filter(F.col("_change_type") == "delete")
    net = {r["event_id"] for r in ins.collect()} - {
        r["event_id"] for r in dels.collect()
    }
    assert net == set(range(10))
    # per-row multiset nets too: every surviving row inserted once and
    # deleted once, every resurrected row only inserted
    from collections import Counter

    bal = Counter(r["event_id"] for r in ins.collect())
    bal.subtract(r["event_id"] for r in dels.collect())
    assert all(v == (1 if k < 10 else 0) for k, v in bal.items())
    # time travel still shows the deleted state at the delete version
    assert t.read(spark, as_of_version=rv - 1).count() == 50
    # restoring to a nonexistent version raises, not a phantom commit
    with pytest.raises(ValueError, match="log has"):
        t.restore(spark, 99)


def test_restore_fails_after_vacuum(spark, tmp_path):
    t = _table(tmp_path)
    t.append(_ev(spark, 20))
    t.optimize(spark, target_files=1)
    t.vacuum(0, force=True)  # drops the pre-optimize files
    with pytest.raises(ValueError, match="vacuumed"):
        t.restore(spark, 0)


def test_stats_prune_skips_files(spark, tmp_path):
    t = _table(tmp_path)
    for k in range(4):
        t.append(
            _ev(spark, 100).filter(
                (F.col("event_id") >= k * 25) & (F.col("event_id") < (k + 1) * 25)
            )
        )
    out = t.read_where_stats(spark, "event_id", 30, 60)
    assert out.count() == 31
    # only the two overlapping appends' files are opened
    adds = t.snapshot_adds()
    import json as _json

    opened = {t._rel_of_uri(f) for f in out.inputFiles()}
    for p in opened:
        st = adds[p].get("stats")
        if st is None:
            continue  # stats-less (empty) files are always scanned
        s = _json.loads(st)
        mn, mx = s["minValues"]["event_id"], s["maxValues"]["event_id"]
        assert not (mx < 30 or mn > 60), f"non-overlapping file {p} was opened"
    # every file with stats provably OUTSIDE the range was skipped
    outside = {
        p for p, a in adds.items()
        if a.get("stats")
        and (
            _json.loads(a["stats"])["maxValues"]["event_id"] < 30
            or _json.loads(a["stats"])["minValues"]["event_id"] > 60
        )
    }
    assert outside and not (outside & opened), "stats-excluded files must be skipped"


def test_stream_cdf_source_serves_merge_vocabulary(spark, tmp_path):
    """The streaming CDF source must deliver a MERGE commit's full
    change vocabulary (update_preimage/update_postimage/insert) — the
    rows a replica needs to apply the upsert."""
    t = _table(tmp_path)
    t.append(_ev(spark, 10))
    src = _ev(spark, 15).filter(F.col("event_id") >= 5).withColumn(
        "value", F.col("value") + 1000
    )
    t.merge(spark, src, "event_id")
    spark.dataSource.register(DeltaTableStreamDataSource)
    from deltasink_spark.queries.sources_sinks import _run_until

    expected = t.read_changes(spark, -1, t.latest_version()).count()
    out = _run_until(
        spark,
        spark.readStream.format("delta_log_table")
        .option("path", t.path)
        .option("read_cdf", "true")
        .load(),
        min_rows=expected,
    )
    kinds = {
        r["_change_type"]
        for r in out.filter(F.col("_commit_version") == 1).collect()
    }
    assert kinds == {"update_preimage", "update_postimage", "insert"}
    assert out.count() == expected


def test_cluster_optimize_enables_stats_skipping(spark, tmp_path):
    """Hash-scattered layout: every file spans the id domain, stats
    skipping opens everything. One clustered OPTIMIZE later, the same
    range read opens a strict subset — no rows change."""
    t = _table(tmp_path)
    for k in range(4):
        t.append(_ev(spark, 100).filter(F.col("event_id") % 4 == k))
    before = t.read_where_stats(spark, "event_id", 10, 30)
    n_before = len(before.inputFiles())
    rows_before = {r["event_id"] for r in before.collect()}
    t.optimize(spark, target_files=4, cluster_by=("event_id",))
    after = t.read_where_stats(spark, "event_id", 10, 30)
    assert {r["event_id"] for r in after.collect()} == rows_before == set(range(10, 31))
    assert len(after.inputFiles()) < n_before
    assert t.read(spark).count() == 100


def test_timestamp_travel_resolves_to_version(spark, tmp_path):
    import time

    t = _table(tmp_path)
    t.append(_ev(spark, 10))
    time.sleep(0.002)
    t.append(_ev(spark, 20).filter(F.col("event_id") >= 10))
    ts = t.commit_timestamps()
    assert t.version_at_timestamp(ts[0]) == 0
    assert t.version_at_timestamp(ts[1]) == 1
    assert t.version_at_timestamp(ts[1] + 10_000) == 1  # future ts: latest
    with pytest.raises(ValueError, match="created later"):
        t.version_at_timestamp(ts[0] - 10_000)


def test_stream_cdf_partitioned_delete_keeps_partition_values(spark, tmp_path):
    """The review's partition-null scenario: cdc files carry partition
    columns as ordinary DATA columns (their actions have empty
    partitionValues) — the stream reader must NOT overwrite them with
    nulls; and synthesized-delete partitions (RESTORE fallback) recover
    partitionValues from the file path."""
    t = _table(tmp_path)
    df = _ev(spark, 20).withColumn(
        "et", F.when(F.col("event_id") % 2 == 0, "a").otherwise("b")
    )
    t.append(df, partition_by=("et",))
    t.delete_where(spark, "event_id < 4")
    spark.dataSource.register(DeltaTableStreamDataSource)
    from deltasink_spark.queries.sources_sinks import _run_until

    expected = t.read_changes(spark, -1, t.latest_version()).count()
    out = _run_until(
        spark,
        spark.readStream.format("delta_log_table")
        .option("path", t.path)
        .option("read_cdf", "true")
        .load(),
        min_rows=expected,
    )
    deletes = out.filter(F.col("_change_type") == "delete").collect()
    assert len(deletes) == 4
    assert all(r["et"] in ("a", "b") and r["et"] is not None for r in deletes)
    assert {(r["event_id"], r["et"]) for r in deletes} == {
        (0, "a"), (1, "b"), (2, "a"), (3, "b")
    }
    inserts = out.filter(F.col("_change_type") == "insert")
    assert inserts.filter(F.col("et").isNull()).count() == 0


def test_multipart_checkpoint_parts_union_and_bounded_replay(spark, tmp_path):
    """checkpoint(parts=3) writes the spec's n.checkpoint.o.p.parquet
    set + a `parts`-carrying _last_checkpoint; the reader must union
    ALL parts (each holds a strict subset of the state) and still skip
    every pre-checkpoint JSON file."""
    t = _table(tmp_path)
    t.append(_ev(spark, 30), "mp", 0)
    t.append(_ev(spark, 60).filter(F.col("event_id") >= 30), "mp", 1)
    t.optimize(spark, target_files=4)
    cv = t.checkpoint(parts=3)
    names = sorted(
        f for f in os.listdir(t.log_dir) if ".checkpoint." in f
    )
    assert names == [
        f"{cv:020d}.checkpoint.{i:010d}.{3:010d}.parquet" for i in (1, 2, 3)
    ]
    info = json.load(open(os.path.join(t.log_dir, "_last_checkpoint")))
    assert info["parts"] == 3 and info["version"] == cv
    # every part holds a strict subset: dropping any one loses state
    import pyarrow.parquet as pq

    sizes = [
        pq.read_table(os.path.join(t.log_dir, n)).num_rows for n in names
    ]
    assert sum(sizes) == info["size"] and max(sizes) < info["size"]
    # tail after the checkpoint; fresh instance folds parts + tail
    t.append(_ev(spark, 70).filter(F.col("event_id") >= 60))
    t2 = DeltaLogTable(t.path)
    got = {r["event_id"] for r in t2.read_via_checkpoint(spark).collect()}
    assert got == set(range(70))
    # txn high-water marks recovered from the PARTS (replay still no-op)
    assert t2.append(_ev(spark, 10), "mp", 1) is None
    # pre-checkpoint JSON is never opened by the bounded fold
    for v in range(cv + 1):
        os.rename(
            os.path.join(t.log_dir, f"{v:020d}.json"),
            os.path.join(t.log_dir, f"hidden-{v}.bak"),
        )
    t3 = DeltaLogTable(t.path)
    got3 = {r["event_id"] for r in t3.read_via_checkpoint(spark).collect()}
    assert got3 == set(range(70))


def test_multipart_checkpoint_more_parts_than_rows(spark, tmp_path):
    """parts > state rows: later parts are legally EMPTY files, and
    the union still reconstructs exactly."""
    t = _table(tmp_path)
    t.append(_ev(spark, 10))
    t.optimize(spark, target_files=1)
    cv = t.checkpoint(parts=8)
    assert len(t._checkpoint_paths(cv)) == 8
    got = {r["event_id"] for r in t.read_via_checkpoint(spark).collect()}
    assert got == set(range(10))


def test_replace_where_swaps_only_the_slice(spark, tmp_path):
    """replaceWhere rewrites exactly the predicate slice: matching
    rows vanish, new rows land, non-matching rows survive — including
    ones sharing a file with matches (copy-on-write) — and untouched
    files are not rewritten."""
    t = _table(tmp_path)
    t.append(_ev(spark, 50))                      # ids 0..49 (one file set)
    t.append(_ev(spark, 100).filter(F.col("event_id") >= 50))
    before = set(t.snapshot_files())
    new = _ev(spark, 10).select(
        "event_id", "user_id", (F.col("value") + 9000).alias("value")
    )
    t.replace_where(spark, new, "event_id < 10")
    got = {r["event_id"]: r["value"] for r in t.read(spark).collect()}
    assert set(got) == set(range(100))
    assert all(got[i] == i * 1.5 + 9000 for i in range(10))
    assert all(got[i] == i * 1.5 for i in range(10, 100))
    # files without matches (the >=50 append) survive unrewritten
    after = set(t.snapshot_files())
    assert before & after, "untouched files must not be rewritten"


def test_replace_where_rejects_rows_outside_predicate(spark, tmp_path):
    t = _table(tmp_path)
    t.append(_ev(spark, 20))
    with pytest.raises(ValueError, match="NOT matching"):
        t.replace_where(spark, _ev(spark, 30), "event_id < 10")
    # nothing committed
    assert t.latest_version() == 0


def test_replace_where_emits_delete_and_insert_cdc(spark, tmp_path):
    t = _table(tmp_path)
    t.append(_ev(spark, 20))
    v = t.replace_where(
        spark,
        _ev(spark, 5).select(
            "event_id", "user_id", (F.col("value") + 1).alias("value")
        ),
        "event_id < 5",
    )
    ch = t.read_changes(spark, v - 1, v)
    kinds = {
        (r["_change_type"], r["event_id"]) for r in ch.collect()
    }
    assert {("delete", i) for i in range(5)} <= kinds
    assert {("insert", i) for i in range(5)} <= kinds
    assert len(kinds) == 10


def test_replace_where_first_commit_creates_table(spark, tmp_path):
    """replaceWhere into a brand-new table is a plain scoped write —
    protocol+metaData ride the first commit like append's."""
    t = _table(tmp_path)
    t.replace_where(spark, _ev(spark, 10), "event_id < 10")
    assert {r["event_id"] for r in t.read(spark).collect()} == set(range(10))


def test_history_records_operations_in_order(spark, tmp_path):
    t = _table(tmp_path)
    t.append(_ev(spark, 20))
    t.delete_where(spark, "event_id < 5")
    t.optimize(spark, target_files=1)
    h = {r["version"]: r["operation"] for r in t.history(spark).collect()}
    assert h == {0: "WRITE", 1: "DELETE", 2: "OPTIMIZE"}


def test_check_constraint_rejects_and_passes_null(spark, tmp_path):
    """CHECK semantics: only FALSE violates (NULL passes); a rejected
    append commits nothing; drop_constraint lifts enforcement."""
    t = _table(tmp_path)
    t.append(_ev(spark, 10))
    t.add_constraint(spark, "nonneg", "value >= 0")
    assert t.constraints() == {"nonneg": "value >= 0"}
    bad = _ev(spark, 5).select(
        "event_id", "user_id", (-F.col("value") - 1).alias("value")
    )
    v0 = t.latest_version()
    with pytest.raises(ValueError, match="nonneg"):
        t.append(bad)
    assert t.latest_version() == v0
    # NULL evaluates UNKNOWN -> passes (SQL CHECK semantics)
    nulls = _ev(spark, 3).select(
        "event_id", "user_id", F.lit(None).cast("double").alias("value")
    )
    t.append(nulls)
    t.drop_constraint("nonneg")
    assert t.constraints() == {}
    t.append(bad)  # now allowed


def test_add_constraint_validates_existing_rows(spark, tmp_path):
    t = _table(tmp_path)
    t.append(_ev(spark, 10))
    with pytest.raises(ValueError, match="existing"):
        t.add_constraint(spark, "impossible", "value > 1000000")
    assert t.constraints() == {}


def test_constraint_enforced_on_merge_and_replace_where(spark, tmp_path):
    t = _table(tmp_path)
    t.append(_ev(spark, 10))
    t.add_constraint(spark, "nonneg", "value >= 0")
    bad = _ev(spark, 5).select(
        "event_id", "user_id", (-F.col("value") - 1).alias("value")
    )
    with pytest.raises(ValueError, match="nonneg"):
        t.merge(spark, bad, "event_id")
    with pytest.raises(ValueError, match="nonneg"):
        t.replace_where(spark, bad, "event_id < 5")
    # survives a fresh instance (the rule lives in the LOG)
    with pytest.raises(ValueError, match="nonneg"):
        DeltaLogTable(t.path).append(bad)


def test_generated_column_validated_and_computed(spark, tmp_path):
    """Generated columns: omitted -> computed from the schema's rule;
    provided-but-wrong -> whole write rejected; the rule survives a
    fresh instance (it lives in the schemaString)."""
    t = _table(tmp_path)
    t.append(
        _ev(spark, 10),
        generated={"doubled": "value * 2"},
    )
    got = {r["event_id"]: r["doubled"] for r in t.read(spark).collect()}
    assert got == {i: i * 3.0 for i in range(10)}
    # wrong provided value -> rejected, nothing committed (fresh instance)
    t2 = DeltaLogTable(t.path)
    v0 = t2.latest_version()
    bad = _ev(spark, 15).filter(F.col("event_id") >= 10).withColumn(
        "doubled", F.lit(0.0)
    )
    with pytest.raises(ValueError, match="generated column"):
        t2.append(bad)
    assert t2.latest_version() == v0
    # correct provided value -> accepted
    ok = _ev(spark, 15).filter(F.col("event_id") >= 10).withColumn(
        "doubled", F.col("value") * 2
    )
    t2.append(ok)
    assert t2.read(spark).count() == 15


def test_generated_column_only_at_creation(spark, tmp_path):
    t = _table(tmp_path)
    t.append(_ev(spark, 5))
    with pytest.raises(ValueError, match="FIRST commit"):
        t.append(_ev(spark, 5), generated={"g": "value + 1"})


def test_generated_partition_prunes_from_log(spark, tmp_path):
    """The generated partition column must behave as a REAL partition:
    read_partition opens only the matching partition's files."""
    t = _table(tmp_path)
    t.append(
        _ev(spark, 100),
        partition_by=("bucket",),
        generated={"bucket": "CAST(FLOOR(value / 30.0) AS INT)"},
    )
    adds = t.snapshot_adds()
    want = {
        p for p, a in adds.items()
        if a["partitionValues"].get("bucket") == "1"
    }
    assert want and want < set(adds)
    df = t.read_partition(spark, bucket="1")
    opened = {os.path.relpath(f.replace("file:", ""), t.path)
              for f in df.inputFiles()}
    assert opened == want
    vals = {r["event_id"] for r in df.collect()}
    assert vals == {i for i in range(100) if 1 <= (i * 1.5) // 30 < 2}


def test_column_mapping_rename_is_pure_metadata(spark, tmp_path):
    """RENAME COLUMN on a mapped table: zero data files change, reads
    surface the new logical name, and new appends (written with the
    FROZEN physical name) interleave with old files seamlessly."""
    t = _table(tmp_path)
    t.append(_ev(spark, 20).filter(F.col("event_id") < 10))
    before = {p: os.path.getsize(os.path.join(t.path, p))
              for p in t.snapshot_files()}
    t.enable_column_mapping()
    t.rename_column("value", "amount")
    after = {p: os.path.getsize(os.path.join(t.path, p))
             for p in t.snapshot_files()}
    assert before == after  # not a byte moved
    assert [f.name for f in t.schema().fields] == [
        "event_id", "user_id", "amount"
    ]
    # post-rename append uses the NEW logical name; physical stays 'value'
    t.append(
        _ev(spark, 20).filter(F.col("event_id") >= 10)
        .withColumnRenamed("value", "amount")
    )
    got = {r["event_id"]: r["amount"] for r in t.read(spark).collect()}
    assert got == {i: i * 1.5 for i in range(20)}
    # the new file physically carries 'value' (the frozen physical name)
    import pyarrow.parquet as pq
    new_files = set(t.snapshot_files()) - set(before)
    assert new_files
    for p in new_files:
        assert "value" in pq.read_schema(os.path.join(t.path, p)).names


def test_column_mapping_required_for_rename_drop(spark, tmp_path):
    t = _table(tmp_path)
    t.append(_ev(spark, 5))
    with pytest.raises(ValueError, match="column mapping"):
        t.rename_column("value", "amount")
    with pytest.raises(ValueError, match="column mapping"):
        t.drop_column("value")


def test_column_mapping_drop_column_keeps_bytes(spark, tmp_path):
    t = _table(tmp_path)
    t.append(_ev(spark, 10))
    files = set(t.snapshot_files())
    t.enable_column_mapping()
    t.drop_column("user_id")
    assert set(t.snapshot_files()) == files  # no rewrite
    out = t.read(spark)
    assert out.columns == ["event_id", "value"]
    assert out.count() == 10
    # OPTIMIZE physically sheds the dropped column
    t.optimize(spark, target_files=1)
    import pyarrow.parquet as pq
    for p in t.snapshot_files():
        assert "user_id" not in pq.read_schema(os.path.join(t.path, p)).names


def test_column_mapping_dml_and_pruning_after_rename(spark, tmp_path):
    """The full surface keeps working through a rename: DELETE uses the
    new logical name, stats pruning maps logical -> physical, and the
    mapping survives a fresh instance + checkpoint."""
    t = _table(tmp_path)
    t.append(_ev(spark, 40).repartition(1))
    t.enable_column_mapping()
    t.rename_column("value", "amount")
    t.delete_where(spark, "amount >= 45.0")  # ids 30..39
    got = {r["event_id"] for r in t.read(spark).collect()}
    assert got == set(range(30))
    pruned = t.read_where_stats(spark, "amount", 0.0, 10.0)
    assert {r["event_id"] for r in pruned.collect()} == set(range(7))
    t.checkpoint()
    t2 = DeltaLogTable(t.path)
    assert t2.column_mapping() == {
        "event_id": "event_id", "user_id": "user_id", "amount": "value"
    }
    assert {r["event_id"] for r in t2.read_via_checkpoint(spark).collect()} == set(range(30))


def test_column_mapping_partitioned_rename(spark, tmp_path):
    """Renaming a PARTITION column: dirs and partitionValues keep the
    physical name; read_partition takes the new logical name."""
    t = _table(tmp_path)
    ev = _ev(spark, 30).withColumn("bucket", (F.col("event_id") % 3).cast("string"))
    t.append(ev, partition_by=("bucket",))
    t.enable_column_mapping()
    t.rename_column("bucket", "shard")
    one = t.read_partition(spark, shard="1")
    assert {r["event_id"] for r in one.collect()} == {i for i in range(30) if i % 3 == 1}
    assert "shard" in one.columns
    # schema evolution on a mapped table mints uuid physical names
    t.append(
        _ev(spark, 35).filter(F.col("event_id") >= 30)
        .withColumn("shard", (F.col("event_id") % 3).cast("string"))
        .withColumn("extra", F.lit(7).cast("long")),
        merge_schema=True,
    )
    cm = t.column_mapping()
    assert cm["extra"].startswith("col-")
    out = t.read(spark)
    assert out.filter(F.col("extra").isNotNull()).count() == 5
    assert out.count() == 35


def test_identity_column_always_generated(spark, tmp_path):
    """Identity: assigned from start/step in declared order, explicit
    values rejected (ALWAYS), high-water continues across instances,
    empty appends leave the mark untouched."""
    t = _table(tmp_path)
    t.append(
        _ev(spark, 5).select("event_id", "user_id", "value"),
        identity={"rid": {"start": 10, "step": 2, "order_by": "event_id"}},
    )
    got = {r["event_id"]: r["rid"] for r in t.read(spark).collect()}
    assert got == {i: 10 + 2 * i for i in range(5)}
    # explicit value rejected
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        t.append(_ev(spark, 6).filter(F.col("event_id") >= 5)
                 .withColumn("rid", F.lit(999)))
    # empty append: high-water untouched
    t.append(spark.createDataFrame([], "event_id bigint, user_id bigint, value double"))
    # fresh instance continues from the ledgered mark (18 -> next 20)
    t2 = DeltaLogTable(t.path)
    t2.append(_ev(spark, 7).filter(F.col("event_id") >= 5)
              .select("event_id", "user_id", "value"))
    got = {r["event_id"]: r["rid"] for r in t2.read(spark).collect()}
    assert got[5] == 20 and got[6] == 22
    # declaration only at creation
    with pytest.raises(ValueError, match="FIRST commit"):
        t2.append(_ev(spark, 3), identity={"x": {"start": 0, "step": 1,
                                                 "order_by": "event_id"}})


def test_in_commit_timestamps_strictly_monotonic(spark, tmp_path):
    """ICT: strictly increasing under rapid commits AND a wall clock
    running BACKWARDS; timestampAsOf resolves via the ICT."""
    import deltasink_spark.delta_log as dl

    t = _table(tmp_path)
    t.append(_ev(spark, 4))
    t.enable_in_commit_timestamps()
    for k in range(3):  # rapid commits, likely same-ms
        t.append(_ev(spark, 5 + k).filter(F.col("event_id") >= 4 + k))
    # a writer with a skewed (backwards) clock
    real = dl._now_ms
    dl._now_ms = lambda: real() - 3_600_000
    try:
        t.append(_ev(spark, 10).filter(F.col("event_id") >= 7))
    finally:
        dl._now_ms = real
    icts = []
    for _, a in t._actions():
        if "commitInfo" in a and "inCommitTimestamp" in a["commitInfo"]:
            icts.append(a["commitInfo"]["inCommitTimestamp"])
    assert len(icts) == 5  # enablement + 3 rapid + 1 skewed
    assert all(b > a for a, b in zip(icts, icts[1:])), icts
    # resolution uses the ICT (the skewed commit's wall clock is an
    # hour old, but 'as of its ICT' still returns the LAST version)
    assert t.version_at_timestamp(icts[-1]) == t.latest_version()


def test_identity_concurrent_append_aborts(spark, tmp_path):
    """Two appends racing on the same identity high-water mark must
    NOT both commit off the stale mark: the loser's attempt aborts
    under the lock (MetadataChangedError) and the verb's OCC loop
    re-executes it against the winner's advanced mark — both land,
    ids stay unique, zero caller retries."""
    t = _table(tmp_path)
    t.append(
        _ev(spark, 5).select("event_id", "user_id", "value"),
        identity={"rid": {"start": 0, "step": 1, "order_by": "event_id"}},
    )
    orig = t._commit
    raced = []

    def hijack(actions, precondition=None, **kw):
        if not raced:
            raced.append(1)
            DeltaLogTable(t.path).append(
                _ev(spark, 8).filter(F.col("event_id") >= 5)
                .select("event_id", "user_id", "value")
            )
        return orig(actions, precondition, **kw)

    t._commit = hijack
    assert t.append(
        _ev(spark, 11).filter(F.col("event_id") >= 8)
        .select("event_id", "user_id", "value")
    ) is not None
    t._commit = orig
    # both appends landed; every id minted exactly once, no collisions
    rids = [r["rid"] for r in t.read(spark).collect()]
    assert len(rids) == len(set(rids)) == 11
    assert set(rids) == set(range(11))


def test_identity_replace_where_and_merge(spark, tmp_path):
    """replaceWhere assigns fresh ids to the new slice; MERGE keeps the
    target's ids on matches and assigns fresh ids to inserts."""
    t = _table(tmp_path)
    t.append(
        _ev(spark, 10).select("event_id", "user_id", "value"),
        identity={"rid": {"start": 0, "step": 1, "order_by": "event_id"}},
    )
    t.replace_where(
        spark,
        _ev(spark, 3).select("event_id", "user_id",
                             (F.col("value") + 500).alias("value")),
        "event_id < 3",
    )
    got = {r["event_id"]: r["rid"] for r in t.read(spark).collect()}
    assert got[0] == 10 and got[1] == 11 and got[2] == 12  # fresh ids
    assert got[9] == 9  # untouched rows keep theirs
    src = _ev(spark, 12).filter(F.col("event_id") >= 8).select(
        "event_id", "user_id", (F.col("value") + 900).alias("value")
    )
    t.merge(spark, src, "event_id")
    got = {r["event_id"]: r["rid"] for r in t.read(spark).collect()}
    assert got[8] == 8 and got[9] == 9        # matched: ids preserved
    assert got[10] == 13 and got[11] == 14     # inserted: fresh from mark
    rids = [r["rid"] for r in t.read(spark).collect()]
    assert len(rids) == len(set(rids))
    # explicit identity in a merge source is rejected
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        t.merge(spark, src.withColumn("rid", F.lit(1)), "event_id")


def test_rename_drop_blocked_when_rule_references_column(spark, tmp_path):
    t = _table(tmp_path)
    t.append(_ev(spark, 10))
    t.add_constraint(spark, "nonneg", "value >= 0")
    t.enable_column_mapping()
    with pytest.raises(ValueError, match="nonneg"):
        t.rename_column("value", "amount")
    with pytest.raises(ValueError, match="nonneg"):
        t.drop_column("value")
    t.drop_constraint("nonneg")
    t.rename_column("value", "amount")  # now fine
    assert "amount" in [f.name for f in t.schema().fields]


def test_cdf_spans_rename_with_consistent_names(spark, tmp_path):
    """CDF across a rename: cdc files written before AND after carry
    physical names; the batch read surfaces ONE consistent logical
    schema."""
    t = _table(tmp_path)
    t.append(_ev(spark, 20).repartition(1))
    t.delete_where(spark, "event_id < 3")          # cdc pre-mapping
    t.enable_column_mapping()
    t.rename_column("value", "amount")
    t.delete_where(spark, "event_id >= 18")        # cdc post-rename
    ch = t.read_changes(spark, -1, t.latest_version())
    assert "amount" in ch.columns and "value" not in ch.columns
    dels = {r["event_id"] for r in
            ch.filter(F.col("_change_type") == "delete").collect()}
    assert dels == {0, 1, 2, 18, 19}


def test_generated_column_validated_on_creation_commit(spark, tmp_path):
    t = _table(tmp_path)
    bad = _ev(spark, 5).withColumn("doubled", F.lit(0.0))
    with pytest.raises(ValueError, match="generated column"):
        t.append(bad, generated={"doubled": "value * 2"})
    assert t.latest_version() == -1  # nothing committed


def test_ict_enablement_raises_protocol(spark, tmp_path):
    t = _table(tmp_path)
    t.append(_ev(spark, 5))
    t.enable_in_commit_timestamps()
    protos = [a["protocol"] for _, a in t._actions() if "protocol" in a]
    assert protos[-1]["minWriterVersion"] == 7
    assert "inCommitTimestamp" in protos[-1]["writerFeatures"]
    m = t._metadata_dict()
    assert m["configuration"]["delta.inCommitTimestampEnablementVersion"] == "1"
    # history reports the ICT, consistent with version_at_timestamp
    h = {r["version"]: r["timestamp"] for r in t.history(spark).collect()}
    cts = t.commit_timestamps()
    assert h == cts


def test_log_compaction_substitutes_and_survives_cleanup(spark, tmp_path):
    """Minor compaction: the fold reads ONE compacted segment instead
    of its originals, reconstructs identical state after the originals
    are cleaned up, and never substitutes for a window that only
    partially covers the range."""
    t = _table(tmp_path)
    t.append(_ev(spark, 10), "comp", 0)
    t.append(_ev(spark, 20).filter(F.col("event_id") >= 10), "comp", 1)
    t.delete_where(spark, "event_id < 3")
    t.optimize(spark, target_files=1)
    t.append(_ev(spark, 25).filter(F.col("event_id") >= 20))  # tail v4
    t.compact_log(0, 3)
    full = {r["event_id"] for r in t.read(spark).collect()}
    assert full == set(range(3, 25))
    # time travel INSIDE the range still uses originals
    assert {r["event_id"] for r in t.read(spark, as_of_version=1).collect()} \
        == set(range(20))
    # clean up the compacted originals: full folds still work
    for v in range(4):
        os.rename(
            os.path.join(t.log_dir, f"{v:020d}.json"),
            os.path.join(t.log_dir, f"gone-{v}.bak"),
        )
    t2 = DeltaLogTable(t.path)
    assert t2.latest_version() == 4
    assert {r["event_id"] for r in t2.read(spark).collect()} == full
    # txn high-water marks survived the compaction (replay still no-op)
    assert t2.append(_ev(spark, 5), "comp", 1) is None
    # and a NEW commit lands at version 5 on top of the compacted log
    t2.append(_ev(spark, 30).filter(F.col("event_id") >= 25))
    assert t2.latest_version() == 5
    assert {r["event_id"] for r in t2.read(spark).collect()} == set(range(3, 30))


def test_log_compaction_retains_cross_range_removes(spark, tmp_path):
    """A remove inside the range cancelling a PRE-range add must be
    retained; an add+remove pair fully inside cancels entirely."""
    t = _table(tmp_path)
    t.append(_ev(spark, 10).repartition(1))          # v0 (pre-range)
    t.append(_ev(spark, 15).filter(F.col("event_id") >= 10).repartition(1))  # v1
    t.delete_where(spark, "event_id < 5")             # v2: removes v0's file
    t.delete_where(spark, "event_id >= 12")           # v3: removes v1's + v2's rewrite? (file-dependent)
    t.compact_log(1, 3)
    import json as _json
    comp = [
        _json.loads(line)
        for line in open(os.path.join(
            t.log_dir, f"{1:020d}.{3:020d}.compacted.json"))
        if line.strip()
    ]
    rm_paths = {a["remove"]["path"] for a in comp if "remove" in a}
    add_paths = {a["add"]["path"] for a in comp if "add" in a}
    assert rm_paths and not (rm_paths & add_paths)
    # reconstructed state identical with originals 1..3 gone
    want = {r["event_id"] for r in t.read(spark).collect()}
    for v in range(1, 4):
        os.rename(os.path.join(t.log_dir, f"{v:020d}.json"),
                  os.path.join(t.log_dir, f"gone-{v}.bak"))
    got = {r["event_id"] for r in DeltaLogTable(t.path).read(spark).collect()}
    assert got == want == set(range(5, 12))


# --- r11: exact folds, checkpoint tombstones, UPDATE, first-append race ----


def test_update_where_rewrites_matched_files_and_cdf(spark, tmp_path):
    t = _table(tmp_path)
    t.append(_ev(spark, 10).repartition(1))               # v0: 0..9
    t.append(_ev(spark, 20).filter(F.col("event_id") >= 10).repartition(1))
    before = set(t.snapshot_files())
    v = t.update_where(spark, {"value": "value + 1000"}, "event_id < 5")
    after = set(t.snapshot_files())
    # only the file containing matches was rewritten (the union of
    # kept + updated rows may stage as more than one part file)
    assert len(before - after) == 1 and len(after - before) >= 1
    got = {r["event_id"]: r["value"] for r in t.read(spark).collect()}
    assert got[0] == 1000.0 and got[4] == 4 * 1.5 + 1000
    assert got[5] == 7.5 and got[19] == 19 * 1.5  # untouched
    # CDF publishes exact pre/post pairs for the matched rows only
    ch = t.read_changes(spark, v - 1, v)
    pre = {r["event_id"]: r["value"] for r in
           ch.filter(F.col("_change_type") == "update_preimage").collect()}
    post = {r["event_id"]: r["value"] for r in
            ch.filter(F.col("_change_type") == "update_postimage").collect()}
    assert set(pre) == set(post) == set(range(5))
    assert pre[3] == 4.5 and post[3] == 1004.5
    # no-op UPDATE commits nothing
    assert t.update_where(spark, {"value": "0.0"}, "event_id > 999") == v


def test_update_where_respects_dv_and_null_predicate(spark, tmp_path):
    t = _table(tmp_path)
    t.append(_ev(spark, 10).repartition(1))
    t.delete_where_dv(spark, "event_id < 2")    # DV removes 0,1
    t.update_where(spark, {"value": "value * 0 + 7"}, "event_id < 5")
    got = {r["event_id"]: r["value"] for r in t.read(spark).collect()}
    assert set(got) == set(range(2, 10))        # DV'd rows never resurrect
    assert got[2] == 7.0 and got[4] == 7.0 and got[5] == 7.5
    # NULL predicate rows are NOT updated (SQL three-valued logic)
    t2 = _table(tmp_path, "t2")
    t2.append(
        _ev(spark, 4).withColumn(
            "value", F.when(F.col("event_id") == 0, None).otherwise(F.col("value"))
        )
    )
    t2.update_where(spark, {"user_id": "user_id + 100"}, "value < 3")
    got2 = {r["event_id"]: r["user_id"] for r in t2.read(spark).collect()}
    assert got2[0] == 0          # NULL value: untouched
    assert got2[1] == 101        # 1.5 < 3: updated
    assert got2[2] == 2 and got2[3] == 3  # 3.0, 4.5: not < 3


def test_update_where_rejects_identity_generated_and_unknown(spark, tmp_path):
    t = _table(tmp_path)
    t.append(
        _ev(spark, 6),
        generated={"doubled": "value * 2"},
        identity={"rid": {"start": 0, "step": 1, "order_by": "event_id"}},
    )
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        t.update_where(spark, {"rid": "rid + 1"}, "event_id = 0")
    with pytest.raises(ValueError, match="generated column"):
        t.update_where(spark, {"doubled": "1.0"}, "event_id = 0")
    with pytest.raises(ValueError, match="unknown column"):
        t.update_where(spark, {"nope": "1"}, "event_id = 0")
    # generated columns RECOMPUTE from updated inputs; identity carries
    t.update_where(spark, {"value": "value + 10"}, "event_id = 1")
    row = {r["event_id"]: r for r in t.read(spark).collect()}[1]
    assert row["value"] == 11.5 and row["doubled"] == 23.0
    rids = sorted(r["rid"] for r in t.read(spark).collect())
    assert rids == list(range(6))  # no fresh ids drawn


def test_update_where_enforces_constraints(spark, tmp_path):
    t = _table(tmp_path)
    t.append(_ev(spark, 5))
    t.add_constraint(spark, "nonneg", "value >= 0")
    with pytest.raises(ValueError, match="nonneg"):
        t.update_where(spark, {"value": "-1.0"}, "event_id = 2")
    got = {r["event_id"]: r["value"] for r in t.read(spark).collect()}
    assert got[2] == 3.0  # rejected update left the table unchanged


def test_update_partition_column_moves_rows(spark, tmp_path):
    t = _table(tmp_path)
    t.append(_ev(spark, 8), partition_by=("user_id",))
    t.update_where(spark, {"user_id": "CAST(99 AS BIGINT)"}, "event_id < 2")
    got = {r["event_id"]: r["user_id"] for r in t.read(spark).collect()}
    assert got[0] == 99 and got[1] == 99 and got[2] == 2
    # moved rows live in their NEW Hive partition per the log metadata
    moved = {r["event_id"] for r in
             t.read_partition(spark, user_id="99").collect()}
    assert moved == {0, 1}


def test_exact_folds_never_substitute_compacted_segments(spark, tmp_path):
    t = _table(tmp_path)
    t.append(_ev(spark, 10))                     # v0
    t.delete_where(spark, "event_id < 3")        # v1 (has cdc)
    t.append(_ev(spark, 15).filter(F.col("event_id") >= 10))  # v2
    t.append(_ev(spark, 20).filter(F.col("event_id") >= 15))  # v3 tail
    ts_v1 = t.commit_timestamps()[1]
    t.compact_log(0, 2)
    # originals PRESENT: exact folds keep true per-version attribution
    h = {r["version"]: r["operation"] for r in t.history(spark).collect()}
    assert set(h) == {0, 1, 2, 3} and h[1] == "DELETE"
    assert t.version_at_timestamp(ts_v1) == 1
    ch = t.read_changes(spark, 0, 2)
    dels = {r["event_id"] for r in
            ch.filter(F.col("_change_type") == "delete").collect()}
    assert dels == {0, 1, 2}  # the exact cdc retraction, not file-level
    # originals CLEANED: exact folds are tail-only or loud, never coarse
    for v in range(3):
        os.remove(os.path.join(t.log_dir, f"{v:020d}.json"))
    t2 = DeltaLogTable(t.path)
    assert {r["version"] for r in t2.history(spark).collect()} == {3}
    with pytest.raises(ValueError, match="commit file is missing"):
        t2.read_changes(spark, -1, t2.latest_version()).collect()
    with pytest.raises(ValueError, match="no retained commit"):
        t2.version_at_timestamp(ts_v1)
    # CDF over the retained tail still works
    ins = t2.read_changes(spark, 2, 3)
    assert {r["event_id"] for r in ins.collect()} == set(range(15, 20))
    # snapshot folds still substitute the segment (reconciled state)
    assert {r["event_id"] for r in t2.read(spark).collect()} \
        == set(range(3, 20))


def test_snapshot_survives_pre_checkpoint_cleanup_or_raises(spark, tmp_path):
    t = _table(tmp_path)
    t.append(_ev(spark, 10))                       # v0
    t.delete_where(spark, "event_id >= 8")         # v1
    t.checkpoint()                                 # at v1
    t.append(_ev(spark, 15).filter(F.col("event_id") >= 10))  # v2 tail
    # clean up every pre-checkpoint JSON (the spec allows this)
    for v in range(2):
        os.remove(os.path.join(t.log_dir, f"{v:020d}.json"))
    t2 = DeltaLogTable(t.path)
    # snapshot, metadata, and DML all run off checkpoint + tail
    assert {r["event_id"] for r in t2.read(spark).collect()} \
        == set(range(8)) | set(range(10, 15))
    assert t2.schema() is not None
    t2.delete_where(spark, "event_id = 0")
    assert {r["event_id"] for r in t2.read(spark).collect()} \
        == set(range(1, 8)) | set(range(10, 15))
    # time travel BELOW the checkpoint is loud, never a partial snapshot
    with pytest.raises(ValueError, match="commit file is missing"):
        t2.read(spark, as_of_version=0).collect()


def test_checkpoint_carries_format_and_remove_tombstones(spark, tmp_path):
    import pyarrow.parquet as pq

    t = _table(tmp_path)
    t.append(_ev(spark, 10).repartition(1))
    t.delete_where(spark, "event_id < 4")  # remove + rewrite
    cv = t.checkpoint()
    [cp] = t._checkpoint_paths(cv)
    tbl = pq.read_table(cp)
    metas = [m for m in tbl.column("metaData").to_pylist() if m is not None]
    assert metas and metas[0]["format"]["provider"] == "parquet"
    rms = [r for r in tbl.column("remove").to_pylist() if r is not None]
    assert len(rms) == 1 and rms[0]["deletionTimestamp"] is not None
    # vacuum driven from checkpoint tombstones after log cleanup
    for v in range(2):
        os.remove(os.path.join(t.log_dir, f"{v:020d}.json"))
    t2 = DeltaLogTable(t.path)
    assert t2.vacuum(0, force=True) == 1  # the superseded original is reclaimed
    assert {r["event_id"] for r in t2.read(spark).collect()} \
        == set(range(4, 10))


def test_first_append_race_validates_layout_under_lock(spark, tmp_path):
    class Racing(DeltaLogTable):
        """Injects a concurrent winning first append between this
        writer's staging and its commit."""

        def __init__(self, path, winner_df, winner_pb=()):
            super().__init__(path)
            self._winner_df = winner_df
            self._winner_pb = winner_pb
            self._raced = False

        def _stage_files(self, df, **kw):
            adds = super()._stage_files(df, **kw)
            if not self._raced:
                self._raced = True
                DeltaLogTable(self.path).append(
                    self._winner_df, partition_by=self._winner_pb
                )
            return adds

    ev = _ev(spark, 5)
    # conflicting partitioning: the loser's first-commit plan aborts
    # under the lock (never corrupts), and its OCC re-execution lands
    # as a PLAIN append that inherits the winner's layout
    t = Racing(str(tmp_path / "a"), ev, winner_pb=("user_id",))
    assert t.append(ev) == 1
    assert DeltaLogTable(t.path).partition_columns() == ("user_id",)
    assert DeltaLogTable(t.path).read(spark).count() == 10
    # conflicting schema: the stale first-commit plan aborts under the
    # lock; the re-execution hits normal write enforcement against the
    # winner's narrower schema and surfaces the standard user error
    t2 = Racing(str(tmp_path / "b"), ev.drop("value"))
    with pytest.raises(ValueError, match="schema mismatch"):
        t2.append(ev)
    # MATCHING layout: loser lands cleanly at version 1
    t3 = Racing(str(tmp_path / "c"), ev)
    v = t3.append(_ev(spark, 10).filter(F.col("event_id") >= 5))
    assert v == 1
    assert {r["event_id"] for r in DeltaLogTable(t3.path).read(spark).collect()} \
        == set(range(10))


def test_cleanup_log_bounds_and_stays_loud(spark, tmp_path):
    """cleanup_log: only checkpoint-covered + expired commits are
    deleted, the log stays O(checkpoint + tail), folds keep working,
    and below-checkpoint reads raise instead of truncating."""
    t = _table(tmp_path)
    t.append(_ev(spark, 10), "cl", 0)               # v0
    t.delete_where(spark, "event_id < 3")           # v1
    t.append(_ev(spark, 15).filter(F.col("event_id") >= 10), "cl", 1)  # v2
    t.compact_log(0, 1)
    cv = t.checkpoint()                             # at v2
    t.append(_ev(spark, 20).filter(F.col("event_id") >= 15))           # v3
    # retention far in the future: nothing old enough -> no-op
    assert t.cleanup_log(retention_ms=10**12) == 0
    n = t.cleanup_log(retention_ms=0)
    # v0, v1 (+ their .crc checksum sidecars) + the wholly-covered
    # compacted segment; v2 (the NEWEST covered commit) is always
    # retained — it carries the last commitInfo, the ICT high-water
    # anchor _commit keys on
    assert n == 5
    kept = sorted(f for f in os.listdir(t.log_dir) if f.endswith(".json"))
    assert kept == [f"{2:020d}.json", f"{3:020d}.json"]
    t2 = DeltaLogTable(t.path)
    assert t2.latest_version() == 3
    assert {r["event_id"] for r in t2.read(spark).collect()} \
        == set(range(3, 20))
    # txn replay marks survived via the checkpoint
    assert t2.append(_ev(spark, 5), "cl", 1) is None
    # history = retained tail; below-checkpoint travel is loud
    assert {r["version"] for r in t2.history(spark).collect()} == {2, 3}
    with pytest.raises(ValueError, match="commit file is missing"):
        t2.read(spark, as_of_version=1).collect()
    # a fully-cleaned log (no tail) anchors numbering on the checkpoint
    t3 = _table(tmp_path, "t3")
    t3.append(_ev(spark, 8))
    cv3 = t3.checkpoint()
    t3.cleanup_log(retention_ms=0)
    v = t3.append(_ev(spark, 12).filter(F.col("event_id") >= 8))
    assert v == cv3 + 1
    assert {r["event_id"] for r in DeltaLogTable(t3.path).read(spark).collect()} \
        == set(range(12))


def test_foreign_path_forms_resolve(spark, tmp_path):
    """Spec path forms a FOREIGN writer may emit: URL-encoded relative
    paths and absolute file:// URIs must resolve on read, remove, and
    DML planning."""
    import json as _json

    t = _table(tmp_path)
    os.makedirs(t.log_dir, exist_ok=True)
    _ev(spark, 6).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "stage")
    )
    part = [f for f in os.listdir(tmp_path / "stage") if f.endswith(".parquet")][0]
    os.rename(tmp_path / "stage" / part, os.path.join(t.path, "a file.parquet"))
    schema_str = (
        spark.createDataFrame([], "event_id long, user_id long, value double")
        .schema.json()
    )
    with open(os.path.join(t.log_dir, f"{0:020d}.json"), "w") as fh:
        for a in [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {"metaData": {"id": "x", "format": {"provider": "parquet",
             "options": {}}, "schemaString": schema_str,
             "partitionColumns": [], "configuration": {}}},
            {"add": {"path": "a%20file.parquet", "partitionValues": {},
                     "size": 1, "modificationTime": 1, "dataChange": True}},
            {"commitInfo": {"timestamp": 1, "operation": "WRITE"}},
        ]:
            fh.write(_json.dumps(a) + "\n")
    assert {r["event_id"] for r in t.read(spark).collect()} == set(range(6))
    # DML plans against the decoded basename and rewrites correctly
    t.delete_where(spark, "event_id < 2")
    assert {r["event_id"] for r in t.read(spark).collect()} == {2, 3, 4, 5}


def test_hive_escaped_partition_dir_dml_and_log_encoding(spark, tmp_path):
    """The review scenario: a partition VALUE whose Hive dir form is
    itself percent-escaped ('a:b' -> dir 'shop=a%3Ab'). The logged
    add.path must be the URL-ENCODED form of the on-disk name (spec),
    the reader's single decode must round-trip it, and DML planning /
    CDF / vacuum must all resolve the file."""
    t = _table(tmp_path)
    df = _ev(spark, 6).withColumn(
        "shop", F.when(F.col("event_id") % 2 == 0, "a:b").otherwise("plain")
    )
    t.append(df, partition_by=("shop",))
    adds = [a["add"] for _, a in t._actions() if "add" in a]
    enc = [a["path"] for a in adds if a["partitionValues"]["shop"] == "a:b"]
    assert enc and all("%253A" in p for p in enc), enc  # double-encoded in log
    assert {r["event_id"] for r in t.read(spark).collect()} == set(range(6))
    assert t.read_partition(spark, shop="a:b").count() == 3
    # DML through the escaped dir: rewrite resolves the on-disk file
    t.delete_where(spark, "event_id = 0")
    assert {r["event_id"] for r in t.read(spark).collect()} == set(range(1, 6))
    # CDF delete fallback + vacuum both resolve the encoded paths
    ch = t.read_changes(spark, 0, t.latest_version())
    assert {r["event_id"] for r in
            ch.filter(F.col("_change_type") == "delete").collect()} == {0}
    assert t.vacuum(0, force=True) >= 1  # the superseded escaped-dir file is reclaimed

def test_update_set_evaluates_all_rhs_against_old_row(spark, tmp_path):
    """SQL/Delta UPDATE semantics: every SET right-hand side sees the
    PRE-update row — SET a=b, b=a must SWAP, not propagate (the
    chained-withColumn failure mode where the second assignment reads
    the already-updated first column)."""
    t = _table(tmp_path)
    t.append(_ev(spark, 5))  # user_id = id % 7, value = id * 1.5
    t.update_where(
        spark, {"user_id": "value", "value": "user_id"}, "event_id = 2"
    )
    row = {
        r["event_id"]: (r["user_id"], r["value"])
        for r in t.read(spark).collect()
    }
    # old row: user_id=2, value=3.0 -> swapped: user_id=3, value=2.0
    assert row[2] == (3, 2.0), row[2]
    # CDF postimage carries the same swapped values as the table
    # (read_changes ranges are (from, to] — exclusive lower bound)
    ch = t.read_changes(spark, t.latest_version() - 1, t.latest_version())
    post = [
        r
        for r in ch.collect()
        if r["_change_type"] == "update_postimage"
    ]
    assert len(post) == 1
    assert (post[0]["user_id"], post[0]["value"]) == (3, 2.0)


def test_vacuum_mixed_path_encodings_never_deletes_live_file(spark, tmp_path):
    """A foreign log can reference ONE physical file under SEVERAL
    encodings (absolute file:// URI vs relative). A file removed under
    its absolute form but re-added under its relative form is LIVE —
    vacuum must compare resolved paths, not raw action strings, or it
    destroys live data."""
    t = _table(tmp_path)
    os.makedirs(t.log_dir, exist_ok=True)
    _ev(spark, 6).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "stage")
    )
    part = [
        f for f in os.listdir(tmp_path / "stage") if f.endswith(".parquet")
    ][0]
    os.rename(tmp_path / "stage" / part, os.path.join(t.path, "d1.parquet"))
    schema_str = (
        spark.createDataFrame([], "event_id long, user_id long, value double")
        .schema.json()
    )
    absu = "file://" + os.path.join(t.path, "d1.parquet")
    with open(os.path.join(t.log_dir, f"{0:020d}.json"), "w") as fh:
        for a in [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {"metaData": {"id": "x", "format": {"provider": "parquet",
             "options": {}}, "schemaString": schema_str,
             "partitionColumns": [], "configuration": {}}},
            {"add": {"path": absu, "partitionValues": {}, "size": 1,
                     "modificationTime": 1, "dataChange": True}},
            {"commitInfo": {"timestamp": 1, "operation": "WRITE"}},
        ]:
            fh.write(json.dumps(a) + "\n")
    with open(os.path.join(t.log_dir, f"{1:020d}.json"), "w") as fh:
        for a in [
            {"remove": {"path": absu, "deletionTimestamp": 2,
                        "dataChange": False}},
            {"add": {"path": "d1.parquet", "partitionValues": {}, "size": 1,
                     "modificationTime": 2, "dataChange": False}},
            {"commitInfo": {"timestamp": 2, "operation": "CONVERT"}},
        ]:
            fh.write(json.dumps(a) + "\n")
    assert t.vacuum(0, force=True) == 0  # the tombstoned encoding resolves to a LIVE file
    assert os.path.exists(os.path.join(t.path, "d1.parquet"))
    assert {r["event_id"] for r in t.read(spark).collect()} == set(range(6))


def test_cleanup_log_deletes_only_contiguous_prefix(spark, tmp_path):
    """Non-monotonic commitInfo timestamps (a writer with a fast
    clock): per-file expiry would leave HOLES in the retained tail and
    permanently brick every exact fold. Cleanup must stop at the first
    non-expired commit."""
    t = _table(tmp_path)
    t.append(_ev(spark, 5), "cp", 0)                                  # v0
    t.append(_ev(spark, 10).filter(F.col("event_id") >= 5), "cp", 1)  # v1
    t.append(_ev(spark, 15).filter(F.col("event_id") >= 10), "cp", 2) # v2
    t.append(_ev(spark, 20).filter(F.col("event_id") >= 15), "cp", 3) # v3
    t.checkpoint()  # at v3
    # inject a FUTURE timestamp into v1 (the fast-clock writer)
    p1 = os.path.join(t.log_dir, f"{1:020d}.json")
    lines = [json.loads(ln) for ln in open(p1) if ln.strip()]
    for a in lines:
        if "commitInfo" in a:
            a["commitInfo"]["timestamp"] = 10**15  # far future
            a["commitInfo"].pop("inCommitTimestamp", None)
    with open(p1, "w") as fh:
        for a in lines:
            fh.write(json.dumps(a) + "\n")
    # cutoff = now: v0 (+ its .crc) expired -> deleted; v1 NOT expired
    # -> STOP — v2 (also expired) must be RETAINED so the tail stays
    # contiguous
    assert t.cleanup_log(retention_ms=0) == 2
    kept = sorted(
        int(f[:20]) for f in os.listdir(t.log_dir) if f.endswith(".json")
    )
    assert kept == [1, 2, 3]
    # exact folds over the retained tail keep working (no hole)
    t2 = DeltaLogTable(t.path)
    assert {r["version"] for r in t2.history(spark).collect()} == {1, 2, 3}
    assert t2.read(spark).count() == 20


def test_stream_fresh_start_after_cleanup_serves_snapshot(spark, tmp_path):
    """A NEW stream on a long-lived table whose early commits were
    cleaned must serve the checkpoint SNAPSHOT as its first batch
    (delta-spark's initial-snapshot semantics), then exact per-commit
    batches — not permanently raise on the missing version files."""
    t = _table(tmp_path)
    t.append(_ev(spark, 30), "s", 0)                                   # v0
    t.append(_ev(spark, 60).filter(F.col("event_id") >= 30), "s", 1)   # v1
    t.checkpoint()                                                     # cv=1
    t.cleanup_log(retention_ms=0)                                      # drops v0
    t.append(_ev(spark, 80).filter(F.col("event_id") >= 60), "s", 2)   # v2
    assert not os.path.exists(os.path.join(t.log_dir, f"{0:020d}.json"))
    spark.dataSource.register(DeltaTableStreamDataSource)
    from deltasink_spark.queries.sources_sinks import _run_until

    out = _run_until(
        spark,
        spark.readStream.format("delta_log_table").option("path", t.path).load(),
        min_rows=80,
    )
    assert out.count() == 80
    assert {r["event_id"] for r in out.collect()} == set(range(80))


def test_out_of_root_absolute_add_path_reads_and_rewrites(spark, tmp_path):
    """Shallow-clone shape: an add whose absolute file:// URI points
    OUTSIDE the table root. basePath would reject the scan — the
    reader must split the scan and re-materialize partition columns
    from the add's partitionValues."""
    ext = tmp_path / "elsewhere"
    os.makedirs(ext)
    _ev(spark, 6).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "stage")
    )
    part = [
        f for f in os.listdir(tmp_path / "stage") if f.endswith(".parquet")
    ][0]
    os.rename(tmp_path / "stage" / part, str(ext / "src.parquet"))
    t = _table(tmp_path)
    os.makedirs(t.log_dir, exist_ok=True)
    schema_str = (
        spark.createDataFrame(
            [], "event_id long, user_id long, value double, shop string"
        ).schema.json()
    )
    with open(os.path.join(t.log_dir, f"{0:020d}.json"), "w") as fh:
        for a in [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {"metaData": {"id": "x", "format": {"provider": "parquet",
             "options": {}}, "schemaString": schema_str,
             "partitionColumns": ["shop"], "configuration": {}}},
            {"add": {"path": "file://" + str(ext / "src.parquet"),
                     "partitionValues": {"shop": "main"}, "size": 1,
                     "modificationTime": 1, "dataChange": True}},
            {"commitInfo": {"timestamp": 1, "operation": "CLONE"}},
        ]:
            fh.write(json.dumps(a) + "\n")
    got = t.read(spark).collect()
    assert {r["event_id"] for r in got} == set(range(6))
    assert {r["shop"] for r in got} == {"main"}
    # copy-on-write DML over the cloned file: rewrite lands IN-ROOT,
    # the out-of-root source file is never touched
    t.delete_where(spark, "event_id < 2")
    assert {r["event_id"] for r in t.read(spark).collect()} == {2, 3, 4, 5}
    assert os.path.exists(ext / "src.parquet")
    # and vacuum never reaches outside the table root
    assert t.vacuum(0, force=True) == 0
    assert os.path.exists(ext / "src.parquet")


def test_shallow_clone_diverges_and_source_untouched(spark, tmp_path):
    """clone_from: version-0 commit referencing the source's files by
    absolute URI (zero copy), DV re-anchored as storageType 'p'; DML
    on the clone copy-on-writes into the CLONE root and the source is
    bit-for-bit untouched; the clone's vacuum never deletes outside
    its own root."""
    src = _table(tmp_path, "src")
    src.append(_ev(spark, 50))
    src.delete_where_dv(spark, "event_id < 5")
    src_adds = src.snapshot_adds()
    cl = _table(tmp_path, "cl")
    cl.clone_from(src)
    # the clone's adds are absolute URIs into the source root; the DV
    # descriptor is the spec's absolute-path form
    cadds = cl.snapshot_adds()
    assert all(p.startswith("file://") for p in cadds)
    dvs = [a["deletionVector"] for a in cadds.values() if a.get("deletionVector")]
    assert dvs and all(d["storageType"] == "p" for d in dvs)
    assert {r["event_id"] for r in cl.read(spark).collect()} == set(range(5, 50))
    cl.delete_where(spark, "event_id < 10")
    cl.append(_ev(spark, 60).filter(F.col("event_id") >= 50))
    assert {r["event_id"] for r in cl.read(spark).collect()} == set(range(10, 60))
    assert src.snapshot_adds() == src_adds
    assert {r["event_id"] for r in src.read(spark).collect()} == set(range(5, 50))
    # vacuum reclaims only clone-root files; source files survive
    cl.vacuum(0, force=True)
    assert {r["event_id"] for r in src.read(spark).collect()} == set(range(5, 50))
    # a second clone_from into a non-empty table refuses
    with pytest.raises(ValueError, match="not empty"):
        cl.clone_from(src)


def test_zorder_optimize_prunes_both_dimensions(spark, tmp_path):
    """OPTIMIZE ZORDER BY (a, b): after hash-scattered appends (every
    file spans both domains — nothing prunable), the z-ordered rewrite
    makes a stats-pruned range read open a STRICT SUBSET of files on
    BOTH dimensions, with identical results."""
    t = _table(tmp_path)
    base = _ev(spark, 2000).withColumn("dim2", (F.col("event_id") * 37) % 1000)
    for k in range(4):
        # round-robin repartition: every staged file spans BOTH full
        # domains (spark.range is ordered, so without this each file's
        # min/max would already be tight and nothing would be provable)
        t.append(base.filter(F.col("event_id") % 4 == k).repartition(8))
    def nfiles(df):
        return len(set(df.inputFiles()))
    pre_d1 = nfiles(t.read_where_stats(spark, "event_id", 100, 200))
    pre_d2 = nfiles(t.read_where_stats(spark, "dim2", 100, 200))
    total = len(t.snapshot_files())
    assert pre_d1 == total and pre_d2 == total  # scatter: no pruning
    t.optimize(spark, target_files=8, zorder_by=("event_id", "dim2"))
    post_total = len(t.snapshot_files())
    d1 = t.read_where_stats(spark, "event_id", 100, 200)
    d2 = t.read_where_stats(spark, "dim2", 100, 200)
    assert nfiles(d1) < post_total
    assert nfiles(d2) < post_total
    assert {r["event_id"] for r in d1.collect()} == set(range(100, 201))
    assert {r["event_id"] for r in d2.collect()} == {
        r["event_id"] for r in base.filter(F.col("dim2").between(100, 200)).collect()
    }
    with pytest.raises(ValueError, match="mutually exclusive"):
        t.optimize(spark, cluster_by=("event_id",), zorder_by=("dim2",))


def test_scd2_merge_lifecycle_and_cdf(spark, tmp_path):
    """merge_scd2: changed keys close + reopen, unchanged keys are
    untouched, new keys insert; ONE commit whose CDF carries the
    update_preimage/update_postimage pair for the closed row and
    insert rows for the opened/new ones."""
    t = _table(tmp_path)
    dim = spark.createDataFrame(
        [
            (1, "a", 0, None, True),
            (2, "b", 0, None, True),
            (3, "c0", 0, 5, False),   # closed history: must never rewrite
            (3, "c", 5, None, True),
        ],
        "k long, attr string, valid_from long, valid_to long, is_current boolean",
    )
    t.append(dim)
    upd = spark.createDataFrame(
        [(1, "a2", 10), (3, "c", 10), (4, "d", 10)],
        "k long, attr string, effective_ts long",
    )
    v = t.merge_scd2(spark, upd, "k", ("attr",), ts_col="effective_ts")
    rows = sorted(
        (r["k"], r["attr"], r["valid_from"], r["valid_to"], r["is_current"])
        for r in t.read(spark).collect()
    )
    assert rows == sorted([
        (1, "a", 0, 10, False), (1, "a2", 10, None, True),
        (2, "b", 0, None, True),
        (3, "c0", 0, 5, False), (3, "c", 5, None, True),
        (4, "d", 10, None, True),
    ])
    ch = t.read_changes(spark, v - 1, v).collect()
    by_type = {}
    for r in ch:
        by_type.setdefault(r["_change_type"], []).append((r["k"], r["attr"]))
    assert sorted(by_type["update_preimage"]) == [(1, "a")]
    assert sorted(by_type["update_postimage"]) == [(1, "a")]  # closed row
    assert sorted(by_type["insert"]) == [(1, "a2"), (4, "d")]
    # replaying the same feed is a NO-OP (attrs equal)
    assert t.merge_scd2(spark, upd, "k", ("attr",), ts_col="effective_ts") == v
    # duplicate source keys are rejected like merge()
    dup = spark.createDataFrame(
        [(1, "x", 20), (1, "y", 20)], "k long, attr string, effective_ts long"
    )
    with pytest.raises(ValueError, match="duplicate"):
        t.merge_scd2(spark, dup, "k", ("attr",), ts_col="effective_ts")


def test_append_only_blocks_rewrites_allows_appends_and_optimize(spark, tmp_path):
    t = _table(tmp_path)
    t.append(_ev(spark, 20))
    t.set_properties({"delta.appendOnly": "true"})
    t.append(_ev(spark, 40).filter(F.col("event_id") >= 20))
    for call in [
        lambda: t.delete_where(spark, "event_id < 3"),
        lambda: t.delete_where_dv(spark, "event_id < 3"),
        lambda: t.update_where(spark, {"value": "value + 1"}, "true"),
        lambda: t.merge(spark, _ev(spark, 1), "event_id"),
        lambda: t.replace_where(spark, _ev(spark, 1), "event_id < 1"),
        lambda: t.restore(spark, 0),
    ]:
        with pytest.raises(ValueError, match="append-only"):
            call()
    t.optimize(spark, target_files=1)  # layout-only: allowed
    assert t.read(spark).count() == 40


def test_protocol_gate_refuses_unknown_features(spark, tmp_path):
    """Unknown readerFeatures refuse reads (snapshot fold, stream
    reader); unknown writerFeatures refuse commits; the features this
    engine implements pass the gate."""
    t = _table(tmp_path)
    t.append(_ev(spark, 10))
    t.delete_where_dv(spark, "event_id < 2")  # legit (3, 7) features
    assert t.read(spark).count() == 8
    with open(os.path.join(t.log_dir, f"{2:020d}.json"), "w") as fh:
        fh.write(json.dumps({"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["deletionVectors", "futureFeature"],
            "writerFeatures": ["futureFeature"],
        }}) + "\n")
        fh.write(json.dumps(
            {"commitInfo": {"timestamp": 1, "operation": "UPGRADE"}}) + "\n")
    t2 = DeltaLogTable(t.path)
    with pytest.raises(ValueError, match="futureFeature"):
        t2.read(spark)
    with pytest.raises(ValueError, match="futureFeature"):
        t2.append(_ev(spark, 1))
    from deltasink_spark.delta_log import DeltaTableStreamReader
    with pytest.raises(ValueError, match="futureFeature"):
        DeltaTableStreamReader({"path": t.path})
    # reader-version ceiling alone also refuses
    t3 = _table(tmp_path, "t3")
    t3.append(_ev(spark, 5))
    with open(os.path.join(t3.log_dir, f"{1:020d}.json"), "w") as fh:
        fh.write(json.dumps({"protocol": {
            "minReaderVersion": 9, "minWriterVersion": 9}}) + "\n")
    with pytest.raises(ValueError, match="minReaderVersion 9"):
        DeltaLogTable(t3.path).read(spark)


def test_merge_schema_evolution_pads_and_rejects(spark, tmp_path):
    t = _table(tmp_path)
    t.append(_ev(spark, 10))
    src = (
        _ev(spark, 12)
        .filter(F.col("event_id") >= 8)
        .withColumn("tag", F.lit("x"))
    )
    with pytest.raises(ValueError, match="merge_schema"):
        t.merge(spark, src, "event_id")
    v0_files = set(t.snapshot_files())
    t.merge(spark, src, "event_id", merge_schema=True)
    got = {r["event_id"]: r["tag"] for r in t.read(spark).collect()}
    assert len(got) == 12
    assert got[8] == "x" and got[11] == "x" and got[0] is None
    # CDF across the evolving merge carries the new column
    v = t.latest_version()
    ch = t.read_changes(spark, v - 1, v)
    ins = {r["event_id"] for r in ch.collect() if r["_change_type"] == "insert"}
    assert ins == {10, 11}
    # schema evolution on a column-mapped table: new field gets a
    # physical name, rename of the NEW column stays free
    m = _table(tmp_path, "mapped")
    m.append(_ev(spark, 6))
    m.enable_column_mapping()
    m.merge(spark, src.filter(F.col("event_id") < 11), "event_id",
            merge_schema=True)
    m.rename_column("tag", "label")
    got2 = {r["event_id"]: r["label"] for r in m.read(spark).collect()}
    # target 0..5 + inserted 8..10 = 9 keys; pre-evolution rows pad null
    assert got2[8] == "x" and got2[0] is None and len(got2) == 9


def test_concurrent_writers_stress(spark, tmp_path):
    """Commit-protocol stress: 6 writer threads interleave appends (txn
    exactly-once), row-level DELETEs and OPTIMIZEs on ONE table. The
    lock + put-if-absent + precondition discipline must yield a
    linearizable log: every append's rows present exactly once, every
    delete applied, no version gaps — and the verbs' own
    optimistic-concurrency re-execution absorbs every file-level
    conflict, so callers never retry by hand. (Threads share the JVM
    but each _commit opens its own lock-file fd, so flock serializes
    them like separate processes.)"""
    import threading

    t = _table(tmp_path)
    t.append(_ev(spark, 0).limit(0))  # v0: schema anchor
    NWRITERS, NAPPENDS = 6, 4
    errors: list[str] = []

    def writer(i: int) -> None:
        try:
            tt = DeltaLogTable(t.path)  # fresh handle per thread
            for j in range(NAPPENDS):
                lo = (i * NAPPENDS + j) * 100
                df = _ev(spark, lo + 100).filter(F.col("event_id") >= lo)
                assert tt.append(df, f"w{i}", j) is not None
                assert tt.append(df, f"w{i}", j) is None  # replay no-op
            if i % 2 == 0:
                # delete this writer's own slice tail — disjoint keys,
                # but file-level conflicts with other writers' rewrites
                assert tt.delete_where(
                    spark,
                    f"event_id >= {i * NAPPENDS * 100} AND "
                    f"event_id < {i * NAPPENDS * 100 + 50}",
                ) is not None
            else:
                assert tt.optimize(spark, target_files=2) is not None
        except Exception as ex:  # surface thread failures to the test
            errors.append(f"writer {i}: {ex!r}")

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(NWRITERS)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    # linearizable outcome: all appended rows exactly once, minus the
    # even writers' deleted 50-row prefixes
    expected = set()
    for i in range(NWRITERS):
        base = i * NAPPENDS * 100
        ids = set(range(base, base + NAPPENDS * 100))
        if i % 2 == 0:
            ids -= set(range(base, base + 50))
        expected |= ids
    got = [r["event_id"] for r in DeltaLogTable(t.path).read(spark).collect()]
    assert len(got) == len(set(got)), "duplicate rows: broken exactly-once"
    assert set(got) == expected
    # the log has no version gaps and every fold agrees
    vf = [v for v, _ in DeltaLogTable(t.path)._version_files()]
    assert vf == list(range(len(vf)))


def test_stream_max_files_per_trigger_admission(spark, tmp_path):
    """maxFilesPerTrigger admission control: latestOffset advances the
    planned cursor by whole commits until the file budget is spent —
    a new stream on a long table serves bounded batches instead of the
    whole backlog at once, and the full drain still delivers every row
    exactly once."""
    from deltasink_spark.delta_log import DeltaTableStreamReader

    t = _table(tmp_path)
    for k in range(10):  # 10 commits x 1 file
        t.append(
            _ev(spark, (k + 1) * 10)
            .filter(F.col("event_id") >= k * 10)
            .coalesce(1)
        )
    r = DeltaTableStreamReader(
        {"path": t.path, "max_files_per_trigger": "3"}
    )
    offs = [r.initialOffset()["v"]]
    while offs[-1] < t.latest_version():
        end = r.latestOffset()["v"]
        r.partitions({"v": offs[-1]}, {"v": end})
        offs.append(end)
    assert offs == [-1, 2, 5, 8, 9]  # 3+3+3+1 commits
    # uncapped reader reaches the head in one step
    r2 = DeltaTableStreamReader({"path": t.path})
    r2.initialOffset()
    assert r2.latestOffset()["v"] == 9
    # end-to-end drain with the cap: every row exactly once
    spark.dataSource.register(DeltaTableStreamDataSource)
    from deltasink_spark.queries.sources_sinks import _run_until

    out = _run_until(
        spark,
        spark.readStream.format("delta_log_table")
        .option("path", t.path)
        .option("max_files_per_trigger", "3")
        .load(),
        min_rows=100,
    )
    got = [x["event_id"] for x in out.collect()]
    assert len(got) == 100 and set(got) == set(range(100))
    # cleaned log: the snapshot batch is atomic — admission jumps
    # through the checkpoint version instead of splitting it
    t.checkpoint()
    t.cleanup_log(retention_ms=0)
    t.append(_ev(spark, 110).filter(F.col("event_id") >= 100).coalesce(1))
    r3 = DeltaTableStreamReader(
        {"path": t.path, "max_files_per_trigger": "2"}
    )
    r3.initialOffset()
    assert r3.latestOffset()["v"] >= 9  # snapshot admitted whole


def test_v2_checkpoint_fold_cleanup_and_classic_interop(spark, tmp_path):
    """V2 checkpoints (UUID top-level + sidecars): the fold
    reconstructs protocol/metaData/txn from the top-level and
    add/remove (with DV descriptors) from the sidecars; survives
    pre-checkpoint log cleanup; a later CLASSIC checkpoint folds ON
    TOP of the v2 one; the feature is properly protocol-gated."""
    t = _table(tmp_path)
    t.append(_ev(spark, 50), "v2t", 0)
    t.delete_where_dv(spark, "event_id < 5")
    t.delete_where(spark, "event_id >= 45")
    with pytest.raises(ValueError, match="v2Checkpoint"):
        t.checkpoint_v2()
    t.enable_v2_checkpoints()
    cv = t.checkpoint_v2(sidecars=3)
    assert len(os.listdir(os.path.join(t.log_dir, "_sidecars"))) == 3
    t.cleanup_log(retention_ms=0)
    t2 = DeltaLogTable(t.path)
    assert {r["event_id"] for r in t2.read(spark).collect()} == set(range(5, 45))
    assert t2.append(_ev(spark, 5), "v2t", 0) is None  # txn mark survived
    t2.append(_ev(spark, 60).filter(F.col("event_id") >= 50))
    # the DV'd file still reads merge-on-read through the sidecar's
    # descriptor; vacuum sees the sidecar-carried tombstones
    assert {r["event_id"] for r in t2.read_via_checkpoint(spark).collect()} \
        == set(range(5, 45)) | set(range(50, 60))
    assert t2.vacuum(0, force=True) >= 1
    # a later CLASSIC checkpoint folds from the v2 state
    ccv = t2.checkpoint()
    assert ccv > cv
    t3 = DeltaLogTable(t.path)
    assert {r["event_id"] for r in t3.read(spark).collect()} \
        == set(range(5, 45)) | set(range(50, 60))
    # a reader WITHOUT the feature must refuse: the gate carries it
    from deltasink_spark import delta_log as dl
    orig = dl._SUPPORTED_READER_FEATURES
    dl._SUPPORTED_READER_FEATURES = frozenset(orig - {"v2Checkpoint"})
    try:
        with pytest.raises(ValueError, match="v2Checkpoint"):
            DeltaLogTable(t.path).read(spark)
    finally:
        dl._SUPPORTED_READER_FEATURES = orig


def test_v2_checkpoint_foreign_sidecar_forms(spark, tmp_path):
    """Foreign-writer v2 shapes our reader must fold: a sidecar
    referenced by ABSOLUTE file:// URI (the spec allows both forms)
    and a dash-UUID top-level name next to a stale classic-named
    checkpoint from an older version."""
    import pyarrow.parquet as pq

    t = _table(tmp_path)
    t.append(_ev(spark, 20), "f", 0)
    t.append(_ev(spark, 30).filter(F.col("event_id") >= 20), "f", 1)
    t.enable_v2_checkpoints()
    cv = t.checkpoint_v2(sidecars=1)
    # rewrite the top-level's sidecar row to an ABSOLUTE URI
    tops = t._checkpoint_paths(cv)
    assert len(tops) == 1 and ".checkpoint." in tops[0]
    side_dir = os.path.join(t.log_dir, "_sidecars")
    side = sorted(os.listdir(side_dir))[0]
    tbl = pq.read_table(tops[0])
    rows = tbl.to_pylist()
    for r in rows:
        if r.get("sidecar"):
            r["sidecar"] = {
                "path": "file://" + os.path.join(side_dir, side),
                "sizeInBytes": r["sidecar"]["sizeInBytes"],
                "modificationTime": r["sidecar"]["modificationTime"],
            }
    import pyarrow as pa
    from deltasink_spark.delta_log import _checkpoint_schema
    schema = _checkpoint_schema(v2_top=True)
    cols = {f.name: [r.get(f.name) for r in rows] for f in schema}
    pq.write_table(
        pa.Table.from_pydict(
            {n: pa.array(c, type=schema.field(n).type) for n, c in cols.items()},
            schema=schema,
        ),
        tops[0],
    )
    t.cleanup_log(retention_ms=0)
    t4 = DeltaLogTable(t.path)
    assert {r["event_id"] for r in t4.read(spark).collect()} == set(range(30))
    assert t4.append(_ev(spark, 1), "f", 1) is None


def test_cross_process_commit_race(spark, tmp_path):
    """The commit protocol across OS PROCESS boundaries (threads share
    a JVM and an interpreter — flock's real contract is between
    processes): 3 subprocesses and the main process each land 8
    metadata commits (SET TBLPROPERTIES with distinct keys) on ONE
    table, retrying on MetadataChangedError. Linearizable outcome:
    every key present exactly once in the final configuration, the
    version sequence contiguous, no commit clobbered."""
    import subprocess
    import sys as _sys

    t = _table(tmp_path)
    t.append(_ev(spark, 10))
    script = r"""
import sys
sys.path.insert(0, "/root/repo")
from deltasink_spark.delta_log import DeltaLogTable, MetadataChangedError
path, wid = sys.argv[1], sys.argv[2]
t = DeltaLogTable(path)
for j in range(8):
    for _ in range(200):
        try:
            t.set_properties({f"w{wid}.k{j}": "v"})
            break
        except MetadataChangedError:
            continue
    else:
        raise SystemExit(f"worker {wid} exhausted retries at {j}")
print("done", wid)
"""
    procs = [
        subprocess.Popen(
            [_sys.executable, "-c", script, t.path, str(i)],
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
        )
        for i in range(3)
    ]
    from deltasink_spark.delta_log import MetadataChangedError

    for j in range(8):
        for _ in range(200):
            try:
                t.set_properties({f"wmain.k{j}": "v"})
                break
            except MetadataChangedError:
                continue
        else:
            raise AssertionError("main exhausted retries")
    for p in procs:
        out, err = p.communicate(timeout=120)
        assert p.returncode == 0, (out, err)
    t2 = DeltaLogTable(t.path)
    cfg = (t2._metadata_dict() or {}).get("configuration") or {}
    want = {f"w{w}.k{j}" for w in ["0", "1", "2", "main"] for j in range(8)}
    assert want <= set(cfg), sorted(want - set(cfg))
    vf = [v for v, _ in t2._version_files()]
    assert vf == list(range(len(vf)))  # contiguous, no clobber
    assert len(vf) >= 1 + 32  # the append + every property commit
    assert t2.read(spark).count() == 10


def test_optimize_partition_scoped(spark, tmp_path):
    """OPTIMIZE ... WHERE (partition-scoped compaction): only the
    selected partition's files rewrite; the other partition's files
    stay byte-identical; parallel OPTIMIZEs of different partitions
    never conflict (disjoint preconditions)."""
    t = _table(tmp_path)
    df = _ev(spark, 40).withColumn(
        "shop", F.when(F.col("event_id") % 2 == 0, "a").otherwise("b")
    )
    for k in range(3):  # small files in both partitions
        t.append(
            df.filter(F.col("event_id") % 3 == k), partition_by=("shop",)
        )
    before = {
        p: a for p, a in t.snapshot_adds().items()
        if a["partitionValues"]["shop"] == "b"
    }
    t.optimize(spark, target_files=1, partitions={"shop": "a"})
    after = t.snapshot_adds()
    # partition b untouched — same action paths, same bytes
    assert {p: a["size"] for p, a in after.items()
            if a["partitionValues"]["shop"] == "b"} \
        == {p: a["size"] for p, a in before.items()}
    a_files = [p for p, a in after.items() if a["partitionValues"]["shop"] == "a"]
    assert len(a_files) == 1  # compacted
    assert {r["event_id"] for r in t.read(spark).collect()} == set(range(40))
    with pytest.raises(ValueError, match="non-partition"):
        t.optimize(spark, partitions={"event_id": 1})


def test_domain_metadata_fold_checkpoints_and_cleanup(spark, tmp_path):
    """domainMetadata: latest-per-domain wins, removed tombstones
    drop, the writer feature is ledgered on first use, and live
    domains survive BOTH checkpoint formats + log cleanup."""
    t = _table(tmp_path)
    t.append(_ev(spark, 20))
    t.set_domain_metadata(
        "delta.clustering", {"clusteringColumns": ["event_id"]}
    )
    t.set_domain_metadata("app.watermark", {"ts": 123})
    t.set_domain_metadata("app.watermark", {"ts": 456})
    t.set_domain_metadata("app.tmp", {"x": 1})
    t.set_domain_metadata("app.tmp", {}, removed=True)
    want = {
        "delta.clustering": {"clusteringColumns": ["event_id"]},
        "app.watermark": {"ts": 456},
    }
    assert t.domain_metadata() == want
    p = t._protocol_dict()
    assert "domainMetadata" in p["writerFeatures"]
    assert p["minWriterVersion"] == 7
    t.checkpoint()
    t.cleanup_log(retention_ms=0)
    assert DeltaLogTable(t.path).domain_metadata() == want
    t2 = DeltaLogTable(t.path)
    t2.enable_v2_checkpoints()
    t2.set_domain_metadata("post.ckpt", {"y": 2})
    t2.checkpoint_v2(sidecars=2)
    t2.cleanup_log(retention_ms=0)
    t3 = DeltaLogTable(t.path)
    assert t3.domain_metadata() == {**want, "post.ckpt": {"y": 2}}
    assert t3.read(spark).count() == 20


def test_stream_resume_below_cleaned_horizon_raises(spark, tmp_path):
    """A RESUMING stream (offset >= 0) whose next commits were cleaned
    must raise loudly — serving the checkpoint snapshot would
    re-deliver rows it already emitted (the fresh-start fallback is
    for lo == -1 only)."""
    from deltasink_spark.delta_log import DeltaTableStreamReader

    t = _table(tmp_path)
    for k in range(4):
        t.append(_ev(spark, (k + 1) * 10).filter(F.col("event_id") >= k * 10))
    t.checkpoint()
    t.cleanup_log(retention_ms=0)
    t.append(_ev(spark, 50).filter(F.col("event_id") >= 40))
    r = DeltaTableStreamReader({"path": t.path})
    with pytest.raises(ValueError, match="cleaned from the log"):
        r.partitions({"v": 0}, {"v": t.latest_version()})
    # the capped reader's latestOffset defers the same case to
    # partitions() instead of quietly jumping to the checkpoint
    r2 = DeltaTableStreamReader(
        {"path": t.path, "max_files_per_trigger": "1"}
    )
    r2._planned_v = 0
    assert r2.latestOffset()["v"] == t.latest_version()


def test_copy_into_schema_probe_and_path_identity(spark, tmp_path):
    """COPY INTO refuses a source file carrying columns the table
    lacks (an imposed read schema would silently DROP them), and the
    ledger keys on the fully-qualified path — same-named files in two
    directories both load."""
    t = _table(tmp_path)
    t.append(_ev(spark, 10))
    d1 = tmp_path / "jan"
    d2 = tmp_path / "feb"
    for d, lo in [(d1, 100), (d2, 200)]:
        os.makedirs(d)
        _ev(spark, lo + 10).filter(F.col("event_id") >= lo).coalesce(1) \
            .write.mode("overwrite").parquet(str(tmp_path / "stage"))
        part = [f for f in os.listdir(tmp_path / "stage")
                if f.endswith(".parquet")][0]
        os.rename(tmp_path / "stage" / part, d / "part-000.parquet")
    t.copy_into(spark, str(d1))
    t.copy_into(spark, str(d2))  # same basename, DIFFERENT file
    got = {r["event_id"] for r in t.read(spark).collect()}
    assert got == set(range(10)) | set(range(100, 110)) | set(range(200, 210))
    # extra-column source refuses BEFORE any data lands
    d3 = tmp_path / "bad"
    os.makedirs(d3)
    _ev(spark, 5).withColumn("tag", F.lit("x")).coalesce(1) \
        .write.mode("overwrite").parquet(str(tmp_path / "stage"))
    part = [f for f in os.listdir(tmp_path / "stage") if f.endswith(".parquet")][0]
    os.rename(tmp_path / "stage" / part, d3 / "x.parquet")
    before = t.latest_version()
    with pytest.raises(ValueError, match="tag"):
        t.copy_into(spark, str(d3))
    assert t.latest_version() == before


def test_feature_enables_are_additive_and_raced_safely(spark, tmp_path):
    """Protocol upgrades UNION features: enabling v2 checkpoints, then
    domainMetadata, then the first DV delete must leave ALL three
    features (plus the legacy versions' implied writer features)
    ledgered — a wholesale replacement would deactivate the others for
    spec-compliant external clients."""
    t = _table(tmp_path)
    t.append(_ev(spark, 20))
    t.enable_v2_checkpoints()
    t.set_domain_metadata("app.x", {"a": 1})
    t.delete_where_dv(spark, "event_id < 3")
    p = t._protocol_dict()
    rf, wf = set(p["readerFeatures"]), set(p["writerFeatures"])
    assert {"v2Checkpoint", "deletionVectors"} <= rf
    assert {"v2Checkpoint", "domainMetadata", "deletionVectors"} <= wf
    # the legacy (1, 4) protocol's implied writer capabilities rode up
    assert {"appendOnly", "invariants", "checkConstraints",
            "changeDataFeed", "generatedColumns"} <= wf
    assert t.domain_metadata() == {"app.x": {"a": 1}}
    assert t.checkpoint_v2() == t.latest_version()
    assert {r["event_id"] for r in DeltaLogTable(t.path).read(spark).collect()} \
        == set(range(3, 20))


def test_optimize_null_partition_scope(spark, tmp_path):
    """OPTIMIZE ... WHERE can target the NULL partition (None matches
    the Hive default-partition sentinel's null partitionValue)."""
    t = _table(tmp_path)
    df = _ev(spark, 20).withColumn(
        "shop", F.when(F.col("event_id") % 2 == 0, "a")
    )  # odd rows: shop NULL
    for k in range(2):
        t.append(df.filter(F.col("event_id") % 3 == k), partition_by=("shop",))
    t.append(df.filter(F.col("event_id") % 3 == 2), partition_by=("shop",))
    before_a = {
        p for p, a in t.snapshot_adds().items()
        if a["partitionValues"]["shop"] == "a"
    }
    t.optimize(spark, target_files=1, partitions={"shop": None})
    after = t.snapshot_adds()
    assert {p for p, a in after.items()
            if a["partitionValues"]["shop"] == "a"} == before_a
    null_files = [p for p, a in after.items()
                  if a["partitionValues"]["shop"] is None]
    assert len(null_files) == 1
    got = {(r["event_id"], r["shop"]) for r in t.read(spark).collect()}
    assert got == {(i, "a" if i % 2 == 0 else None) for i in range(20)}


def test_timestamp_travel_surface_restore_and_cdf(spark, tmp_path):
    """restore_to_timestamp and read_changes_by_timestamp: both
    resolve ICT-preferring timestamps; the CDF window covers
    [first commit >= start, last commit <= end] and raises on an
    empty window."""
    t = _table(tmp_path)
    t.append(_ev(spark, 10))
    t.enable_in_commit_timestamps()
    t.delete_where(spark, "event_id < 3")
    t.append(_ev(spark, 15).filter(F.col("event_id") >= 10))
    ts = t.commit_timestamps()
    # CDF window over just the delete commit
    ch = t.read_changes_by_timestamp(spark, ts[2], ts[2])
    assert {(r["event_id"], r["_change_type"]) for r in ch.collect()} \
        == {(0, "delete"), (1, "delete"), (2, "delete")}
    with pytest.raises(ValueError, match="no retained commit"):
        t.read_changes_by_timestamp(spark, ts[3] + 10**6, ts[3] + 10**7)
    # restore to the timestamp of v1 (pre-delete)
    t.restore_to_timestamp(spark, ts[1])
    assert {r["event_id"] for r in t.read(spark).collect()} == set(range(10))


def test_convert_to_delta_adopts_in_place(spark, tmp_path):
    """CONVERT TO DELTA: a Hive-partitioned plain-parquet dir (null
    partition included) gains a version-0 log referencing every file
    in place; partition pruning runs off the log; OPTIMIZE re-stages
    the reused-basename originals, after which DML and VACUUM apply;
    re-converting refuses; mixed partition layouts refuse."""
    ev = _ev(spark, 40).withColumn(
        "shop", F.when(F.col("event_id") % 2 == 0, "a")
    )
    p = str(tmp_path / "t")
    ev.write.partitionBy("shop").parquet(p)
    t = DeltaLogTable(p)
    data_files = {
        f for root, _d, fs in os.walk(p) for f in fs if f.endswith(".parquet")
    }
    t.convert_from_parquet(spark)
    got = {(r["event_id"], r["shop"]) for r in t.read(spark).collect()}
    assert got == {(i, "a" if i % 2 == 0 else None) for i in range(40)}
    assert t.read_partition(spark, shop="a").count() == 20
    # adopted files referenced in place — none copied or renamed
    assert {os.path.basename(x) for x in t.snapshot_files()} <= data_files
    with pytest.raises(ValueError, match="already has a _delta_log"):
        t.convert_from_parquet(spark)
    t.optimize(spark, target_files=1)
    t.delete_where(spark, "event_id < 5")
    assert {r["event_id"] for r in t.read(spark).collect()} == set(range(5, 40))
    assert t.vacuum(0, force=True) >= 1
    # mixed layout refuses
    p2 = str(tmp_path / "mixed")
    ev.write.partitionBy("shop").parquet(p2)
    _ev(spark, 5).coalesce(1).write.mode("append").parquet(p2)
    with pytest.raises(ValueError, match="inconsistent partition layouts"):
        DeltaLogTable(p2).convert_from_parquet(spark)


def test_stream_starting_version_and_timestamp(spark, tmp_path):
    """startingVersion / startingTimestamp on the table stream: the
    stream begins AT the resolved version (inclusive), never serving
    earlier commits; the two options are mutually exclusive; a
    timestamp with no commit at or after it raises."""
    from deltasink_spark.delta_log import DeltaTableStreamReader

    t = _table(tmp_path)
    t.append(_ev(spark, 10), "s", 0)                                  # v0
    t.enable_in_commit_timestamps()                                   # v1
    t.append(_ev(spark, 20).filter(F.col("event_id") >= 10), "s", 1)  # v2
    t.append(_ev(spark, 30).filter(F.col("event_id") >= 20), "s", 2)  # v3
    r = DeltaTableStreamReader({"path": t.path, "starting_version": "2"})
    lo = r.initialOffset()["v"]
    assert lo == 1
    served = r._range_adds(lo, t.latest_version())
    assert {v for v, _a, _k in served} == {2, 3}  # v0 never served
    ts = t.commit_timestamps()
    r2 = DeltaTableStreamReader(
        {"path": t.path, "starting_timestamp": str(ts[3])}
    )
    assert r2.initialOffset()["v"] == 2  # first commit at/after ts[3]
    with pytest.raises(ValueError, match="mutually exclusive"):
        DeltaTableStreamReader(
            {"path": t.path, "starting_version": "1",
             "starting_timestamp": "5"}
        ).initialOffset()
    with pytest.raises(ValueError, match="at or after"):
        DeltaTableStreamReader(
            {"path": t.path, "starting_timestamp": str(ts[3] + 10**9)}
        ).initialOffset()


def test_vacuum_retention_window_and_dry_run(spark, tmp_path):
    """VACUUM ... RETAIN + DRY RUN: files whose youngest tombstone is
    inside the window survive (recent-version readers / time travel
    stay safe); dry_run counts without deleting; retention 0 reclaims."""
    t = _table(tmp_path)
    t.append(_ev(spark, 20))
    t.delete_where(spark, "event_id < 5")  # tombstones stamped ~now
    before = set()
    for root, _d, fs in os.walk(t.path):
        before |= {os.path.join(root, f) for f in fs}
    # fresh tombstones: a 1-hour window protects them
    assert t.vacuum(retention_ms=3600 * 1000, force=True) == 0
    # dry run counts the retention-0 candidates but deletes nothing
    n_dry = t.vacuum(0, dry_run=True, force=True)
    assert n_dry >= 1
    after_dry = set()
    for root, _d, fs in os.walk(t.path):
        after_dry |= {os.path.join(root, f) for f in fs}
    assert after_dry == before
    # pre-vacuum time travel still works inside the window
    assert t.read(spark, as_of_version=0).count() == 20
    # retention 0 actually reclaims the dry-run count
    assert t.vacuum(0, force=True) == n_dry
    with pytest.raises(Exception):
        t.read(spark, as_of_version=0).collect()


def test_checkpoint_policy_v2_routes_every_checkpointer(spark, tmp_path):
    """delta.checkpointPolicy=v2 routes plain checkpoint() — and so
    the auto-checkpointing streaming sink — to the v2 layout."""
    t = _table(tmp_path)
    t.append(_ev(spark, 10))
    t.enable_v2_checkpoints()
    t.set_properties({"delta.checkpointPolicy": "v2"})
    cv = t.checkpoint()  # plain call, v2 result
    tops = t._checkpoint_paths(cv)
    assert len(tops) == 1 and not tops[0].endswith(f"{cv:020d}.checkpoint.parquet")
    assert os.path.isdir(os.path.join(t.log_dir, "_sidecars"))
    with pytest.raises(ValueError, match="sidecars"):
        t.checkpoint(parts=2)
    t.cleanup_log(retention_ms=0)
    assert DeltaLogTable(t.path).read(spark).count() == 10


# --- r12: ADVICE fixes — compaction domains, explicit start=0, checkpoint
# reclamation, protocol-memo invalidation --------------------------------


def test_log_compaction_retains_domain_metadata(spark, tmp_path):
    """compact_log must carry latest-per-domain domainMetadata —
    INCLUDING removed=true tombstones (a SET below the range must stay
    shadowed) — or substituting the segment after cleanup silently
    loses/resurrects domains and the next checkpoint makes it
    permanent."""
    t = _table(tmp_path)
    t.append(_ev(spark, 10))                               # v0
    t.set_domain_metadata("pre.range", {"a": 1})           # v1 (below range)
    t.append(_ev(spark, 15).filter(F.col("event_id") >= 10))  # v2
    t.set_domain_metadata("pre.range", {}, removed=True)   # v3: tombstone IN range
    t.set_domain_metadata("app.live", {"b": 2})            # v4
    t.set_domain_metadata("app.live", {"b": 3})            # v5: latest wins
    t.append(_ev(spark, 20).filter(F.col("event_id") >= 15))  # v6 tail
    t.compact_log(2, 5)
    want = {"app.live": {"b": 3}}
    assert t.domain_metadata() == want
    # segment carries both the live domain and the removal tombstone
    comp = [
        json.loads(line)
        for line in open(
            os.path.join(t.log_dir, f"{2:020d}.{5:020d}.compacted.json")
        )
        if line.strip()
    ]
    doms = {
        a["domainMetadata"]["domain"]: a["domainMetadata"]
        for a in comp
        if "domainMetadata" in a
    }
    assert doms["app.live"]["configuration"] == json.dumps({"b": 3})
    assert doms["pre.range"]["removed"] is True
    # delete the originals: the substituting fold reconstructs the
    # same domains, and a checkpoint written from it stays correct
    for v in range(2, 6):
        os.remove(os.path.join(t.log_dir, f"{v:020d}.json"))
    t2 = DeltaLogTable(t.path)
    assert t2.domain_metadata() == want
    t2.checkpoint()
    t2.cleanup_log(retention_ms=0)
    assert DeltaLogTable(t.path).domain_metadata() == want


def test_stream_explicit_starting_version_zero_cleaned_raises(spark, tmp_path):
    """An EXPLICIT starting_version=0 lands on the same lo == -1
    sentinel as 'no option', but must fail loudly when version 0 was
    cleaned — the user asked for the exact change history, and the
    snapshot fallback would silently substitute collapsed state."""
    from deltasink_spark.delta_log import DeltaTableStreamReader

    t = _table(tmp_path)
    for k in range(3):
        t.append(_ev(spark, (k + 1) * 10).filter(F.col("event_id") >= k * 10))
    t.checkpoint()
    t.cleanup_log(retention_ms=0)
    r = DeltaTableStreamReader({"path": t.path, "starting_version": "0"})
    lo = r.initialOffset()
    with pytest.raises(ValueError, match="cleaned from"):
        r.partitions(lo, {"v": t.latest_version()})
    # the optionless fresh stream still gets the snapshot fallback
    r2 = DeltaTableStreamReader({"path": t.path})
    parts = r2.partitions(r2.initialOffset(), {"v": t.latest_version()})
    assert parts


def test_cleanup_reclaims_superseded_checkpoints_and_sidecars(spark, tmp_path):
    """cleanup_log reclaims checkpoints strictly below the last one —
    the v2 top-level UUID parquet AND its _sidecars set — while the
    anchoring checkpoint and its sidecars survive."""
    t = _table(tmp_path)
    t.append(_ev(spark, 10))
    cv0 = t.checkpoint()  # classic, will be superseded
    classic = t._checkpoint_paths(cv0)[0]
    t.enable_v2_checkpoints()
    t.append(_ev(spark, 15).filter(F.col("event_id") >= 10))
    cv1 = t.checkpoint_v2(sidecars=2)
    old_top = t._checkpoint_paths(cv1)[0]
    old_sides = t._sidecars_of_top(old_top)
    assert len(old_sides) == 2
    t.append(_ev(spark, 20).filter(F.col("event_id") >= 15))
    cv2 = t.checkpoint_v2(sidecars=2)
    new_top = t._checkpoint_paths(cv2)[0]
    new_sides = t._sidecars_of_top(new_top)
    t.cleanup_log(retention_ms=0)
    for p in [classic, old_top, *old_sides]:
        assert not os.path.exists(p), p
    for p in [new_top, *new_sides]:
        assert os.path.exists(p), p
    # the anchored fold still serves the full table
    assert DeltaLogTable(t.path).read(spark).count() == 20
    # retention window: a fresh superseded checkpoint is NOT reclaimed
    t.append(_ev(spark, 25).filter(F.col("event_id") >= 20))
    t.checkpoint_v2(sidecars=1)
    t.cleanup_log(retention_ms=10**12)
    assert os.path.exists(new_top)


def test_write_gate_revalidates_after_foreign_protocol_upgrade(spark, tmp_path):
    """The write-protocol memo must not outlive a concurrent protocol
    upgrade: after a foreign writer ledgers an unknown writerFeature,
    a long-lived handle that already validated must REFUSE its next
    commit instead of writing around the feature."""
    t = _table(tmp_path)
    t.append(_ev(spark, 10))
    t.append(_ev(spark, 5))  # memoized gate: still fine
    v = t.latest_version() + 1
    with open(os.path.join(t.log_dir, f"{v:020d}.json"), "w") as fh:
        fh.write(json.dumps({"protocol": {
            "minReaderVersion": 1, "minWriterVersion": 7,
            "writerFeatures": ["futureFeature"],
        }}) + "\n")
        fh.write(json.dumps({"commitInfo": {
            "timestamp": 1, "operation": "FOREIGN UPGRADE",
        }}) + "\n")
    with pytest.raises(ValueError, match="unsupported writer feature"):
        t.append(_ev(spark, 5))
    assert t.latest_version() == v  # nothing committed past the upgrade


# --- r12: row tracking (PROTOCOL.md rowTracking writer feature) ----------


def _row_ids(t, spark):
    return {
        r["event_id"]: (r["_row_id"], r["_row_commit_version"])
        for r in t.read_with_row_ids(spark).collect()
    }


def test_row_tracking_lifecycle(spark, tmp_path):
    """Row ids: backfilled at enablement, allocated past the high-water
    mark on append, STABLE across DV deletes, OPTIMIZE, UPDATE,
    copy-on-write DELETE and MERGE, and surviving checkpoint + log
    cleanup."""
    t = _table(tmp_path)
    t.append(_ev(spark, 10))  # pre-enablement rows
    t.enable_row_tracking()
    p = t._protocol_dict()
    assert {"rowTracking", "domainMetadata"} <= set(p["writerFeatures"])
    ids0 = _row_ids(t, spark)
    assert sorted(i for i, _ in ids0.values()) == list(range(10))
    # fresh append allocates PAST the ledgered mark — never reuses
    v_app = t.append(_ev(spark, 15).filter(F.col("event_id") >= 10))
    ids1 = _row_ids(t, spark)
    assert sorted(i for i, _ in ids1.values()) == list(range(15))
    assert all(ids1[k][0] == v[0] for k, v in ids0.items())
    assert all(ids1[k][1] == v_app for k in range(10, 15))
    # DV delete: survivors keep ids AND commit versions (same file)
    t.delete_where_dv(spark, "event_id in (1, 12)")
    ids2 = _row_ids(t, spark)
    assert ids2 == {k: v for k, v in ids1.items() if k not in (1, 12)}
    # OPTIMIZE: rows move files, ids/versions materialize unchanged
    t.optimize(spark, target_files=1)
    assert _row_ids(t, spark) == ids2
    # UPDATE: id kept, commit version bumps to the UPDATE's commit
    v_upd = t.update_where(spark, {"value": "value + 1000.0"}, "event_id = 5")
    ids3 = _row_ids(t, spark)
    assert ids3[5] == (ids2[5][0], v_upd)
    assert {k: v for k, v in ids3.items() if k != 5} == {
        k: v for k, v in ids2.items() if k != 5
    }
    # copy-on-write DELETE: kept rows unchanged
    t.delete_where(spark, "event_id = 7")
    ids4 = _row_ids(t, spark)
    assert ids4 == {k: v for k, v in ids3.items() if k != 7}
    # MERGE: matched rows keep their id (fresh commit version),
    # inserted rows mint fresh ids above every existing one
    src = _ev(spark, 22).filter(F.col("event_id").isin(3, 20, 21))
    v_mrg = t.merge(spark, src, "event_id")
    ids5 = _row_ids(t, spark)
    assert ids5[3] == (ids4[3][0], v_mrg)
    hwm_before = {i for i, _ in ids4.values()}
    for k in (20, 21):
        assert ids5[k][0] not in hwm_before and ids5[k][1] == v_mrg
    assert {k: v for k, v in ids5.items() if k not in (3, 20, 21)} == {
        k: v for k, v in ids4.items() if k != 3
    }
    # ids survive checkpoint + cleanup on a fresh handle
    t.checkpoint()
    t.cleanup_log(retention_ms=0)
    t2 = DeltaLogTable(t.path)
    assert _row_ids(t2, spark) == ids5
    # and a fresh-handle append continues the sequence, no collisions
    t2.append(_ev(spark, 30).filter(F.col("event_id") >= 25))
    ids6 = _row_ids(t2, spark)
    assert len({i for i, _ in ids6.values()}) == len(ids6)
    assert min(i for k, (i, _) in ids6.items() if k >= 25) > max(
        i for i, _ in ids5.values()
    )


def test_row_tracking_replace_where_and_plain_reads(spark, tmp_path):
    """replaceWhere keeps untouched rows' ids; normal read() never
    surfaces the materialized physical columns; read_with_row_ids on a
    non-tracking table refuses."""
    t = _table(tmp_path)
    t.append(
        _ev(spark, 20).withColumn("bucket", (F.col("event_id") % 2).cast("long"))
    )
    with pytest.raises(ValueError, match="row tracking"):
        t.read_with_row_ids(spark)
    t.enable_row_tracking()
    before = _row_ids(t, spark)
    repl = (
        _ev(spark, 40)
        .filter(F.col("event_id") >= 30)
        .withColumn("bucket", F.lit(1).cast("long"))
    )
    t.replace_where(spark, repl, "bucket = 1")
    after = _row_ids(t, spark)
    evens = {k: v for k, v in before.items() if k % 2 == 0}
    assert {k: v for k, v in after.items() if k < 20} == evens
    assert len({i for i, _ in after.values()}) == len(after)
    # OPTIMIZE wrote materialized cols — plain read stays logical
    t.optimize(spark, target_files=1)
    assert set(t.read(spark).columns) == {"event_id", "user_id", "value", "bucket"}
    assert _row_ids(t, spark) == after


def test_liquid_clustering_state_drives_parameterless_optimize(spark, tmp_path):
    """ALTER CLUSTER BY persists clusteringColumns in the
    delta.clustering domain; a PARAMETERLESS OPTIMIZE picks them up
    and prunes on both dimensions afterwards; CLUSTER BY NONE clears
    the state; unknown columns and partitioned tables refuse."""
    t = _table(tmp_path)
    base = _ev(spark, 2000).withColumn("dim2", (F.col("event_id") * 37) % 1000)
    for k in range(4):
        t.append(base.filter(F.col("event_id") % 4 == k).repartition(8))
    with pytest.raises(ValueError, match="unknown column"):
        t.set_cluster_by(("nope",))
    t.set_cluster_by(("event_id", "dim2"))
    assert t.cluster_columns() == ("event_id", "dim2")
    p = t._protocol_dict()
    assert {"clustering", "domainMetadata"} <= set(p["writerFeatures"])
    # the domain survives in the spec's nested-name form
    dom = t.domain_metadata()["delta.clustering"]
    assert dom == {"clusteringColumns": [["event_id"], ["dim2"]]}
    t.optimize(spark, target_files=8)  # parameterless: picks up state

    def nfiles(df):
        return len(set(df.inputFiles()))

    post_total = len(t.snapshot_files())
    d1 = t.read_where_stats(spark, "event_id", 100, 200)
    d2 = t.read_where_stats(spark, "dim2", 100, 200)
    assert nfiles(d1) < post_total and nfiles(d2) < post_total
    assert {r["event_id"] for r in d1.collect()} == set(range(100, 201))
    # single-column state routes to range clustering
    t.set_cluster_by(("dim2",))
    t.optimize(spark, target_files=8)
    d2b = t.read_where_stats(spark, "dim2", 100, 200)
    assert nfiles(d2b) < len(t.snapshot_files())
    # CLUSTER BY NONE clears: a later OPTIMIZE is plain compaction
    t.set_cluster_by(())
    assert t.cluster_columns() == ()
    # a partitioned table refuses clustering
    t2 = _table(tmp_path, "part")
    t2.append(
        _ev(spark, 20).withColumn("b", (F.col("event_id") % 2).cast("string")),
        partition_by=("b",),
    )
    with pytest.raises(ValueError, match="mutually exclusive"):
        t2.set_cluster_by(("event_id",))


def test_version_checksum_written_validated_and_loud_on_corruption(spark, tmp_path):
    """Every commit writes a `%020d.crc` sidecar; folds validate
    against it; a tampered checksum (or a log whose state diverged
    from it) raises loudly instead of serving silently-wrong state;
    cleanup reclaims the sidecars with their commits."""
    t = _table(tmp_path)
    t.append(_ev(spark, 10))
    t.delete_where(spark, "event_id < 3")
    for v in (0, 1):
        assert os.path.exists(os.path.join(t.log_dir, f"{v:020d}.crc"))
    crc = json.load(open(os.path.join(t.log_dir, f"{1:020d}.crc")))
    snap = t.snapshot_adds()
    assert crc["numFiles"] == len(snap)
    assert crc["tableSizeBytes"] == sum(a["size"] for a in snap.values())
    # time travel validates the OLD version against the OLD sidecar
    assert t.read(spark, as_of_version=0).count() == 10
    # tamper: the next fold must refuse
    with open(os.path.join(t.log_dir, f"{1:020d}.crc"), "w") as fh:
        fh.write(json.dumps({"numFiles": 999, "tableSizeBytes": 1}))
    with pytest.raises(ValueError, match="checksum mismatch"):
        DeltaLogTable(t.path).snapshot_adds()
    # restore a correct sidecar: folds work again, and cleanup
    # reclaims sidecars alongside their commits
    with open(os.path.join(t.log_dir, f"{1:020d}.crc"), "w") as fh:
        fh.write(json.dumps(crc))
    t.append(_ev(spark, 15).filter(F.col("event_id") >= 10))
    t.checkpoint()
    t.cleanup_log(retention_ms=0)
    left = sorted(f for f in os.listdir(t.log_dir) if f.endswith(".crc"))
    assert left == [f"{2:020d}.crc"]
    assert DeltaLogTable(t.path).read(spark).count() == 12


def test_type_widening_write_and_read(spark, tmp_path):
    """delta.typeWidening: a wider re-declaration of an existing column
    widens the schemaString (merge_schema-gated), records
    delta.typeChanges on the field, ledgers the reader+writer feature,
    and old NARROW files read up-promoted — never rewritten. Narrower
    inputs upcast to the table type; incompatible types refuse."""
    t = _table(tmp_path)
    ten = _ev(spark, 10).withColumn(
        "small", F.col("event_id").cast("int")
    ).withColumn("ratio", F.col("value").cast("float"))
    t.append(ten)
    assert {
        f.name: f.dataType.typeName() for f in t.schema().fields
    }["small"] == "integer"
    wide = (
        _ev(spark, 20)
        .filter(F.col("event_id") >= 10)
        .withColumn("small", F.col("event_id").cast("long"))
        .withColumn("ratio", F.col("value").cast("double"))
    )
    with pytest.raises(ValueError, match="widened"):
        t.append(wide)  # widening is merge_schema-gated
    t.append(wide, merge_schema=True)
    s = {f.name: f for f in t.schema().fields}
    assert s["small"].dataType.typeName() == "long"
    assert s["ratio"].dataType.typeName() == "double"
    assert s["small"].metadata["delta.typeChanges"] == [
        {"fromType": "integer", "toType": "long"}
    ]
    p = t._protocol_dict()
    assert "typeWidening" in p["readerFeatures"]
    assert "typeWidening" in p["writerFeatures"]
    # a FRESH handle (the foreign-reader stand-in) promotes the old
    # int32/float files to the widened schema — all 20 rows, one type
    t2 = DeltaLogTable(t.path)
    got = t2.read(spark)
    assert dict(got.dtypes)["small"] == "bigint"
    assert {r["small"] for r in got.collect()} == set(range(20))
    # a narrower post-widening write upcasts to the table type
    t2.append(
        _ev(spark, 25)
        .filter(F.col("event_id") >= 20)
        .withColumn("small", F.col("event_id").cast("smallint"))
        .withColumn("ratio", F.lit(1.5).cast("float"))
    )
    assert t2.read(spark).count() == 25
    # DML through the widened table still folds (stats carry mixed
    # physical types transparently)
    t2.delete_where(spark, "small < 5")
    assert t2.read(spark).count() == 20
    # an incompatible re-declaration refuses loudly
    with pytest.raises(ValueError, match="not a supported type widening"):
        t2.append(
            _ev(spark, 26)
            .filter(F.col("event_id") >= 25)
            .withColumn("small", F.lit("x"))
            .withColumn("ratio", F.lit(1.0).cast("double")),
            merge_schema=True,
        )


def test_delta_log_update_throughput_reference(spark, tmp_path):
    """BASELINE.md DML throughput (r11 verdict next #7: UPDATE/MERGE
    commit latency had no pinned figure next to the append-path
    16.3k rows/s reference): N successive copy-on-write UPDATE commits
    over a multi-file table — each plans via one predicate-pushed
    lineage scan, rewrites only hit files, stages CDC pre/post pairs,
    and lands one put-if-absent commit (with the .crc sidecar). Records
    matched-rows/s and mean s/commit; the floors are deliberately
    generous (the box swings ±20-50% under ambient load) and exist to
    catch a regression into minutes-per-UPDATE territory, not to
    benchmark. The content check pins correctness of all N updates."""
    import time

    t = _table(tmp_path)
    n = 200_000
    base = _ev(spark, n)
    for k in range(4):
        t.append(base.filter(F.col("event_id") % 4 == k).repartition(4))
    t0 = time.monotonic()
    n_commits = 5
    for i in range(n_commits):
        t.update_where(
            spark, {"value": f"value + {i + 1}.0"}, f"user_id % 5 = {i}"
        )
    elapsed = time.monotonic() - t0
    per_commit = elapsed / n_commits
    matched = t.read(spark).filter(
        F.col("value") != F.col("event_id") * 1.5
    ).count()
    print(
        f"delta-log UPDATE: {n_commits} commits over {elapsed:.1f}s, "
        f"mean {per_commit:.1f} s/commit, "
        f"{matched / elapsed:.0f} matched-rows/s"
    )
    assert per_commit <= 30.0, f"per-UPDATE latency {per_commit:.1f}s"
    assert matched / elapsed >= 1_000, "matched-row throughput collapsed"
    # every residue class carries its own increment exactly once
    for i in range(5):
        row = (
            t.read(spark)
            .filter((F.col("user_id") % 5 == i) & (F.col("event_id") < 100))
            .select((F.col("value") - F.col("event_id") * 1.5).alias("d"))
            .distinct()
            .collect()
        )
        assert {round(r["d"], 6) for r in row} == {float(i + 1)}


def test_update_where_dv_merge_on_read(spark, tmp_path):
    """DV-backed UPDATE: no original data file is rewritten (byte
    identity asserted), matched rows vanish via per-file DVs, only the
    updated rows land as new files, CDF carries pre/post pairs, row
    ids survive, and a second DV UPDATE on the same file unions into
    a fresh DV."""
    import hashlib

    t = _table(tmp_path)
    t.append(_ev(spark, 100).repartition(2))
    t.enable_row_tracking()
    ids0 = _row_ids(t, spark)

    def digests():
        out = {}
        for p in t.snapshot_files():
            fp = t._abs_of_add_path(p)
            out[p] = hashlib.sha256(open(fp, "rb").read()).hexdigest()
        return out

    before = digests()
    v1 = t.update_where_dv(spark, {"value": "value + 1000.0"}, "event_id < 10")
    after = {p: d for p, d in digests().items() if p in before}
    assert after == {p: d for p, d in before.items()}  # zero rewrites
    got = {r["event_id"]: r["value"] for r in t.read(spark).collect()}
    assert len(got) == 100
    assert all(got[k] == k * 1.5 + 1000.0 for k in range(10))
    assert all(got[k] == k * 1.5 for k in range(10, 100))
    # row ids kept, commit version bumped for updated rows only
    ids1 = _row_ids(t, spark)
    assert {k: v[0] for k, v in ids1.items()} == {
        k: v[0] for k, v in ids0.items()
    }
    assert all(ids1[k][1] == v1 for k in range(10))
    assert all(ids1[k] == ids0[k] for k in range(10, 100))
    # CDF: exact pre/post pairs (the range is (from, to])
    ch = t.read_changes(spark, v1 - 1, v1)
    pre = {r["event_id"]: r["value"] for r in ch.collect()
           if r["_change_type"] == "update_preimage"}
    post = {r["event_id"]: r["value"] for r in ch.collect()
            if r["_change_type"] == "update_postimage"}
    assert pre == {k: k * 1.5 for k in range(10)}
    assert post == {k: k * 1.5 + 1000.0 for k in range(10)}
    # second DV UPDATE on overlapping rows unions the vectors
    t.update_where_dv(spark, {"value": "value + 1.0"}, "event_id in (5, 50)")
    got2 = {r["event_id"]: r["value"] for r in t.read(spark).collect()}
    assert len(got2) == 100
    assert got2[5] == 5 * 1.5 + 1001.0 and got2[50] == 50 * 1.5 + 1.0
    # identity/generated/unknown-column validation mirrors update_where
    with pytest.raises(ValueError, match="unknown column"):
        t.update_where_dv(spark, {"nope": "1"}, "true")
    # OPTIMIZE purges the DVs; content and ids unchanged
    t.optimize(spark, target_files=1)
    assert {r["event_id"]: r["value"] for r in t.read(spark).collect()} == got2
    assert not any(
        a.get("deletionVector") for a in t.snapshot_adds().values()
    )


def test_sink_honors_checkpoint_interval_property(spark, tmp_path):
    """delta.checkpointInterval overrides the sink's default cadence —
    the TABLE decides its log-compaction rhythm."""
    from deltasink_spark.delta_log import DeltaLogSink

    sink = DeltaLogSink(str(tmp_path / "t"), app_id="cpi")
    sink.write_batch(_ev(spark, 5), 0)
    sink.table.set_properties({"delta.checkpointInterval": "2"})  # v1
    for b in range(1, 4):  # v2, v3, v4
        sink.write_batch(_ev(spark, 5), b)
    # checkpoints landed at every even version after the property
    assert sink.table.last_checkpoint() == 4
    import os as _os
    cps = sorted(
        f for f in _os.listdir(sink.table.log_dir)
        if f.endswith(".checkpoint.parquet")
    )
    assert cps == [f"{2:020d}.checkpoint.parquet",
                   f"{4:020d}.checkpoint.parquet"]


def test_data_skipping_num_indexed_cols(spark, tmp_path):
    """delta.dataSkippingNumIndexedCols bounds stats collection to the
    first N table-schema columns (default 32, -1 = all) — on a wide
    table, per-column min/max on everything bloats every add action
    and checkpoint for columns nobody filters on. Statless columns
    still read and filter correctly (skipping is an optimization)."""
    t = _table(tmp_path)
    wide = _ev(spark, 50)
    for i in range(6):
        wide = wide.withColumn(f"x{i}", F.col("event_id") + i)
    t.append(wide.coalesce(1))  # default 32: everything indexed
    st0 = json.loads(next(iter(t.snapshot_adds().values()))["stats"])
    assert "x5" in st0["minValues"]
    t.set_properties({"delta.dataSkippingNumIndexedCols": "3"})
    t.append(wide.withColumn("event_id", F.col("event_id") + 100).coalesce(1))
    newest = max(
        t.snapshot_adds().values(), key=lambda a: a["modificationTime"]
    )
    st1 = json.loads(newest["stats"])
    assert set(st1["minValues"]) == {"event_id", "user_id", "value"}
    assert st1["numRecords"] == 50
    # stats-pruned read over the mixed set stays exact (statless files
    # are scanned, never skipped into wrongness)
    got = {
        r["event_id"]
        for r in t.read_where_stats(spark, "x5", 5, 10).collect()
    }
    assert got == set(range(0, 6)) | set(range(100, 106))


def test_row_tracking_survives_restore(spark, tmp_path):
    """RESTORE re-commits the old snapshot's add actions verbatim —
    their baseRowId/defaultRowCommitVersion ride through, so restored
    rows come back under their ORIGINAL ids (the stability rule)."""
    t = _table(tmp_path)
    t.append(_ev(spark, 20))
    t.enable_row_tracking()
    v_before = t.latest_version()
    ids0 = _row_ids(t, spark)
    t.delete_where(spark, "event_id >= 10")
    assert set(_row_ids(t, spark)) == set(range(10))
    t.restore(spark, v_before)
    assert _row_ids(t, spark) == ids0
    # and the next append still allocates ABOVE the restored ids
    t.append(_ev(spark, 25).filter(F.col("event_id") >= 20))
    ids1 = _row_ids(t, spark)
    assert len({i for i, _ in ids1.values()}) == len(ids1)
    assert min(i for k, (i, _) in ids1.items() if k >= 20) > max(
        i for i, _ in ids0.values()
    )


def test_drop_feature_downgrades_protocol(spark, tmp_path):
    """ALTER TABLE DROP FEATURE: deletionVectors purges DV files via a
    dataChange=false rewrite then delists the feature both sides;
    rowTracking tombstones its domain and strips the properties; the
    post-drop checkpoint anchors foreign readers past the feature's
    actions; content is bit-identical throughout."""
    t = _table(tmp_path)
    t.append(_ev(spark, 40))
    t.enable_row_tracking()
    t.delete_where_dv(spark, "event_id < 5")
    want = {r["event_id"] for r in t.read(spark).collect()}
    assert want == set(range(5, 40))
    p0 = t._protocol_dict()
    assert "deletionVectors" in p0["readerFeatures"]
    t.drop_feature(spark, "deletionVectors")
    p1 = t._protocol_dict()
    assert "deletionVectors" not in (p1.get("readerFeatures") or [])
    assert "deletionVectors" not in p1["writerFeatures"]
    assert not any(
        a.get("deletionVector") for a in t.snapshot_adds().values()
    )
    assert {r["event_id"] for r in t.read(spark).collect()} == want
    # the purge is dataChange=false: CDF over it emits nothing
    assert t.read_changes(
        spark, p0 and t.latest_version() - 2, t.latest_version() - 2
    ).count() == 0
    # a fresh handle (foreign reader) folds from the post-drop anchor
    assert DeltaLogTable(t.path).read(spark).count() == 35
    # rowTracking drop: domain tombstoned, properties stripped, appends
    # stop stamping
    t.drop_feature(spark, "rowTracking")
    p2 = t._protocol_dict()
    assert "rowTracking" not in p2["writerFeatures"]
    assert "delta.rowTracking" not in t.domain_metadata()
    cfg = (t._metadata_dict().get("configuration") or {})
    assert not any(k.startswith("delta.rowTracking") for k in cfg)
    assert "delta.enableRowTracking" not in cfg
    with pytest.raises(ValueError, match="not enabled"):
        t.read_with_row_ids(spark)
    t.append(_ev(spark, 45).filter(F.col("event_id") >= 40))
    newest = max(
        t.snapshot_adds().values(), key=lambda a: a["modificationTime"]
    )
    assert "baseRowId" not in newest
    # unknown / unledgered features refuse
    with pytest.raises(ValueError, match="not ledgered"):
        t.drop_feature(spark, "deletionVectors")
    # typeWidening drop re-stages at the widened types + strips metadata
    t2 = _table(tmp_path, "tw")
    t2.append(_ev(spark, 10).withColumn("small", F.col("event_id").cast("int")))
    t2.append(
        _ev(spark, 20).filter(F.col("event_id") >= 10)
        .withColumn("small", F.col("event_id").cast("long")),
        merge_schema=True,
    )
    t2.drop_feature(spark, "typeWidening")
    p3 = t2._protocol_dict()
    assert "typeWidening" not in (p3.get("readerFeatures") or [])
    s = {f.name: f for f in t2.schema().fields}
    assert "delta.typeChanges" not in (s["small"].metadata or {})
    assert {r["small"] for r in t2.read(spark).collect()} == set(range(20))
    # every live file is physically wide now (int64 footers)
    import pyarrow.parquet as pq
    for p in t2.snapshot_files():
        f = pq.ParquetFile(t2._abs_of_add_path(p))
        assert f.schema_arrow.field("small").type == "int64"


def test_merge_when_clause_vocabulary(spark, tmp_path):
    """merge_when: conditional matched UPDATE (src_-prefixed source
    refs, old-row SET), matched DELETE evaluated first, conditional NOT
    MATCHED INSERT, and NOT MATCHED BY SOURCE DELETE — one commit, CDF
    carries the per-clause vocabulary, untouched files stay untouched,
    row ids survive updates."""
    t = _table(tmp_path)
    t.append(_ev(spark, 10).repartition(1))   # keys 0..9
    t.enable_row_tracking()
    ids0 = _row_ids(t, spark)
    # source: keys 3 (update), 4 (delete wins over update), 5 (update
    # cond false -> kept), 12 (insert), 13 (insert cond false)
    src = spark.createDataFrame(
        [(3, 100.0), (4, -1.0), (5, 0.5), (12, 7.0), (13, -7.0)],
        "event_id bigint, delta double",
    ).withColumn("user_id", F.col("event_id") % 7) \
     .withColumn("value", F.col("delta") * 2)
    v = t.merge_when(
        spark, src, "event_id",
        matched_update={"value": "value + src_delta"},
        matched_update_condition="src_delta >= 1.0",
        matched_delete_condition="src_delta < 0",
        not_matched_insert=True,
        not_matched_insert_condition="delta > 0",
        not_matched_by_source_delete_condition="event_id >= 8",
    )
    got = {r["event_id"]: r["value"] for r in t.read(spark).collect()}
    # 4 deleted (matched delete), 8/9 deleted (by source), 12 inserted,
    # 13 skipped (insert cond), 3 updated (+100), 5 kept (cond false)
    assert set(got) == {0, 1, 2, 3, 5, 6, 7, 12}
    assert got[3] == 3 * 1.5 + 100.0
    assert got[5] == 5 * 1.5
    assert got[12] == 14.0
    # row ids: updated row 3 keeps its id with the MERGE's version;
    # kept rows unchanged; insert mints fresh
    ids1 = _row_ids(t, spark)
    assert ids1[3] == (ids0[3][0], v)
    for k in (0, 1, 2, 5, 6, 7):
        assert ids1[k] == ids0[k]
    assert ids1[12][0] not in {i for i, _ in ids0.values()}
    # CDF: the full per-clause vocabulary in one commit
    ch = t.read_changes(spark, v - 1, v).collect()
    by = {}
    for r in ch:
        by.setdefault(r["_change_type"], set()).add(r["event_id"])
    assert by["update_preimage"] == {3} and by["update_postimage"] == {3}
    assert by["delete"] == {4, 8, 9}
    assert by["insert"] == {12}
    # duplicate source keys refuse
    dup = src.unionByName(src.limit(1))
    with pytest.raises(ValueError, match="duplicate"):
        t.merge_when(spark, dup, "event_id")
    # unconditional whole-row flavors still compose: delete-all-matched
    t.merge_when(
        spark,
        t.read(spark).filter("event_id < 2"),
        "event_id",
        matched_delete_condition="true",
        not_matched_insert=False,
    )
    assert set(
        r["event_id"] for r in t.read(spark).collect()
    ) == {2, 3, 5, 6, 7, 12}


def test_stream_source_accepts_delta_spark_option_names(spark, tmp_path):
    """delta-spark camelCase option aliases: a migrating user's
    readStream options work verbatim (Spark lower-cases option keys;
    explicit snake_case wins on conflict)."""
    from deltasink_spark.delta_log import DeltaTableStreamReader

    t = _table(tmp_path)
    for k in range(3):
        t.append(_ev(spark, (k + 1) * 10).filter(F.col("event_id") >= k * 10))
    r = DeltaTableStreamReader(
        {"path": t.path, "startingversion": "1", "maxfilespertrigger": "1"}
    )
    assert r.initialOffset() == {"v": 0}  # inclusive of version 1
    assert r.max_files_per_trigger == 1
    r2 = DeltaTableStreamReader({"path": t.path, "readchangefeed": "true"})
    assert r2.read_cdf is True
    r3 = DeltaTableStreamReader({"path": t.path, "ignoredeletes": "true"})
    assert r3.ignore_deletes is True
    # snake_case wins over a conflicting alias
    r4 = DeltaTableStreamReader(
        {"path": t.path, "starting_version": "2", "startingversion": "1"}
    )
    assert r4.initialOffset() == {"v": 1}


def test_row_id_stability_random_dml_sequences(spark, tmp_path):
    """Invariant fuzz: under seeded random sequences of DELETE /
    DV-DELETE / UPDATE / MERGE / OPTIMIZE / append, every surviving
    row keeps its row id, updated rows carry the updating commit's
    version, fresh rows mint ids above every prior one, and ids stay
    globally unique — the whole row-tracking contract, path-order
    independent."""
    import random

    for seed in (1, 7):
        rng = random.Random(seed)
        t = _table(tmp_path, f"rnd{seed}")
        t.append(_ev(spark, 30).repartition(2))
        t.enable_row_tracking()
        expect = _row_ids(t, spark)
        live = set(range(30))
        next_key = 1000
        seen_ids = {i for i, _ in expect.values()}
        for _step in range(6):
            op = rng.choice(
                ["delete", "dv_delete", "update", "optimize", "append",
                 "merge"]
            )
            if op in ("delete", "dv_delete") and live:
                k = rng.choice(sorted(live))
                getattr(
                    t, "delete_where" if op == "delete" else "delete_where_dv"
                )(spark, f"event_id = {k}")
                live.discard(k)
                expect.pop(k, None)
            elif op == "update" and live:
                k = rng.choice(sorted(live))
                v = t.update_where(
                    spark, {"value": "value + 1.0"}, f"event_id = {k}"
                )
                expect[k] = (expect[k][0], v)
            elif op == "optimize":
                t.optimize(spark, target_files=2)
            elif op == "append":
                v = t.append(
                    spark.createDataFrame(
                        [(next_key, next_key % 7, 1.0)],
                        "event_id bigint, user_id bigint, value double",
                    )
                )
                live.add(next_key)
                expect[next_key] = (None, v)  # id checked fresh below
                next_key += 1
            elif op == "merge":
                k = rng.choice(sorted(live)) if live else next_key
                src = spark.createDataFrame(
                    [(k, k % 7, 9.0), (next_key, next_key % 7, 2.0)],
                    "event_id bigint, user_id bigint, value double",
                )
                v = t.merge(spark, src, "event_id")
                if k in expect:
                    expect[k] = (expect[k][0], v)
                live.add(next_key)
                live.add(k)
                expect.setdefault(k, (None, v))
                expect[next_key] = (None, v)
                next_key += 1
            got = _row_ids(t, spark)
            assert set(got) == live
            ids_now = [i for i, _ in got.values()]
            assert len(set(ids_now)) == len(ids_now)  # globally unique
            for k, (i, ver) in expect.items():
                if i is None:  # fresh row: id must be NEW, version exact
                    assert got[k][0] not in seen_ids
                    assert got[k][1] == ver
                    expect[k] = got[k]
                else:
                    assert got[k] == (i, ver), f"seed={seed} op={op} k={k}"
            seen_ids |= {i for i, _ in got.values()}


def test_merge_when_insert_mints_identity(spark, tmp_path):
    """merge_when + identity columns: the INSERT clause mints fresh
    values (the source must NOT carry the column — GENERATED ALWAYS),
    matched updates keep the target's value, and the missing-column
    check does not demand the un-suppliable identity column."""
    t = _table(tmp_path)
    t.append(
        _ev(spark, 6),
        identity={"rid": {"start": 0, "step": 1, "order_by": "event_id"}},
    )
    src = spark.createDataFrame(
        [(2, 9, 100.0), (10, 3, 7.0)],
        "event_id bigint, user_id bigint, value double",
    )
    t.merge_when(
        spark, src, "event_id",
        matched_update={"value": "src_value"},
        not_matched_insert=True,
    )
    got = {r["event_id"]: (r["rid"], r["value"])
           for r in t.read(spark).collect()}
    assert got[2] == (2, 100.0)          # update keeps the target's rid
    assert got[10][0] == 6 and got[10][1] == 7.0  # insert mints next id
    rids = [r["rid"] for r in t.read(spark).collect()]
    assert len(rids) == len(set(rids))
    # explicit identity in the source still refuses
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        t.merge_when(
            spark, src.withColumn("rid", F.lit(99)), "event_id",
            not_matched_insert=True,
        )


def test_operation_metrics_delta_spark_vocabulary(spark, tmp_path):
    """operationMetrics speak delta-spark's per-operation names:
    DELETE emits numDeletedRows/numCopiedRows, UPDATE numUpdatedRows/
    numCopiedRows, MERGE numTargetRows{Inserted,Updated,Deleted,
    Copied}, OPTIMIZE numAddedBytes/numRemovedBytes — with values that
    reconcile against the actual row movement."""
    t = _table(tmp_path)
    t.append(_ev(spark, 100).repartition(2))

    def metrics(v):
        for ver, a in t._exact_commit_actions():
            if ver == v and "commitInfo" in a:
                return a["commitInfo"].get("operationMetrics") or {}
        raise AssertionError(f"no commitInfo at v{v}")

    m0 = metrics(0)
    assert m0["numFiles"] == "2" and m0["numOutputRows"] == "100"
    v = t.delete_where(spark, "event_id < 10")
    md = metrics(v)
    assert md["numDeletedRows"] == "10" and md["numCopiedRows"] == "90"
    assert "numOutputRows" not in md
    v = t.update_where(spark, {"value": "value + 1.0"}, "event_id < 30")
    mu = metrics(v)
    assert mu["numUpdatedRows"] == "20"   # 10..29 survive = 20 rows
    assert mu["numCopiedRows"] == "70"
    src = spark.createDataFrame(
        [(15, 1, 0.0), (500, 2, 5.0)], "event_id bigint, user_id bigint, value double"
    )
    v = t.merge(spark, src, "event_id")
    mm = metrics(v)
    assert mm["numTargetRowsInserted"] == "1"
    assert mm["numTargetRowsUpdated"] == "1"
    assert mm["numTargetRowsDeleted"] == "0"
    v = t.optimize(spark, target_files=1)
    mo = metrics(v)
    assert int(mo["numAddedBytes"]) > 0 and int(mo["numRemovedBytes"]) > 0
    assert "numOutputRows" not in mo
    # merge-on-read DELETE: numDeletedRows = the DV-cardinality delta
    v = t.delete_where_dv(spark, "event_id >= 80")
    mv = metrics(v)
    assert mv["numDeletedRows"] == "21"  # 80..99 (20 rows) + 500
    assert int(mv["numDeletionVectorsAdded"]) >= 1


def test_type_features_ledgered_and_gated(spark, tmp_path):
    """timestampNtz / variantType table features, both directions:
    (1) a schema carrying the type ledgers the feature (reader AND
    writer side, protocol (3,7)) — at creation AND when schema
    evolution introduces the column later, in the SAME commit;
    (2) a foreign log demanding the features is accepted by this
    engine, while stripping support makes the gate refuse — a client
    that predates the types must never misread the encodings."""
    import deltasink_spark.delta_log as dl

    # creation-time ledger (NTZ)
    t = _table(tmp_path)
    t.append(
        _ev(spark, 10).withColumn(
            "ntz", F.timestamp_seconds(F.col("event_id")).cast("timestamp_ntz")
        )
    )
    p = t._protocol_dict()
    assert p["minReaderVersion"] == 3 and p["minWriterVersion"] == 7
    assert "timestampNtz" in p["readerFeatures"]
    assert "timestampNtz" in p["writerFeatures"]
    assert t.read(spark).count() == 10
    # evolution-time ledger (VARIANT arrives via merge_schema append)
    t2 = _table(tmp_path, "t2")
    t2.append(_ev(spark, 10))
    assert "variantType" not in (
        (t2._protocol_dict() or {}).get("writerFeatures") or ()
    )
    t2.append(
        _ev(spark, 12)
        .filter(F.col("event_id") >= 10)
        .withColumn("var", F.parse_json(F.lit('{"x": 1}'))),
        merge_schema=True,
    )
    p2 = t2._protocol_dict()
    assert "variantType" in p2["readerFeatures"]
    got = t2.read(spark)
    assert got.count() == 12
    assert (
        got.filter("variant_get(var, '$.x', 'int') = 1").count() == 2
    )
    # the gate refuses when support is stripped (a pre-variant client)
    orig_r = dl._SUPPORTED_READER_FEATURES
    orig_w = dl._SUPPORTED_WRITER_FEATURES
    dl._SUPPORTED_READER_FEATURES = frozenset(orig_r - {"variantType"})
    dl._SUPPORTED_WRITER_FEATURES = frozenset(orig_w - {"variantType"})
    try:
        t3 = DeltaLogTable(t2.path)
        with pytest.raises(ValueError, match="variantType"):
            t3.read(spark)
    finally:
        dl._SUPPORTED_READER_FEATURES = orig_r
        dl._SUPPORTED_WRITER_FEATURES = orig_w
    # NTZ values survive the round-trip exactly (naive wall-clock)
    row = t.read(spark).filter("event_id = 7").collect()[0]
    assert row["ntz"].isoformat() == "1970-01-01T00:00:07"


def test_checkpoint_stats_parsed_prunes_without_json(spark, tmp_path):
    """Checkpoint materialized columns: stats_parsed (typed
    minValues/maxValues/nullCount structs) and partitionValues_parsed
    land in the checkpoint parquet, and read_where_stats decides
    skip/keep for every checkpointed file from those COLUMNS — with
    the JSON tail empty, no add's stats string needs decoding. The
    pruned scan's inputFiles contain only overlapping files; results
    stay exact."""
    import pyarrow.parquet as pq

    t = _table(tmp_path)
    # 4 ordered slices -> 4 files with disjoint event_id ranges
    for i in range(4):
        t.append(
            _ev(spark, (i + 1) * 100)
            .filter(F.col("event_id") >= i * 100)
            .repartition(1)
        )
    cv = t.checkpoint()
    assert cv == 3
    # materialized columns exist with struct types
    ck = pq.read_table(
        os.path.join(t.log_dir, f"{cv:020d}.checkpoint.parquet")
    )
    names = set(ck.schema.names)
    assert "stats_parsed" in names
    sp = ck.schema.field("stats_parsed").type
    assert {f.name for f in sp} == {
        "numRecords", "minValues", "maxValues", "nullCount"
    }
    # the columnar prune decides EVERY live file (tail is empty) and
    # keeps exactly the overlapping one
    adds = t.snapshot_adds()
    decided = t._ckpt_stats_prune("event_id", 120, 180)
    assert set(decided) == set(adds)
    kept = {p for p, skip in decided.items() if not skip}
    assert len(kept) == 1
    out = t.read_where_stats(spark, "event_id", 120, 180)
    files = {os.path.basename(f) for f in out.inputFiles()}
    assert files == {os.path.basename(p) for p in kept}
    assert out.count() == 61  # 120..180 inclusive
    # partitioned table: partitionValues_parsed rides along typed
    t2 = _table(tmp_path, "t2")
    t2.append(_ev(spark, 50), partition_by=("user_id",))
    cv2 = t2.checkpoint()
    ck2 = pq.read_table(
        os.path.join(t2.log_dir, f"{cv2:020d}.checkpoint.parquet")
    )
    pvp = ck2.schema.field("partitionValues_parsed").type
    assert [f.name for f in pvp] == ["user_id"]
    import pyarrow as pa
    assert pa.types.is_integer(pvp.field("user_id").type)
    got = [
        r["user_id"]
        for r in ck2.column("partitionValues_parsed").to_pylist()
        if r is not None
    ]
    assert sorted(set(got)) == list(range(7))


def test_column_defaults_contract(spark, tmp_path):
    """allowColumnDefaults: SET DEFAULT ledgers the writer-only
    feature; omission fills, provision wins (explicit NULL included);
    generated/identity columns refuse a default; DROP DEFAULT stops
    the fill; merge_when INSERTs fill the default too."""
    t = _table(tmp_path)
    t.append(_ev(spark, 5).withColumn("tag", F.lit("x")))
    t.set_column_default("tag", "'dflt'")
    p = t._protocol_dict()
    assert "allowColumnDefaults" in (p.get("writerFeatures") or ())
    assert "readerFeatures" not in p or "allowColumnDefaults" not in (
        p.get("readerFeatures") or ()
    )
    t.append(_ev(spark, 8).filter(F.col("event_id") >= 5))  # omitted
    t.append(
        _ev(spark, 10).filter(F.col("event_id") >= 8)
        .withColumn("tag", F.lit(None).cast("string"))  # explicit NULL wins
    )
    got = {r["event_id"]: r["tag"] for r in t.read(spark).collect()}
    assert got[0] == "x" and got[5] == "dflt" and got[9] is None
    # merge_when INSERT without the defaulted column fills it
    src = spark.createDataFrame(
        [(20, 1, 1.0)], "event_id bigint, user_id bigint, value double"
    )
    t.merge_when(spark, src, "event_id", not_matched_insert=True)
    got = {r["event_id"]: r["tag"] for r in t.read(spark).collect()}
    assert got[20] == "dflt"
    # refusals: generated / identity columns own their values
    t2 = _table(tmp_path, "t2")
    t2.append(
        _ev(spark, 3),
        generated={"g": "value * 2"},
    )
    with pytest.raises(ValueError, match="GENERATED"):
        t2.set_column_default("g", "'x'")
    t3 = _table(tmp_path, "t3")
    t3.append(
        _ev(spark, 3),
        identity={"rid": {"start": 0, "step": 1, "order_by": "event_id"}},
    )
    with pytest.raises(ValueError, match="IDENTITY"):
        t3.set_column_default("rid", "7")
    # DROP DEFAULT: later omissions go back to null
    t.drop_column_default("tag")
    t.append(_ev(spark, 31).filter(F.col("event_id") >= 30))
    got = {r["event_id"]: r["tag"] for r in t.read(spark).collect()}
    assert got[30] is None


def test_vacuum_protocol_check_gates_unknown_writer_features(spark, tmp_path):
    """vacuumProtocolCheck: WITHOUT it, an unknown writerFeature does
    not block vacuum (reads-only gate, delta's historical default);
    WITH it ledgered, vacuum refuses — an unknown writer feature may
    track files an incomplete reachability fold would orphan-delete."""
    t = _table(tmp_path)
    t.append(_ev(spark, 20))
    t.optimize(spark, target_files=1)  # leaves removed files to reclaim
    # foreign upgrade: an unknown WRITER feature lands in the log
    with open(os.path.join(t.log_dir, f"{2:020d}.json"), "w") as fh:
        fh.write(json.dumps({"protocol": {
            "minReaderVersion": 1, "minWriterVersion": 7,
            "writerFeatures": ["appendOnly", "futureWriterThing"],
        }}) + "\n")
        fh.write(json.dumps(
            {"commitInfo": {"timestamp": 1, "operation": "UPGRADE"}}) + "\n")
    t2 = DeltaLogTable(t.path)
    assert t2.vacuum(0, dry_run=True, force=True) > 0  # read gate alone: allowed
    # now the same log ALSO ledgers vacuumProtocolCheck
    with open(os.path.join(t.log_dir, f"{3:020d}.json"), "w") as fh:
        fh.write(json.dumps({"protocol": {
            "minReaderVersion": 1, "minWriterVersion": 7,
            "writerFeatures": [
                "appendOnly", "futureWriterThing", "vacuumProtocolCheck",
            ],
        }}) + "\n")
        fh.write(json.dumps(
            {"commitInfo": {"timestamp": 2, "operation": "UPGRADE"}}) + "\n")
    t3 = DeltaLogTable(t.path)
    with pytest.raises(ValueError, match="futureWriterThing"):
        t3.vacuum(0, dry_run=True, force=True)
    # our own enable method ledgers both sides and vacuum still works
    # on a table whose features we fully support
    u = _table(tmp_path, "u")
    u.append(_ev(spark, 10))
    u.enable_vacuum_protocol_check()
    p = u._protocol_dict()
    assert "vacuumProtocolCheck" in p["readerFeatures"]
    assert "vacuumProtocolCheck" in p["writerFeatures"]
    u.optimize(spark, target_files=1)
    assert u.vacuum(0, dry_run=True, force=True) > 0


def test_cross_process_dml_race(spark, tmp_path):
    """OCC across OS PROCESS boundaries (flock's real contract): two
    subprocesses race row-disjoint copy-on-write DELETEs on the SAME
    files (guaranteed file-level conflict) while the main process
    appends — every verb lands with zero caller retries (the verbs'
    own _occ_retry), the final state is exact, the version sequence
    contiguous. Subprocesses run plain python (no Spark): they drive
    a second handle's metadata-light verbs; the DELETEs themselves
    need Spark, so the two racing deletes run in THREADS here while
    the subprocesses hammer set_properties — mixed-actor contention
    over one log."""
    import subprocess
    import sys as _sys
    import threading

    t = _table(tmp_path)
    t.append(_ev(spark, 200).repartition(2))
    script = r"""
import sys
sys.path.insert(0, "/root/repo")
from deltasink_spark.delta_log import DeltaLogTable
t = DeltaLogTable(sys.argv[1])
for j in range(6):
    t.set_properties({f"p{sys.argv[2]}.k{j}": "v"})
print("done")
"""
    procs = [
        subprocess.Popen(
            [_sys.executable, "-c", script, t.path, str(i)],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        )
        for i in range(2)
    ]
    errors: list[str] = []

    def deleter(lo: int, hi: int) -> None:
        try:
            DeltaLogTable(t.path).delete_where(
                spark, f"event_id >= {lo} AND event_id < {hi}"
            )
        except Exception as ex:
            errors.append(repr(ex))

    th = [
        threading.Thread(target=deleter, args=(0, 30)),
        threading.Thread(target=deleter, args=(100, 130)),
    ]
    for x in th:
        x.start()
    for x in th:
        x.join()
    for p in procs:
        out, err = p.communicate(timeout=120)
        assert p.returncode == 0, (out, err)
    assert not errors, errors
    t2 = DeltaLogTable(t.path)
    got = {r["event_id"] for r in t2.read(spark).collect()}
    assert got == set(range(30, 100)) | set(range(130, 200))
    cfg = (t2._metadata_dict() or {}).get("configuration") or {}
    assert all(f"p{w}.k{j}" in cfg for w in (0, 1) for j in range(6))
    vf = [v for v, _ in t2._version_files()]
    assert vf == list(range(len(vf)))


def test_deep_clone_independence_and_row_ids(spark, tmp_path):
    """deep_clone_from: copied files, cloned row-tracking high-water
    mark (fresh ids in the clone never collide with cloned rows), no
    txn marks cloned (replay guards are per-table), and the clone
    survives the source being vacuumed to nothing."""
    src = _table(tmp_path, "src")
    src.append(_ev(spark, 10), "app", 7)
    src.enable_row_tracking()
    t = _table(tmp_path, "clone")
    t.deep_clone_from(src)
    # row ids cloned; appends mint ABOVE the cloned high-water mark
    ids0 = {r["_row_id"] for r in t.read_with_row_ids(spark).collect()}
    t.append(_ev(spark, 15).filter(F.col("event_id") >= 10))
    ids1 = [r["_row_id"] for r in t.read_with_row_ids(spark).collect()]
    assert len(ids1) == len(set(ids1)) == 15
    assert ids0 < set(ids1)
    # txn marks did NOT clone: the same (app, 7) batch lands
    assert t.append(_ev(spark, 16).filter(F.col("event_id") >= 15),
                    "app", 7) is not None
    # the source vanishes; the clone still reads
    src.delete_where(spark, "event_id >= 0")
    src.vacuum(0, force=True)
    assert t.read(spark).count() == 16


def test_retention_properties_are_authoritative(spark, tmp_path):
    """delta.deletedFileRetentionDuration / delta.logRetentionDuration:
    the TABLE properties drive vacuum and log-cleanup windows; an
    explicit VACUUM retention below the window refuses without
    force=True (delta-spark's retentionDurationCheck)."""
    t = _table(tmp_path)
    t.append(_ev(spark, 20))
    t.optimize(spark, target_files=1)  # superseded files to reclaim
    # default window (spec 1 week): fresh tombstones are NOT deletable
    assert t.vacuum(dry_run=True) == 0
    with pytest.raises(ValueError, match="retentionDurationCheck"):
        t.vacuum(0)
    assert t.vacuum(0, dry_run=True, force=True) > 0
    # the property tightens the window; vacuum() then reclaims
    t.set_properties({"delta.deletedFileRetentionDuration": "interval 0 seconds"})
    assert t.vacuum(dry_run=True) > 0
    # an explicit retention above the window needs no force
    assert t.vacuum(retention_ms=10**12, dry_run=True) == 0
    # bad property text is loud, never silently 0
    t.set_properties({"delta.deletedFileRetentionDuration": "soon"})
    with pytest.raises(ValueError, match="cannot parse duration"):
        t.vacuum(dry_run=True)
    # log cleanup honors delta.logRetentionDuration
    t2 = _table(tmp_path, "t2")
    t2.append(_ev(spark, 5))
    t2.append(_ev(spark, 6).filter(F.col("event_id") >= 5))
    t2.checkpoint()
    assert t2.cleanup_log() == 0  # 30-day default keeps everything
    t2.set_properties({"delta.logRetentionDuration": "interval 0 seconds"})
    assert t2.cleanup_log() > 0


def test_duration_parse_rejects_signs_and_junk():
    """_parse_duration_ms fullmatches the whole property value: a
    malformed retention window ('interval -1 days' reading as +1 day,
    junk-padded text silently narrowing) must ERROR, never become a
    different window that vacuums live readers' files."""
    from deltasink_spark.delta_log import _parse_duration_ms

    day = 86_400_000
    assert _parse_duration_ms("interval 1 week 2 days") == 9 * day
    assert _parse_duration_ms("30 DAYS") == 30 * day
    assert _parse_duration_ms(" interval 1 hour ") == 3_600_000
    for bad in (
        "interval -1 days",
        "garbage 3 days garbage",
        "3 days and 4 hours",
        "interval",
        "-3 days",
        "3 fortnights",
        "1.5 days",
    ):
        with pytest.raises(ValueError, match="cannot parse duration"):
            _parse_duration_ms(bad)


def test_occ_attempts_misconfig_never_noop(spark, tmp_path, monkeypatch):
    """DS_OCC_ATTEMPTS <= 0 clamps to one attempt: a misconfigured env
    var must not turn every decorated DML into a silent no-op
    'success' (the retry loop body would never run)."""
    t = _table(tmp_path)
    t.append(_ev(spark, 10))
    monkeypatch.setenv("DS_OCC_ATTEMPTS", "0")
    assert t.delete_where(spark, "event_id < 5") is not None
    assert t.read(spark).count() == 5
    monkeypatch.setenv("DS_OCC_ATTEMPTS", "-3")
    assert t.delete_where(spark, "event_id < 7") is not None
    assert t.read(spark).count() == 3


def test_deep_clone_contains_traversal_paths(spark, tmp_path):
    """A foreign source log whose relative add path smuggles '..'
    segments must not turn deep clone's copy into a write OUTSIDE the
    clone root — the traversal path falls back to a fresh root-level
    name (same realpath guard the vacuum/read paths enforce)."""
    src = _table(tmp_path, "src")
    src.append(_ev(spark, 10).repartition(1))
    # relocate the data file outside the source root and point the log
    # at it via a '..' relative path (a hostile/foreign log shape)
    [(p, _)] = src.snapshot_adds().items()
    import shutil as _sh
    import urllib.parse as _up

    evil = tmp_path / "evil.parquet"
    _sh.move(src._abs_of_add_path(p), str(evil))
    log0 = os.path.join(src.log_dir, f"{0:020d}.json")
    lines = open(log0).read().splitlines()
    out = []
    for ln in lines:
        a = json.loads(ln)
        if "add" in a:
            a["add"]["path"] = "../evil.parquet"
        out.append(json.dumps(a))
    open(log0, "w").write("\n".join(out) + "\n")
    assert src.read(spark).count() == 10  # foreign read path resolves
    clone = _table(tmp_path, "clone")
    clone.deep_clone_from(src)
    # nothing was written outside the clone root, and the clone is
    # self-contained: the copied file lives under clone/, reads intact
    root = os.path.realpath(str(tmp_path / "clone"))
    [(cp, _)] = clone.snapshot_adds().items()
    resolved = os.path.realpath(clone._abs_of_add_path(cp))
    assert resolved.startswith(root + os.sep)
    assert ".." not in _up.unquote(cp)
    assert clone.read(spark).count() == 10
    evil.unlink()  # the clone must not reference the foreign file
    assert clone.read(spark).count() == 10


def test_checkpoint_parsed_columns_use_real_types(spark, tmp_path):
    """stats_parsed / partitionValues_parsed carry the column's REAL
    data type (int32 for integer, date32 for date, typed decimal /
    timestamp), per the Delta checkpoint spec — not a blanket
    int64/string — so a delta-spark reader schema-reconciles and
    partition-prunes correctly; unrepresentable junk falls back to
    null, never a wrong decode."""
    import datetime as dt
    import decimal as dec

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    rows = [
        (
            1,
            dt.date(2023, 1, 2),
            dt.datetime(2023, 1, 2, 3, 4, 5, 123456),
            dec.Decimal("12.34"),
            2.5,
        ),
        (
            7,
            dt.date(2024, 6, 9),
            dt.datetime(2024, 6, 9, 1, 2, 3),
            dec.Decimal("99.99"),
            -1.5,
        ),
    ]
    schema = T.StructType(
        [
            T.StructField("i", T.IntegerType()),
            T.StructField("d", T.DateType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("m", T.DecimalType(10, 2)),
            T.StructField("f", T.FloatType()),
        ]
    )
    t = _table(tmp_path)
    t.append(spark.createDataFrame(rows, schema).repartition(1))
    cv = t.checkpoint()
    ck = pq.read_table(
        os.path.join(t.log_dir, f"{cv:020d}.checkpoint.parquet")
    )
    mv = ck.schema.field("stats_parsed").type.field("minValues").type
    assert mv.field("i").type == pa.int32()
    assert mv.field("d").type == pa.date32()
    assert mv.field("ts").type == pa.timestamp("us", tz="UTC")
    assert mv.field("m").type == pa.decimal128(10, 2)
    assert mv.field("f").type == pa.float32()
    sp = [r for r in ck.column("stats_parsed").to_pylist() if r][0]
    assert sp["minValues"]["i"] == 1 and sp["maxValues"]["i"] == 7
    assert sp["minValues"]["d"] == dt.date(2023, 1, 2)
    assert sp["minValues"]["m"] == dec.Decimal("12.34")
    assert sp["minValues"]["ts"].replace(tzinfo=None) == dt.datetime(
        2023, 1, 2, 3, 4, 5, 123456
    )
    # the columnar fast path still decides every checkpointed file on
    # a typed column (naive bounds vs tz-aware parsed values)
    decided = t._ckpt_stats_prune("d", dt.date(2023, 1, 1), dt.date(2023, 12, 31))
    assert decided and not any(decided.values())
    decided = t._ckpt_stats_prune(
        "ts", dt.datetime(2025, 1, 1), dt.datetime(2025, 12, 31)
    )
    assert decided and all(decided.values())
    # date-partitioned: partitionValues_parsed is date32 and typed
    t2 = _table(tmp_path, "t2")
    t2.append(
        spark.createDataFrame(rows, schema),
        partition_by=("d",),
    )
    cv2 = t2.checkpoint()
    ck2 = pq.read_table(
        os.path.join(t2.log_dir, f"{cv2:020d}.checkpoint.parquet")
    )
    pvp = ck2.schema.field("partitionValues_parsed").type
    assert pvp.field("d").type == pa.date32()
    got = {
        r["d"]
        for r in ck2.column("partitionValues_parsed").to_pylist()
        if r is not None and r["d"] is not None
    }
    assert got == {dt.date(2023, 1, 2), dt.date(2024, 6, 9)}


def test_auto_optimize_write_bin_packs_appends(spark, tmp_path):
    """delta.autoOptimize.optimizeWrite: an append whose input plan
    arrives in many tiny tasks lands as ONE right-sized file (the
    plan-size estimate is far below one 128 MiB bin), instead of one
    file per input partition."""
    t = _table(tmp_path)
    t.append(_ev(spark, 10))
    assert len(t.snapshot_adds()) >= 1
    t.set_properties({"delta.autoOptimize.optimizeWrite": "true"})
    before = len(t.snapshot_adds())
    t.append(_ev(spark, 30).filter(F.col("event_id") >= 10).repartition(8))
    assert len(t.snapshot_adds()) == before + 1  # not before + 8
    assert t.read(spark).count() == 30


def test_auto_compact_bounds_small_files(spark, tmp_path):
    """delta.autoOptimize.autoCompact: a 10-micro-batch ingest ends
    with a bounded live-file count and bit-identical content, no
    explicit OPTIMIZE call; the compaction commits are
    dataChange=false (CDF skips them) with operationParameters
    auto=true; a concurrent-conflict abort is silent (best-effort)."""
    t = _table(tmp_path)
    t.append(_ev(spark, 10).repartition(1))
    t.set_properties(
        {
            "delta.autoOptimize.autoCompact": "true",
            "delta.autoOptimize.autoCompact.minNumFiles": "4",
        }
    )
    for i in range(1, 11):
        t.append(
            _ev(spark, (i + 1) * 10)
            .filter(F.col("event_id") >= i * 10)
            .repartition(1)
        )
    # bounded: compaction keeps live files under the trigger threshold
    # plus the since-last-trigger tail (10 appends would otherwise be
    # 11+ live files)
    assert len(t.snapshot_adds()) < 5
    assert t.read(spark).count() == 110
    assert (
        t.read(spark).agg(F.sum("event_id")).collect()[0][0]
        == 110 * 109 // 2
    )
    autos = [
        a["commitInfo"]
        for _, a in t._exact_commit_actions()
        if "commitInfo" in a
        and a["commitInfo"].get("operation") == "OPTIMIZE"
        and (a["commitInfo"].get("operationParameters") or {}).get("auto")
        == "true"
    ]
    assert autos  # compaction actually ran, uninvoked
    # CDF: auto compact commits publish NO change rows
    ver = t.latest_version()
    changes = t.read_changes(spark, -1, ver)
    assert changes.filter(F.col("_change_type") == "insert").count() == 110
    # partitioned: the per-partition trigger counts files per
    # partitionValues group, and compaction stays inside partitions
    t2 = _table(tmp_path, "t2")
    t2.append(_ev(spark, 12), partition_by=("user_id",))
    t2.set_properties(
        {
            "delta.autoOptimize.autoCompact": "true",
            "delta.autoOptimize.autoCompact.minNumFiles": "3",
        }
    )
    for i in range(1, 4):
        t2.append(
            _ev(spark, (i + 1) * 12).filter(F.col("event_id") >= i * 12)
        )
    per_part: dict = {}
    for a in t2.snapshot_adds().values():
        k = tuple(sorted((a.get("partitionValues") or {}).items()))
        per_part[k] = per_part.get(k, 0) + 1
    assert max(per_part.values()) < 3
    assert t2.read(spark).count() == 48


def test_stream_schema_change_refuses_without_tracking(spark, tmp_path):
    """A mid-stream schema change (a column added ahead of this
    reader's declared baseline) must fail the stream loudly — a
    running query's output schema is fixed, so serving the new files
    would silently drop the added column. Historical schema changes
    BEHIND the baseline (a restart scanning the creation metaData)
    serve fine — readability is judged by physical identity."""
    from deltasink_spark.delta_log import DeltaTableStreamReader

    t = _table(tmp_path)
    t.append(_ev(spark, 10))
    r = DeltaTableStreamReader({"path": t.path})
    t.append(
        _ev(spark, 20)
        .filter(F.col("event_id") >= 10)
        .withColumn("tag", F.lit("x")),
        merge_schema=True,
    )
    with pytest.raises(ValueError, match="schema.*changed"):
        r.partitions({"v": -1}, {"v": t.latest_version()})
    # a FRESH reader (baseline = evolved schema) serves the whole
    # history: the creation metaData is a physical subset
    r2 = DeltaTableStreamReader({"path": t.path})
    assert r2.partitions({"v": -1}, {"v": t.latest_version()})


def test_stream_schema_tracking_restart_continuity(spark, tmp_path):
    """schemaTrackingLocation end-to-end: run 1 drains under the old
    schema; an unserved old-schema batch plus an evolving append land;
    run 2 FAILS after persisting the new schema to the tracking
    location; run 3 resumes from the same checkpoint under the NEW
    schema — the old-schema file arrives typed-null padded by the
    SOURCE, the evolved rows carry their values."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    t = _table(tmp_path)
    loc = str(tmp_path / "strack")
    ckpt = str(tmp_path / "ckpt")
    t.append(_ev(spark, 10))
    spark.dataSource.register(DeltaTableStreamDataSource)

    def run():
        got: list = []
        q = (
            spark.readStream.format("delta_log_table")
            .option("path", t.path)
            .option("schemaTrackingLocation", loc)
            .load()
            .writeStream.foreachBatch(
                lambda df, bid: got.extend(df.collect())
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return got

    out1 = run()
    assert len(out1) == 10
    assert list(out1[0].asDict()) == ["event_id", "user_id", "value"]
    # unserved old-schema batch, then the schema-evolution commit
    t.append(_ev(spark, 20).filter(F.col("event_id") >= 10))
    t.append(
        _ev(spark, 30)
        .filter(F.col("event_id") >= 20)
        .withColumn("tag", F.concat(F.lit("t"), F.col("user_id"))),
        merge_schema=True,
    )
    with pytest.raises(StreamingQueryException, match="persisted"):
        run()
    out3 = run()
    assert list(out3[0].asDict()) == ["event_id", "user_id", "value", "tag"]
    rows = {r["event_id"]: r["tag"] for r in out3}
    assert set(rows) == set(range(10, 30))
    assert all(rows[i] is None for i in range(10, 20))  # source-padded
    assert all(rows[i] == f"t{i % 7}" for i in range(20, 30))


def test_stream_schema_tracking_rename_and_widen(spark, tmp_path):
    """Non-additive continuity: a column-mapping RENAME rebinds by
    physicalName (old files keep serving under the new logical name),
    and a type WIDENING up-casts pre-widening files — both require the
    tracking restart, and a second change is detected against the
    TRACKED baseline, not the table's current schema."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    t = _table(tmp_path)
    loc = str(tmp_path / "strack2")
    ckpt = str(tmp_path / "ckpt2")
    t.append(
        _ev(spark, 10).withColumn(
            "score", (F.col("event_id") % 5).cast("int")
        )
    )
    t.enable_column_mapping()
    spark.dataSource.register(DeltaTableStreamDataSource)

    def run():
        got: list = []
        q = (
            spark.readStream.format("delta_log_table")
            .option("path", t.path)
            .option("schema_tracking_location", loc)
            .load()
            .writeStream.foreachBatch(
                lambda df, bid: got.extend(df.collect())
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return got

    assert len(run()) == 10
    t.rename_column("score", "points")
    t.append(
        _ev(spark, 20)
        .filter(F.col("event_id") >= 10)
        .withColumn("points", (F.col("event_id") % 5).cast("bigint")),
        merge_schema=True,  # rename already landed; widening int->long
    )
    with pytest.raises(StreamingQueryException, match="persisted"):
        run()
    out = run()
    d = out[0].asDict()
    assert "points" in d and "score" not in d
    rows = {r["event_id"]: r["points"] for r in out}
    assert set(rows) == set(range(10, 20))
    assert all(rows[i] == i % 5 for i in range(10, 20))


def test_stream_skip_change_commits(spark, tmp_path):
    """skipChangeCommits (delta-spark's successor option): a commit
    carrying dataChange removes is skipped in its ENTIRETY — rewrite
    adds never re-serve already-delivered rows."""
    from deltasink_spark.delta_log import DeltaTableStreamReader

    t = _table(tmp_path)
    t.append(_ev(spark, 20))
    t.delete_where(spark, "event_id < 5")
    r = DeltaTableStreamReader({"path": t.path})
    with pytest.raises(ValueError, match="skip_change_commits"):
        r.partitions({"v": -1}, {"v": t.latest_version()})
    # Spark lower-cases DataSource option keys before they reach the
    # reader — direct construction mimics that
    r2 = DeltaTableStreamReader(
        {"path": t.path, "skipchangecommits": "true"}
    )
    parts = r2.partitions({"v": -1}, {"v": t.latest_version()})
    # only version 0's adds serve; the delete commit contributes none
    assert parts and all(p.version == 0 for p in parts)


def test_column_mapping_id_contract(spark, tmp_path):
    """columnMapping mode "id": declared at creation only (files must
    carry field ids from the first byte), files stamp parquet field
    ids matching delta.columnMapping.id, renames are pure metadata,
    DML rewrites stay id-stamped, and the guards hold (no id-mode on
    an existing table, no mode "name" via the creation kwarg, no
    double enable)."""
    import pyarrow.parquet as pq

    t = _table(tmp_path)
    t.append(_ev(spark, 20), column_mapping_mode="id")
    assert t.column_mapping_mode() == "id"
    assert t._protocol_dict() == {"minReaderVersion": 2, "minWriterVersion": 5}
    fids = t.column_field_ids()
    assert sorted(fids.values()) == [1, 2, 3]
    assert all(p.startswith("col-") for p in fids)
    # staged files carry PARQUET field ids matching the log
    for p in t.snapshot_adds():
        sch = pq.read_schema(t._abs_of_add_path(p))
        got = {
            n: int(sch.field(n).metadata[b"PARQUET:field_id"])
            for n in sch.names
        }
        assert got == fids
    # rename = metadata; reads rebind by id/physical
    t.rename_column("user_id", "uid")
    assert t.read(spark).columns == ["event_id", "uid", "value"]
    assert t.read(spark).agg(F.sum("uid")).collect()[0][0] == sum(
        i % 7 for i in range(20)
    )
    # DML rewrite keeps the id discipline
    t.delete_where(spark, "event_id < 5")
    t.optimize(spark, target_files=1)
    assert t.read(spark).count() == 15
    for p in t.snapshot_adds():
        sch = pq.read_schema(t._abs_of_add_path(p))
        assert all(
            sch.field(n).metadata
            and b"PARQUET:field_id" in sch.field(n).metadata
            for n in sch.names
        )
    # guards
    with pytest.raises(ValueError, match="already enabled"):
        t.enable_column_mapping()
    t2 = _table(tmp_path, "t2")
    t2.append(_ev(spark, 5))
    with pytest.raises(ValueError, match="FIRST commit"):
        t2.append(_ev(spark, 5), column_mapping_mode="id")
    with pytest.raises(ValueError, match="only column mapping mode 'id'"):
        _table(tmp_path, "t3").append(
            _ev(spark, 5), column_mapping_mode="name"
        )


def test_column_mapping_id_resolves_foreign_names_by_field_id(
    spark, tmp_path
):
    """A foreign id-mode data file whose physical column NAMES differ
    from the log's physicalName still reads correctly — binding is by
    parquet field id (swapped names would poison a name-based read:
    the values would land in the wrong columns)."""
    import json as _json

    from pyspark.sql.types import StructField, StructType

    path = str(tmp_path / "fid")
    os.makedirs(os.path.join(path, "_delta_log"))
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    tmp = os.path.join(path, "tmp")
    # file names SWAPPED vs semantics: ids are the only truth
    (
        _ev(spark, 10)
        .select(
            F.col("event_id").alias("value", metadata={"parquet.field.id": 1}),
            F.col("user_id").alias("event_id", metadata={"parquet.field.id": 2}),
            F.col("value").alias("user_id", metadata={"parquet.field.id": 3}),
        )
        .coalesce(1)
        .write.parquet(tmp)
    )
    part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
    os.rename(os.path.join(tmp, part), os.path.join(path, "f.parquet"))
    import shutil as _sh

    _sh.rmtree(tmp)
    longt = StructType.fromDDL("x long").fields[0].dataType
    dbl = StructType.fromDDL("x double").fields[0].dataType
    schema_str = StructType(
        [
            StructField("event_id", longt, True,
                        {"delta.columnMapping.id": 1,
                         "delta.columnMapping.physicalName": "col-a"}),
            StructField("user_id", longt, True,
                        {"delta.columnMapping.id": 2,
                         "delta.columnMapping.physicalName": "col-b"}),
            StructField("value", dbl, True,
                        {"delta.columnMapping.id": 3,
                         "delta.columnMapping.physicalName": "col-c"}),
        ]
    ).json()
    with open(os.path.join(path, "_delta_log", f"{0:020d}.json"), "w") as fh:
        for a in [
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
            {"metaData": {
                "id": "00000000-0000-0000-0000-0000000000f1",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema_str, "partitionColumns": [],
                "configuration": {"delta.columnMapping.mode": "id",
                                  "delta.columnMapping.maxColumnId": "3"},
                "createdTime": 1,
            }},
            {"add": {"path": "f.parquet", "partitionValues": {},
                     "size": 1, "modificationTime": 1,
                     "dataChange": True}},
        ]:
            fh.write(_json.dumps(a) + "\n")
    t = DeltaLogTable(path)
    out = t.read(spark)
    rows = {r["event_id"]: (r["user_id"], r["value"]) for r in out.collect()}
    assert set(rows) == set(range(10))
    assert all(rows[i] == (i % 7, i * 1.5) for i in range(10))


def test_vacuum_lite_vs_full_untracked_debris(spark, tmp_path):
    """VACUUM LITE vs FULL (delta-spark 3.3): LITE drives deletion
    from the log's remove history alone — identical tracked deletions
    to FULL, but a planted UNTRACKED debris file (crash-orphaned
    stage residue) survives; FULL's directory walk reclaims it (and
    empty debris dirs) past the retention window, never touching live
    files, live DVs, or hidden trees."""
    t = _table(tmp_path)
    t.append(_ev(spark, 30))
    t.optimize(spark, target_files=1)  # superseded file -> tombstone
    # planted debris: an orphaned data file and a crashed stage dir,
    # both backdated past any window
    debris = os.path.join(t.path, "part-orphan-crashed.parquet")
    open(debris, "wb").write(b"junk")
    os.utime(debris, (1, 1))
    ddir = os.path.join(t.path, "tmp_stage_dead")
    os.makedirs(ddir)
    dfile = os.path.join(ddir, "part-half-staged.parquet")
    open(dfile, "wb").write(b"junk")
    os.utime(dfile, (1, 1))
    os.utime(ddir, (1, 1))
    # LITE and FULL agree on TRACKED deletions (dry-run counts)
    lite_n = t.vacuum(0, dry_run=True, force=True)
    full_n = t.vacuum(0, dry_run=True, force=True, mode="full")
    assert full_n == lite_n + 2  # exactly the two debris files differ
    # LITE: tombstoned files reclaimed, debris untouched
    assert t.vacuum(0, force=True) == lite_n
    assert os.path.exists(debris) and os.path.exists(dfile)
    assert t.read(spark).count() == 30
    # FULL: debris (and its empty dir) reclaimed, table intact
    assert t.vacuum(0, force=True, mode="full") == 2
    assert not os.path.exists(debris)
    assert not os.path.exists(ddir)
    assert os.path.isdir(t.log_dir)  # hidden trees untouched
    assert t.read(spark).count() == 30
    # a FRESH untracked file inside the window is protected by mtime
    fresh = os.path.join(t.path, "part-fresh-inflight.parquet")
    open(fresh, "wb").write(b"junk")
    assert t.vacuum(retention_ms=10**12, force=True, mode="full") == 0
    assert os.path.exists(fresh)
    with pytest.raises(ValueError, match="lite.*full|full.*lite"):
        t.vacuum(0, force=True, mode="deep")


def test_uniform_iceberg_metadata_round_trip(spark, tmp_path):
    """UniForm: every enabled commit regenerates the Iceberg tree;
    the iceberg-only fold names exactly the live set across append ->
    delete -> optimize; refusals fire on DVs and partitioning; the
    metadata chain carries prior snapshots and a monotone
    version-hint."""
    from deltasink_spark.uniform import (
        avro_ocf_read,
        read_iceberg_live_files,
    )

    t = _table(tmp_path)
    t.append(_ev(spark, 20))
    t.set_properties(
        {"delta.universalFormat.enabledFormats": "iceberg"}
    )
    t.append(_ev(spark, 40).filter(F.col("event_id") >= 20))
    files = read_iceberg_live_files(t.path)
    assert {os.path.realpath(f["file_path"]) for f in files} == {
        os.path.realpath(t._abs_of_add_path(p)) for p in t.snapshot_adds()
    }
    assert sum(f["record_count"] for f in files) == 40
    t.delete_where(spark, "event_id < 5")
    t.optimize(spark, target_files=1)
    files = read_iceberg_live_files(t.path)
    assert {os.path.realpath(f["file_path"]) for f in files} == {
        os.path.realpath(t._abs_of_add_path(p)) for p in t.snapshot_adds()
    }
    assert sum(f["record_count"] for f in files) == 35
    # metadata chain: version-hint tracks delta version + 1, snapshots
    # accumulate, manifest list is a well-formed OCF with our schema
    meta_dir = os.path.join(t.path, "metadata")
    n = int(open(os.path.join(meta_dir, "version-hint.text")).read())
    assert n == t.latest_version() + 1
    md = json.load(open(os.path.join(meta_dir, f"v{n}.metadata.json")))
    assert md["format-version"] == 2
    assert len(md["snapshots"]) >= 3
    snap = next(
        s
        for s in md["snapshots"]
        if s["snapshot-id"] == md["current-snapshot-id"]
    )
    schema_json, _bodies, counts = avro_ocf_read(snap["manifest-list"])
    # incremental snapshots: the list carries this commit's delta
    # manifest plus rewritten/carried prior manifests (>= 1 entries)
    assert "manifest_file" in schema_json and sum(counts) >= 1
    fids = {
        f["name"]: f["id"] for f in md["schemas"][0]["fields"]
    }
    assert fids == {"event_id": 1, "user_id": 2, "value": 3}
    # FULL vacuum never touches the Iceberg metadata tree (it is
    # the catalog surface, exactly as off-limits as _delta_log) —
    # the fold still works after debris reclamation
    t.vacuum(0, force=True, mode="full")
    files = read_iceberg_live_files(t.path)
    assert sum(f["record_count"] for f in files) == 35
    # refusals: DVs and partitioning are icebergCompatV2 violations —
    # the DV one fires from the post-commit hook itself (the Delta
    # commit is durable; the Iceberg view refuses to misrepresent it)
    with pytest.raises(ValueError, match="deletion vectors"):
        t.delete_where_dv(spark, "event_id = 10")
    assert t.read(spark).count() == 34  # the delta DELETE landed
    # partitioned table: identity partition spec, typed per-file
    # partition values in the manifest, reconstructable by a reader
    t2 = _table(tmp_path, "t2")
    t2.append(_ev(spark, 14), partition_by=("user_id",))
    t2.set_properties({"delta.universalFormat.enabledFormats": "iceberg"})
    t2.append(_ev(spark, 28).filter(F.col("event_id") >= 14))
    files2 = read_iceberg_live_files(t2.path)
    assert {os.path.realpath(f["file_path"]) for f in files2} == {
        os.path.realpath(t2._abs_of_add_path(p))
        for p in t2.snapshot_adds()
    }
    got_parts = {f["partition"]["user_id"] for f in files2}
    assert got_parts == set(range(7))
    md2 = json.load(
        open(
            os.path.join(
                t2.path, "metadata",
                f"v{t2.latest_version() + 1}.metadata.json",
            )
        )
    )
    spec = md2["partition-specs"][0]
    assert spec["fields"][0]["transform"] == "identity"
    assert spec["fields"][0]["field-id"] == 1000
    assert md2["last-partition-id"] == 1000
    # identity readers materialize the partition column from metadata:
    # per-file reads + lit(partition value) reconstruct the table
    import functools as _ft

    frames = [
        spark.read.parquet(f["file_path"]).withColumn(
            "user_id", F.lit(f["partition"]["user_id"]).cast("long")
        )
        for f in files2
    ]
    whole = _ft.reduce(lambda x, y: x.unionByName(y), frames)
    assert whole.count() == 28
    assert whole.groupBy().sum("user_id").collect()[0][0] == sum(
        i % 7 for i in range(28)
    )


def test_uniform_foreign_shape_acceptance(spark, tmp_path):
    """The iceberg fold accepts a FOREIGN-authored metadata tree: two
    manifests in one list, entries with explicit sequence-number
    branches, and a status=2 (deleted) entry that must be skipped."""
    import json as _json

    from deltasink_spark import uniform as U

    root = str(tmp_path / "ice")
    meta = os.path.join(root, "metadata")
    os.makedirs(meta)
    df = _ev(spark, 30)
    p1 = os.path.join(root, "f1.parquet")
    p2 = os.path.join(root, "f2.parquet")
    p3 = os.path.join(root, "f3.parquet")
    for p, lo, hi in ((p1, 0, 10), (p2, 10, 20), (p3, 20, 30)):
        tmp = p + ".d"
        df.filter(
            (F.col("event_id") >= lo) & (F.col("event_id") < hi)
        ).coalesce(1).write.mode("overwrite").parquet(tmp)
        part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        os.rename(os.path.join(tmp, part), p)
        import shutil as _sh

        _sh.rmtree(tmp)

    def entry(status, path, nrec):
        out = bytearray()
        from deltasink_spark.operators.avro import write_long as wl

        wl(status, out)
        wl(1, out); wl(77, out)          # snapshot_id branch set
        wl(1, out); wl(5, out)           # sequence_number branch SET
        wl(1, out); wl(5, out)           # file_sequence_number SET
        wl(0, out)                       # content
        raw = path.encode(); wl(len(raw), out); out += raw
        raw = b"PARQUET"; wl(len(raw), out); out += raw
        wl(nrec, out); wl(1, out)
        return bytes(out)

    m1 = os.path.join(meta, "m1.avro")
    m2 = os.path.join(meta, "m2.avro")
    U.avro_ocf_write(
        m1, U._MANIFEST_ENTRY_SCHEMA,
        [entry(1, p1, 10), entry(2, p3, 10)],  # p3 DELETED
    )
    U.avro_ocf_write(
        m2, U._MANIFEST_ENTRY_SCHEMA, [entry(0, p2, 10)]
    )
    ml = os.path.join(meta, "snap-77-1-x.avro")
    U.avro_ocf_write(
        ml, U._MANIFEST_LIST_SCHEMA,
        [
            U._encode_manifest_list_entry(m1, os.path.getsize(m1), 5, 77, 2, 20),
            U._encode_manifest_list_entry(m2, os.path.getsize(m2), 5, 77, 1, 10),
        ],
    )
    md = {
        "format-version": 2,
        "current-snapshot-id": 77,
        "snapshots": [
            {"snapshot-id": 77, "sequence-number": 5,
             "timestamp-ms": 1, "manifest-list": ml},
        ],
    }
    _json.dump(md, open(os.path.join(meta, "v3.metadata.json"), "w"))
    open(os.path.join(meta, "version-hint.text"), "w").write("3")
    files = U.read_iceberg_live_files(root)
    assert {f["file_path"] for f in files} == {p1, p2}
    out = spark.read.parquet(*sorted(f["file_path"] for f in files))
    assert {r["event_id"] for r in out.collect()} == set(range(20))


def test_stream_source_id_mode_binds_by_field_id(spark, tmp_path):
    """The table STREAM source on an id-mode table binds file columns
    by parquet field id — a foreign file with swapped physical names
    streams with values in the right columns."""
    import json as _json
    import shutil as _sh

    from pyspark.sql.types import StructField, StructType

    path = str(tmp_path / "fid")
    os.makedirs(os.path.join(path, "_delta_log"))
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    tmp = os.path.join(path, "tmp")
    (
        _ev(spark, 10)
        .select(
            F.col("event_id").alias("value", metadata={"parquet.field.id": 1}),
            F.col("user_id").alias("event_id", metadata={"parquet.field.id": 2}),
            F.col("value").alias("user_id", metadata={"parquet.field.id": 3}),
        )
        .coalesce(1)
        .write.parquet(tmp)
    )
    part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
    os.rename(os.path.join(tmp, part), os.path.join(path, "f.parquet"))
    _sh.rmtree(tmp)
    longt = StructType.fromDDL("x long").fields[0].dataType
    dbl = StructType.fromDDL("x double").fields[0].dataType
    schema_str = StructType(
        [
            StructField("event_id", longt, True,
                        {"delta.columnMapping.id": 1,
                         "delta.columnMapping.physicalName": "col-a"}),
            StructField("user_id", longt, True,
                        {"delta.columnMapping.id": 2,
                         "delta.columnMapping.physicalName": "col-b"}),
            StructField("value", dbl, True,
                        {"delta.columnMapping.id": 3,
                         "delta.columnMapping.physicalName": "col-c"}),
        ]
    ).json()
    with open(os.path.join(path, "_delta_log", f"{0:020d}.json"), "w") as fh:
        for a in [
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
            {"metaData": {
                "id": "00000000-0000-0000-0000-0000000000f2",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema_str, "partitionColumns": [],
                "configuration": {"delta.columnMapping.mode": "id",
                                  "delta.columnMapping.maxColumnId": "3"},
                "createdTime": 1,
            }},
            {"add": {"path": "f.parquet", "partitionValues": {},
                     "size": 1, "modificationTime": 1,
                     "dataChange": True}},
        ]:
            fh.write(_json.dumps(a) + "\n")
    spark.dataSource.register(DeltaTableStreamDataSource)
    from deltasink_spark.queries.sources_sinks import _run_until

    out = _run_until(
        spark,
        spark.readStream.format("delta_log_table")
        .option("path", path)
        .load(),
        min_rows=10,
    )
    rows = {r["event_id"]: (r["user_id"], r["value"]) for r in out.collect()}
    assert set(rows) == set(range(10))
    assert all(rows[i] == (i % 7, i * 1.5) for i in range(10))


def test_stream_schema_tracking_id_mode_restart_not_stuck(spark, tmp_path):
    """A schema-tracking RESTART on a columnMapping mode "id" table
    must rebuild the physical map from the tracked schema — otherwise
    partition/physical comparisons fall back to logical names and
    every config-only metaData commit spuriously trips the
    readability check, wedging the stream in a fail/restart loop."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    t = _table(tmp_path)
    t.append(_ev(spark, 10), column_mapping_mode="id")
    loc = str(tmp_path / "loc")
    ckpt = str(tmp_path / "ck")
    spark.dataSource.register(DeltaTableStreamDataSource)

    def run():
        got: list = []
        q = (
            spark.readStream.format("delta_log_table")
            .option("path", t.path)
            .option("schema_tracking_location", loc)
            .load()
            .writeStream.foreachBatch(
                lambda df, bid: got.extend(df.collect())
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return got

    assert len(run()) == 10
    # force a TRACKED restart baseline: an additive evolution fails
    # the run (persisting the new schema), then the restart must sail
    # through config-only commits and serve everything
    t.append(
        _ev(spark, 20)
        .filter(F.col("event_id") >= 10)
        .withColumn("tag", F.lit("x")),
        merge_schema=True,
    )
    t.set_properties({"delta.appendOnly": "false"})  # config-only meta
    t.append(
        _ev(spark, 30)
        .filter(F.col("event_id") >= 20)
        .withColumn("tag", F.lit("y")),
    )
    with pytest.raises(StreamingQueryException, match="persisted"):
        run()
    out = run()  # restart under tracked id-mode schema: no re-trip
    assert {r["event_id"] for r in out} == set(range(10, 30))
    assert {r["tag"] for r in out} == {"x", "y"}


def test_uniform_uses_column_mapping_ids(spark, tmp_path):
    """On an id-mapped table the Iceberg schema's field ids must BE
    the columnMapping ids (icebergCompatV2's rule — the same ids ride
    the parquet files as field ids, so an Iceberg reader binds
    columns without any name translation)."""
    from deltasink_spark.uniform import read_iceberg_live_files

    t = _table(tmp_path)
    t.append(_ev(spark, 12), column_mapping_mode="id")
    t.set_properties({"delta.universalFormat.enabledFormats": "iceberg"})
    t.append(_ev(spark, 24).filter(F.col("event_id") >= 12))
    meta_dir = os.path.join(t.path, "metadata")
    n = int(open(os.path.join(meta_dir, "version-hint.text")).read())
    md = json.load(open(os.path.join(meta_dir, f"v{n}.metadata.json")))
    ice_ids = {f["name"]: f["id"] for f in md["schemas"][0]["fields"]}
    cm = t.column_mapping()
    delta_ids = {
        l: t.column_field_ids()[p] for l, p in cm.items()
    }
    assert ice_ids == delta_ids
    files = read_iceberg_live_files(t.path)
    assert sum(f["record_count"] for f in files) == 24


def test_auto_compact_bounds_streaming_ingest(spark, tmp_path, sf_small):
    """The continuous-ingest story end-to-end: a checkpointed stream
    draining through DeltaLogSink with autoOptimize properties ends
    with a BOUNDED live-file count and exactly-once content, no
    maintenance job — the append hooks fire identically under
    foreachBatch."""
    from deltasink_spark.sources import events_stream
    from deltasink_spark.tables import load

    path = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    sink = DeltaLogSink(path, app_id="t_autocompact")
    # seed the table so the properties exist before the drain
    first = load(spark, sf_small, "events").select("event_id", "value")
    sink.table.append(first.limit(0))
    sink.table.set_properties(
        {
            "delta.autoOptimize.optimizeWrite": "true",
            "delta.autoOptimize.autoCompact": "true",
            "delta.autoOptimize.autoCompact.minNumFiles": "4",
        }
    )
    s = events_stream(spark, sf_small).select("event_id", "value")
    q = (
        s.writeStream.foreachBatch(sink.foreach_batch())
        .option("checkpointLocation", ckpt)
        .option("maxFilesPerTrigger", "1")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    expected = load(spark, sf_small, "events").count()
    assert sink.table.read(spark).count() == expected
    assert len(sink.table.snapshot_adds()) < 5


def test_uniform_name_mapping_property_and_field_ids(spark, tmp_path):
    """UniForm on a NAME-mapped table: the Iceberg metadata carries
    schema.name-mapping.default binding each field id to the physical
    (file) column name — the spec mechanism for id-less history —
    and files staged after mapping carry real parquet field ids, so
    post-mapping writes bind by id."""
    import pyarrow.parquet as pq

    t = _table(tmp_path)
    t.append(_ev(spark, 10))  # pre-mapping, id-less file
    t.enable_column_mapping()
    t.rename_column("user_id", "uid")
    t.set_properties({"delta.universalFormat.enabledFormats": "iceberg"})
    t.append(_ev(spark, 20).filter(F.col("event_id") >= 10)
             .withColumnRenamed("user_id", "uid"))
    meta_dir = os.path.join(t.path, "metadata")
    n = int(open(os.path.join(meta_dir, "version-hint.text")).read())
    md = json.load(open(os.path.join(meta_dir, f"v{n}.metadata.json")))
    nm = json.loads(md["properties"]["schema.name-mapping.default"])
    by_id = {e["field-id"]: e["names"] for e in nm}
    # uid's physicalName is frozen at 'user_id' — both names listed
    uid_field = next(
        f for f in md["schemas"][0]["fields"] if f["name"] == "uid"
    )
    assert set(by_id[uid_field["id"]]) == {"uid", "user_id"}
    # the post-mapping file carries parquet field ids
    newest = max(
        (t._abs_of_add_path(p) for p in t.snapshot_adds()),
        key=os.path.getmtime,
    )
    sch = pq.read_schema(newest)
    assert any(
        f_.metadata and b"PARQUET:field_id" in f_.metadata
        for f_ in (sch.field(i) for i in range(len(sch.names)))
    )


def test_stream_schema_tracking_cdf_mode(spark, tmp_path):
    """schemaTrackingLocation composes with readChangeFeed: a
    mid-stream evolution fails the CDF stream after persisting the
    new schema; the restart serves pre-evolution cdc/add files padded
    to the tracked schema with the CDF metadata columns intact."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    t = _table(tmp_path)
    loc = str(tmp_path / "loc")
    ckpt = str(tmp_path / "ck")
    t.append(_ev(spark, 10))
    spark.dataSource.register(DeltaTableStreamDataSource)

    def run():
        got: list = []
        q = (
            spark.readStream.format("delta_log_table")
            .option("path", t.path)
            .option("read_cdf", "true")
            .option("schemaTrackingLocation", loc)
            .load()
            .writeStream.foreachBatch(
                lambda df, bid: got.extend(df.collect())
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return got

    out1 = run()
    assert len(out1) == 10
    t.delete_where(spark, "event_id < 3")  # cdc commit, old schema
    t.append(
        _ev(spark, 20)
        .filter(F.col("event_id") >= 10)
        .withColumn("tag", F.lit("z")),
        merge_schema=True,
    )
    with pytest.raises(StreamingQueryException, match="persisted"):
        run()
    out = run()
    kinds = {}
    for r in out:
        kinds.setdefault(r["_change_type"], []).append(r)
    assert len(kinds["delete"]) == 3  # old-schema cdc rows served
    assert all(r["tag"] is None for r in kinds["delete"])  # padded
    assert len(kinds["insert"]) == 10
    assert all(r["tag"] == "z" for r in kinds["insert"])


def test_uniform_incremental_snapshots_and_position_deletes(spark, tmp_path):
    """Incremental UniForm lifecycle: append snapshots write ONE delta
    manifest and carry prior manifests forward BY PATH (no rewrite);
    a rewrite commit tombstones removed files for exactly one
    snapshot; DVs materialize as position-delete files that are
    digest-keyed (unchanged DV -> same file, no rewrite) and the
    merge-on-read fold reproduces the table."""
    from deltasink_spark.uniform import (
        _decode_manifest_list,
        avro_ocf_read,
        read_iceberg_changelog,
        read_iceberg_deletes,
        read_iceberg_live_files,
    )

    def manifest_paths(t):
        meta_dir = os.path.join(t.path, "metadata")
        n = int(open(os.path.join(meta_dir, "version-hint.text")).read())
        md = json.load(open(os.path.join(meta_dir, f"v{n}.metadata.json")))
        snap = next(
            s
            for s in md["snapshots"]
            if s["snapshot-id"] == md["current-snapshot-id"]
        )
        _s, bodies, counts = avro_ocf_read(snap["manifest-list"])
        out = []
        for body, cnt in zip(bodies, counts):
            out.extend(_decode_manifest_list(body, cnt))
        return out

    t = _table(tmp_path)
    t.append(_ev(spark, 20))
    t.set_properties(
        {
            "delta.universalFormat.enabledFormats": "iceberg",
            "delta.enableIcebergCompatV2": "true",
        }
    )
    first = manifest_paths(t)
    assert len(first) == 1
    t.append(_ev(spark, 40).filter(F.col("event_id") >= 20))
    second = manifest_paths(t)
    # carry-forward is BY PATH: the enable-time manifest rides along
    assert first[0]["manifest_path"] in {m["manifest_path"] for m in second}
    assert len(second) == 2
    new_m = next(
        m
        for m in second
        if m["manifest_path"] != first[0]["manifest_path"]
    )
    assert new_m["added_files_count"] >= 1
    # per-snapshot changelog: both enabled commits are appends
    ops = [
        (s["operation"], len(s["added"]), len(s["removed"]))
        for s in read_iceberg_changelog(t.path)
    ]
    assert all(op == "append" and rm == 0 for op, _a, rm in ops)
    # DV delete: position-delete file appears, fold applies it
    t.delete_where_dv(spark, "event_id % 10 = 0")
    dels = read_iceberg_deletes(t.path)
    assert dels and all(d["content"] == 1 for d in dels)
    assert sum(d["record_count"] for d in dels) == 4
    del_paths = {d["file_path"] for d in dels}
    # snapshot summary for the DV commit is a delete
    assert read_iceberg_changelog(t.path)[-1]["operation"] == "delete"
    # unchanged DV state on the next commit: SAME delete files (the
    # digest key), carried forward without rewrite
    t.append(_ev(spark, 41).filter(F.col("event_id") >= 40))
    dels2 = read_iceberg_deletes(t.path)
    assert {d["file_path"] for d in dels2} == del_paths
    # merge-on-read: data files minus (file, pos) tombstones == table
    data = read_iceberg_live_files(t.path)
    df = spark.read.parquet(*sorted({f["file_path"] for f in data}))
    enc = F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1)
    df = df.withColumn("__file", F.url_decode(enc)).withColumn(
        "__pos", F.col("_metadata.row_index")
    )
    dd = spark.read.parquet(*sorted(del_paths)).select(
        F.element_at(F.split("file_path", "/"), -1).alias("dv_file"),
        F.col("pos").alias("dv_pos"),
    )
    got = df.join(
        F.broadcast(dd),
        (F.col("__file") == F.col("dv_file"))
        & (F.col("__pos") == F.col("dv_pos")),
        "left_anti",
    ).select("event_id", "user_id", "value")
    assert got.exceptAll(t.read(spark)).isEmpty()
    assert t.read(spark).exceptAll(got).isEmpty()
    assert got.count() == 37  # 41 rows - 4 DV'd


def test_data_skipping_stats_columns(spark, tmp_path):
    """`delta.dataSkippingStatsColumns`: the explicit opt-in list
    overrides the first-N rule — post-SET adds carry stats ONLY for
    listed columns, the checkpoint's stats_parsed struct drops
    unlisted fields, SET-time validation refuses bad lists, and an
    unlisted column's range read degrades to scan (never a wrong
    prune)."""
    import pyarrow.parquet as pq

    t = _table(tmp_path)
    t.append(_ev(spark, 50).repartition(1))
    # SET-time validation: unknown names, nested paths refuse
    with pytest.raises(ValueError, match="unknown column"):
        t.set_properties({"delta.dataSkippingStatsColumns": "nope"})
    with pytest.raises(ValueError, match="nested"):
        t.set_properties({"delta.dataSkippingStatsColumns": "value.x"})
    with pytest.raises(ValueError, match="empty entry"):
        t.set_properties({"delta.dataSkippingStatsColumns": "value,,"})
    t.set_properties({"delta.dataSkippingStatsColumns": "value, user_id"})
    t.append(
        _ev(spark, 100).filter(F.col("event_id") >= 50).repartition(1)
    )
    # post-SET add: stats only for the listed columns
    post = [
        json.loads(a["stats"])
        for p, a in t.snapshot_adds().items()
        if json.loads(a["stats"])["numRecords"] == 50
        and json.loads(a["stats"]).get("minValues", {}).get("event_id")
        is None
    ]
    assert post, "post-SET file not found"
    assert set(post[0]["minValues"]) == {"value", "user_id"}
    assert set(post[0]["nullCount"]) == {"value", "user_id"}
    # checkpoint: stats_parsed struct carries ONLY the listed fields
    cv = t.checkpoint()
    ck = pq.read_table(
        os.path.join(t.log_dir, f"{cv:020d}.checkpoint.parquet")
    )
    mv = next(
        f for f in ck.schema.field("stats_parsed").type
        if f.name == "minValues"
    )
    assert {f.name for f in mv.type} == {"value", "user_id"}
    # unlisted column: degrade to scan, exact result
    full = t.read(spark).filter(
        (F.col("event_id") >= 10) & (F.col("event_id") <= 60)
    )
    got = t.read_where_stats(spark, "event_id", 10, 60)
    assert got.exceptAll(full).isEmpty() and full.exceptAll(got).isEmpty()
    # both files scan: the pre-SET file overlaps [10,60] and the
    # post-SET file has no event_id stats
    assert len(set(got.inputFiles())) == 2
    # listed column still prunes from the checkpointed parsed stats
    decided = t._ckpt_stats_prune("user_id", 0, 6)
    assert decided and not all(decided.values())


def test_checkpoint_protection_guards_all_artifact_classes(spark, tmp_path):
    """checkpointProtection protects every artifact class below the
    horizon — commits, compacted segments, superseded checkpoints —
    while a boundary at/past the horizon releases them all in one
    run; an unledgered table is unrestricted by the same property
    value (the gate keys on the FEATURE, not the property alone)."""
    t = _table(tmp_path)
    for i in range(4):
        t.append(_ev(spark, 10 * (i + 1)).filter(F.col("event_id") >= 10 * i))
    t.compact_log(0, 2)          # a segment wholly below the horizon
    cv1 = t.checkpoint()         # superseded once cv2 lands
    assert cv1 == 3
    ve = t.enable_checkpoint_protection()  # horizon = ve + 1 = 5
    # property WITHOUT the feature does not gate: a plain table with
    # the same config cleans freely
    u = _table(tmp_path, "unledgered")
    u.append(_ev(spark, 10))
    u.append(_ev(spark, 20).filter(F.col("event_id") >= 10))
    u.set_properties(
        {"delta.requireCheckpointProtectionBeforeVersion": "99"}
    )
    ucv = u.checkpoint()
    assert u.cleanup_log(retention_ms=0) > 0
    assert u._version_files()[0][0] > 0
    # ledgered table, boundary below horizon: nothing leaves — not
    # the commits, not the segment, not the superseded checkpoint
    before = set(os.listdir(t.log_dir))
    assert t.cleanup_log(retention_ms=0) == 0
    assert set(os.listdir(t.log_dir)) == before
    # boundary at the horizon: the whole region (all three classes)
    # leaves in one run
    t.append(_ev(spark, 41).filter(F.col("event_id") >= 40))  # v5
    cv2 = t.checkpoint()
    assert cv2 == ve + 1
    assert t.cleanup_log(retention_ms=0) > 0
    left = os.listdir(t.log_dir)
    assert not [f for f in left if ".compacted." in f]
    assert t._version_files()[0][0] >= ve + 1
    assert t.read(spark).count() == 41


def test_uniform_hudi_timeline(spark, tmp_path):
    """The hudi UniForm target: hoodie.properties written once, one
    completed instant per enabled commit (version-ordered), a
    rewriting DELETE lands as a replacecommit whose replaced fileIds
    are exactly the removed file groups, the timeline-only fold
    matches the Delta live set at every step, and iceberg+hudi ride
    one table simultaneously."""
    from deltasink_spark.hudi import (
        _timeline_instants,
        read_hudi_live_files,
    )
    from deltasink_spark.uniform import read_iceberg_live_files

    t = _table(tmp_path)
    t.append(_ev(spark, 20))
    t.set_properties(
        {"delta.universalFormat.enabledFormats": "iceberg,hudi"}
    )
    hd = os.path.join(t.path, ".hoodie")
    assert os.path.exists(os.path.join(hd, "hoodie.properties"))
    props = open(os.path.join(hd, "hoodie.properties")).read()
    assert "hoodie.table.type=COPY_ON_WRITE" in props
    t.append(_ev(spark, 40).filter(F.col("event_id") >= 20))
    before = {f["fileId"] for f in read_hudi_live_files(t.path)}
    assert {os.path.realpath(f["abs_path"]) for f in read_hudi_live_files(t.path)} == {
        os.path.realpath(t._abs_of_add_path(p)) for p in t.snapshot_adds()
    }
    pre_delete_adds = set(t.snapshot_adds())
    t.delete_where(spark, "event_id < 5")
    inst = _timeline_instants(t.path)
    # instants are version-ordered; the DELETE is a replacecommit
    assert [a for _i, a, _p in inst][-1] == "replacecommit"
    assert [i for i, _a, _p in inst] == sorted(i for i, _a, _p in inst)
    md = json.load(open(inst[-1][2]))
    replaced = {
        fid
        for fids in md["partitionToReplaceFileIds"].values()
        for fid in fids
    }
    gone = before - {f["fileId"] for f in read_hudi_live_files(t.path)}
    assert replaced == gone and replaced
    # both targets' folds agree with the Delta fold
    delta_live = {
        os.path.realpath(t._abs_of_add_path(p)) for p in t.snapshot_adds()
    }
    assert {
        os.path.realpath(f["abs_path"]) for f in read_hudi_live_files(t.path)
    } == delta_live
    assert {
        os.path.realpath(f["file_path"])
        for f in read_iceberg_live_files(t.path)
    } == delta_live
    assert sum(f["numWrites"] for f in read_hudi_live_files(t.path)) == 35


def test_uniform_schema_evolution_mints_schema_ids(spark, tmp_path):
    """Iceberg schemas are APPEND-ONLY: a schema-evolving commit mints
    a fresh schema-id; prior schemas stay listed and old snapshots
    keep referencing theirs; snapshot-log accumulates transitions."""
    t = _table(tmp_path)
    t.append(_ev(spark, 20))
    t.set_properties(
        {"delta.universalFormat.enabledFormats": "iceberg"}
    )
    t.append(_ev(spark, 30).filter(F.col("event_id") >= 20))
    t.append(
        _ev(spark, 40)
        .filter(F.col("event_id") >= 30)
        .withColumn("tag", F.lit("x")),
        merge_schema=True,
    )
    meta_dir = os.path.join(t.path, "metadata")
    n = int(open(os.path.join(meta_dir, "version-hint.text")).read())
    md = json.load(open(os.path.join(meta_dir, f"v{n}.metadata.json")))
    sids = [s["schema-id"] for s in md["schemas"]]
    assert sids == [0, 1]
    assert md["current-schema-id"] == 1
    assert [f["name"] for f in md["schemas"][1]["fields"]][-1] == "tag"
    assert [f["name"] for f in md["schemas"][0]["fields"]] == [
        "event_id", "user_id", "value",
    ]
    by_seq = sorted(md["snapshots"], key=lambda s: s["sequence-number"])
    assert by_seq[0]["schema-id"] == 0      # pre-evolution snapshot
    assert by_seq[-1]["schema-id"] == 1     # the evolving commit's
    assert md["last-column-id"] == 4
    # snapshot-log accumulates one entry per enabled commit
    assert len(md["snapshot-log"]) == len(md["snapshots"])
    assert md["snapshot-log"][-1]["snapshot-id"] == md["current-snapshot-id"]


def test_expire_snapshots_keeps_referenced_delete_files(spark, tmp_path):
    """ExpireSnapshots GC keeps any position-delete file a RETAINED
    snapshot still references (digest-keyed delete files are shared
    across snapshots), drops truly-unreferenced metadata, and a
    partial-age expire retains the newer window."""
    import time as _time

    from deltasink_spark.hudi import read_hudi_live_files  # noqa: F401
    from deltasink_spark.uniform import (
        expire_iceberg_snapshots,
        read_iceberg_changelog,
        read_iceberg_deletes,
        read_iceberg_live_files,
    )

    t = _table(tmp_path)
    t.append(_ev(spark, 30))
    t.set_properties(
        {
            "delta.universalFormat.enabledFormats": "iceberg",
            "delta.enableIcebergCompatV2": "true",
        }
    )
    t.delete_where_dv(spark, "event_id % 10 = 0")  # DV -> delete file
    t.append(_ev(spark, 31).filter(F.col("event_id") >= 30))
    dels_before = {d["file_path"] for d in read_iceberg_deletes(t.path)}
    assert dels_before
    # retain_last=2: the DV snapshot expires but the delete FILE it
    # minted is still referenced by the retained carry-forward
    n = expire_iceberg_snapshots(
        t.path,
        older_than_ms=int(_time.time() * 1000) + 10_000,
        retain_last=2,
    )
    assert n > 0
    assert {d["file_path"] for d in read_iceberg_deletes(t.path)} == dels_before
    assert all(os.path.exists(p) for p in dels_before)
    assert len(read_iceberg_changelog(t.path)) == 2
    # merge-on-read still exact after expire
    data = read_iceberg_live_files(t.path)
    df = spark.read.parquet(*sorted({f["file_path"] for f in data}))
    enc = F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1)
    df = df.withColumn("__file", F.url_decode(enc)).withColumn(
        "__pos", F.col("_metadata.row_index")
    )
    dd = spark.read.parquet(*sorted(dels_before)).select(
        F.element_at(F.split("file_path", "/"), -1).alias("dv_file"),
        F.col("pos").alias("dv_pos"),
    )
    got = df.join(
        F.broadcast(dd),
        (F.col("__file") == F.col("dv_file"))
        & (F.col("__pos") == F.col("dv_pos")),
        "left_anti",
    ).select("event_id", "user_id", "value")
    assert got.exceptAll(t.read(spark)).isEmpty()
    assert t.read(spark).exceptAll(got).isEmpty()


def test_iceberg_compat_v2_is_a_ledgered_writer_feature(spark, tmp_path):
    """`delta.enableIcebergCompatV2=true` ledgers the icebergCompatV2
    WRITER feature in the enabling commit (delta-spark parity: a
    legacy writer that wouldn't keep the Iceberg view in sync is
    gated out); DROP FEATURE removes feature + property, but refuses
    while the iceberg target still carries deletion vectors."""
    t = _table(tmp_path)
    t.append(_ev(spark, 20))
    t.set_properties(
        {
            "delta.universalFormat.enabledFormats": "iceberg",
            "delta.enableIcebergCompatV2": "true",
        }
    )
    wf = (t._protocol_dict() or {}).get("writerFeatures") or ()
    assert "icebergCompatV2" in wf
    t.delete_where_dv(spark, "event_id % 4 = 0")  # DVs ride compatV2
    with pytest.raises(ValueError, match="position-delete"):
        t.drop_feature(spark, "icebergCompatV2")
    t.drop_feature(spark, "deletionVectors")  # PURGE rewrites the DVs
    t.drop_feature(spark, "icebergCompatV2")
    t2 = DeltaLogTable(t.path)
    assert "icebergCompatV2" not in (
        (t2._protocol_dict() or {}).get("writerFeatures") or ()
    )
    assert "delta.enableIcebergCompatV2" not in (
        (t2._metadata_dict() or {}).get("configuration") or {}
    )
    assert t2.read(spark).count() == 15


def test_unset_properties(spark, tmp_path):
    """ALTER TABLE UNSET TBLPROPERTIES: keys leave the configuration
    in one metaData commit; missing keys raise without if_exists; the
    feature-backed keys are guarded (checkpointProtection horizon
    leaves only via DROP FEATURE; compatV2 refuses while DVs ride the
    iceberg target); disabling UniForm stops the post-commit hook."""
    t = _table(tmp_path)
    t.append(_ev(spark, 20))
    t.set_properties(
        {
            "delta.appendOnly": "false",
            "delta.logRetentionDuration": "interval 30 days",
        }
    )
    with pytest.raises(ValueError, match="non-existent"):
        t.unset_properties(["delta.nope"])
    t.unset_properties(["delta.nope"], if_exists=True)  # no-op commit ok
    t.unset_properties(["delta.logRetentionDuration"])
    cfg = (t._metadata_dict() or {}).get("configuration") or {}
    assert "delta.logRetentionDuration" not in cfg
    assert cfg.get("delta.appendOnly") == "false"
    # checkpointProtection horizon: only DROP FEATURE removes it
    t.enable_checkpoint_protection()
    with pytest.raises(ValueError, match="DROP FEATURE"):
        t.unset_properties(
            ["delta.requireCheckpointProtectionBeforeVersion"]
        )
    # compatV2 + DVs: unset refuses until purged
    t.set_properties(
        {
            "delta.universalFormat.enabledFormats": "iceberg",
            "delta.enableIcebergCompatV2": "true",
        }
    )
    t.delete_where_dv(spark, "event_id % 5 = 0")
    with pytest.raises(ValueError, match="purge DVs"):
        t.unset_properties(["delta.enableIcebergCompatV2"])
    # disabling UniForm entirely is allowed; the hook stops firing
    meta_dir = os.path.join(t.path, "metadata")
    n_before = len(os.listdir(meta_dir))
    t.unset_properties(["delta.universalFormat.enabledFormats"])
    t.append(_ev(spark, 21).filter(F.col("event_id") >= 20))
    assert len(os.listdir(meta_dir)) == n_before  # no new iceberg files
    assert t.read(spark).count() == 17  # 21 - 4 DV'd


def test_expire_prunes_metadata_log(spark, tmp_path):
    """previous_versions_max bounds the metadata-log chain: older
    v*.metadata.json files are unlinked and their entries dropped,
    while the current metadata and the newest K survive; a
    metadata-only prune (no expired snapshots) also works."""
    import time as _time

    from deltasink_spark.uniform import expire_iceberg_snapshots

    t = _table(tmp_path)
    t.append(_ev(spark, 10))
    t.set_properties({"delta.universalFormat.enabledFormats": "iceberg"})
    for i in range(1, 5):
        t.append(
            _ev(spark, 10 * (i + 1)).filter(F.col("event_id") >= 10 * i)
        )
    meta_dir = os.path.join(t.path, "metadata")
    n_meta = len(
        [f for f in os.listdir(meta_dir) if f.endswith(".metadata.json")]
    )
    assert n_meta == 5
    # metadata-only prune: snapshots all retained, chain bounded to 2
    n = expire_iceberg_snapshots(
        t.path,
        older_than_ms=0,
        retain_last=1,
        previous_versions_max=2,
    )
    assert n == 2  # 4 prior entries -> keep newest 2, unlink 2
    left = sorted(
        f for f in os.listdir(meta_dir) if f.endswith(".metadata.json")
    )
    assert len(left) == 3  # current + 2 retained priors
    md = json.load(
        open(os.path.join(meta_dir, left[-1]))
    )
    assert len(md["metadata-log"]) == 2
    assert len(md["snapshots"]) == 5  # nothing expired by age
    # fold still works end-to-end
    from deltasink_spark.uniform import read_iceberg_live_files

    assert sum(
        f["record_count"] for f in read_iceberg_live_files(t.path)
    ) == 50


def _agg_stats_json(spark, path: str, cols: list[str]) -> str:
    """The per-file Spark aggregation staging stats came from before
    footers: min/max/nullCount through collect(), JSON-encoded as the
    add action's `stats` string."""

    def j(v):
        if v is None:
            return None
        if hasattr(v, "isoformat"):
            return v.isoformat()
        if isinstance(v, (int, float, bool, str)):
            return v
        return str(v)

    r = spark.read.parquet(path).agg(
        F.count(F.lit(1)),
        *[F.min(c) for c in cols],
        *[F.max(c) for c in cols],
        *[F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)) for c in cols],
    ).first()
    n = len(cols)
    return json.dumps(
        {
            "numRecords": r[0],
            "minValues": {c: j(r[1 + i]) for i, c in enumerate(cols)},
            "maxValues": {c: j(r[1 + n + i]) for i, c in enumerate(cols)},
            "nullCount": {c: r[1 + 2 * n + i] for i, c in enumerate(cols)},
        }
    )


def _assert_stats_parity(spark, t: DeltaLogTable, n_cols: int) -> dict:
    adds = t.snapshot_adds()
    for p, a in adds.items():
        cols = list(json.loads(a["stats"])["minValues"])
        assert len(cols) == n_cols, (p, cols)
        want = _agg_stats_json(spark, t._abs_of_add_path(p), cols)
        assert a["stats"] == want, p
    return adds


_PARITY_SCHEMA = (
    "l long, i int, s short, b byte, d double, f float, st string, "
    "dt date, ts timestamp, bo boolean, d1 decimal(5,2), "
    "d2 decimal(15,4), d3 decimal(25,10), d4 decimal(38,18), nul int"
)


def _parity_rows():
    import datetime as dtm
    from decimal import Decimal

    nan, inf = float("nan"), float("inf")
    base = [
        # double, float: ties of -0.0 and 0.0 in both orders, NaN
        # above every number, infinities, an all-NaN file below
        (-0.0, -0.0), (0.0, 0.0), (nan, 1.5), (-inf, 0.1), (inf, -2.5),
        (None, None), (0.0, 0.0), (-0.0, -0.0), (1e-300, 3.4e38),
    ]
    strings = ["é", "a", "日本", "￮", "😀", "", None, "zz", "Ab"]
    rows = []
    for k, (d, f) in enumerate(base):
        rows.append(
            (
                k * 10**12 - 7, -k, k - 4, 3 - k, d, f, strings[k],
                dtm.date(1500 + 60 * k, 1 + k, 1),
                # INT96 timestamps, the first ones before 1900
                dtm.datetime(1850 + 30 * k, 3, 1, 12, 0, 0, 123456 * k % 10**6),
                k % 2 == 0,
                Decimal(k * 37 - 150) / 100,
                Decimal(-k * 12345) / 10**4,
                Decimal(k - 4) / 10**10,
                Decimal(10**19 + k) / 10**18,
                None,
            )
        )
    return rows


def test_stats_from_footers_match_spark_aggregation(spark, tmp_path):
    """Staged add actions' stats, now read from parquet footers (and a
    pyarrow fold of the columns footers do not cover exactly), are
    byte-identical to the per-file Spark aggregation they replace —
    every stats type, NaN and signed-zero doubles, an all-null column,
    INT32 / INT64 / fixed-length decimals, INT96 timestamps before
    1900, non-ASCII and over-4-KiB strings, multi-row-group files,
    and partitioned and column-mapped tables."""
    import pyarrow.parquet as pq

    from deltasink_spark.delta_log import _STATS_ATOMIC_TYPES

    rows = _parity_rows()
    frame = spark.createDataFrame(rows, _PARITY_SCHEMA)
    types = {f.dataType.typeName() for f in frame.schema.fields}
    assert types == _STATS_ATOMIC_TYPES
    t = _table(tmp_path, "plain")
    # one file per append, rows in the listed order
    for lo in range(0, len(rows), 2):
        t.append(spark.createDataFrame(rows[lo:lo + 2], _PARITY_SCHEMA).coalesce(1))
    nan_rows = [r[:4] + (float("nan"), float("nan")) + r[6:] for r in rows[:3]]
    t.append(spark.createDataFrame(nan_rows, _PARITY_SCHEMA).coalesce(1))
    long_rows = [r[:6] + ("x" * 5000,) + r[7:] for r in rows[2:4]]
    t.append(spark.createDataFrame(long_rows, _PARITY_SCHEMA).coalesce(1))
    adds = _assert_stats_parity(spark, t, len(frame.columns))
    stats = [json.loads(a["stats"]) for a in adds.values()]
    assert sorted(s["numRecords"] for s in stats) == [1, 2, 2, 2, 2, 2, 3]
    # ties keep the first value of the file: [-0.0, 0.0] and [0.0, -0.0]
    ties = {
        s["maxValues"]["l"]: str((s["minValues"]["d"], s["maxValues"]["f"]))
        for s in stats
    }
    assert ties[10**12 - 7] == "(-0.0, -0.0)"
    assert ties[7 * 10**12 - 7] == "(0.0, 0.0)"
    # a multi-row-group file (a tiny parquet block size), timestamps
    # stored as INT64 milliseconds rather than INT96
    spark.conf.set("parquet.block.size", "1024")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MILLIS")
    try:
        big = _table(tmp_path, "groups")
        big.append(
            spark.range(3000).selectExpr(
                "id AS l", "cast(id % 1000 AS int) AS i",
                "cast(id AS double) / 7 AS d", "cast(id AS string) AS st",
                "cast(id AS decimal(25,10)) / 3 AS d3",
                "timestamp_seconds(id * 86400 - 4000000000) AS ts",
            ).coalesce(1)
        )
    finally:
        spark.conf.unset("parquet.block.size")
        spark.conf.unset("spark.sql.parquet.outputTimestampType")
    (p,) = big.snapshot_adds()
    md = pq.ParquetFile(big._abs_of_add_path(p)).metadata
    assert md.num_row_groups > 1
    assert md.schema.column(5).physical_type == "INT64"
    _assert_stats_parity(spark, big, 6)
    # partitioned: partition columns carry no stats
    part = _table(tmp_path, "part")
    part.append(
        frame.coalesce(1).withColumn("p", F.col("i") % 3), partition_by=("p",)
    )
    assert len(_assert_stats_parity(spark, part, len(frame.columns))) == 3
    # column-mapped: stats keys and footer columns are physical names
    cm = _table(tmp_path, "cm")
    cm.append(frame.coalesce(1), column_mapping_mode="id")
    (a,) = _assert_stats_parity(spark, cm, len(frame.columns)).values()
    assert set(json.loads(a["stats"])["minValues"]) == set(
        cm.column_mapping().values()
    )


def test_append_to_existing_table_runs_one_spark_job(spark, tmp_path):
    """An append's only Spark job is the data write: staging stats come
    from the written files' footers, not a read-back job."""
    import uuid as _uuid

    t = _table(tmp_path)
    t.append(_ev(spark))
    sc = spark.sparkContext
    group = f"append-{_uuid.uuid4().hex}"
    sc.setJobGroup(group, "append")
    try:
        assert t.append(_ev(spark, 50)) == 1
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


def test_empty_append_commits_no_data_file(spark, tmp_path):
    """A no-data micro-batch commits its txn (and commitInfo) but no add
    and leaves no file behind; an empty first append still creates the
    table, and it reads as an empty frame with its schema."""
    t = _table(tmp_path)
    empty = _ev(spark).limit(0)
    assert t.append(empty, "app", 0) == 0
    assert t.snapshot_adds() == {}
    got = t.read(spark)
    assert got.columns == ["event_id", "user_id", "value"] and got.count() == 0
    assert t.append(_ev(spark), "app", 1) == 1
    assert t.append(empty, "app", 2) == 2
    assert t.txn_versions()["app"] == 2
    actions = [
        next(iter(json.loads(line)))
        for line in open(os.path.join(t.log_dir, f"{2:020d}.json"))
    ]
    assert actions == ["txn", "commitInfo"]
    assert len(t.snapshot_adds()) == len(
        [f for f in os.listdir(t.path) if f.endswith(".parquet")]
    )
    assert t.read(spark).count() == 100


def _staged_files_spy(monkeypatch) -> list[list[str]]:
    """Record, for each staging dir staging removes, the files left in
    it at that moment."""
    import shutil

    seen: list[list[str]] = []
    rmtree = shutil.rmtree

    def spy(path, *a, **k):
        if os.path.basename(str(path)).startswith("tmp_stage_"):
            seen.append([f for _, _, files in os.walk(path) for f in files])
        return rmtree(path, *a, **k)

    monkeypatch.setattr(shutil, "rmtree", spy)
    return seen


def _added_files(t: DeltaLogTable, version: int) -> list[dict]:
    return [
        json.loads(line)["add"]
        for line in open(os.path.join(t.log_dir, f"{version:020d}.json"))
        if '"add"' in line
    ]


def test_sink_commit_is_one_bin_packed_file(spark, tmp_path, monkeypatch):
    """A DeltaLogSink micro-batch of four upstream tasks commits ONE
    file holding every record, and staging writes no _SUCCESS marker
    and leaves no staging dir behind."""
    staged = _staged_files_spy(monkeypatch)
    sink = DeltaLogSink(str(tmp_path / "sink"), app_id="bin")
    frame = _ev(spark, 4000).repartition(4)
    assert frame.rdd.getNumPartitions() == 4
    assert sink.write_batch(frame, 0)
    adds = _added_files(sink.table, 0)
    assert len(adds) == 1
    assert json.loads(adds[0]["stats"])["numRecords"] == 4000
    assert len(staged) == 1 and "_SUCCESS" not in staged[0]
    left = [
        os.path.join(d, f)
        for d, dirs, files in os.walk(sink.table.path)
        for f in files + dirs
        if f == "_SUCCESS" or f.startswith("tmp_stage_")
    ]
    assert left == []
    assert sink.table.read(spark).count() == 4000


def test_partitioned_sink_commit_one_file_per_partition(spark, tmp_path):
    """On a partitioned sink table each micro-batch adds at most one
    file per partition it touches."""
    sink = DeltaLogSink(str(tmp_path / "sink"), app_id="part")
    by_user = _ev(spark, 4000).withColumn("p", F.col("user_id") % 3)
    sink.table.append(by_user.limit(0), partition_by=("p",))
    for batch in range(2):
        frame = by_user.filter(F.col("event_id") % 2 == batch).repartition(4)
        assert sink.write_batch(frame, batch)
        adds = _added_files(sink.table, batch + 1)
        parts = [a["partitionValues"]["p"] for a in adds]
        assert sorted(parts) == ["0", "1", "2"]
        assert sum(json.loads(a["stats"])["numRecords"] for a in adds) == 2000
    assert sink.table.read(spark).count() == 4000


def test_plain_append_keeps_per_task_files(spark, tmp_path):
    """An append with no txn is not a streaming commit: without the
    optimizeWrite property it keeps one file per upstream task."""
    t = _table(tmp_path)
    assert t.append(_ev(spark, 4000).repartition(4)) == 0
    assert len(_added_files(t, 0)) == 4


def test_merge_when_spark_job_count(spark, tmp_path):
    """A merge_when scans the table once, to find the hit files, and
    runs a bounded number of Spark jobs: no second full-table scan for
    the inserts and no re-run of the change plan for its metrics."""
    import uuid as _uuid

    t = _table(tmp_path)
    t.append(_ev(spark, 800).repartition(8))
    src = spark.createDataFrame(
        [(i, 1, 0.0) for i in range(0, 800, 50)] + [(900, 2, 5.0)],
        "event_id bigint, user_id bigint, value double",
    )
    sc = spark.sparkContext
    group = f"merge-{_uuid.uuid4().hex}"
    sc.setJobGroup(group, "merge_when")
    try:
        assert t.merge_when(
            spark, src, "event_id", matched_update={"value": "src_value"}
        ) == 1
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # 17 on Spark 4.1 with AQE: a second full-table scan for the
    # inserts, a re-run of the change plan for the clause counts or a
    # distinct over the already-unique source keys adds jobs
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 17
    assert t.read(spark).count() == 801


def test_merge_when_metrics_match_change_feed(spark, tmp_path):
    """MERGE's numTargetRowsInserted/Updated/Deleted equal the rows per
    _change_type the same version publishes in the change feed, with
    all four clauses firing."""
    t = _table(tmp_path)
    t.append(_ev(spark, 100).repartition(4))
    src = spark.createDataFrame(
        [(i, 0, -1.0) for i in range(0, 40, 2)]
        + [(i, 0, -2.0) for i in range(200, 205)],
        "event_id bigint, user_id bigint, value double",
    )
    v = t.merge_when(
        spark,
        src,
        "event_id",
        matched_update={"value": "src_value"},
        matched_delete_condition="event_id < 10",
        not_matched_by_source_delete_condition="event_id >= 90",
    )
    m = next(
        a["commitInfo"]["operationMetrics"]
        for ver, a in t._exact_commit_actions()
        if ver == v and "commitInfo" in a
    )
    counts = {
        r["_change_type"]: r["count"]
        for r in t.read_changes(spark, v - 1, v).groupBy("_change_type").count().collect()
    }
    assert counts == {
        "delete": 5 + 10,  # 0,2,..,8 matched; 90..99 not matched by source
        "update_preimage": 15,
        "update_postimage": 15,
        "insert": 5,
    }
    assert int(m["numTargetRowsInserted"]) == counts["insert"]
    assert int(m["numTargetRowsUpdated"]) == counts["update_postimage"]
    assert int(m["numTargetRowsDeleted"]) == counts["delete"]
    assert t.read(spark).count() == 100 - 15 + 5
