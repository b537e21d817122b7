import os, json
import pytest
from pyspark.sql import functions as F
from deltasink_spark.delta_log import DeltaLogTable

def _ev(spark, n=100):
    return spark.range(n).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 7).alias("user_id"),
        (F.col("id") * 1.5).alias("value"),
    )

def test_dv_delete_no_rewrite(spark, tmp_path):
    t = DeltaLogTable(str(tmp_path / "t"))
    t.append(_ev(spark, 100))
    before_files = set(t.snapshot_files())
    before_bytes = {p: os.path.getsize(os.path.join(t.path, p)) for p in before_files}
    v = t.delete_where_dv(spark, "event_id < 10")
    # same paths, same bytes — merge-on-read
    assert set(t.snapshot_files()) == before_files
    for p, sz in before_bytes.items():
        assert os.path.getsize(os.path.join(t.path, p)) == sz
    got = {r["event_id"] for r in t.read(spark).collect()}
    assert got == set(range(10, 100))
    # adds carry descriptors; protocol upgraded to table features
    adds = t.snapshot_adds()
    assert any(a.get("deletionVector") for a in adds.values())
    protos = [a["protocol"] for _, a in t._actions() if "protocol" in a]
    assert protos[-1]["minReaderVersion"] == 3
    assert "deletionVectors" in protos[-1]["readerFeatures"]
    # CDF published the deleted rows
    ch = t.read_changes(spark, v - 1, v)
    assert {r["event_id"] for r in ch.collect()} == set(range(10))
    assert {r["_change_type"] for r in ch.collect()} == {"delete"}

def test_dv_second_delete_unions(spark, tmp_path):
    t = DeltaLogTable(str(tmp_path / "t"))
    t.append(_ev(spark, 50))
    t.delete_where_dv(spark, "event_id < 5")
    t.delete_where_dv(spark, "event_id >= 45")
    got = {r["event_id"] for r in t.read(spark).collect()}
    assert got == set(range(5, 45))
    # second delete's cdc must NOT re-publish the first delete's rows
    v = t.latest_version()
    ch = {r["event_id"] for r in t.read_changes(spark, v - 1, v).collect()}
    assert ch == set(range(45, 50))

def test_dv_then_copy_on_write_delete(spark, tmp_path):
    t = DeltaLogTable(str(tmp_path / "t"))
    t.append(_ev(spark, 50))
    t.delete_where_dv(spark, "event_id < 5")
    t.delete_where(spark, "event_id >= 45")  # rewrite must not resurrect <5
    got = {r["event_id"] for r in t.read(spark).collect()}
    assert got == set(range(5, 45))

def test_dv_optimize_purges(spark, tmp_path):
    t = DeltaLogTable(str(tmp_path / "t"))
    t.append(_ev(spark, 50))
    t.delete_where_dv(spark, "event_id % 2 = 0")
    t.optimize(spark, target_files=1)
    adds = t.snapshot_adds()
    assert not any(a.get("deletionVector") for a in adds.values())
    got = {r["event_id"] for r in t.read(spark).collect()}
    assert got == {i for i in range(50) if i % 2}

def test_dv_checkpoint_roundtrip(spark, tmp_path):
    t = DeltaLogTable(str(tmp_path / "t"))
    t.append(_ev(spark, 50))
    t.delete_where_dv(spark, "event_id < 20")
    t.checkpoint()
    t2 = DeltaLogTable(t.path)
    got = {r["event_id"] for r in t2.read_via_checkpoint(spark).collect()}
    assert got == set(range(20, 50))

def test_dv_merge_does_not_resurrect(spark, tmp_path):
    t = DeltaLogTable(str(tmp_path / "t"))
    t.append(_ev(spark, 30))
    t.delete_where_dv(spark, "event_id < 10")
    src = _ev(spark, 12).filter(F.col("event_id") >= 10).select(
        "event_id", "user_id", (F.col("value") + 100).alias("value"))
    t.merge(spark, src, "event_id")
    got = {r["event_id"]: r["value"] for r in t.read(spark).collect()}
    assert set(got) == set(range(10, 30))
    assert got[10] == 115.0 and got[11] == 116.5 and got[12] == 18.0

def test_dv_streaming_cdf_and_restore(spark, tmp_path):
    t = DeltaLogTable(str(tmp_path / "t"))
    t.append(_ev(spark, 30))
    pre = t.latest_version()
    t.delete_where_dv(spark, "event_id < 10")
    t.restore(spark, pre)  # re-adds the un-DV'd original add
    got = {r["event_id"] for r in t.read(spark).collect()}
    assert got == set(range(30))


def test_rewrite_precondition_detects_concurrent_dv_delete(spark, tmp_path):
    """A rewrite planned before a concurrent DV delete must ABORT:
    path liveness alone is blind to same-path descriptor swaps, and
    committing the stale rewrite would resurrect the deleted rows."""
    from deltasink_spark.delta_log import ConcurrentDeleteReadError

    t = DeltaLogTable(str(tmp_path / "t"))
    t.append(_ev(spark, 30))
    planned = t.snapshot_adds()
    t.delete_where_dv(spark, "event_id < 5")
    assert not t._adds_unchanged(planned)()
    # end-to-end: an OPTIMIZE whose staging window a DV delete lands in
    t2 = DeltaLogTable(str(tmp_path / "u"))
    t2.append(_ev(spark, 30))
    orig = t2._stage_files
    raced = []

    def hijack(df, **kw):
        out = orig(df, **kw)
        if not raced:
            raced.append(1)
            DeltaLogTable(t2.path).delete_where_dv(spark, "event_id < 3")
        return out

    t2._stage_files = hijack
    # the verb's OCC loop re-plans over the post-delete state: the
    # compaction lands WITHOUT resurrecting the DV'd rows and with
    # zero caller retries
    assert t2.optimize(spark, target_files=1) is not None
    got = {r["event_id"] for r in t2.read(spark).collect()}
    assert got == set(range(3, 30))
    # the retried rewrite physically dropped the deleted rows — the
    # compacted snapshot needs no DV at all
    assert not any(
        a.get("deletionVector") for a in t2.snapshot_adds().values()
    )


def test_checkpoint_preserves_constraints_and_config(spark, tmp_path):
    """metaData.configuration (CHECK constraints) must survive a
    checkpoint + pre-checkpoint log cleanup — it is load-bearing
    writer state, not decoration."""
    t = DeltaLogTable(str(tmp_path / "t"))
    t.append(_ev(spark, 20))
    t.add_constraint(spark, "nonneg", "value >= 0")
    cv = t.checkpoint()
    for v in range(cv + 1):
        os.rename(
            os.path.join(t.log_dir, f"{v:020d}.json"),
            os.path.join(t.log_dir, f"hidden-{v}.bak"),
        )
    t2 = DeltaLogTable(t.path)
    assert t2.constraints() == {"nonneg": "value >= 0"}
    assert t2.schema() is not None
    bad = _ev(spark, 5).select(
        "event_id", "user_id", (-F.col("value") - 1).alias("value")
    )
    with pytest.raises(ValueError, match="nonneg"):
        t2.append(bad)


def test_cow_remove_carries_dv_descriptor(spark, tmp_path):
    """Copy-on-write DML superseding a DV-carrying file must put the
    descriptor on its remove action (the spec's contract; CDF
    remove-fallback readers retract only actually-live rows)."""
    t = DeltaLogTable(str(tmp_path / "t"))
    t.append(_ev(spark, 30).repartition(1))  # ONE file: both DMLs hit it
    t.delete_where_dv(spark, "event_id < 5")
    t.delete_where(spark, "event_id >= 25")
    removes = [
        a["remove"]
        for _, a in t._actions(from_version=t.latest_version())
        if "remove" in a
    ]
    assert removes and all(r.get("deletionVector") for r in removes)


def test_vacuum_reclaims_orphaned_dv_files(spark, tmp_path):
    t = DeltaLogTable(str(tmp_path / "t"))
    t.append(_ev(spark, 30).repartition(1))  # ONE file: 2nd DV supersedes 1st
    t.delete_where_dv(spark, "event_id < 5")
    t.delete_where_dv(spark, "event_id >= 25")  # orphans the 1st DV
    dvs_before = [
        f for f in os.listdir(t.path) if f.startswith("deletion_vector_")
    ]
    n = t.vacuum(0, force=True)
    dvs_after = [
        f for f in os.listdir(t.path) if f.startswith("deletion_vector_")
    ]
    assert len(dvs_after) < len(dvs_before)
    assert n >= len(dvs_before) - len(dvs_after)
    # live DVs survive and the read is unchanged
    got = {r["event_id"] for r in t.read(spark).collect()}
    assert got == set(range(5, 25))


def test_restore_aborts_on_concurrent_dv_swap(spark, tmp_path):
    """RESTORE's any-concurrent-commit guard must catch a same-path DV
    swap (path SET unchanged) landing between plan and commit."""
    from deltasink_spark.delta_log import ConcurrentDeleteReadError

    t = DeltaLogTable(str(tmp_path / "t"))
    t.append(_ev(spark, 30))
    pre = t.latest_version()
    t.delete_where_dv(spark, "event_id < 5")
    orig = t._commit
    raced = []

    def hijack(actions, precondition=None, **kw):
        if not raced:
            raced.append(1)
            DeltaLogTable(t.path).delete_where_dv(spark, "event_id < 8")
        return orig(actions, precondition, **kw)

    t._commit = hijack
    with pytest.raises(ConcurrentDeleteReadError):
        t.restore(spark, pre)


def test_roaring_array_container_boundary_at_4096():
    """RoaringFormatSpec: cardinality <= 4096 is an ARRAY container
    (bitset only above) — the boundary external readers parse by."""
    import struct
    from deltasink_spark import roaring

    vals = list(range(0, 8192, 2))  # exactly 4096 in one 64K chunk
    buf = roaring.serialize_roaring32(vals)
    # descriptive header says card-1 = 4095; payload must be the
    # 2-bytes-per-value ARRAY form (8192 bytes, same size as a bitset
    # — so only the container TYPE distinguishes them to a reader)
    (off0,) = struct.unpack_from("<I", buf, 8 + 4)
    arr = struct.unpack_from("<4096H", buf, off0)
    assert list(arr) == vals
    got, used = roaring.deserialize_roaring32(buf)
    assert got == set(vals) and used == len(buf)
    # 4097 -> bitset
    vals2 = list(range(4097))
    buf2 = roaring.serialize_roaring32(vals2)
    got2, used2 = roaring.deserialize_roaring32(buf2)
    assert got2 == set(vals2) and used2 == len(buf2)


def test_roaring_reads_foreign_run_container_cookie():
    """A DV written by delta-spark after runOptimize() uses cookie
    12347 with run containers — our reader must fold it."""
    import struct
    from deltasink_spark import roaring

    # 2 containers, first is a run container, n < 4 -> NO offset header
    n = 2
    buf = struct.pack("<I", (12347 & 0xFFFF) | ((n - 1) << 16))
    buf += bytes([0b01])                    # container 0 is runs
    buf += struct.pack("<HH", 0, 7 - 1)     # key 0, card 7
    buf += struct.pack("<HH", 1, 2 - 1)     # key 1, card 2
    buf += struct.pack("<H", 2)             # 2 runs
    buf += struct.pack("<HH", 5, 5)         # [5..10]
    buf += struct.pack("<HH", 100, 0)       # [100]
    buf += struct.pack("<HH", 1, 2)         # array {1,2} under key 1
    got, used = roaring.deserialize_roaring32(buf)
    assert got == set(range(5, 11)) | {100, (1 << 16) | 1, (1 << 16) | 2}
    assert used == len(buf)
    # n >= 4 run-cookie stream carries an offset header
    n = 4
    hdr = struct.pack("<I", (12347 & 0xFFFF) | ((n - 1) << 16)) + bytes([0])
    for k in range(n):
        hdr += struct.pack("<HH", k, 0)
    pos = len(hdr) + 4 * n
    offs, body = b"", b""
    for k in range(n):
        offs += struct.pack("<I", pos)
        body += struct.pack("<H", k + 10)
        pos += 2
    got4, used4 = roaring.deserialize_roaring32(hdr + offs + body)
    assert got4 == {(k << 16) | (k + 10) for k in range(n)}
    assert used4 == len(hdr + offs + body)


def test_dv_file_roundtrip_at_4096_positions():
    """End-to-end DV file with exactly 4096 deleted positions in one
    64K chunk — the boundary the roaring container type flips at."""
    import os
    from deltasink_spark import roaring

    positions = list(range(4096))
    path = os.path.join("/tmp", "dv_4096_test.bin")
    desc = roaring.write_dv_file(path, positions)
    got = roaring.read_dv_file(path, desc["offset"], desc["sizeInBytes"])
    os.remove(path)
    assert got == set(positions) and desc["cardinality"] == 4096


def test_dv_wide_delete_builds_executor_side(spark, tmp_path):
    """A WIDE DV delete (most of the table matched, many files): the
    positions never funnel through the driver — delete_where_dv
    serializes per-file bitmaps inside applyInPandas and the driver
    handles descriptors only. Pinned behaviorally: correctness of a
    100k-row delete across 8 files, second delete unions, vacuum
    reclaims the superseded DV files."""
    t = DeltaLogTable(str(tmp_path / "t"))
    n = 100_000
    t.append(
        spark.range(n).repartition(8).select(
            F.col("id").alias("event_id"),
            (F.col("id") % 97).alias("user_id"),
            (F.col("id") * 0.5).alias("value"),
        )
    )
    assert len(t.snapshot_files()) == 8
    t.delete_where_dv(spark, "event_id % 10 != 0")  # 90% of rows
    got = {r["event_id"] for r in t.read(spark).collect()}
    assert got == set(range(0, n, 10))
    adds = t.snapshot_adds()
    assert all(a.get("deletionVector") for a in adds.values())
    assert sum(a["deletionVector"]["cardinality"] for a in adds.values()) \
        == n - n // 10
    # second delete UNIONS into fresh DVs executor-side too
    gen1 = {
        p: a["deletionVector"]["pathOrInlineDv"]
        for p, a in t.snapshot_adds().items()
    }
    t.delete_where_dv(spark, "event_id % 10 = 0 AND event_id < 50")
    got2 = {r["event_id"] for r in t.read(spark).collect()}
    assert got2 == set(range(50, n, 10))
    gen2 = {
        p: a["deletionVector"]["pathOrInlineDv"]
        for p, a in t.snapshot_adds().items()
    }
    superseded = sum(1 for p in gen1 if gen2[p] != gen1[p])
    assert superseded >= 1  # only files containing matches re-DV'd
    orphans = t.vacuum(0, force=True)
    assert orphans == superseded  # exactly the superseded DV files


def _eight_file_table(spark, path, partition_by=()):
    """800 rows in 8 round-robin files (per partition when
    ``partition_by`` is set), so every id range spans every file."""
    t = DeltaLogTable(path)
    df = spark.range(800).repartition(8).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 7).alias("user_id"),
        (F.col("id") * 1.5).alias("value"),
        (F.col("id") % 3).alias("part"),
    )
    t.append(df, partition_by=partition_by)
    return t


def _new_adds(before, after):
    return [a for p, a in after.items() if p not in before]


def test_dml_output_is_bin_packed(spark, tmp_path):
    """A DML verb that touches all 8 files of an unpartitioned table
    adds ONE file, not one per upstream task: merge_when and the
    copy-on-write verbs rewrite the 8 into one, update_where_dv writes
    its post rows as one."""
    t = _eight_file_table(spark, str(tmp_path / "m"))
    before = t.snapshot_adds()
    assert len(before) == 8
    src = spark.range(0, 800, 10).select(
        F.col("id").alias("event_id"),
        F.lit(-1).cast("bigint").alias("user_id"),
        F.lit(0.0).alias("value"),
        (F.col("id") % 3).alias("part"),
    ).union(spark.createDataFrame(
        [(900, 1, 9.0, 0)], "event_id bigint, user_id bigint, value double, part bigint"
    ))
    t.merge_when(spark, src, "event_id",
                 matched_update={"user_id": "src_user_id", "value": "src_value"})
    after = t.snapshot_adds()
    assert set(before).isdisjoint(after)  # every file was rewritten
    assert len(_new_adds(before, after)) == 1
    rows = {r["event_id"]: r["user_id"] for r in t.read(spark).collect()}
    assert len(rows) == 801 and rows[10] == -1 and rows[11] == 4 and rows[900] == 1

    for name, verb, n_rows in (
        ("dv", lambda u: u.update_where_dv(spark, {"value": "value + 1"}, "user_id = 3"), 800),
        ("cow", lambda u: u.update_where(spark, {"value": "value + 1"}, "user_id = 3"), 800),
        ("del", lambda u: u.delete_where(spark, "user_id = 3"), 800 - 114),
    ):
        u = _eight_file_table(spark, str(tmp_path / name))
        u.set_properties({"delta.enableDeletionVectors": "true"})
        before = u.snapshot_adds()
        verb(u)
        after = u.snapshot_adds()
        touched = [p for p in before
                   if p not in after or after[p].get("deletionVector")]
        assert len(touched) == 8, name
        assert len(_new_adds(before, after)) == 1, name
        assert u.read(spark).count() == n_rows, name
    got = {r["event_id"]: r["value"] for r in DeltaLogTable(
        str(tmp_path / "dv")).read(spark).collect()}
    assert len(got) == 800 and got[3] == 5.5 and got[4] == 6.0


def test_dml_output_is_bin_packed_per_partition(spark, tmp_path):
    """On a partitioned table each DML verb adds at most one file per
    partition it touches."""
    t = _eight_file_table(spark, str(tmp_path / "m"), partition_by=("part",))
    before = t.snapshot_adds()
    assert len(before) == 24
    src = spark.range(0, 800, 10).select(
        F.col("id").alias("event_id"),
        F.lit(-1).cast("bigint").alias("user_id"),
        F.lit(0.0).alias("value"),
        (F.col("id") % 3).alias("part"),
    )
    t.merge_when(spark, src, "event_id",
                 matched_update={"user_id": "src_user_id"})
    new = _new_adds(before, t.snapshot_adds())
    parts = [a["partitionValues"]["part"] for a in new]
    assert sorted(parts) == ["0", "1", "2"]
    assert t.read(spark).filter("user_id = -1").count() == 80

    u = _eight_file_table(spark, str(tmp_path / "u"), partition_by=("part",))
    u.set_properties({"delta.enableDeletionVectors": "true"})
    before = u.snapshot_adds()
    u.update_where_dv(spark, {"value": "value + 1"}, "user_id = 3 AND part < 2")
    new = _new_adds(before, u.snapshot_adds())
    parts = [a["partitionValues"]["part"] for a in new]
    assert sorted(parts) == ["0", "1"]
    assert u.read(spark).filter("value = event_id * 1.5 + 1").count() == \
        spark.range(800).filter("id % 7 = 3 AND id % 3 < 2").count()
