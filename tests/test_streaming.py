"""Streaming correctness tests (SURVEY.md §5.3): multi-batch semantics
that the bounded rows-only queries can't show — watermark late-drop,
cross-batch dedup, stateful accumulation, exactly-once crash replay.

Technique: stage parquet files into a temp dir with controlled mtimes +
maxFilesPerTrigger=1, so each file becomes its own micro-batch in a
known order.
"""

from __future__ import annotations

import json
import os
import time
import uuid

import pytest
from pyspark.sql import functions as F

from deltasink_spark.sinks import ExactlyOnceParquetSink
from deltasink_spark.streaming.pipeline import (
    dedup_within_watermark,
    parse_kafka_json,
    run_to_memory,
    running_totals_stateful,
    tumbling_counts,
)


def _stage_batches(spark, tmp_path, batches, schema):
    """Write each rows-list as one parquet file with increasing mtime."""
    src = str(tmp_path / f"src_{uuid.uuid4().hex[:8]}")
    os.makedirs(src)
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows, schema=schema).coalesce(1)
        part = f"{src}/b{i}"
        df.write.mode("overwrite").parquet(part)
        files = [f for f in os.listdir(part) if f.endswith(".parquet")]
        dst = f"{src}/batch_{i}.parquet"
        os.rename(os.path.join(part, files[0]), dst)
        t = time.time() + i * 10
        os.utime(dst, (t, t))
    # remove the temp write dirs, keep only the staged files
    import shutil

    for i in range(len(batches)):
        shutil.rmtree(f"{src}/b{i}", ignore_errors=True)
    return src


def _read_stream(spark, src, schema):
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )


EVENT_SCHEMA = "event_id long, ts timestamp, user_id long, value double"


def _ts(s):
    import datetime as dt

    return dt.datetime.fromisoformat(s)


def test_parse_kafka_json_flags_malformed_payloads(spark):
    """parse_ok is false for truncated and non-JSON payloads (and a null
    value), true for any well-formed document, `{}` included; the
    payload struct keeps exactly the declared fields."""
    import datetime

    values = [
        b'{"k": 1, "s": "a"}',
        b'{"k": 2, "s": "b',
        b"not json",
        b"{}",
        None,
        b'{"k": 5}',
    ]
    records = spark.createDataFrame(
        [
            (v, "events", 0, i, datetime.datetime(2024, 1, 1))
            for i, v in enumerate(values)
        ],
        "value binary, topic string, partition int, offset bigint, "
        "timestamp timestamp",
    )
    out = parse_kafka_json(records, "k bigint, s string")
    assert out.schema["payload"].dataType.simpleString() == (
        "struct<k:bigint,s:string>"
    )
    got = {
        r["offset"]: (r["parse_ok"], r["payload"] and r["payload"]["k"])
        for r in out.collect()
    }
    assert got == {
        0: (True, 1),
        1: (False, None),
        2: (False, None),
        3: (True, None),
        4: (False, None),
        5: (True, 5),
    }


def test_watermark_drops_late_rows(spark, tmp_path):
    """Batch 1 advances the watermark to 12:00-10m=11:50; batch 2's
    11:00 row is behind the watermark -> its window never reopens."""
    b1 = [
        (1, _ts("2024-01-01 10:05:00"), 1, 1.0),
        (2, _ts("2024-01-01 12:00:00"), 1, 1.0),
    ]
    b2 = [(5, _ts("2024-01-01 12:10:00"), 1, 1.0)]  # seals window [10,11) under wm 11:50
    b3 = [
        (3, _ts("2024-01-01 10:30:00"), 1, 1.0),  # straggler: window closed -> dropped
        (4, _ts("2024-01-01 13:00:00"), 1, 1.0),
    ]
    src = _stage_batches(spark, tmp_path, [b1, b2, b3], EVENT_SCHEMA)
    s = _read_stream(spark, src, EVENT_SCHEMA).withWatermark("ts", "10 minutes")
    agg = tumbling_counts(s, "ts", "user_id")
    name = "wm_" + uuid.uuid4().hex[:8]
    run_to_memory(agg, name, output_mode="append")
    collected = spark.table(name).collect()
    rows = {r["win_start"].hour: r["n"] for r in collected}
    # 10:00 window sealed after batch 1 (watermark 11:50 > end 11:00)
    # with only event 1; the 10:30 straggler in batch 2 was dropped and
    # the window never reopened (exactly one emission for hour 10).
    assert rows.get(10) == 1
    assert sum(1 for r in collected if r["win_start"].hour == 10) == 1


def test_dedup_within_watermark_across_batches(spark, tmp_path):
    b1 = [(1, _ts("2024-01-01 10:00:00"), 1, 1.0), (2, _ts("2024-01-01 10:01:00"), 1, 1.0)]
    b2 = [(1, _ts("2024-01-01 10:00:00"), 1, 1.0), (3, _ts("2024-01-01 10:02:00"), 1, 1.0)]
    src = _stage_batches(spark, tmp_path, [b1, b2], EVENT_SCHEMA)
    s = _read_stream(spark, src, EVENT_SCHEMA)
    deduped = dedup_within_watermark(s, ["event_id"], "ts", "1 hour")
    name = "dd_" + uuid.uuid4().hex[:8]
    run_to_memory(deduped, name, output_mode="append")
    ids = sorted(r["event_id"] for r in spark.table(name).collect())
    assert ids == [1, 2, 3]  # the batch-2 replay of event 1 was dropped


def test_stateful_running_totals_accumulate(spark, tmp_path):
    b1 = [(1, _ts("2024-01-01 10:00:00"), 7, 2.0)]
    b2 = [(2, _ts("2024-01-01 10:05:00"), 7, 3.0)]
    src = _stage_batches(spark, tmp_path, [b1, b2], EVENT_SCHEMA)
    s = _read_stream(spark, src, EVENT_SCHEMA).select("user_id", "value")
    out = running_totals_stateful(s)
    name = "st_" + uuid.uuid4().hex[:8]
    run_to_memory(out, name, output_mode="update")
    finals = [r for r in spark.table(name).collect()]
    # state persisted across batches: final emission shows both events
    last = max(finals, key=lambda r: r["n_events"])
    assert last["n_events"] == 2 and abs(last["total"] - 5.0) < 1e-9


def test_exactly_once_sink_replay_and_crash(spark, tmp_path):
    base = str(tmp_path / "eo")
    sink = ExactlyOnceParquetSink(base, app_id="t")
    df = spark.range(100).select(F.col("id").alias("event_id"))

    assert sink.write_batch(df, 0) is True
    assert sink.write_batch(df, 0) is False  # replay skipped
    assert sink.read_committed(spark).count() == 100

    # crash between data write and ledger append: data dir exists but
    # unledgered -> replay overwrites it, still exactly one copy
    batch_dir = os.path.join(sink.data_dir, "batch_id=1")
    df.write.mode("overwrite").parquet(batch_dir)  # simulated torn write
    assert sink.write_batch(df, 1) is True
    assert sink.read_committed(spark).count() == 200
    with open(sink.ledger_path) as fh:
        recs = [json.loads(line) for line in fh]
    assert [r["batch_id"] for r in recs] == [0, 1]


def test_exactly_once_sink_torn_tail_recovery(spark, tmp_path):
    """Crash mid-append leaves a torn (newline-less) trailing ledger
    line. The replayed batch's commit must NOT concatenate onto it —
    that would make both records permanently unparseable and the batch
    invisible to read_committed (silent exactly-once violation)."""
    base = str(tmp_path / "eo_torn")
    sink = ExactlyOnceParquetSink(base, app_id="t")
    df = spark.range(50).select(F.col("id").alias("event_id"))
    assert sink.write_batch(df, 0) is True

    # simulate a crash mid-append of batch 1's commit record
    with open(sink.ledger_path, "a") as fh:
        fh.write('{"app_id": "t", "batch_id": 1, "n_ro')
    assert sink.committed_batches() == {0}  # torn line is uncommitted

    assert sink.write_batch(df, 1) is True  # replay commits cleanly
    assert sink.committed_batches() == {0, 1}
    assert sink.read_committed(spark).count() == 100
    with open(sink.ledger_path, "rb") as fh:
        raw = fh.read()
    assert raw.endswith(b"\n")
    recs = [json.loads(l) for l in raw.splitlines()]
    assert [r["batch_id"] for r in recs] == [0, 1]


def test_exactly_once_sink_midfile_corruption_fails_loudly(spark, tmp_path):
    """Mid-file garbage is damaged committed history, not a torn tail —
    committed_batches must raise, not silently drop batches."""
    import pytest

    base = str(tmp_path / "eo_mid")
    sink = ExactlyOnceParquetSink(base, app_id="t")
    df = spark.range(10).select(F.col("id").alias("event_id"))
    assert sink.write_batch(df, 0) is True
    assert sink.write_batch(df, 1) is True
    with open(sink.ledger_path, "rb+") as fh:
        fh.seek(3)
        fh.write(b"\x00\x00")
    with pytest.raises(ValueError, match="corrupted mid-file"):
        sink.committed_batches()


def test_checkpoint_restart_no_duplicates(spark, tmp_path):
    """Full loop: checkpointed stream -> txn sink, restarted. The
    second run recovers from the checkpoint, replays nothing new, and
    the committed table has exactly the source rows."""
    b1 = [(i, _ts("2024-01-01 10:00:00"), 1, 1.0) for i in range(10)]
    b2 = [(i, _ts("2024-01-01 11:00:00"), 1, 1.0) for i in range(10, 25)]
    src = _stage_batches(spark, tmp_path, [b1, b2], EVENT_SCHEMA)
    base = str(tmp_path / "eo2")
    sink = ExactlyOnceParquetSink(f"{base}/table", app_id="loop")
    for _ in range(2):
        s = _read_stream(spark, src, EVENT_SCHEMA).select("event_id", "value")
        q = (
            s.writeStream.foreachBatch(sink.foreach_batch())
            .option("checkpointLocation", f"{base}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    committed = sink.read_committed(spark)
    assert committed.count() == 25
    assert committed.select("event_id").distinct().count() == 25


def _poll_progress(q, max_seconds: float, min_batches: int, min_rows: int, require_state: bool = True):
    """Poll a streaming query's lastProgress once a second, DEDUPED BY
    batchId — a batch slower than the poll interval would otherwise be
    returned (and counted) twice, inflating throughput and letting the
    'state stopped growing' check compare a progress entry to itself.
    Returns (unique progress entries, elapsed seconds)."""
    t0 = time.time()
    progresses = []
    seen = set()
    while time.time() < t0 + max_seconds:
        time.sleep(1.0)
        p = q.lastProgress
        if p and (p.get("stateOperators") or not require_state) and p["batchId"] not in seen:
            seen.add(p["batchId"])
            progresses.append(p)
        rows_in = sum(pr["numInputRows"] for pr in progresses)
        if len(progresses) >= min_batches and rows_in >= min_rows:
            break
    return progresses, time.time() - t0


def test_throughput_and_flat_state(spark):
    """BASELINE.md self-set target: sustained rate-source throughput
    with a stateful aggregation whose state does NOT grow once the key
    space is saturated (bounded-state design point: fixed keys -> fixed
    state rows, no leak across batches)."""
    from deltasink_spark.sources import rate_source

    name = "tp_" + uuid.uuid4().hex[:8]
    keyed = (
        rate_source(spark, rows_per_second=50_000)
        .select((F.col("value") % 100).alias("user_id"), F.lit(1.0).alias("value"))
    )
    out = running_totals_stateful(keyed)
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        progresses, elapsed = _poll_progress(q, 30, min_batches=6, min_rows=100_000)
        assert len(progresses) >= 4, "stream made too few batches"
        rows_in = sum(pr["numInputRows"] for pr in progresses)
        throughput = rows_in / elapsed
        # generous floor: target is 10k rows/s on an idle box; accept 5k
        # here to tolerate CI contention, and report the real number.
        print(f"throughput: {throughput:.0f} rows/s over {elapsed:.1f}s")
        assert throughput >= 5_000, f"sustained only {throughput:.0f} rows/s"
        # state must be flat at the key-space size (100 users), not
        # growing with input rows
        state_rows = [pr["stateOperators"][0]["numRowsTotal"] for pr in progresses[-3:]]
        assert all(s <= 100 for s in state_rows), state_rows
        assert state_rows[-1] == state_rows[-2], "state still growing after saturation"
    finally:
        q.stop()
        q.awaitTermination(30)


def test_tws_fallback_throughput_flat_state_10x_keys(spark):
    """State-scale proof for the transformWithStateInPandas surface
    (via its applyInPandasWithState fallback where protobuf is absent,
    the real StatefulProcessor otherwise — same selection as the
    stream_transform_with_state op): a rate stream keyed at 10x the
    baseline key cardinality (1000 keys vs the 100-key r1 test) must
    sustain throughput with state rows flat AT the key-space size —
    state growth tracks distinct keys, never input rows. Measured
    rows/s is recorded in BASELINE.md next to the r1 44k figure."""
    from deltasink_spark.sources import rate_source
    from deltasink_spark.streaming.pipeline import (
        tws_available,
        type_totals_apiws,
        type_totals_tws,
    )

    name = "tws10x_" + uuid.uuid4().hex[:8]
    keyed = rate_source(spark, rows_per_second=50_000).select(
        F.concat(F.lit("t"), (F.col("value") % 1000)).alias("event_type"),
        F.lit(1.0).alias("value"),
    )
    out = type_totals_tws(keyed) if tws_available() else type_totals_apiws(keyed)
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        progresses, elapsed = _poll_progress(q, 45, min_batches=6, min_rows=100_000)
        assert len(progresses) >= 4, "stream made too few batches"
        rows_in = sum(pr["numInputRows"] for pr in progresses)
        throughput = rows_in / elapsed
        print(f"tws-fallback 1000-key throughput: {throughput:.0f} rows/s over {elapsed:.1f}s")
        assert throughput >= 5_000, f"sustained only {throughput:.0f} rows/s"
        # state flat at the 1000-key space — 10x keys, still bounded by
        # cardinality, not by rows ingested
        state_rows = [pr["stateOperators"][0]["numRowsTotal"] for pr in progresses[-3:]]
        assert all(s <= 1000 for s in state_rows), state_rows
        assert state_rows[-1] == state_rows[-2], "state still growing after saturation"
    finally:
        q.stop()
        q.awaitTermination(30)


def test_batched_stage_rebuilds_on_fixture_change(spark, tmp_path):
    """The ts-range stage holds COPIES of the fixture; a regenerated
    fixture (new mtime/size) must invalidate it, or streaming ops
    silently serve stale data (the r3 bug class)."""
    import os
    import shutil

    import pyspark.sql.functions as F

    from deltasink_spark.sources import events_stream_batched
    from deltasink_spark.streaming.pipeline import run_to_memory
    from deltasink_spark.tables import load

    src_dir = str(tmp_path / "sf")
    os.makedirs(src_dir)
    ev = load(spark, "/root/testdata/sf0.001", "events")
    ev.limit(100).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "tmp1"))
    shutil.copy(
        next((tmp_path / "tmp1").glob("part-*.parquet")), f"{src_dir}/events.parquet"
    )

    def drain_count():
        s = events_stream_batched(spark, src_dir, n_batches=2)
        name = "m_stage_" + os.urandom(4).hex()
        run_to_memory(s.select("event_id"), name)
        return spark.table(name).count()

    assert drain_count() == 100
    # "regenerate" the fixture with different content
    ev.limit(250).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "tmp2"))
    shutil.copy(
        next((tmp_path / "tmp2").glob("part-*.parquet")), f"{src_dir}/events.parquet"
    )
    assert drain_count() == 250  # stale stage would still return 100


def test_exactly_once_sink_concurrent_writers(spark, tmp_path):
    """Delta's multi-writer case: several apps appending to one table
    concurrently. The ledger commit point is flock-serialized, so
    interleaved appends can never shear each other's lines; every
    app's committed set is complete and read_committed returns the
    exact union."""
    import threading

    base = str(tmp_path / "eo_conc")
    apps = [f"w{i}" for i in range(4)]
    sinks = {a: ExactlyOnceParquetSink(base, app_id=a) for a in apps}
    df = spark.range(25).select(F.col("id").alias("event_id"))

    errs = []

    def run(app):
        try:
            for b in range(3):
                assert sinks[app].write_batch(df, b) is True
        except Exception as exc:  # pragma: no cover
            errs.append((app, exc))

    # Batch dirs are shared across app_ids in this layout, so give each
    # app its own sink table dir for DATA but a SHARED ledger would be
    # the contended resource; here all four share base (worst case).
    threads = [threading.Thread(target=run, args=(a,)) for a in apps]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs

    # every line in the ledger parses; every (app, batch) committed
    with open(sinks[apps[0]].ledger_path) as fh:
        recs = [json.loads(line) for line in fh if line.strip()]
    assert len(recs) == 12
    for a in apps:
        assert sinks[a].committed_batches() == {0, 1, 2}


def test_exactly_once_sink_concurrent_append_after_torn_tail(spark, tmp_path):
    """The concurrency hazard the flock exists for: a torn tail from a
    crashed writer plus a live concurrent committer. The committer must
    truncate the residue under the lock before appending — otherwise
    its committed line concatenates onto the torn bytes and the batch
    goes permanently invisible."""
    base = str(tmp_path / "eo_conc_torn")
    a = ExactlyOnceParquetSink(base, app_id="a")
    b = ExactlyOnceParquetSink(base, app_id="b")
    df = spark.range(10).select(F.col("id").alias("event_id"))
    assert a.write_batch(df, 0) is True

    # writer "a" crashes mid-append of its batch-1 commit record
    with open(a.ledger_path, "a") as fh:
        fh.write('{"app_id": "a", "batch_id": 1, "n_ro')

    # live writer "b" commits; its record must survive intact
    assert b.write_batch(df, 0) is True
    assert b.committed_batches() == {0}
    assert a.committed_batches() == {0}  # torn batch-1 stays uncommitted
    with open(a.ledger_path, "rb") as fh:
        raw = fh.read()
    assert raw.endswith(b"\n")
    assert all(json.loads(l) for l in raw.splitlines())


def test_exactly_once_sink_same_appid_double_commit_is_single(spark, tmp_path):
    """Two writers misconfigured with the SAME app_id racing one batch:
    the under-lock re-check makes exactly one of them the committer
    (the Delta txn action's idempotency contract)."""
    base = str(tmp_path / "eo_dup")
    s1 = ExactlyOnceParquetSink(base, app_id="t")
    s2 = ExactlyOnceParquetSink(base, app_id="t")
    df = spark.range(10).select(F.col("id").alias("event_id"))
    assert s1.write_batch(df, 0) is True
    assert s2.write_batch(df, 0) is False
    with open(s1.ledger_path) as fh:
        recs = [json.loads(line) for line in fh if line.strip()]
    assert len(recs) == 1
    assert s1.read_committed(spark).count() == 10


def test_compaction_reduces_files_keeps_rows_atomically(spark, tmp_path):
    """OPTIMIZE emulation: compaction must shrink the file count,
    preserve rows exactly, supersede the replaced batches in one
    ledger action, and leave replay idempotence intact (a replayed
    batch whose data was compacted away must NOT resurrect)."""
    base = str(tmp_path / "opt")
    sink = ExactlyOnceParquetSink(base, app_id="t")
    df = spark.range(600).select(F.col("id").alias("event_id"))
    for b in range(6):
        assert sink.write_batch(df.filter(F.col("event_id") % 6 == b).repartition(4), b)

    def parquet_files():
        n = 0
        for _, _, files in os.walk(sink.data_dir):
            n += sum(1 for f in files if f.endswith(".parquet"))
        return n

    before = parquet_files()
    pre_rows = sorted(r.event_id for r in sink.read_committed(spark).collect())
    cid = sink.compact(spark, target_files=2)
    assert cid == 0
    # visible set is now just the compacted dir
    assert sink._visible_entries() == [("c", 0)]
    post = sorted(r.event_id for r in sink.read_committed(spark).collect())
    assert post == pre_rows == list(range(600))
    # compacted layout has 2 files; the old 24 are superseded (they
    # remain on disk for time travel, but the LIVE set shrank)
    live_files = 2
    assert before >= 24
    import glob

    assert len(glob.glob(os.path.join(sink.data_dir, "compact_id=0", "*.parquet"))) == live_files
    # replay of a compacted-away batch is still a no-op
    assert sink.write_batch(df.limit(5), 3) is False
    assert sorted(r.event_id for r in sink.read_committed(spark).collect()) == pre_rows
    # a NEW batch after compaction lands next to the compacted dir
    extra = spark.range(600, 650).select(F.col("id").alias("event_id"))
    assert sink.write_batch(extra, 6) is True
    assert sink.read_committed(spark).count() == 650


def test_time_travel_reads_ledger_prefix(spark, tmp_path):
    base = str(tmp_path / "tt")
    sink = ExactlyOnceParquetSink(base, app_id="t")
    df = spark.range(30).select(F.col("id").alias("event_id"))
    sink.write_batch(df.filter("event_id < 10"), 0)
    sink.write_batch(df.filter("event_id >= 10 and event_id < 20"), 1)
    sink.compact(spark, target_files=1)  # version 2
    sink.write_batch(df.filter("event_id >= 20"), 2)  # version 3

    assert sink.read_committed(spark, as_of_version=0).count() == 10
    assert sink.read_committed(spark, as_of_version=1).count() == 20
    # version 2 is the compaction: same rows, new layout
    assert sink.read_committed(spark, as_of_version=2).count() == 20
    assert sink.read_committed(spark).count() == 30


def test_visibility_fold_random_histories(tmp_path):
    """Property check of the ledger -> live-directory fold at the
    metadata level (no Spark): random interleavings of batch commits
    and compactions must match a reference model where a compaction
    atomically swaps its replaced entries for itself, and
    committed_batches() (the replay-idempotence key) must keep every
    batch id ever ledgered, including superseded ones."""
    import random

    rng = random.Random(7)
    for trial in range(50):
        base = str(tmp_path / f"h{trial}")
        os.makedirs(base, exist_ok=True)
        sink = ExactlyOnceParquetSink(base, app_id="t")
        model_vis: list[tuple[str, int]] = []
        model_batches: set[int] = set()
        next_b, next_c = 0, 0
        with open(sink.ledger_path, "w") as fh:
            for _ in range(rng.randrange(1, 12)):
                if model_vis and rng.random() < 0.3:
                    rec = {
                        "app_id": "t",
                        "compact_id": next_c,
                        "n_rows": 0,
                        "replaces": [list(e) for e in model_vis],
                    }
                    model_vis = [("c", next_c)]
                    next_c += 1
                else:
                    rec = {"app_id": "t", "batch_id": next_b, "n_rows": 0}
                    model_vis.append(("b", next_b))
                    model_batches.add(next_b)
                    next_b += 1
                fh.write(json.dumps(rec) + "\n")
        assert sink._visible_entries() == model_vis
        assert sink.committed_batches() == model_batches
        # time travel at every version is a prefix replay
        n_recs = len(sink._ledger_records())
        assert sink._visible_entries(as_of_version=n_recs - 1) == model_vis
        assert sink._visible_entries(as_of_version=0) != [] or n_recs == 0


def test_python_stream_source_multi_batch_rate_limit(spark, tmp_path):
    """The Python streaming source must actually rate-limit: draining
    500 fixture rows at 250/batch takes >= 2 micro-batches, the offset
    log advances monotonically, and no row is lost or duplicated."""
    import uuid

    from deltasink_spark.operators.pyds import FixtureDocsStreamDataSource

    spark.dataSource.register(FixtureDocsStreamDataSource)
    src = "/root/testdata/sf0.01/documents.parquet"
    name = "pysrc" + uuid.uuid4().hex[:8]
    q = (
        spark.readStream.format("fixture_docs_stream")
        .option("path", src)
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(processingTime="50 milliseconds")
        .start()
    )
    import time

    deadline = time.time() + 60
    expected = spark.read.parquet(src).count()
    try:
        while time.time() < deadline and spark.table(name).count() < expected:
            time.sleep(0.1)
        batches = [p.numInputRows for p in q.recentProgress if p.numInputRows > 0]
    finally:
        q.stop()
        q.awaitTermination(30)
    got = spark.table(name)
    assert got.count() == expected
    assert got.select("doc_id").distinct().count() == expected  # no dupes
    assert len(batches) >= 2, f"expected a multi-batch drain, got {batches}"
    assert all(b <= 250 for b in batches), f"rate limit violated: {batches}"


def test_python_sink_orphan_parts_invisible(spark, tmp_path):
    """Two-phase commit contract of the manifest writer: a part file
    that exists on disk but is NOT referenced by the committed manifest
    (a crashed/speculative task's debris) must be invisible to
    read-back."""
    from deltasink_spark.operators.pyds import (
        ManifestJsonDataSource,
        read_manifest_json,
    )

    spark.dataSource.register(ManifestJsonDataSource)
    out = str(tmp_path / "msink")
    df = spark.range(10).selectExpr(
        "id AS doc_id", "concat('l', id) AS lang", "id * 3 AS n_chars"
    )
    df.write.format("manifest_json").mode("append").option("path", out).save()
    # plant an orphan part (valid jsonl, never committed)
    with open(f"{out}/part-orphanorphanorphan.jsonl", "w") as fh:
        fh.write('{"doc_id": 999, "lang": "zz", "n_chars": 1}\n')
    back = read_manifest_json(spark, out, "doc_id bigint, lang string, n_chars bigint")
    assert back.count() == 10
    assert back.filter("doc_id = 999").count() == 0


def test_vacuum_retention_and_time_travel(spark, tmp_path):
    """vacuum(retain_versions=k) must keep every directory the last
    k+1 versions reference (time travel inside the window still works)
    and delete everything a compaction superseded beyond it (time
    travel past the window raises on missing files). Current-version
    reads are bit-identical before/after."""
    import pytest as _pytest

    from deltasink_spark.sinks import ExactlyOnceParquetSink

    sink = ExactlyOnceParquetSink(str(tmp_path / "t"), app_id="vac")
    df = spark.range(0, 60).selectExpr("id", "id * 2 AS v")
    for b in range(3):
        sink.write_batch(df.filter(f"id % 3 = {b}"), b)
    sink.compact(spark, target_files=2)  # version 3 supersedes 0..2
    before = sorted(r["id"] for r in sink.read_committed(spark).collect())

    # retain the last 2 versions (v2 still references batch dirs 0-2,
    # so nothing is deletable yet)
    assert sink.vacuum(retain_versions=2) == 0
    assert sorted(r["id"] for r in sink.read_committed(spark, as_of_version=2).collect())

    # retention 0: only the compacted layout survives
    assert sink.vacuum(retain_versions=0) == 3
    after = sorted(r["id"] for r in sink.read_committed(spark).collect())
    assert after == before
    # time travel past the retained window now fails on missing files
    with _pytest.raises(Exception):
        sink.read_committed(spark, as_of_version=1).collect()
    # replay of a vacuumed batch remains a no-op
    assert sink.write_batch(df.limit(1), 1) is False


def test_python_sink_append_merges_manifest(spark, tmp_path):
    """A second mode('append') write must UNION with the committed
    manifest (not silently overwrite it), while mode('overwrite')
    replaces it."""
    from deltasink_spark.operators.pyds import (
        ManifestJsonDataSource,
        read_manifest_json,
    )

    spark.dataSource.register(ManifestJsonDataSource)
    out = str(tmp_path / "msink2")
    schema = "doc_id bigint, lang string, n_chars bigint"

    def w(lo, hi, mode):
        spark.range(lo, hi).selectExpr(
            "id AS doc_id", "concat('l', id) AS lang", "id * 3 AS n_chars"
        ).write.format("manifest_json").mode(mode).option("path", out).save()

    w(0, 10, "append")
    w(10, 15, "append")
    back = read_manifest_json(spark, out, schema)
    assert back.count() == 15
    assert back.agg({"doc_id": "max"}).first()[0] == 14
    w(100, 103, "overwrite")
    back = read_manifest_json(spark, out, schema)
    assert sorted(r["doc_id"] for r in back.collect()) == [100, 101, 102]


def test_compact_concurrent_conflict_detected(spark, tmp_path):
    """Optimistic-concurrency check: a compaction whose snapshot was
    invalidated by another compaction must ABORT at commit time (its
    directory removed), never ledger the same source rows twice."""
    import pytest as _pytest

    from deltasink_spark.sinks import ConcurrentCompactionError, ExactlyOnceParquetSink

    sink = ExactlyOnceParquetSink(str(tmp_path / "t"), app_id="cc")
    df = spark.range(0, 30).selectExpr("id", "id * 2 AS v")
    for b in range(2):
        sink.write_batch(df.filter(f"id % 2 = {b}"), b)

    # simulate a racer: capture this compaction's snapshot, then let a
    # full compaction commit before our commit point re-validates
    stale_replaced = sink._visible_entries()
    sink.compact(spark, target_files=2)  # the racer wins

    import json as _json
    import os as _os

    # replay the loser's commit path manually: cid collision + stale set
    records = sink._ledger_records()
    taken = {r["compact_id"] for r in records if "compact_id" in r}
    assert 0 in taken
    visible_now = set(sink._visible_entries())
    assert not set(stale_replaced) <= visible_now  # snapshot invalidated

    # and the public API path: a second compact over the NEW state is
    # legal (compacts the compacted dir), while a hand-built stale one
    # via the same validation logic raises
    class _StaleSink(ExactlyOnceParquetSink):
        def _visible_entries(self, as_of_version=None):
            # pretend planning saw the pre-compaction state, but let the
            # under-lock re-validation (which passes as_of_version=None
            # the second time on the SAME instance) see reality.
            if not hasattr(self, "_called"):
                self._called = True
                return stale_replaced
            return super()._visible_entries(as_of_version)

    stale = _StaleSink(str(tmp_path / "t"), app_id="cc")
    with _pytest.raises(ConcurrentCompactionError):
        stale.compact(spark, target_files=2)
    # no partial debris: rows unchanged, single consistent read
    assert sink.read_committed(spark).count() == 30


def test_python_stream_reader_restart_never_regresses(tmp_path):
    """Restart protocol, driven as MicroBatchExecution actually drives
    it: the engine logs whatever latestOffset() returns as the batch
    end and starts the NEXT batch from that logged end. So the unsafe
    moment is the FIRST latestOffset() on a fresh post-recovery
    instance — if it regressed below the committed frontier (stale
    _admitted=0 + one _CHUNK step = 250 while 400 is committed), the
    regressed value would enter the offset log and the following batch
    would re-plan rows 250-400. The fix: commit(end) persists the
    acked frontier to an ack_dir sidecar and a fresh reader
    initializes from it, so no offset below the frontier can ever be
    returned."""
    from deltasink_spark.operators.pyds import _CHUNK, _FixtureDocsStreamReader

    opts = {
        "path": "/root/testdata/sf0.01/documents.parquet",
        "ack_dir": str(tmp_path / "ack"),
    }
    r = _FixtureDocsStreamReader(opts)
    # engine ran some batches and committed through offset 400
    r.commit({"pos": 400})
    r.commit({"pos": 250})  # late/duplicate ack must not regress the sidecar

    # recovery: reader is reconstructed from scratch (same options)
    r2 = _FixtureDocsStreamReader(opts)
    assert r2._admitted == 400  # initialized from the acked sidecar
    nxt = r2.latestOffset()  # the FIRST post-restart offset the engine logs
    assert nxt["pos"] == min(r2._rows(), 400 + _CHUNK)  # past the frontier
    assert nxt["pos"] > 400  # never the stale 250
    parts = r2.partitions({"pos": 400}, nxt)
    served = sorted((p.start, p.end) for p in parts if p.end > p.start)
    assert served and served[0][0] == 400  # continues exactly at the frontier
    assert all(s >= 400 for s, _ in served)  # nothing below is ever re-served

    # degraded path (no ack_dir): a stale logged range end < start must
    # collapse to an empty partition set, never a re-emission
    r3 = _FixtureDocsStreamReader({"path": opts["path"]})
    parts3 = r3.partitions({"pos": 400}, {"pos": 250})
    assert all(p.end <= p.start for p in parts3)
    assert r3._admitted >= 400  # fast-forwarded for subsequent planning


def test_python_manifest_writer_append_commits_union_under_lock(tmp_path):
    """Two sequential append jobs to one manifest path must UNION
    their parts in the committed manifest (the flock-serialized
    read-modify-write), and readers must see every committed row
    exactly once."""
    import json

    from deltasink_spark.operators.pyds import _ManifestJsonWriter, _PartFile

    path = str(tmp_path / "t")
    w1 = _ManifestJsonWriter({"path": path})
    w2 = _ManifestJsonWriter({"path": path})

    class _Row:
        def __init__(self, i):
            self.i = i

        def asDict(self):
            return {"doc_id": self.i, "lang": "en", "n_chars": self.i}

    m1 = w1.write(iter([_Row(1), _Row(2)]))
    m2 = w2.write(iter([_Row(3)]))
    w1.commit([m1])
    w2.commit([m2])
    with open(tmp_path / "t" / "_MANIFEST.json") as fh:
        manifest = json.load(fh)
    assert manifest["rows"] == 3
    assert sorted(manifest["parts"]) == sorted({m1.path, m2.path})
    assert isinstance(m1, _PartFile)


def test_python_stream_source_engine_restart_exactly_once(spark, tmp_path):
    """ENGINE-level restart proof for the ack_dir protocol (the unit
    test above simulates the offset-log sequence; this drives the real
    MicroBatchExecution): run the rate-limited Python source against a
    checkpointed PARQUET sink, stop it mid-drain after at least one
    committed batch, restart the SAME checkpoint + ack_dir, drain, and
    assert the metadata-committed output is exactly the fixture —
    every doc_id once, none lost, none duplicated. A regressed
    post-restart latestOffset() would re-emit already-delivered rows
    under NEW batch ids, which the file sink would commit as
    duplicates; the acked-offset sidecar prevents exactly that."""
    from deltasink_spark.operators.pyds import FixtureDocsStreamDataSource

    spark.dataSource.register(FixtureDocsStreamDataSource)
    src = "/root/testdata/sf0.01/documents.parquet"
    expected = spark.read.parquet(src).count()
    ckpt = str(tmp_path / "ckpt")
    ack = str(tmp_path / "ack")
    out = str(tmp_path / "out")

    def start():
        return (
            spark.readStream.format("fixture_docs_stream")
            .option("path", src)
            .option("ack_dir", ack)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(processingTime="1 second")
            .start()
        )

    def committed_count():
        try:  # metadata-log-aware read; empty before the first commit
            return spark.read.parquet(out).count()
        except Exception:
            return 0

    def committed_batches():
        # poll the checkpoint's commit log directly: cheap (a listdir,
        # ~micros) vs a metadata-log parquet read (~100-500ms), so the
        # stop lands INSIDE the batch interval instead of racing it
        d = os.path.join(ckpt, "commits")
        try:
            return len([f for f in os.listdir(d) if not f.startswith(".")])
        except FileNotFoundError:
            return 0

    q1 = start()
    deadline = time.time() + 60
    try:
        # stop after the FIRST committed batch; the 1s trigger leaves a
        # ~1s window before batch 2 can commit
        while time.time() < deadline and committed_batches() < 1:
            time.sleep(0.01)
        assert committed_batches() >= 1, "first run never committed a batch"
    finally:
        q1.stop()
        q1.awaitTermination(30)
    if committed_count() >= expected:
        pytest.skip("stream drained before the stop landed; restart window missed")

    q2 = start()
    deadline = time.time() + 90
    try:
        while time.time() < deadline and committed_count() < expected:
            time.sleep(0.1)
        time.sleep(0.3)  # let a trailing batch settle
    finally:
        q2.stop()
        q2.awaitTermination(30)

    got = spark.read.parquet(out)
    assert got.count() == expected, f"rows={got.count()} expected={expected}"
    assert got.select("doc_id").distinct().count() == expected, (
        "duplicate doc_ids across restart"
    )


def test_kafka_e2e_wire_duplicates_removed_and_replay_noop(spark, tmp_path):
    """The kafka_emulated_e2e invariants, asserted stepwise: (1) the
    broker-emulating source really delivers at-least-once (wire rows >
    distinct keys); (2) the watermarked dedup + ledgered sink commit
    exactly one row per event_id; (3) a full checkpoint-recovery rerun
    commits NOTHING new (ledger length and row count stable)."""
    import uuid as _uuid

    from deltasink_spark.operators.pyds import FixtureKafkaStreamDataSource
    from deltasink_spark.sinks import ExactlyOnceParquetSink

    spark.dataSource.register(FixtureKafkaStreamDataSource)
    src = "/root/testdata/sf0.01/events.parquet"
    expected = spark.read.parquet(src).count()

    # (1) raw wire frame carries injected re-delivery duplicates
    name = "m" + _uuid.uuid4().hex[:8]
    q = (
        spark.readStream.format("fixture_kafka_stream")
        .option("path", src)
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    raw = spark.table(name)
    n_raw = raw.count()
    assert n_raw > expected, "source must inject at-least-once duplicates"
    assert raw.select("key").distinct().count() == expected

    # (2)+(3) dedup -> ledgered sink, run twice off one checkpoint
    import pyspark.sql.functions as F

    sink = ExactlyOnceParquetSink(str(tmp_path / "table"), app_id="kafka_e2e_test")
    ledger_lines: list[int] = []
    for run in range(2):
        rec = (
            spark.readStream.format("fixture_kafka_stream")
            .option("path", src)
            .load()
        )
        parsed = rec.select(
            F.from_json(
                F.col("value").cast("string"),
                "event_id bigint, user_id bigint, value double",
            ).alias("r"),
            F.timestamp_millis(F.col("timestamp")).alias("kts"),
        ).select("r.event_id", "r.user_id", "r.value", "kts")
        deduped = (
            parsed.withWatermark("kts", "30 days")
            .dropDuplicatesWithinWatermark(["event_id"])
            .drop("kts")
        )
        qq = (
            deduped.writeStream.foreachBatch(sink.foreach_batch())
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        qq.awaitTermination()
        committed = sink.read_committed(spark).count()
        assert committed == expected, f"run {run}: {committed} != {expected}"
        ledger_lines.append(
            len((tmp_path / "table" / "_txn_ledger.jsonl").read_text().strip().splitlines())
        )
    assert sink.read_committed(spark).select("event_id").distinct().count() == expected
    # (3) the recovery rerun must add ZERO ledger entries — a sink that
    # ledgers replayed/empty batches would still pass the row-count
    # asserts above, so the invariant needs its own check
    assert ledger_lines[0] >= 1
    assert ledger_lines[1] == ledger_lines[0], ledger_lines


def test_upsert_merge_throughput_and_bounded_target(spark, tmp_path):
    """BASELINE.md upsert-path throughput: a foreachBatch MERGE-shaped
    upsert (anti-join existing keys + union + atomic overwrite — the
    delta-less DeltaTable.merge emulation sink_delta_upsert uses)
    driven by a sustained rate source over a bounded key space. The
    target table must stay AT the key-space size (upserts replace,
    never append-duplicate), and the sustained merge throughput is the
    recorded rows/s figure."""
    from deltasink_spark.sources import rate_source

    keyspace = 5_000
    target = str(tmp_path / "target")
    tmp = str(tmp_path / "tmp")
    # seed the target so every batch takes the uniform merge path
    # (a 0-row seed writes no part files and breaks schema inference)
    spark.range(1).select(
        F.col("id").alias("user_id"), F.lit(0.0).alias("value")
    ).write.mode("overwrite").parquet(target)

    def merge_batch(df, bid):
        # latest value per key within the batch
        batch = df.groupBy("user_id").agg(F.max("value").alias("value"))
        sess = df.sparkSession
        existing = sess.read.parquet(target)
        merged = existing.join(batch, "user_id", "left_anti").unionByName(batch)
        merged.write.mode("overwrite").parquet(tmp)
        sess.read.parquet(tmp).write.mode("overwrite").parquet(target)

    keyed = rate_source(spark, rows_per_second=20_000).select(
        (F.col("value") % keyspace).alias("user_id"),
        F.col("value").cast("double").alias("value"),
    )
    q = (
        keyed.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="250 milliseconds")
        .start()
    )
    try:
        progresses, elapsed = _poll_progress(
            q, 30, min_batches=8, min_rows=200_000, require_state=False
        )
        rows_in = sum(pr["numInputRows"] for pr in progresses)
        throughput = rows_in / elapsed
        print(f"upsert merge throughput: {throughput:.0f} rows/s over {elapsed:.1f}s")
        assert throughput >= 2_000, f"sustained only {throughput:.0f} rows/s"
    finally:
        q.stop()
        q.awaitTermination(30)
    # stop() can interrupt merge_batch between target's delete and its
    # re-write; exactly one of (target, tmp) is a complete table at any
    # interruption point, so fall back to the pre-overwrite state
    try:
        final = spark.read.parquet(target)
        n = final.count()
    except Exception:
        final = spark.read.parquet(tmp)
        n = final.count()
    assert n <= keyspace, f"upsert target grew past the key space: {n}"
    assert final.select("user_id").distinct().count() == n


def test_upsert_100_batches_no_growth(spark, tmp_path):
    """100 consecutive MERGE upserts of rotating key slices: once the
    key space is saturated the target row count must be EXACTLY flat —
    re-upserting a key replaces its row, the no-state-growth invariant
    of the upsert path (the streaming foreachBatch applies this same
    merge per micro-batch)."""
    keyspace = 1_000
    # ping-pong between two target paths: each round reads generation
    # b and overwrites generation b+1, so one write per batch suffices
    # (the old write-to-tmp-then-copy needed two because a path cannot
    # be overwritten while it is also the read input — r16, halves the
    # test's 200 parquet writes with identical merge semantics).
    paths = [str(tmp_path / "t0"), str(tmp_path / "t1")]
    base = spark.range(keyspace).select(
        F.col("id").alias("user_id"), F.lit(0.0).alias("value")
    )
    base.write.mode("overwrite").parquet(paths[0])
    cur = 0
    counts = []
    for b in range(100):
        batch = spark.range(b * 10, b * 10 + 50).select(
            (F.col("id") % keyspace).alias("user_id"),
            F.lit(float(b)).alias("value"),
        ).groupBy("user_id").agg(F.max("value").alias("value"))
        existing = spark.read.parquet(paths[cur])
        merged = existing.join(batch, "user_id", "left_anti").unionByName(batch)
        cur = 1 - cur
        merged.write.mode("overwrite").parquet(paths[cur])
        if b % 10 == 9:
            counts.append(spark.read.parquet(paths[cur]).count())
    assert counts == [keyspace] * len(counts), counts


def test_stream_stream_outer_nulls_gated_by_watermark(spark, tmp_path):
    """join_stream_stream_outer semantics: an unmatched left row's
    null-padded result emits ONLY after the watermark passes its join
    window end (ts_a + 5min); rows whose window is still open at end
    of input stay in state and are absent from the output."""

    def drain(batches):
        src = _stage_batches(spark, tmp_path, batches, EVENT_SCHEMA)

        def stream():
            return _read_stream(spark, src, EVENT_SCHEMA).withWatermark("ts", "5 minutes")

        a = stream().select(
            F.col("event_id").alias("eid_a"), F.col("user_id").alias("uid"), F.col("ts").alias("ts_a")
        )
        b = stream().select(
            F.col("event_id").alias("eid_b"), F.col("user_id").alias("uid2"), F.col("ts").alias("ts_b")
        )
        joined = a.join(
            b,
            (F.col("uid") == F.col("uid2"))
            & (F.col("eid_a") < F.col("eid_b"))
            & (F.col("ts_b") >= F.col("ts_a"))
            & (F.col("ts_b") <= F.col("ts_a") + F.expr("INTERVAL 5 MINUTES")),
            "leftOuter",
        ).select("eid_a", "eid_b")
        name = "lo_" + uuid.uuid4().hex[:8]
        run_to_memory(joined, name, output_mode="append")
        return {(r["eid_a"], r["eid_b"]) for r in spark.table(name).collect()}

    b1 = [(1, _ts("2024-01-01 10:00:00"), 1, 1.0), (2, _ts("2024-01-01 10:04:00"), 1, 1.0)]
    b2 = [(3, _ts("2024-01-01 10:30:00"), 1, 1.0)]

    # Phase 1: watermark ends at 10:04-5m = 09:59 — no window sealed,
    # so ONLY the matched pair emits; event 2's null row is withheld.
    assert drain([b1]) == {(1, 2)}
    # Phase 2: batch 2 advances the watermark to 10:25, past event 2's
    # window end 10:09 -> its null row emits. Event 3's own window
    # (ends 10:35) is still open -> correctly absent.
    assert drain([b1, b2]) == {(1, 2), (2, None)}


def test_cdf_read_replay_idempotent_and_compaction_silent(spark, tmp_path):
    """read_changes must (a) return the same rows on every read of the
    same version range (the downstream-sync checkpoint contract),
    (b) emit NOTHING for compaction commits (bytes moved, no logical
    change), and (c) reject out-of-ledger ranges."""
    sink = ExactlyOnceParquetSink(str(tmp_path / "t"), app_id="cdf_test")
    df = spark.range(10).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    sink.write_batch(df.filter(F.col("k") < 5), 0)        # version 0
    sink.write_batch(df.filter(F.col("k") >= 5), 1)       # version 1
    sink.compact(spark, target_files=1)                   # version 2
    sink.write_batch(
        df.select((F.col("k") + 100).alias("k"), F.col("v")), 2
    )  # version 3

    def read(lo, hi):
        return sorted(
            (r["k"], r["v"], r["_change_type"], r["_commit_version"])
            for r in sink.read_changes(spark, lo, hi).collect()
        )

    first = read(0, 3)
    assert first == read(0, 3)  # replay-idempotent
    assert {r[3] for r in first} == {1, 3}  # compaction (v2) emitted nothing
    assert [r for r in first if r[3] == 1] == [
        (k, 2 * k, "insert", 1) for k in range(5, 10)
    ]
    # full-history read covers every logical row exactly once
    full = read(-1, 3)
    assert len(full) == 20
    with pytest.raises(ValueError):
        sink.read_changes(spark, 0, 99)
    # only-compaction range: EMPTY feed (not an error — the polling
    # "anything since my checkpoint?" idiom must survive quiet cycles)
    quiet = sink.read_changes(spark, 1, 2)
    assert quiet.count() == 0
    assert {"_change_type", "_commit_version"} <= set(quiet.columns)


def test_topic_routing_partial_crash_completes_without_duplicates(spark, tmp_path):
    """A crash BETWEEN per-table writes inside one routed batch: table
    'a' commits, the process dies before 'b'. The replayed batch must
    skip 'a' (already ledgered under its app_id) and complete 'b' —
    each table exactly-once, the reason routing uses per-table txn
    ids on a shared ledger."""
    base = str(tmp_path / "t")
    a = ExactlyOnceParquetSink(base, app_id="route_a")
    b = ExactlyOnceParquetSink(base, app_id="route_b")
    df = spark.range(20).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("topic"),
    )
    # batch 0, crashed run: only table a's write completed
    assert a.write_batch(df.filter(F.col("topic") == "a"), 0) is True
    # replayed batch 0: a skips, b completes
    assert a.write_batch(df.filter(F.col("topic") == "a"), 0) is False
    assert b.write_batch(df.filter(F.col("topic") == "b"), 0) is True
    got_a = sorted(r["k"] for r in a.read_committed(spark).collect())
    got_b = sorted(r["k"] for r in b.read_committed(spark).collect())
    assert got_a == list(range(0, 20, 2))
    assert got_b == list(range(1, 20, 2))


def test_progress_metrics_wallclock_fields_present(spark, tmp_path):
    """The rows-only residue of stream_progress_metrics: per-batch
    batchDuration must be positive and the observe audit must appear
    in every data batch's progress — the wall-clock half the exact
    oracle deliberately does not hash."""
    import json as _json

    b1 = [(1, _ts("2024-01-01 10:00:00"), 1, 1.0)]
    b2 = [(2, _ts("2024-01-01 11:00:00"), 1, 1.0)]
    src = _stage_batches(spark, tmp_path, [b1, b2], EVENT_SCHEMA)
    s = _read_stream(spark, src, EVENT_SCHEMA).observe(
        "audit", F.count(F.lit(1)).alias("rows")
    )
    q = (
        s.writeStream.format("memory")
        .queryName("pm_" + uuid.uuid4().hex[:8])
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    progs = [_json.loads(p.json) for p in q.recentProgress]
    data = [p for p in progs if p["numInputRows"] > 0]
    assert len(data) == 2
    assert all(p["batchDuration"] > 0 for p in data)
    assert all(p["observedMetrics"]["audit"]["rows"] == 1 for p in data)


def test_late_router_reconciles_and_respects_delay(spark, tmp_path):
    """_LateRouter: (a) main ∪ late == source with no overlap (nothing
    silently lost), (b) a straggler INSIDE the delay window stays
    'main' (the watermark is max - delay, not max), (c) the watermark
    never regresses when a late batch's max is below the running max."""
    from deltasink_spark.queries.streaming_ops import _LateRouter

    b1 = [(1, _ts("2024-01-01 10:00:00"), 1, 1.0),
          (2, _ts("2024-01-01 12:00:00"), 1, 1.0)]
    # arrives while wm = 12:00 - 10min = 11:50
    b2 = [(3, _ts("2024-01-01 10:30:00"), 1, 1.0),   # late (< 11:50)
          (4, _ts("2024-01-01 11:55:00"), 1, 1.0),   # inside delay: main
          (5, _ts("2024-01-01 13:00:00"), 1, 1.0)]   # on time
    # b2's late row must not have regressed the watermark (still 12:50)
    b3 = [(6, _ts("2024-01-01 12:40:00"), 1, 1.0)]   # late (< 12:50)
    src = _stage_batches(spark, tmp_path, [b1, b2, b3], EVENT_SCHEMA)
    router = _LateRouter(str(tmp_path / "route"), 600_000_000)
    s = _read_stream(spark, src, EVENT_SCHEMA).select("event_id", "ts")
    q = (
        s.writeStream.foreachBatch(router)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    main = {r["event_id"] for r in router.main.table.read(spark).collect()}
    late = {r["event_id"] for r in router.late.table.read(spark).collect()}
    assert main | late == {1, 2, 3, 4, 5, 6}  # nothing lost
    assert main & late == set()               # nothing duplicated
    assert late == {3, 6}


def test_late_router_recovers_watermark_after_restart(spark, tmp_path):
    """A restarted router (fresh max_us) over a table with committed
    batches must re-derive the watermark from the committed main
    table before routing — otherwise the first post-restart batch's
    stragglers all land in 'main' (the silent-loss hole the
    side-output exists to close)."""
    from deltasink_spark.queries.streaming_ops import _LateRouter

    base = str(tmp_path / "route")
    r1 = _LateRouter(base, 600_000_000)
    b0 = spark.createDataFrame(
        [(1, _ts("2024-01-01 10:00:00")), (2, _ts("2024-01-01 12:00:00"))],
        "event_id long, ts timestamp",
    )
    r1(b0, 0)  # commits batch 0, running max = 12:00
    # crash: a NEW router instance replays nothing (batch 0 ledgered)
    # and receives batch 1 carrying a straggler
    r2 = _LateRouter(base, 600_000_000)
    b1 = spark.createDataFrame(
        [(3, _ts("2024-01-01 10:30:00")),   # late vs 11:50
         (4, _ts("2024-01-01 13:00:00"))],
        "event_id long, ts timestamp",
    )
    r2(b1, 1)
    late = {r["event_id"] for r in r2.late.table.read(spark).collect()}
    main = {r["event_id"] for r in r2.main.table.read(spark).collect()}
    assert late == {3}
    assert main == {1, 2, 4}


def test_stream_stream_full_outer_both_sides_gated(spark, tmp_path):
    """join_stream_stream_full semantics: LEFT nulls gate on the
    window end (ts_a + 5min < wm), RIGHT nulls gate on the row's own
    event time (ts_b < wm, since a right row only matches
    earlier-or-equal lefts and sub-watermark lefts are dropped);
    unsealed rows of either side stay in state, absent from output."""

    def drain(batches):
        src = _stage_batches(spark, tmp_path, batches, EVENT_SCHEMA)

        def stream():
            return _read_stream(spark, src, EVENT_SCHEMA).withWatermark(
                "ts", "5 minutes"
            )

        a = stream().select(
            F.col("event_id").alias("eid_a"), F.col("user_id").alias("uid"),
            F.col("ts").alias("ts_a"),
        )
        b = stream().select(
            F.col("event_id").alias("eid_b"), F.col("user_id").alias("uid2"),
            F.col("ts").alias("ts_b"),
        )
        joined = a.join(
            b,
            (F.col("uid") == F.col("uid2"))
            & (F.col("eid_a") < F.col("eid_b"))
            & (F.col("ts_b") >= F.col("ts_a"))
            & (F.col("ts_b") <= F.col("ts_a") + F.expr("INTERVAL 5 MINUTES")),
            "fullOuter",
        ).select("eid_a", "eid_b")
        name = "fo_" + uuid.uuid4().hex[:8]
        run_to_memory(joined, name, output_mode="append")
        return {(r["eid_a"], r["eid_b"]) for r in spark.table(name).collect()}

    # users: event 1,2 match (user 1); event 5 (user 2) can never match
    # as LEFT (no later user-2 row) nor as RIGHT (no earlier user-2 row)
    b1 = [
        (1, _ts("2024-01-01 10:00:00"), 1, 1.0),
        (2, _ts("2024-01-01 10:04:00"), 1, 1.0),
        (5, _ts("2024-01-01 10:02:00"), 2, 1.0),
    ]
    b2 = [(9, _ts("2024-01-01 10:30:00"), 3, 1.0)]

    # Phase 1: wm = 09:59 — nothing sealed beyond the matched pair.
    assert drain([b1]) == {(1, 2)}
    # Phase 2: wm = 10:25. Event 5 seals BOTH ways: as unmatched left
    # (window end 10:07 < wm) -> (5, None); as unmatched right
    # (ts 10:02 < wm) -> (None, 5). Events 1,2 are matched so no null
    # rows; event 9's windows are open -> absent.
    out = drain([b1, b2])
    assert (5, None) in out and (None, 5) in out
    assert (1, 2) in out
    assert all(9 not in (x, y) for x, y in out)
    # events 1,2 matched: 2 can still null-emit as RIGHT? No: it HAS a
    # match (1,2) but full outer still only suppresses the null row for
    # MATCHED rows — assert no spurious nulls for 1 or 2
    assert (1, None) not in out and (None, 2) not in out


def test_kafka_read_committed_offset_gaps(spark):
    """read_committed must deliver offset GAPS where aborted-txn data
    sat (offsets are log positions, not renumbered), and the aborted
    event_ids must be absent; read_uncommitted sees everything."""
    from deltasink_spark.operators.pyds import (
        FixtureKafkaStreamDataSource,
        _kafka_txn_aborted,
    )
    from deltasink_spark.queries.sources_sinks import _run_until
    from deltasink_spark.tables import load

    sf = "/root/testdata/sf0.001"
    spark.dataSource.register(FixtureKafkaStreamDataSource)
    total = load(spark, sf, "events").count()
    eids = [r[0] for r in load(spark, sf, "events").select("event_id").collect()]
    n_aborted = sum(1 for e in eids if _kafka_txn_aborted(e))
    assert n_aborted > 0, "fixture must exercise the aborted path"

    def read(iso, min_rows):
        s = (
            spark.readStream.format("fixture_kafka_stream")
            .option("path", f"{sf}/events.parquet")
            .option("isolation_level", iso)
            .load()
            .select("key", "offset")
        )
        return _run_until(spark, s, min_rows=min_rows)

    committed = read("read_committed", total - n_aborted)
    uncommitted = read("read_uncommitted", total)
    got_c = {int(r["key"]) for r in committed.collect()}
    got_u = {int(r["key"]) for r in uncommitted.collect()}
    assert got_u == set(eids)
    assert got_c == {e for e in eids if not _kafka_txn_aborted(e)}
    # offset gaps: committed offsets are a strict subset missing the
    # aborted positions, never renumbered
    offs_c = {r["offset"] for r in committed.collect()}
    offs_u = {r["offset"] for r in uncommitted.collect()}
    assert offs_c < offs_u


def test_topic_routing_partial_crash_delta_log(spark, tmp_path):
    """The partial-crash case on the REAL-log routed tables
    (sink_topic_routing's r11 shape — one DeltaLogTable per topic,
    per-table txn app_ids): table 'a' commits batch 0, the process
    dies before 'b'; the replayed batch must skip 'a' (its txn
    high-water already covers 0) and complete 'b' — each table
    exactly-once."""
    from deltasink_spark.delta_log import DeltaLogSink

    a = DeltaLogSink(str(tmp_path / "t_a"), app_id="route_a")
    b = DeltaLogSink(str(tmp_path / "t_b"), app_id="route_b")
    df = spark.range(20).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("topic"),
    )
    assert a.write_batch(df.filter(F.col("topic") == "a"), 0) is True
    # replayed batch 0: a skips, b completes
    assert a.write_batch(df.filter(F.col("topic") == "a"), 0) is False
    assert b.write_batch(df.filter(F.col("topic") == "b"), 0) is True
    got_a = sorted(r["k"] for r in a.table.read(spark).collect())
    got_b = sorted(r["k"] for r in b.table.read(spark).collect())
    assert got_a == list(range(0, 20, 2))
    assert got_b == list(range(1, 20, 2))


def test_delta_log_ingest_throughput_and_commit_latency(spark, tmp_path):
    """BASELINE.md real-log ingest throughput (r10 verdict missing #4:
    the bespoke path's 44k rows/s figure had no `_delta_log` sibling):
    a sustained rate source drains through DeltaLogSink — every batch
    one real put-if-absent `_delta_log` commit with txn replay guard
    and add-action stats. Records sustained rows/s and mean per-commit
    wall-clock; floors assert the commit path never regresses into
    seconds-per-batch territory. The final row count must equal the
    ledgered stats total (no loss through the commit protocol)."""
    import json as _json

    from deltasink_spark.delta_log import DeltaLogSink
    from deltasink_spark.sources import rate_source

    sink = DeltaLogSink(str(tmp_path / "table"), app_id="ingest_bench")
    s = rate_source(spark, rows_per_second=20_000).select(
        F.col("value").alias("event_id"),
        (F.col("value") % 101).alias("user_id"),
        F.col("value").cast("double").alias("value"),
    )
    q = (
        s.writeStream.foreachBatch(sink.foreach_batch())
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="250 milliseconds")
        .start()
    )
    try:
        progresses, elapsed = _poll_progress(
            q, 30, min_batches=8, min_rows=100_000, require_state=False
        )
        rows_in = sum(pr["numInputRows"] for pr in progresses)
        throughput = rows_in / elapsed
        data = [pr for pr in progresses if pr["numInputRows"] > 0]
        assert data, f"no data batches in {elapsed:.1f}s (starved source)"
        commit_ms = sum(pr["batchDuration"] for pr in data) / len(data)
        print(
            f"delta-log ingest: {throughput:.0f} rows/s over "
            f"{elapsed:.1f}s, mean per-commit {commit_ms:.0f} ms "
            f"({len(data)} commits)"
        )
        assert throughput >= 2_000, f"sustained only {throughput:.0f} rows/s"
        assert commit_ms <= 5_000, f"per-commit latency {commit_ms:.0f} ms"
    finally:
        q.stop()
        q.awaitTermination(30)
    committed = sum(
        _json.loads(a["stats"])["numRecords"]
        for a in sink.table.snapshot_adds().values()
        if a.get("stats")
    )
    assert sink.table.read(spark).count() == committed


def test_state_store_provider_round_trip(spark, tmp_path):
    """`spark.sql.streaming.stateStore.providerClass` coverage: the
    session default IS the HDFS-backed provider; an explicit default
    and the bundled RocksDB provider both drain a stateful dedup to
    the SAME result set (accepted); an unknown provider class fails
    the query LOUDLY (rejected — never silent wrong state)."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    key = "spark.sql.streaming.stateStore.providerClass"
    hdfs = (
        "org.apache.spark.sql.execution.streaming.state."
        "HDFSBackedStateStoreProvider"
    )
    rocks = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    assert hdfs in spark.conf.get(key)
    src = str(tmp_path / "src")
    # duplicated keys across two batches: the dedup state must carry
    # across micro-batches for the second batch to drop repeats
    base_rows = [(i % 8, i) for i in range(32)]
    spark.createDataFrame(base_rows, "k long, v long").repartition(1).write.mode(
        "overwrite"
    ).parquet(src)

    def drain(provider):
        prev = spark.conf.get(key)
        spark.conf.set(key, provider)
        rows = []
        try:
            s = (
                spark.readStream.schema("k long, v long")
                .option("maxFilesPerTrigger", "1")
                .parquet(src)
                .dropDuplicates(["k"])
            )
            q = (
                s.writeStream.foreachBatch(
                    lambda b, i: rows.append(sorted(map(tuple, b.collect())))
                )
                .option(
                    "checkpointLocation",
                    str(tmp_path / f"ckpt_{uuid.uuid4().hex}"),
                )
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
        finally:
            spark.conf.set(key, prev)
        return sorted(r for batch in rows for r in batch)

    got_default = drain(hdfs)
    keys = {k for k, _v in got_default}
    assert keys == set(range(8))
    assert len(got_default) == 8  # state dropped every repeat
    got_rocks = drain(rocks)
    assert {k for k, _v in got_rocks} == keys
    assert len(got_rocks) == 8
    # RocksDB CHANGELOG CHECKPOINTING (the incremental-checkpoint mode
    # an operator flips at large state): same results under the toggle
    clog = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    spark.conf.set(clog, "true")
    try:
        got_clog = drain(rocks)
    finally:
        spark.conf.unset(clog)
    assert {k for k, _v in got_clog} == keys and len(got_clog) == 8
    with pytest.raises(StreamingQueryException):
        drain("com.example.NoSuchStateStoreProvider")
    # and the conf is restored after every drain (round trip)
    assert hdfs in spark.conf.get(key)
