"""The ingest_small_batches workload: drain a seeded Kafka-wire backlog
into a Delta table, one generated file per micro-batch.

Pipeline: file stream (``maxFilesPerTrigger=1``) ->
``streaming.pipeline.parse_kafka_json`` -> ``dedup_within_watermark``
on (topic, partition, offset) -> ``DeltaLogSink.write_batch``.

Set-up starts the session and drains the warm-up files. Each
measured round then drops ``ROUND_FILES`` new files and drains them
with one ``availableNow`` query on the same checkpoint, as a scheduled
incremental job does. A run makes one round per ``ROUND_S`` of its
``--seconds``, at least one: the work is fixed by the arguments, not by
the clock. Each availableNow drain ends with a no-data micro-batch (the
watermark advances), which the sink commits too, so a drain of n files
takes n + 1 versions; with a checkpoint every 5 versions, every round
writes exactly one.
"""

from __future__ import annotations

import json
import statistics
import sys
import time

import duckdb
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from deltasink_spark.delta_log import DeltaLogSink, DeltaLogTable
from deltasink_spark.sources import KAFKA_SCHEMA
from deltasink_spark.streaming.pipeline import dedup_within_watermark, parse_kafka_json
from perfbench import checks, tracing
from perfbench.harness import cpu_seconds_between, cpu_ticks
from perfbench.wire import PAYLOAD_SCHEMA, WATERMARK_DELAY, KafkaBacklog

APP_ID = "perfbench-ingest"
RECORDS_PER_FILE = 4_000
# the cold first batch and one more; the second file's event time
# already reaches past the first watermark horizon
WARMUP_FILES = 2
ROUND_FILES = 4
ROUND_S = 5.0  # nominal length of a round
CHECKPOINT_INTERVAL = 5  # versions: one per round of 4 files + 1 empty

STREAM_PHASES = {
    "source.latest_offset_ms_p50": "latestOffset",
    "source.get_batch_ms_p50": "getBatch",
    "streaming.query_planning_ms_p50": "queryPlanning",
    "streaming.wal_commit_ms_p50": "walCommit",
    "streaming.add_batch_ms_p50": "addBatch",
}


def pipeline(spark, src_dir: str):
    records = spark.readStream.schema(KAFKA_SCHEMA).option("maxFilesPerTrigger", 1).parquet(src_dir)
    parsed = parse_kafka_json(records, PAYLOAD_SCHEMA)
    flat = parsed.select(*(c for c in parsed.columns if c != "payload"), "payload.*")
    return dedup_within_watermark(flat, ["topic", "partition", "offset"], "ingest_ts", WATERMARK_DELAY)


def drop_one_row(table_path: str) -> None:
    """Fault for the self-test: rewrite one live data file without its
    first row, behind the log's back."""
    path = checks.live_paths(table_path, checks.fold_log(table_path))[0]
    pq.write_table(pq.read_table(path).slice(1), path)


def _p50(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def _read_aggregates(df) -> dict:
    row = df.agg(
        F.count(F.lit(1)),
        F.sum("offset"),
        F.sum("amount_cents"),
        F.count(F.when(F.col("event_id").isNull(), 1)),
    ).first()
    return dict(zip(("rows", "sum_offset", "sum_amount_cents", "malformed"), row))


def run(h) -> dict:
    spark = h.start_spark()
    backlog = KafkaBacklog(h.seed, RECORDS_PER_FILE, h.path("kafka"))
    table_path = h.path("table")
    sink = DeltaLogSink(table_path, app_id=APP_ID, checkpoint_interval=CHECKPOINT_INTERVAL)
    tracer = None
    if h.trace:
        tracer = tracing.Tracer(spark, tracing.CountingLogStore())
        sink.table = DeltaLogTable(table_path, log_store=tracer.store)
        sink.write_batch = tracer.wrap("delta_log.write_batch", sink.write_batch)
        sink.table.append = tracer.wrap("delta_log.append", sink.table.append)
        sink.table.checkpoint = tracer.wrap("delta_log.checkpoint", sink.table.checkpoint)
    stream = pipeline(spark, backlog.out_dir)

    def drain(n_files: int) -> tuple[float, list[dict], str]:
        for _ in range(n_files):
            backlog.write_next()
        t0 = time.perf_counter()
        q = (
            stream.writeStream.foreachBatch(sink.foreach_batch())
            .option("checkpointLocation", h.path("checkpoint"))
            .trigger(availableNow=True)
            .start()
        )
        h.queries.append(q)
        q.awaitTermination()
        secs = time.perf_counter() - t0
        h.queries.remove(q)
        return secs, [json.loads(p.json) for p in q.recentProgress], str(q.runId)

    _, warm, _ = drain(WARMUP_FILES)
    h.phase("warm-up")
    last_batch = max(p["batchId"] for p in warm)
    first_measured_version = checks.fold_log(table_path).version + 1
    if tracer:
        tracer.ms.clear()
        tracer.deltas.clear()
    h.setup_done()

    bad: list[str] = []
    n_rounds = max(1, round(h.seconds / ROUND_S))
    attempted = n_rounds * ROUND_FILES
    failed = 0
    drain_s = 0.0
    progress: list[dict] = []
    run_ids: list[str] = []
    cpu0 = cpu_ticks(h.pid)
    for _ in range(n_rounds):
        try:
            secs, prog, run_id = drain(ROUND_FILES)
        except Exception as e:  # a failed round is counted, not fatal
            failed = attempted
            bad.append(f"round failed: {e}")
            break
        rows = [p["numInputRows"] for p in prog if p["numInputRows"]]
        if rows != [RECORDS_PER_FILE] * ROUND_FILES:
            bad.append(f"round drained batches of {rows}, not {ROUND_FILES} x {RECORDS_PER_FILE}")
        drain_s += secs
        progress += prog
        run_ids.append(run_id)
        last_batch = max([last_batch] + [p["batchId"] for p in prog])
    cpu_s = cpu_seconds_between(cpu0, cpu_ticks(h.pid))
    data = [p for p in progress if p["numInputRows"]]
    print(f"perfbench: {n_rounds} rounds, {drain_s:.2f} s, {cpu_s:.2f} CPU s; batch ms "
          + json.dumps([p["durationMs"]["triggerExecution"] for p in progress]), file=sys.stderr)

    # --- checks, outside the timed region --------------------------------
    if h.fault == "drop_row":
        drop_one_row(table_path)
    fold = checks.fold_log(table_path)
    con = duckdb.connect()
    try:
        found, want = checks.check_ingest(con, table_path, fold, backlog.files, backlog.distinct_records)
    finally:
        con.close()
    bad += found
    reader = DeltaLogTable(table_path, log_store=tracer.store if tracer else None)
    with tracing.maybe_span(tracer, "delta_log.read.build"):
        df = reader.read(spark)
    with tracing.maybe_span(tracer, "delta_log.read.exec"):
        got = _read_aggregates(df)
    if got != want:
        bad.append(f"DeltaLogTable.read gives {got}, the log fold gives {want}")
    if fold.txns.get(APP_ID) != last_batch:
        bad.append(f"txn version {fold.txns.get(APP_ID)} != last batch id {last_batch}")
    # a restarted stream replaying its last batch must commit nothing
    replayed = DeltaLogSink(table_path, app_id=APP_ID).write_batch(df.limit(1), last_batch)
    if replayed or checks.fold_log(table_path).version != fold.version:
        bad.append(f"replaying batch {last_batch} committed a new version")
    for msg in bad:
        print(f"perfbench: check failed: {msg}", file=sys.stderr)

    records = sum(p["numInputRows"] for p in progress)
    result = {"correct": not bad, "attempted": attempted, "failed": attempted if bad else failed}
    if not tracer:
        result["metrics"] = {"cpu_ms_per_op": (1e3 * cpu_s / attempted, "ms")}
        return result

    tracer.close()
    state = [p["stateOperators"][0] for p in data if p.get("stateOperators")]
    jobs = stages = 0
    for rid in run_ids:
        j, s = tracing.jobs_of_group(spark, rid)
        jobs += j
        stages += s
    commits = fold.version + 1 - first_measured_version
    wb = "delta_log.write_batch"
    layer = {name: (_p50([p["durationMs"].get(key, 0) for p in data]), "ms")
             for name, key in STREAM_PHASES.items()}
    layer.update({
        "streaming.records_per_s": (records / drain_s if drain_s else 0.0, "records/s"),
        "streaming.batch_ms_p50": (_p50([p["durationMs"]["triggerExecution"] for p in data]), "ms"),
        "streaming.micro_batches": (len(progress), "count"),
        "pipeline.input_rows": (records, "count"),
        "pipeline.duplicates_dropped": (
            sum(s["customMetrics"].get("numDroppedDuplicateRows", 0) for s in state), "count"),
        "pipeline.malformed_rows": (want.get("malformed", 0), "count"),
        "pipeline.dedup_state_rows": (state[-1]["numRowsTotal"] if state else 0, "count"),
        "pipeline.dedup_state_bytes": (state[-1]["memoryUsedBytes"] if state else 0, "bytes"),
        "pipeline.state_commit_ms_p50": (_p50([s["commitTimeMs"] for s in state]), "ms"),
        "delta_log.write_batch_ms_p50": (tracer.p50(wb), "ms"),
        "delta_log.append_ms_p50": (tracer.p50("delta_log.append"), "ms"),
        "delta_log.checkpoint_ms_p50": (tracer.p50("delta_log.checkpoint"), "ms"),
        "delta_log.commits": (commits, "count"),
        "delta_log.empty_commits": (fold.rows_per_commit[first_measured_version:].count(0), "count"),
        "delta_log.spark_jobs_per_commit": (jobs / max(1, commits), "count"),
        "delta_log.spark_stages_per_commit": (stages / max(1, commits), "count"),
        "delta_log.py4j_calls_per_commit": (tracer.per_call(wb, "py4j_calls"), "count"),
        "delta_log.files_per_commit": (
            statistics.fmean(fold.adds_per_commit[first_measured_version:] or [0]), "count"),
        "delta_log.log_bytes_per_commit": (fold.log_bytes / max(1, fold.version + 1), "bytes"),
        "delta_log.table_bytes_per_row": (
            checks.table_bytes(table_path, fold) / max(1, want.get("rows", 0)), "bytes"),
        "log_store.reads_per_commit": (tracer.per_call(wb, "log_store_reads"), "count"),
        "log_store.read_bytes_per_commit": (tracer.per_call(wb, "log_store_read_bytes"), "bytes"),
        "log_store.lists_per_commit": (tracer.per_call(wb, "log_store_lists"), "count"),
        "log_store.puts_per_commit": (tracer.per_call(wb, "log_store_puts"), "count"),
        "delta_log.read.build_ms_p50": (tracer.p50("delta_log.read.build"), "ms"),
        "delta_log.read.exec_ms_p50": (tracer.p50("delta_log.read.exec"), "ms"),
        "delta_log.read_latest.files_scanned": (len(df.inputFiles()), "count"),
        "delta_log.read.log_store_reads": (tracer.per_call("delta_log.read.build", "log_store_reads"), "count"),
    })
    result["layer"] = layer
    return result
