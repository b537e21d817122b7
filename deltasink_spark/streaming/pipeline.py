"""The Kafka -> transform -> Delta ingest pipeline (SURVEY.md §3.1) and
the §2.10 streaming operators, as composable stages — the per-record
loop any implementation of the reference's one capability line
("Stream DeltaLake tables from Kafka", /root/reference/README.md:2)
must run: deserialize, transform, buffer by trigger, dedupe,
transactionally commit.

Each stage is a plain DataFrame -> DataFrame function, so the SAME code
runs on a `readStream` Kafka frame in production and on a bounded file
stream / batch frame in tests (Structured Streaming's core design
point: one dialect for both — SIGMOD 2018).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def parse_kafka_json(records: DataFrame, payload_schema: str) -> DataFrame:
    """Stage 2 of the ingest loop: deserialize value bytes -> JSON struct
    (PERMISSIVE: a malformed payload parses to null fields and
    ``parse_ok`` false, for dead-letter routing), keep ingest metadata
    columns, derive the date partition column. Spark 4's from_json
    returns a struct of nulls, not null, for a malformed document, so
    the flag comes from a corrupt-record field, dropped from
    ``payload``."""
    parsed = F.from_json(
        F.col("value").cast("string"),
        f"{payload_schema}, _corrupt_record string",
        {"columnNameOfCorruptRecord": "_corrupt_record"},
    )
    return records.select(
        F.col("topic"),
        F.col("partition"),
        F.col("offset"),
        F.col("timestamp").alias("ingest_ts"),
        parsed.dropFields("_corrupt_record").alias("payload"),
        (F.col("value").isNotNull() & parsed["_corrupt_record"].isNull()).alias(
            "parse_ok"
        ),
        F.to_date(F.date_trunc("day", F.col("timestamp"))).alias("dt"),
    )


def with_watermark(df: DataFrame, ts_col: str = "ts", delay: str = "10 minutes") -> DataFrame:
    return df.withWatermark(ts_col, delay)


def tumbling_counts(df: DataFrame, ts_col: str, key: str, width: str = "1 hour") -> DataFrame:
    # total sums in exact decimal (same convention as aggregates.dsum):
    # state-store merge order across micro-batches must not be able to
    # flip a ulp, so the streamed result is oracle-checkable.
    return (
        df.groupBy(F.window(F.col(ts_col), width).alias("win"), F.col(key))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(30,6)")).cast("double").alias("total"),
        )
        .select(F.col("win.start").alias("win_start"), key, "n", "total")
    )


def sliding_counts(
    df: DataFrame, ts_col: str, width: str = "1 hour", slide: str = "15 minutes"
) -> DataFrame:
    return (
        df.groupBy(F.window(F.col(ts_col), width, slide).alias("win"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").alias("win_start"), "n")
    )


def session_aggregate(df: DataFrame, ts_col: str, key: str, gap: str = "30 minutes") -> DataFrame:
    return (
        df.groupBy(F.session_window(F.col(ts_col), gap).alias("sess"), F.col(key))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("sess.start").alias("session_start"), key, "n_events")
    )


def dedup_within_watermark(df: DataFrame, keys: list[str], ts_col: str, delay: str) -> DataFrame:
    """Exactly-once repair of an at-least-once source: drop key dupes
    within the watermark horizon (state evicted past it — bounded)."""
    return df.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(keys)


RUNNING_SCHEMA = "user_id bigint, n_events bigint, total double"
STATE_SCHEMA = "n bigint, total_micros bigint"


def running_totals_stateful(df: DataFrame, timeout: str = "NoTimeout") -> DataFrame:
    """Arbitrary per-key state via applyInPandasWithState: running
    event count + value total per user, emitted once per batch.

    The state accumulates exact integer micro-units (value decimal-cast
    to 6 places in Spark, BEFORE the Python boundary), not floats:
    integer addition is associative, so the running total is identical
    whatever order rows reach the state function in — which is what
    lets the op carry an exact DuckDB oracle. The emitted double is one
    final division."""

    def fn(
        key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (n, micros) = state.get if state.exists else (0, 0)
        for pdf in batches:
            n += len(pdf)
            micros += int(pdf["v_micros"].sum())
        state.update((n, micros))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total": [micros / 1_000_000]}
        )

    prepped = df.withColumn(
        "v_micros",
        (F.col("value").cast("decimal(30,6)") * 1_000_000).cast("long"),
    )
    return prepped.groupBy("user_id").applyInPandasWithState(
        fn, RUNNING_SCHEMA, STATE_SCHEMA, "update", GroupStateTimeout.NoTimeout
    )


def run_to_memory(stream_df: DataFrame, name: str, output_mode: str = "append"):
    """Drive a bounded stream to completion synchronously into an
    in-memory table (test harness for availableNow semantics)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def tws_available() -> bool:
    """transformWithStateInPandas ships its state protocol over
    protobuf; the sandbox image lacks the google.protobuf package, so
    the TWS path is gated the same way as jvm_avro_available /
    sinks._has_delta: probe, use when present."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def type_totals_tws(df: DataFrame) -> DataFrame:
    """Per-event_type running counts via transformWithStateInPandas —
    Spark 4's typed-state successor to applyInPandasWithState: state
    lives in NAMED handles (here one ValueState) managed by the
    StatefulProcessor lifecycle (init/handleInputRows/close) instead
    of one opaque tuple, which is what makes state schema evolution
    and multiple state variables per key possible.

    Same exactness contract as running_totals_stateful: the state
    accumulates integer micro-units computed BEFORE the Python
    boundary, so the drain's final emission per key equals the batch
    groupBy bit-for-bit."""
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle
    from pyspark.sql.types import LongType, StructField, StructType

    state_schema = StructType(
        [StructField("n", LongType()), StructField("micros", LongType())]
    )

    class TypeTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("totals", state_schema)

        def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
            n, micros = (
                tuple(self._state.get()) if self._state.exists() else (0, 0)
            )
            for pdf in rows:
                n += len(pdf)
                micros += int(pdf["v_micros"].sum())
            self._state.update((n, micros))
            yield pd.DataFrame(
                {"event_type": [key[0]], "n_events": [n], "total": [micros / 1_000_000]}
            )

        def close(self) -> None:
            pass

    prepped = df.withColumn(
        "v_micros",
        (F.col("value").cast("decimal(30,6)") * 1_000_000).cast("long"),
    )
    return prepped.groupBy("event_type").transformWithStateInPandas(
        TypeTotals(),
        "event_type string, n_events bigint, total double",
        "Update",
        "None",
    )


def type_totals_apiws(df: DataFrame) -> DataFrame:
    """applyInPandasWithState fallback with semantics identical to
    type_totals_tws (same keys, same integer micro-unit state, same
    output schema) — runs where the TWS protobuf dependency is absent."""

    def fn(
        key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (n, micros) = state.get if state.exists else (0, 0)
        for pdf in batches:
            n += len(pdf)
            micros += int(pdf["v_micros"].sum())
        state.update((n, micros))
        yield pd.DataFrame(
            {"event_type": [key[0]], "n_events": [n], "total": [micros / 1_000_000]}
        )

    prepped = df.withColumn(
        "v_micros",
        (F.col("value").cast("decimal(30,6)") * 1_000_000).cast("long"),
    )
    return prepped.groupBy("event_type").applyInPandasWithState(
        fn,
        "event_type string, n_events bigint, total double",
        STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )
