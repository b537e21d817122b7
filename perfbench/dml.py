"""The delta_dml_mix workload: Delta rewrite and read verbs on a table
with deletion vectors, checked against a DuckDB model of the table.

Set-up runs one whole cycle on a small warm-up table, so that the
first call of each verb in the JVM (class loading, the Python workers
the deletion-vector builds need) is paid there, then builds the
measured table through ``DeltaLogSink`` (one commit per
``BUILD_BATCH_ROWS`` rows, contiguous id ranges, so file stats are
tight) and enables deletion vectors on it. A measured cycle runs, in
order: ``merge_when`` (an upsert of
``MERGE_KEYS`` keys, half of them new), ``delete_where_dv``,
``update_where_dv``, a latest ``read``, a ``read(as_of_version=...)``
of the version before the cycle, a ``read_where_stats`` point range,
and ``optimize``. A run makes one cycle per ``CYCLE_S`` of its
``--seconds``, at least one. Reads are materialised with ``toArrow``
inside the timed cycle; the results are checked after it.
"""

from __future__ import annotations

import json
import sys
import time

import duckdb
import numpy as np
import pyarrow as pa

from deltasink_spark.delta_log import DeltaLogSink, DeltaLogTable
from perfbench import checks, tracing
from perfbench.harness import cpu_seconds_between, cpu_ticks

APP_ID = "perfbench-dml"
TABLE_ROWS = 40_000
WARMUP_ROWS = 2_000
BUILD_BATCH_ROWS = 10_000
MERGE_KEYS = 1_000
GROUPS = 100
CYCLE_S = 10.0  # nominal length of a cycle
VERBS = ("merge", "delete", "update", "read_latest", "read_as_of", "read_pruned", "optimize")
WRITE_VERBS = ("merge", "delete", "update", "optimize")
COLUMNS = "id, grp, qty, cents, tag"


def rows(rng: np.random.Generator, ids: np.ndarray) -> pa.Table:
    n = ids.size
    return pa.table({
        "id": pa.array(ids, pa.int64()),
        "grp": pa.array(rng.integers(0, GROUPS, n), pa.int64()),
        "qty": pa.array(rng.integers(1, 100, n), pa.int64()),
        "cents": pa.array(rng.integers(1, 1_000_000, n), pa.int64()),
        "tag": pa.array([f"t{t}" for t in rng.integers(0, 1_000, n).tolist()], pa.string()),
    })


def to_spark(spark, t: pa.Table):
    return spark.createDataFrame(t.to_pandas())


class Model:
    """The table as DuckDB holds it, after the same verbs; one snapshot
    per table version the cycle reads back."""

    def __init__(self, con: duckdb.DuckDBPyConnection, base: pa.Table) -> None:
        self.con = con
        con.register("base_rows", base)
        con.execute("CREATE TABLE model AS SELECT * FROM base_rows")
        con.unregister("base_rows")

    def merge(self, src: pa.Table) -> None:
        self.con.register("src", src)
        self.con.execute("UPDATE model SET qty = src.qty, cents = src.cents FROM src WHERE model.id = src.id")
        self.con.execute("INSERT INTO model SELECT * FROM src WHERE id NOT IN (SELECT id FROM model)")
        self.con.unregister("src")

    def execute(self, sql: str) -> None:
        self.con.execute(sql)

    def snapshot(self, version: int) -> None:
        self.con.execute(f"CREATE OR REPLACE TABLE v{version} AS SELECT * FROM model")

    def differs(self, got: pa.Table, version: int, where: str = "true") -> str | None:
        """None when ``got`` holds exactly the rows of the model at
        ``version`` that satisfy ``where``, as a multiset."""
        self.con.register("got", got.select(["id", "grp", "qty", "cents", "tag"]))
        try:
            want = f"SELECT {COLUMNS} FROM v{version} WHERE {where}"
            n_got, n_want, missing, extra = self.con.execute(
                f"SELECT (SELECT count(*) FROM got), (SELECT count(*) FROM ({want})), "
                f"(SELECT count(*) FROM ({want} EXCEPT ALL SELECT {COLUMNS} FROM got)), "
                f"(SELECT count(*) FROM (SELECT {COLUMNS} FROM got EXCEPT ALL {want}))").fetchone()
        finally:
            self.con.unregister("got")
        if missing or extra or n_got != n_want:
            return f"{n_got} rows read, {n_want} in the model at v{version}: {missing} missing, {extra} extra"
        return None


class Cycle:
    """One table, its model, and the verbs run on them."""

    def __init__(self, h, spark, path: str, n_rows: int, tracer=None) -> None:
        self.spark = spark
        self.tracer = tracer
        self.pid = h.pid
        self.cpu_s = 0.0  # of the timed verbs
        self.rng = np.random.default_rng([h.seed, n_rows])
        sink = DeltaLogSink(path, app_id=APP_ID)
        if tracer:
            sink.table = DeltaLogTable(path, log_store=tracer.store)
        self.table = sink.table
        base = rows(self.rng, np.arange(n_rows, dtype=np.int64))
        step = min(BUILD_BATCH_ROWS, n_rows)
        for b, lo in enumerate(range(0, n_rows, step)):
            sink.write_batch(to_spark(spark, base.slice(lo, step)), b)
        self.table.set_properties({"delta.enableDeletionVectors": "true"})
        self.next_id = n_rows
        self.model = Model(duckdb.connect(), base)
        self.model.snapshot(self.table.latest_version())
        self.ms: dict[str, list[float]] = {v: [] for v in VERBS}
        self.files_scanned: dict[str, int] = {}

    def _timed(self, verb: str, fn):
        if self.tracer:
            self.spark.sparkContext.setJobGroup(f"perfbench-{verb}", verb)
        cpu0 = cpu_ticks(self.pid)
        t0 = time.perf_counter()
        try:
            with tracing.maybe_span(self.tracer, f"delta_log.{verb}"):
                return fn()
        finally:
            self.ms[verb].append((time.perf_counter() - t0) * 1e3)
            self.cpu_s += cpu_seconds_between(cpu0, cpu_ticks(self.pid))
            if self.tracer:
                self.spark.sparkContext.setJobGroup("perfbench-other", "not a verb")

    def _read(self, verb: str, build) -> pa.Table:
        def go():
            with tracing.maybe_span(self.tracer, "delta_log.read.build"):
                df = build()
            with tracing.maybe_span(self.tracer, "delta_log.read.exec"):
                got = df.toArrow()
            if self.tracer:
                self.files_scanned[verb] = len(df.inputFiles())
            return got

        return self._timed(verb, go)

    def run(self, wrong_expected: bool = False) -> list[tuple[str, str | None]]:
        """One measured cycle; returns (verb, failure or None) per verb,
        with the reads checked after the last verb."""
        rng, t, spark = self.rng, self.table, self.spark
        before = t.latest_version()
        n_old = MERGE_KEYS // 2
        old_ids = rng.choice(self.next_id, n_old, replace=False).astype(np.int64)
        new_ids = np.arange(self.next_id, self.next_id + MERGE_KEYS - n_old, dtype=np.int64)
        self.next_id += new_ids.size
        src = rows(rng, np.concatenate([old_ids, new_ids]))
        src_df = to_spark(spark, src)
        del_mod = int(rng.integers(0, 50))
        upd_grp = int(rng.integers(0, GROUPS))
        lo = int(rng.integers(0, self.next_id - 400))
        pruned = f"id BETWEEN {lo} AND {lo + 399}"

        out: list[tuple[str, str | None]] = []
        reads: list[tuple[str, pa.Table, int, str]] = []

        def step(verb: str, fn, model_sql: str | None = None, on_model=None):
            try:
                fn()
            except Exception as e:  # a failed verb is counted, the cycle goes on
                out.append((verb, f"{verb} failed: {e}"))
                return
            out.append((verb, None))
            if on_model:
                on_model()
            if model_sql:
                self.model.execute(model_sql)
            self.model.snapshot(t.latest_version())

        step("merge", lambda: self._timed("merge", lambda: t.merge_when(
            spark, src_df, "id", matched_update={"qty": "src_qty", "cents": "src_cents"})),
            on_model=lambda: self.model.merge(src))
        step("delete", lambda: self._timed("delete", lambda: t.delete_where_dv(spark, f"id % 50 = {del_mod}")),
             model_sql=f"DELETE FROM model WHERE id % 50 = {del_mod}")
        step("update", lambda: self._timed("update", lambda: t.update_where_dv(
            spark, {"qty": "qty + 1"}, f"grp = {upd_grp}")),
            model_sql=f"UPDATE model SET qty = qty + 1 WHERE grp = {upd_grp}")
        latest = t.latest_version()
        for verb, build, version, where in (
            ("read_latest", lambda: t.read(spark), latest, "true"),
            ("read_as_of", lambda: t.read(spark, as_of_version=before), before, "true"),
            ("read_pruned", lambda: t.read_where_stats(spark, "id", lo, lo + 399), latest, pruned),
        ):
            try:
                reads.append((verb, self._read(verb, build), version, where))
            except Exception as e:
                out.append((verb, f"{verb} failed: {e}"))
        step("optimize", lambda: self._timed("optimize", lambda: t.optimize(spark, target_files=2)))

        # --- checks, after the timed verbs --------------------------------
        if wrong_expected:
            self.model.execute(f"DELETE FROM v{latest} WHERE id = (SELECT min(id) FROM v{latest})")
        for verb, got, version, where in reads:
            out.append((verb, self.model.differs(got, version, where)))
        if not any(verb == "optimize" and err for verb, err in out):
            # optimize moves bytes, never rows
            err = self.model.differs(t.read(spark).toArrow(), t.latest_version())
            if err:
                out = [(v, e) for v, e in out if v != "optimize"] + [("optimize", f"after optimize: {err}")]
        return out

    def close(self) -> None:
        self.model.con.close()


def run(h) -> dict:
    spark = h.start_spark()
    warm = Cycle(h, spark, h.path("warmup"), WARMUP_ROWS)
    h.phase("warm-up build")
    warm_bad = [e for _, e in warm.run() if e]
    warm.close()
    h.phase("warm-up cycle")
    tracer = tracing.Tracer(spark, tracing.CountingLogStore()) if h.trace else None
    cycle = Cycle(h, spark, h.path("table"), TABLE_ROWS, tracer)
    h.phase("build")
    if tracer:
        tracer.ms.clear()
        tracer.deltas.clear()
    h.setup_done()

    n_cycles = max(1, round(h.seconds / CYCLE_S))
    attempted = n_cycles * len(VERBS)
    failed = attempted if warm_bad else 0
    bad = list(warm_bad)
    for _ in range(n_cycles):
        got = cycle.run(wrong_expected=h.fault == "wrong_expected")
        bad += [e for _, e in got if e]
        if not warm_bad:
            failed += len({v for v, e in got if e})
    for msg in bad:
        print(f"perfbench: check failed: {msg}", file=sys.stderr)
    cpu_s = cycle.cpu_s
    print("perfbench: verb ms " + json.dumps({v: [round(x) for x in ms] for v, ms in cycle.ms.items()})
          + f"; {cpu_s:.2f} CPU s", file=sys.stderr)

    result = {"correct": not bad, "attempted": attempted, "failed": failed}
    if not tracer:
        cycle.close()
        result["metrics"] = {"cpu_ms_per_op": (1e3 * cpu_s / attempted, "ms")}
        return result

    tracer.close()
    layer: dict[str, tuple[float, str]] = {}
    for verb in VERBS:
        layer[f"delta_log.{verb}.ms"] = (float(np.median(cycle.ms[verb])) if cycle.ms[verb] else 0.0, "ms")
    for verb in WRITE_VERBS:
        name = f"delta_log.{verb}"
        layer[f"{name}.spark_jobs"] = (tracing.jobs_of_group(spark, f"perfbench-{verb}")[0] / n_cycles, "count")
        layer[f"{name}.py4j_calls"] = (tracer.per_call(name, "py4j_calls"), "count")
        layer[f"{name}.log_store_reads"] = (tracer.per_call(name, "log_store_reads"), "count")
    layer["delta_log.read.build_ms_p50"] = (tracer.p50("delta_log.read.build"), "ms")
    layer["delta_log.read.exec_ms_p50"] = (tracer.p50("delta_log.read.exec"), "ms")
    layer["delta_log.read.log_store_reads"] = (tracer.per_call("delta_log.read.build", "log_store_reads"), "count")
    layer["delta_log.read_latest.files_scanned"] = (cycle.files_scanned.get("read_latest", 0), "count")
    layer["delta_log.read_pruned.files_scanned"] = (cycle.files_scanned.get("read_pruned", 0), "count")
    live_rows = cycle.model.con.execute("SELECT count(*) FROM model").fetchone()[0]
    layer["delta_log.table_bytes_per_row"] = (
        checks.table_bytes(cycle.table.path, checks.fold_log(cycle.table.path)) / max(1, live_rows), "bytes")
    cycle.close()
    result["layer"] = layer
    return result
