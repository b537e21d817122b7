"""The query_suite workload: registered queries over seeded tables,
each checked against its DuckDB oracle.

Set-up generates the tables at two scales (``tables.py``) and runs
every op once at the smaller one, so that class loading and the
Python workers are paid there, while each op's memoised builds (keyed
by the table directory) are still paid inside its timed call. A
measured pass then runs every op in ``OPS`` once at ``SF``: the
registered function builds the DataFrame and ``collect`` runs it. A
run makes one pass per ``PASS_S`` of its ``--seconds``, at least one.
After the timed passes each op's rows are compared with its oracle
SQL run by DuckDB on the same files, by the rules of
``tests/diffcheck.py`` (exact multiset of values, floats by repr).
"""

from __future__ import annotations

import json
import math
import sys
import time

import duckdb

from deltasink_spark import registry
from deltasink_spark.tables import TABLES
from perfbench import tables, tracing
from perfbench.harness import cpu_seconds_between, cpu_ticks

# One op per operator family, plus two TPC-H composites; fixed here,
# not taken from the repository's own bench list. Heavier ops
# (dedup_minhash_lsh, graph_components, pipeline_llm_prep) would each
# add 5-11 s to a run.
OPS = (
    "agg_hash",            # scan -> filter -> hash aggregate
    "join_inner_hash",     # fact-fact shuffle join
    "topk_per_group",      # rank-filter top-k
    "win_session",         # sessionization (gap windows)
    "json_parse",          # JSON payload parse
    "text_tfidf",          # explode -> agg -> join
    "sim_topk_join",       # k-NN join over embeddings
    "tpch_q1",
    "tpch_q9",
)
SF = 0.01
WARMUP_SF = 0.001
PASS_S = 10.0  # nominal length of a pass


def duck_views(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def run(h) -> dict:
    from tests.diffcheck import compare_rows

    spark = h.start_spark()
    registry.load_all()
    warm_dir, sf_dir = h.path("sf-warmup"), h.path("sf")
    tables.generate(h.seed, WARMUP_SF, warm_dir)
    tables.generate(h.seed, SF, sf_dir)
    h.phase("generate")
    for op in OPS:
        registry.QUERIES[op](spark, warm_dir).collect()
    h.phase("warm-up")
    tracer = tracing.Tracer(spark, tracing.CountingLogStore()) if h.trace else None
    h.setup_done()

    n_passes = max(1, round(h.seconds / PASS_S))
    attempted = n_passes * len(OPS)
    ms: dict[str, list[float]] = {op: [] for op in OPS}
    build_ms: dict[str, list[float]] = {op: [] for op in OPS}
    results: list[tuple[str, list | None, list | None, str | None]] = []  # op, rows, cols, error
    cpu_s = 0.0
    py4j0 = tracer.py4j.calls if tracer else 0
    for _ in range(n_passes):
        for op in OPS:
            if tracer:
                spark.sparkContext.setJobGroup(f"perfbench-{op}", op)
            cpu0 = cpu_ticks(h.pid)
            t0 = time.perf_counter()
            try:
                df = registry.QUERIES[op](spark, sf_dir)
                t1 = time.perf_counter()
                rows = df.collect()
                t2 = time.perf_counter()
                results.append((op, rows, df.columns, None))
                build_ms[op].append((t1 - t0) * 1e3)
                ms[op].append((t2 - t0) * 1e3)
            except Exception as e:  # a failed op is counted, the pass goes on
                results.append((op, None, None, f"{op} failed: {e}"))
            cpu_s += cpu_seconds_between(cpu0, cpu_ticks(h.pid))
    py4j_calls = (tracer.py4j.calls - py4j0) if tracer else 0
    if tracer:
        spark.sparkContext.setJobGroup("perfbench-other", "not a query")

    # --- checks, after the timed passes --------------------------------
    con = duck_views(sf_dir)
    bad: list[str] = []
    try:
        for op, rows, cols, err in results:
            if err is None:
                res = con.execute(registry.ORACLES[op])
                duck = ([d[0] for d in res.description], res.fetchall())
                if h.fault == "wrong_expected" and op == OPS[0]:
                    duck = (duck[0], duck[1][1:])
                try:
                    compare_rows(rows, cols, sf_dir, registry.ORACLES[op], op, duck=duck)
                except AssertionError as e:
                    err = str(e).replace("\n", " ")
            if err:
                bad.append(err)
    finally:
        con.close()
    for msg in bad:
        print(f"perfbench: check failed: {msg}", file=sys.stderr)
    print("perfbench: op ms " + json.dumps({op: [round(x) for x in v] for op, v in ms.items()})
          + f"; {cpu_s:.2f} CPU s", file=sys.stderr)

    result = {"correct": not bad, "attempted": attempted, "failed": len(bad)}
    if not tracer:
        result["metrics"] = {"cpu_ms_per_op": (1e3 * cpu_s / attempted, "ms")}
        return result

    tracer.close()
    p50 = {op: (sorted(v)[len(v) // 2] if v else 0.0) for op, v in ms.items()}
    layer: dict[str, tuple[float, str]] = {
        "queries.total_s": (sum(sum(v) for v in ms.values()) / 1e3 / n_passes, "s"),
        "queries.geomean_ms": (math.exp(sum(math.log(max(v, 1e-3)) for v in p50.values()) / len(OPS)), "ms"),
        "queries.py4j_calls": (py4j_calls / n_passes, "count"),
    }
    jobs = 0
    for op in OPS:
        j, _ = tracing.jobs_of_group(spark, f"perfbench-{op}")
        jobs += j
        layer[f"queries.{op}.ms"] = (p50[op], "ms")
        layer[f"queries.{op}.build_ms"] = (sorted(build_ms[op])[len(build_ms[op]) // 2] if build_ms[op] else 0.0, "ms")
        layer[f"queries.{op}.shuffle_bytes"] = (tracing.shuffle_bytes_of_group(spark, f"perfbench-{op}") / n_passes, "bytes")
    layer["queries.spark_jobs"] = (jobs / n_passes, "count")
    result["layer"] = layer
    return result
