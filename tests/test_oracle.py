"""Differential test: every registered op with an oracle must match
DuckDB exactly at the oracle scale factor (mirrors the driver's t2).

Wall-clock note (r16, guide §2.6): each compare is one-or-two tiny
Spark actions whose cost is almost entirely job-scheduling latency,
and the default sweep is ~800 of them — run sequentially they took
~13 of the suite's 33 minutes, which broke the grading driver's pytest
budget. The Spark side of every collected test is therefore
precomputed ONCE per session by a small driver-side thread pool
(actions from independent ops overlap; Spark's scheduler is built for
concurrent jobs and all fixture state is per-op). Each op gets ONE
future that computes all of its kinds in sequence, so no op runs
concurrently with itself: join_bucketed, the only catalog writer, has
an oracle and is collected under both "rows" and "pdf", and its
non-atomic tableExists/saveAsTable guard would race if the two kinds
ran in parallel. Each test then performs its DuckDB run and
the comparison itself, so failure attribution, -x semantics and -k
subsetting (only collected ops are precomputed) are unchanged.
"""

from __future__ import annotations

import os
import re
from concurrent.futures import ThreadPoolExecutor

import pytest

from deltasink_spark import registry

registry.load_all()

WITH_ORACLE = sorted(registry.ORACLES)
ROWS_ONLY = sorted(set(registry.QUERIES) - set(registry.ORACLES))

# op -> ("rows", rows, cols) | ("pdf", pdf) | ("count", n, n_fields)
# | ("err", exc); filled once per session by _precompute, consumed
# (popped) by the tests so large results are freed as the sweep walks.
_PRE: dict[tuple[str, str], tuple] = {}
_PRE_DONE = False

_WANT = {
    "test_oracle_match": "rows",
    "test_oracle_driver_canon": "pdf",
    "test_rows_only_runs": "count",
}


def _collected_ops(request) -> dict[str, set[str]]:
    """Which (kind, op) pairs this session will actually consume —
    keeps `-k`/node-id subset runs from precomputing all 399 ops."""
    want: dict[str, set[str]] = {k: set() for k in _WANT.values()}
    for item in request.session.items:
        m = re.match(r"(test_oracle_match|test_oracle_driver_canon|test_rows_only_runs)\[(.+)\]$", item.name)
        if m:
            want[_WANT[m.group(1)]].add(m.group(2))
    return want


def _precompute(spark, sf_oracle, want) -> None:
    from tests.diffcheck import duck_conn

    duck_conn(sf_oracle)  # register the views once, before the pool

    def run(kind, op):
        try:
            df = registry.QUERIES[op](spark, sf_oracle)
            if kind == "count":
                return (kind, op), ("count", df.count(), len(df.schema.fields))
            # DuckDB rides the same worker: .cursor() clones share the
            # in-memory catalog and are safe one-per-thread
            cur = duck_conn(sf_oracle).cursor()
            try:
                if kind == "rows":
                    res = cur.execute(registry.ORACLES[op])
                    duck = ([d[0] for d in res.description], res.fetchall())
                    return (kind, op), ("rows", df.collect(), df.columns, duck)
                ddf = cur.execute(registry.ORACLES[op]).fetchdf()
                return (kind, op), ("pdf", df.toPandas(), ddf)
            finally:
                cur.close()
        except Exception as exc:  # re-raised inside the consuming test
            return (kind, op), ("err", exc)

    def run_op(op, kinds):
        return [run(kind, op) for kind in kinds]

    by_op: dict[str, list[str]] = {}
    for kind, ops in sorted(want.items()):
        for op in ops:
            by_op.setdefault(op, []).append(kind)
    with ThreadPoolExecutor(max_workers=12) as pool:
        futs = [pool.submit(run_op, op, kinds) for op, kinds in sorted(by_op.items())]
        for f in futs:
            for key, res in f.result():
                _PRE[key] = res


@pytest.fixture(scope="session")
def oracle_pre(request, spark, sf_oracle):
    global _PRE_DONE
    if not _PRE_DONE:
        _precompute(spark, sf_oracle, _collected_ops(request))
        _PRE_DONE = True

    def take(kind, op_id):
        res = _PRE.pop((kind, op_id), None)
        if res is None:  # not precomputed — compute inline (same work
            # the pre-r16 sequential tests did per test)
            df = registry.QUERIES[op_id](spark, sf_oracle)
            if kind == "rows":
                return ("rows", df.collect(), df.columns, None)
            if kind == "pdf":
                return ("pdf", df.toPandas(), None)
            return ("count", df.count(), len(df.schema.fields))
        if res[0] == "err":
            raise res[1]
        return res

    return take


@pytest.mark.parametrize("op_id", WITH_ORACLE)
def test_oracle_match(oracle_pre, sf_oracle, op_id):
    from tests.diffcheck import compare_rows

    _, rows, cols, duck = oracle_pre("rows", op_id)
    compare_rows(rows, cols, sf_oracle, registry.ORACLES[op_id], op_id, duck=duck)


@pytest.mark.parametrize("op_id", WITH_ORACLE)
def test_oracle_driver_canon(oracle_pre, sf_oracle, op_id):
    """Driver-canonicalizer hazards invisible to the value compare:
    array cells (pandas sort_values crash) and int64-vs-float64 dtype
    divergence (DuckDB HUGEINT) — the two r2 failure classes."""
    from tests.diffcheck import compare_driver_style_pdf

    _, pdf, ddf = oracle_pre("pdf", op_id)
    compare_driver_style_pdf(pdf, sf_oracle, registry.ORACLES[op_id], op_id, ddf=ddf)


@pytest.mark.parametrize("op_id", ROWS_ONLY)
def test_rows_only_runs(oracle_pre, sf_oracle, op_id):
    _, n, n_fields = oracle_pre("count", op_id)
    assert n >= 0
    assert n_fields > 0


@pytest.mark.skipif(
    not __import__("os").environ.get("DS_SF01_ORACLE"),
    reason="10x-scale oracle sweep (~15 min); set DS_SF01_ORACLE=1 to run",
)
@pytest.mark.parametrize("op_id", WITH_ORACLE)
def test_oracle_match_sf01(spark, op_id):
    """Same differential gate at sf0.1 — 10x the driver's scale factor.
    This sweep caught two latent fp-determinism bugs (fractional-second
    RANGE frame boundaries; double-order-dependent UDAF sums) that were
    invisible at sf0.01."""
    from tests.diffcheck import compare

    compare(spark, "/root/testdata/sf0.1", registry.QUERIES[op_id], registry.ORACLES[op_id], op_id)


# --- empty-corpus robustness audit (r8) --------------------------------
#
# Opt-in sweep (DS_EMPTY_ORACLE=1): every oracle-bearing op runs against
# schema-preserving EMPTY fixture tables and must agree with DuckDB.
# This catches the global-agg-on-empty class (an ungrouped agg emits one
# NULL row where GROUP BY emits zero — the minhash_union '__direct__'
# bug the r8 review found) plus read-back-schema-inference and
# divide-by-zero edges (4 real bugs fixed when first run).
#
# Known engine-semantics divergence, excluded: Spark emits ZERO rows
# for CUBE/ROLLUP/GROUPING SETS over an empty relation, while DuckDB
# (and PostgreSQL, per the SQL standard) emit the grand-total grouping
# set's single row. Not fixable op-side without count-triggered plan
# branches; documented here instead.
_EMPTY_DIVERGENT = {"agg_cube", "agg_rollup", "agg_grouping_sets"}


@pytest.fixture(scope="session")
def sf_empty(tmp_path_factory):
    import pyarrow.parquet as pq

    src = "/root/testdata/sf0.001"
    dst = str(tmp_path_factory.mktemp("sf_empty"))
    for f in sorted(os.listdir(src)):
        if f.endswith(".parquet"):
            schema = pq.read_schema(os.path.join(src, f))
            pq.write_table(schema.empty_table(), os.path.join(dst, f))
    return dst


@pytest.mark.skipif(
    not os.environ.get("DS_EMPTY_ORACLE"),
    reason="empty-corpus sweep is opt-in: DS_EMPTY_ORACLE=1",
)
@pytest.mark.parametrize("op", sorted(registry.ORACLES))
def test_empty_corpus_agreement(spark, sf_empty, op):
    from tests.diffcheck import compare

    if op in _EMPTY_DIVERGENT:
        pytest.skip("documented Spark-vs-SQL-standard grouping-sets-on-empty divergence")
    compare(spark, sf_empty, registry.QUERIES[op], registry.ORACLES[op], op)


# --- NULL-injection robustness audit (r8) ------------------------------
#
# Opt-in sweep (DS_NULL_ORACLE=1): every oracle-bearing op runs against
# fixtures with NULLs deterministically injected into the
# nullable-in-production columns (documents.text/lang/source,
# events.value/props) and must agree with DuckDB. First run found 18
# divergences: 4 hard crashes (scan_text line round-trip, ts_ewma
# zero-weight division, udaf_pandas/udtf_py Python workers on None)
# and 14 engine NULL-semantics mismatches (Spark concat_ws skips NULLs
# where SQL propagates them; from_json-isNotNull vs json_valid(NULL)).
# Every op now carries an explicit oracle-mirrored NULL contract
# (drop-at-ingest for text/value consumers, NULL-propagation for
# fn_json) — a no-op on the NULL-free fixtures.
_NULL_MODS = {
    "documents": (
        "SELECT doc_id, CASE WHEN doc_id % 11 = 3 THEN NULL ELSE text END AS text, "
        "CASE WHEN doc_id % 13 = 4 THEN NULL ELSE lang END AS lang, "
        "CASE WHEN doc_id % 17 = 5 THEN NULL ELSE source END AS source, n_chars "
    ),
    "events": (
        "SELECT event_id, ts, user_id, event_type, "
        "CASE WHEN event_id % 19 = 6 THEN NULL ELSE value END AS value, "
        "CASE WHEN event_id % 23 = 7 THEN NULL ELSE props END AS props "
    ),
}


@pytest.fixture(scope="session")
def sf_nulls(tmp_path_factory):
    import duckdb

    src = "/root/testdata/sf0.001"
    dst = str(tmp_path_factory.mktemp("sf_nulls"))
    con = duckdb.connect()
    for f in sorted(os.listdir(src)):
        if not f.endswith(".parquet"):
            continue
        sel = _NULL_MODS.get(f[:-8], "SELECT * ")
        con.execute(
            f"COPY ({sel} FROM read_parquet('{src}/{f}')) "
            f"TO '{dst}/{f}' (FORMAT PARQUET)"
        )
    return dst


@pytest.mark.skipif(
    not os.environ.get("DS_NULL_ORACLE"),
    reason="NULL-injection sweep is opt-in: DS_NULL_ORACLE=1",
)
@pytest.mark.parametrize("op", sorted(registry.ORACLES))
def test_null_injection_agreement(spark, sf_nulls, op):
    from tests.diffcheck import compare

    compare(spark, sf_nulls, registry.QUERIES[op], registry.ORACLES[op], op)
