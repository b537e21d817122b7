"""Output checks made apart from the program under test.

Nothing here calls into ``deltasink_spark`` to decide what is right:
the ``_delta_log`` is folded from its JSON commits with plain file
reads, live data files are read with DuckDB, and the expected state
comes from the generated input files. Every check returns a list of failure messages;
an empty list means the output is right.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import duckdb

LOG_DIR = "_delta_log"


@dataclass
class LogFold:
    version: int
    adds: dict[str, dict]
    txns: dict[str, int]
    adds_per_commit: list[int]
    rows_per_commit: list[int]  # from the adds' stats
    log_bytes: int


def fold_log(table_path: str) -> LogFold:
    """Replay every JSON commit in version order. The versions must run
    0..latest without a gap; a log whose early commits were cleaned up
    cannot be folded this way and is reported as an error."""
    log_dir = os.path.join(table_path, LOG_DIR)
    names = os.listdir(log_dir)
    versions = sorted(int(n[:20]) for n in names if n.endswith(".json") and len(n) == 25)
    if versions != list(range(len(versions))):
        raise ValueError(f"log versions are not 0..n: {versions[:5]}...")
    adds: dict[str, dict] = {}
    txns: dict[str, int] = {}
    per_commit: list[int] = []
    rows_per_commit: list[int] = []
    for v in versions:
        n_adds = n_rows = 0
        with open(os.path.join(log_dir, f"{v:020d}.json")) as fh:
            for line in fh:
                if not line.strip():
                    continue
                action = json.loads(line)
                if "add" in action:
                    adds[action["add"]["path"]] = action["add"]
                    n_adds += 1
                    n_rows += json.loads(action["add"].get("stats") or "{}").get("numRecords", 0)
                elif "remove" in action:
                    adds.pop(action["remove"]["path"], None)
                elif "txn" in action:
                    txns[action["txn"]["appId"]] = action["txn"]["version"]
        per_commit.append(n_adds)
        rows_per_commit.append(n_rows)
    log_bytes = sum(os.path.getsize(os.path.join(log_dir, n)) for n in names)
    return LogFold(versions[-1] if versions else -1, adds, txns, per_commit, rows_per_commit, log_bytes)


def live_paths(table_path: str, fold: LogFold) -> list[str]:
    return [os.path.join(table_path, p) for p in sorted(fold.adds)]


def table_bytes(table_path: str, fold: LogFold) -> int:
    """Bytes a reader of the latest snapshot depends on: live data
    files and the whole log directory. (Tables measured with it carry
    no deletion vectors at the end of a run.)"""
    return sum(os.path.getsize(p) for p in live_paths(table_path, fold)) + fold.log_bytes


def check_ingest(con: duckdb.DuckDBPyConnection, table_path: str, fold: LogFold,
                 gen_files: list[str], distinct_records: int) -> tuple[list[str], dict]:
    """The committed table against the generated Kafka files: every
    distinct (topic, partition, offset) exactly once, nothing else, and
    the same payload sums. Returns (failures, live aggregates); the
    aggregates are what a read through the program must also give."""
    bad: list[str] = []
    if any(a.get("deletionVector") for a in fold.adds.values()):
        return ["an append-only ingest table carries deletion vectors"], {}
    con.execute(f"CREATE OR REPLACE VIEW live AS SELECT * FROM read_parquet({live_paths(table_path, fold)!r})")
    con.execute(
        "CREATE OR REPLACE TABLE gen AS SELECT DISTINCT topic, partition, \"offset\", value "
        f"FROM read_parquet({gen_files!r})"
    )
    n_gen, n_gen_keys = con.execute(
        'SELECT count(*), count(DISTINCT (topic, partition, "offset")) FROM gen').fetchone()
    if n_gen != distinct_records or n_gen_keys != n_gen:
        bad.append(f"generator: {n_gen} distinct records, {n_gen_keys} distinct offsets, "
                   f"{distinct_records} expected")
    n_live, n_live_keys = con.execute(
        'SELECT count(*), count(DISTINCT (topic, partition, "offset")) FROM live').fetchone()
    if n_live != n_live_keys:
        bad.append(f"{n_live - n_live_keys} duplicate (topic, partition, offset) rows in the table")
    missing, extra = con.execute(
        'SELECT (SELECT count(*) FROM (SELECT topic, partition, "offset" FROM gen '
        'EXCEPT SELECT topic, partition, "offset" FROM live)), '
        '(SELECT count(*) FROM (SELECT topic, partition, "offset" FROM live '
        'EXCEPT SELECT topic, partition, "offset" FROM gen))').fetchone()
    if missing or extra:
        bad.append(f"{missing} generated records missing, {extra} records not generated")
    want = con.execute(
        "WITH p AS (SELECT decode(value) AS j, json_valid(decode(value)) AS ok FROM gen) "
        "SELECT count(*) FILTER (WHERE NOT ok), "
        "sum(CASE WHEN ok THEN CAST(json_extract_string(j, '$.amount_cents') AS BIGINT) END), "
        "sum(CASE WHEN ok THEN CAST(json_extract_string(j, '$.event_id') AS BIGINT) END) FROM p"
    ).fetchone()
    got = con.execute(
        "SELECT count(*) FILTER (WHERE event_id IS NULL), sum(amount_cents), sum(event_id) FROM live"
    ).fetchone()
    if tuple(got) != tuple(want):
        bad.append(f"(malformed, sum amount_cents, sum event_id): table {got}, generated {want}")
    agg = con.execute(
        'SELECT count(*), sum("offset"), sum(amount_cents), count(*) FILTER (WHERE event_id IS NULL) '
        "FROM live").fetchone()
    return bad, dict(zip(("rows", "sum_offset", "sum_amount_cents", "malformed"), agg))
