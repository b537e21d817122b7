"""A real Delta Lake transaction log (`_delta_log`) writer/reader.

Reference parity: the reference's one-line purpose is "Stream DeltaLake
tables from Kafka" (/root/reference/README.md:2). The ledgered sink in
sinks.py implements the txn SEMANTICS (idempotent commits, snapshot
reads, OPTIMIZE/VACUUM/CDF) but with a bespoke JSON-lines ledger no
other Delta client can open. This module emits the PUBLIC Delta
protocol instead (delta-io PROTOCOL.md — JSON commit files of
protocol / metaData / add / remove / txn / cdc / commitInfo actions),
so a table written here is readable by delta-rs, delta-spark, or any
independent log fold — proven by the DuckDB hand-parsed-log oracles in
queries/delta_log_ops.py (the duckdb `delta` extension is not loadable
offline in this container, so the oracle parses the log with read_json
and folds add/remove in SQL — an independent implementation of the
reader contract, not self-agreement).

Layout (exactly the public format):

    table/
      _delta_log/00000000000000000000.json        # newline-delimited actions
      _delta_log/00000000000000000010.checkpoint.parquet
      _delta_log/_last_checkpoint                  # pointer {version, size}
      _change_data/cdc-<uuid>.parquet              # CDF rows (DML commits)
      part-<uuid>.parquet                          # data files, table root
      et=view/part-<uuid>.parquet                  # partitioned layout

Commit protocol: the next version file is created with O_CREAT|O_EXCL
under an exclusive flock on a sidecar — put-if-absent, the exact
atomicity contract Delta's LogStore requires of the filesystem (HDFS
atomic rename / S3 DynamoDB mutex); two writers can never both create
version N. Data files are written FIRST under uuid names (never
overwritten, never shared between commits) and published by the log
append — a crash before the append leaves unreferenced garbage that no
reader sees, the same recovery class as sinks.py's torn ledger line.
Rewrite commits (OPTIMIZE / DELETE / MERGE) re-validate under the lock
that every file they remove is STILL live — a racer's interleaved
commit aborts the stale plan (ConcurrentDeleteReadError, Delta's
conflict taxonomy) instead of double-removing rows.

Exactly-once streaming: `txn {appId, version}` actions, the real Delta
idempotence design — foreachBatch skips a batch when its batch_id is
<= the appId's ledgered version high-water mark. Replay after recovery
is a no-op; see DeltaLogSink.

Scale: the log is METADATA — commits append O(files-touched) JSON
actions, never data-proportional work. The table's state lives in ONE
snapshot per version (_Snapshot: protocol, metaData, txn marks,
domains, live adds, tombstones, last commitInfo), built by one fold
from the last parquet CHECKPOINT (_CheckpointMixin) plus the JSON tail
after it — O(live files + recent commits) at any table age — and the
same fold feeds the checkpoint writers. A table handle caches its
snapshot keyed on the `_delta_log` listing: each state read lists the
log once and reuses the snapshot, folds only the new commits on top
of it, or (after a checkpoint, a compaction or a deleted commit)
refolds from the checkpoint; a commit reads back one JSON file.
Data-path operations (append, OPTIMIZE rewrite, DELETE/MERGE rewrite)
are distributed Spark jobs; the driver only renames the written files
and reads their parquet footers for the add actions' stats (an append
is one Spark job: the write). DELETE and MERGE rewrite ONLY the files
that contain matches (found via one predicate-pushed
_metadata.file_path scan), the copy-on-write DML Delta itself
performs; partitioned tables prune from add-action partitionValues
without listing or opening other partitions' files.
"""

from __future__ import annotations

import contextlib
import copy
import dataclasses
import fcntl
import functools
import json
import os
import re
import shutil
import time
import urllib.parse
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_PROTOCOL = {"minReaderVersion": 1, "minWriterVersion": 4}

# Table-features gating (PROTOCOL.md "Table Features"): the feature
# names this engine actually implements. A table whose protocol
# demands anything else must be REFUSED loudly — reading around an
# unknown reader feature (say, a v2Checkpoint-only log) returns
# silently wrong data, and writing around an unknown writer feature
# corrupts invariants the unknown feature maintains.
_SUPPORTED_READER_FEATURES = frozenset(
    {
        "columnMapping",
        "deletionVectors",
        "v2Checkpoint",
        "typeWidening",
        "timestampNtz",
        "variantType",
        "vacuumProtocolCheck",
    }
)

# delta.typeWidening's allowed (fromType, toType) pairs (the stable
# feature's set, protocol type names): integral up-chain, float→double,
# integral→double. A parquet reader must up-promote old narrow files to
# the widened log schema (Spark 4's parquet readers do, SPARK-40876).
_TYPE_WIDENINGS = frozenset(
    {
        ("byte", "short"),
        ("byte", "integer"),
        ("byte", "long"),
        ("short", "integer"),
        ("short", "long"),
        ("integer", "long"),
        ("float", "double"),
        ("byte", "double"),
        ("short", "double"),
        ("integer", "double"),
    }
)
_SUPPORTED_WRITER_FEATURES = frozenset(
    {
        "appendOnly",
        "changeDataFeed",
        "checkConstraints",
        "columnMapping",
        "deletionVectors",
        "generatedColumns",
        "identityColumns",
        "inCommitTimestamp",
        "invariants",
        "v2Checkpoint",
        "domainMetadata",
        "rowTracking",
        "clustering",
        "typeWidening",
        "timestampNtz",
        "variantType",
        "allowColumnDefaults",
        "vacuumProtocolCheck",
        "checkpointProtection",
        "icebergCompatV2",
    }
)
_MAX_READER_VERSION = 3
_MAX_WRITER_VERSION = 7
_LOG_DIR = "_delta_log"
_CDC_DIR = "_change_data"
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"
# Hadoop's FileOutputCommitter option for the job-level _SUCCESS file; a
# write option reaches only that write's Hadoop conf. Staging dirs are
# deleted right after the write, so nothing reads the marker there.
_SUCCESS_MARKER_OPTION = "mapreduce.fileoutputcommitter.marksuccessfuljobs"


class MetadataChangedError(RuntimeError):
    """A concurrent commit changed the table's metaData between this
    operation's read and its commit point — committing the stale
    metaData would silently erase the other writer's change (a dropped
    constraint, a reverted schema widening). Mirrors Delta's
    MetadataChangedException; the caller should re-read and retry."""


def _pvals_of_rel_path(rel: str) -> dict:
    """Hive partitionValues parsed from a relative path (the dir
    segments' k=v pairs, Hive-unescaped, NULL sentinel mapped) —
    shared by CONVERT TO DELTA and the stream source's
    synthesized-delete partition recovery."""
    out: dict = {}
    for seg in os.path.dirname(rel).split(os.sep):
        if "=" in seg:
            k, _, val = seg.partition("=")
            out[k] = None if val == _HIVE_NULL else urllib.parse.unquote(val)
    return out


class ConcurrentAppendError(RuntimeError):
    """A concurrent commit ledgered state this write depends on (e.g.
    an overlapping COPY INTO's loaded-file marks); retry resolves."""


class ConcurrentDeleteReadError(RuntimeError):
    """A concurrent commit removed files this operation planned to
    rewrite between its snapshot and its commit point — committing
    anyway would double-remove (or resurrect) rows. The caller should
    re-plan and retry; the name mirrors Delta's conflict taxonomy."""


def _now_ms() -> int:
    return int(time.time() * 1000)


def _type_features_of_struct(dt) -> tuple[str, ...]:
    """PROTOCOL.md's TYPE-GATED table features carried by a schema:
    `timestampNtz` when any field (nested included) is TIMESTAMP
    WITHOUT TIMEZONE, `variantType` for VARIANT — each is a reader AND
    writer feature (a client that predates the type would misread the
    physical encoding, so the protocol must make it refuse the table
    instead). Walks struct/array/map nesting."""
    feats: set[str] = set()

    def walk(t) -> None:
        name = t.typeName()
        if name == "timestamp_ntz":
            feats.add("timestampNtz")
        elif name == "variant":
            feats.add("variantType")
        for f in getattr(t, "fields", None) or []:
            walk(f.dataType)
        if hasattr(t, "elementType"):
            walk(t.elementType)
        if hasattr(t, "keyType"):
            walk(t.keyType)
            walk(t.valueType)

    walk(dt)
    return tuple(sorted(feats))


_DURATION_UNITS_MS = {
    "millisecond": 1,
    "second": 1000,
    "minute": 60_000,
    "hour": 3_600_000,
    "day": 86_400_000,
    "week": 7 * 86_400_000,
}


def _parse_duration_ms(text: str) -> int:
    """Parse delta's CalendarInterval-style duration property values —
    "interval 30 days", "1 week", "interval 1 week 2 days", case- and
    plural-insensitive (the format delta.logRetentionDuration /
    delta.deletedFileRetentionDuration carry). Unknown text raises:
    silently misreading a retention window as 0 would vacuum live
    readers' files."""
    import re as _re

    term = r"(\d+)\s*(millisecond|second|minute|hour|day|week)s?"
    m = _re.fullmatch(
        rf"(?:interval\s+)?{term}(?:\s+{term})*",
        text.strip().lower(),
    )
    if m is None:
        # findall would happily skip signs and junk ("interval -1 days"
        # -> +1 day) — a malformed retention property must ERROR, not
        # become a different retention window that vacuums live files.
        raise ValueError(f"cannot parse duration {text!r}")
    parts = _re.findall(term, m.group(0))
    return sum(int(n) * _DURATION_UNITS_MS[u] for n, u in parts)


def _occ_retry(verb):
    """OPTIMISTIC-CONCURRENCY RE-EXECUTION around a whole table verb —
    the public Delta conflict-resolution contract (delta.io
    concurrency-control; delta-spark's OptimisticTransaction +
    commit-attempt loop) expressed at the re-plan level our verbs
    already support: every verb snapshots, plans, stages, and commits
    behind a precondition that aborts when a concurrent winner touched
    the SAME files/metadata. Disjoint work already commutes through
    that design (append-vs-append, rewrites of disjoint files, a
    DELETE beside an append it doesn't read); what the raw funnel
    surfaces as ConcurrentDeleteReadError / ConcurrentAppendError /
    MetadataChangedError is exactly the retryable remainder — so this
    wrapper re-executes the verb from a FRESH snapshot with
    exponential backoff, and the caller never retries by hand.

    Retry happens ONLY when the log actually ADVANCED during the
    attempt (a winner landed): a conflict raised with no new commit is
    a stale plan or a genuine layout/metadata mismatch that re-planning
    cannot fix — it re-raises immediately, so true logical conflicts
    still abort loudly (and first-commit schema/partitioning races keep
    their exact error). Attempts are bounded (DS_OCC_ATTEMPTS,
    default 10); exhaustion re-raises the last conflict. A failed
    attempt's staged data files are invisible orphans (VACUUM-
    reclaimed), identical to the crash contract, and each retry
    re-enters the verb from scratch so identity marks / row-id ranges
    re-mint from the winner's advanced state (never replayed stale —
    see _finalize_row_tracking's copy-stamping)."""
    @functools.wraps(verb)
    def wrapper(self, *args, **kwargs):
        # clamp: a misconfigured DS_OCC_ATTEMPTS <= 0 must not turn
        # every DML into a silent no-op "success" (the loop body would
        # never run and the wrapper would return None)
        attempts = max(1, int(os.environ.get("DS_OCC_ATTEMPTS", "10")))
        delay = 0.05
        for attempt in range(attempts):
            before = self.latest_version()
            try:
                return verb(self, *args, **kwargs)
            except (
                ConcurrentAppendError,
                ConcurrentDeleteReadError,
                MetadataChangedError,
            ) as ex:
                # ConcurrentAppendError may come from a LAGGED listing
                # (the colliding winner is durable but not visible in
                # list() yet — FaultInjectingLogStore's model), so
                # progress cannot always be observed for it; the other
                # conflicts retry only when the log visibly advanced.
                progressed = (
                    isinstance(ex, ConcurrentAppendError)
                    or self.latest_version() > before
                )
                if not progressed or attempt == attempts - 1:
                    raise
                time.sleep(delay)
                delay = min(delay * 2, 1.0)

    return wrapper


# stats_parsed / partitionValues_parsed field types: the column's REAL
# data type, per the Delta checkpoint spec / delta-spark's
# writeStatsAsStruct layout (an int32 column's parsed stats are int32,
# a date-partitioned table's parsed partition value is date32, ...) —
# a delta-spark reader schema-reconciles these structs against the
# table schema, so emitting everything as int64/string would fail
# reconciliation or mis-type partition pruning. Values that can't be
# materialized faithfully in the real type (foreign junk stats,
# out-of-range ints, inexact decimals) fall back to null in
# _enrich_file_rows — pruning then uses the JSON stats string.
def _pa_stats_type(dt):
    import pyarrow as pa

    name = dt.typeName()
    if name == "decimal":
        return pa.decimal128(dt.precision, dt.scale)
    return {
        "long": pa.int64(), "integer": pa.int32(), "short": pa.int16(),
        "byte": pa.int8(), "double": pa.float64(), "float": pa.float32(),
        "string": pa.string(), "boolean": pa.bool_(),
        "date": pa.date32(),
        "timestamp": pa.timestamp("us", tz="UTC"),
        "timestamp_ntz": pa.timestamp("us"),
    }.get(name)


# column types whose min/max/nullCount stats are collected (and are
# meaningful for interval pruning) — shared by staging stats
# collection and the dataSkippingStatsColumns validation
_STATS_ATOMIC_TYPES = frozenset(
    {
        "long", "integer", "short", "byte", "double", "float", "string",
        "date", "timestamp", "boolean", "decimal",
    }
)


def _spark_decimal(d):
    """``d`` as Spark's collect() hands a decimal to Python: the JVM
    pickles the java.math.BigDecimal through toEngineeringString(), so
    below 1E-6 the coefficient is zero-padded to an exponent that is a
    multiple of 3 (1E-10 at scale 10 arrives as 1.00E-10). Stats JSON
    carries str() of the value, so staging stats must match it."""
    import decimal

    sign, digits, exp = d.as_tuple()
    adjusted = exp + len(digits) - 1
    if digits == (0,) or exp >= 0 or adjusted >= -6:
        return d
    sig = adjusted % 3 + 1  # integer digits of the engineering form
    if sig <= len(digits):
        return d
    return decimal.Decimal(
        (sign, digits + (0,) * (sig - len(digits)), adjusted - sig + 1)
    )


def _float_min_max(col) -> tuple:
    """Spark's min/max of a float/double column: NaN sorts above every
    number, and on ties (-0.0 == 0.0) the first value in file order
    wins. Parquet footer stats order neither NaN nor signed zeros that
    way, so floats are always folded from the column itself."""
    import numpy as np

    a = col.drop_null().to_numpy()
    if not len(a):
        return None, None
    nan = np.isnan(a)
    num = a[~nan]
    if not len(num):
        return float(a[0]), float(a[0])
    lo = num[num == num.min()][0]
    hi = a[nan][0] if nan.any() else num[num == num.max()][0]
    return float(lo), float(hi)


def _footer_min_max(md, i: int, conv) -> tuple | None:
    """(min, max, nullCount) of leaf column ``i``, folded across the
    footer's row groups and decoded by ``conv``; None when a row group
    lacks the stats (parquet-mr omits min/max of a value over 4 KiB,
    and writes none at all for INT96)."""
    lo = hi = None
    nulls = 0
    for g in range(md.num_row_groups):
        st = md.row_group(g).column(i).statistics
        if st is None or not st.has_null_count:
            return None
        nulls += st.null_count
        if st.num_values == 0:  # an all-null row group
            continue
        if not st.has_min_max:
            return None
        a, b = conv(st.min_raw), conv(st.max_raw)
        lo = a if lo is None or a < lo else lo
        hi = b if hi is None or b > hi else hi
    return lo, hi, nulls


def _footer_file_stats(path: str, types: dict) -> dict:
    """numRecords + per-column min/max/nullCount of one staged parquet
    file, keyed as the Spark aggregation's row was (``min__c``, ...),
    with every value typed as collect() would return it. Exact footer
    stats are taken as they stand; timestamps (INT96 carries none),
    floats and columns missing footer stats are folded from those
    columns alone. Raises pyarrow's errors on a file it cannot read
    (a VARIANT column's logical type, for one)."""
    import decimal

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark.sql.types import DateType, TimestampType

    pf = pq.ParquetFile(path, coerce_int96_timestamp_unit="us")
    md = pf.metadata
    row = {"numRecords": md.num_rows}
    if not md.num_rows:
        return row
    leaf = {}
    for i in range(md.num_columns):
        c = md.schema.column(i)
        if c.path == c.name:  # top-level: matched by physical name
            leaf[c.name] = i
    # footer min_raw/max_raw -> the value collect() returns; timestamps
    # and floats have no exact footer stats and are always scanned
    exact = {
        "long": int, "integer": int, "short": int, "byte": int,
        "boolean": bool, "date": DateType().fromInternal,
        "string": lambda r: r.decode("utf-8", "replace"),
    }
    scan = []
    for c, dt in types.items():
        name = dt.typeName()
        if name == "decimal":
            def conv(r, s=dt.scale):
                # INT32/INT64 carry the unscaled int, fixed-length
                # arrays its big-endian two's complement
                u = r if isinstance(r, int) else int.from_bytes(
                    r, "big", signed=True
                )
                digits = tuple(map(int, str(abs(u))))
                return _spark_decimal(decimal.Decimal((int(u < 0), digits, -s)))
        elif name in exact:
            conv = exact[name]
        else:
            scan.append(c)
            continue
        got = _footer_min_max(md, leaf[c], conv) if c in leaf else None
        if got is None:
            scan.append(c)
        else:
            row[f"min__{c}"], row[f"max__{c}"], row[f"null__{c}"] = got
    if scan:
        tbl = pf.read(columns=scan)
        for c in scan:
            col = tbl.column(c)
            name = types[c].typeName()
            if name in ("double", "float"):
                lo, hi = _float_min_max(col)
            else:
                if name == "timestamp":  # as microseconds since epoch
                    col = col.cast(pa.timestamp("us", col.type.tz)).cast(
                        pa.int64()
                    )
                mm = pc.min_max(col)
                lo, hi = mm["min"].as_py(), mm["max"].as_py()
                if lo is not None and name == "timestamp":
                    ts = TimestampType().fromInternal
                    lo, hi = ts(lo), ts(hi)
                elif lo is not None and name == "decimal":
                    lo, hi = _spark_decimal(lo), _spark_decimal(hi)
            row[f"min__{c}"], row[f"max__{c}"] = lo, hi
            row[f"null__{c}"] = col.null_count
    return row


def _checkpoint_schema(
    file_actions_only: bool = False,
    v2_top: bool = False,
    stats_fields=None,
    part_fields=None,
):
    """The checkpoint parquet schema. ``file_actions_only`` = a v2
    SIDECAR file (add + remove columns only, per spec);``v2_top`` = a
    v2 top-level file (non-file actions + checkpointMetadata +
    sidecar pointer rows, no add/remove). ``stats_fields`` /
    ``part_fields`` (name, pa type) lists switch on the spec's
    MATERIALIZED columns on file-action-carrying schemas:
    `stats_parsed` (numRecords + typed minValues/maxValues/nullCount
    structs) and `partitionValues_parsed` (typed partition values) —
    delta-spark's delta.checkpoint.writeStatsAsStruct layout, which
    lets a reader prune files from COLUMNAR checkpoint data without
    JSON-decoding every add's stats string (read_where_stats' fast
    path)."""
    import pyarrow as pa

    extra_fields = []
    if stats_fields:
        extra_fields.append(
            pa.field(
                "stats_parsed",
                pa.struct(
                    [
                        ("numRecords", pa.int64()),
                        ("minValues", pa.struct(list(stats_fields))),
                        ("maxValues", pa.struct(list(stats_fields))),
                        (
                            "nullCount",
                            pa.struct(
                                [(n, pa.int64()) for n, _ in stats_fields]
                            ),
                        ),
                    ]
                ),
            )
        )
    if part_fields:
        extra_fields.append(
            pa.field("partitionValues_parsed", pa.struct(list(part_fields)))
        )

    full = pa.schema(
        [
            pa.field(
                "protocol",
                pa.struct(
                    [
                        ("minReaderVersion", pa.int32()),
                        ("minWriterVersion", pa.int32()),
                        ("readerFeatures", pa.list_(pa.string())),
                        ("writerFeatures", pa.list_(pa.string())),
                    ]
                ),
            ),
            pa.field(
                "metaData",
                pa.struct(
                    [
                        ("id", pa.string()),
                        # format is REQUIRED by the spec's checkpoint
                        # schema — delta-spark reconstructs state
                        # expecting format.provider; omitting it breaks
                        # external readers resuming from _last_checkpoint
                        (
                            "format",
                            pa.struct(
                                [
                                    ("provider", pa.string()),
                                    (
                                        "options",
                                        pa.map_(pa.string(), pa.string()),
                                    ),
                                ]
                            ),
                        ),
                        ("schemaString", pa.string()),
                        ("partitionColumns", pa.list_(pa.string())),
                        ("createdTime", pa.int64()),
                        ("configuration", pa.map_(pa.string(), pa.string())),
                    ]
                ),
            ),
            pa.field(
                "add",
                pa.struct(
                    [
                        ("path", pa.string()),
                        ("partitionValues", pa.map_(pa.string(), pa.string())),
                        ("size", pa.int64()),
                        ("modificationTime", pa.int64()),
                        ("dataChange", pa.bool_()),
                        ("stats", pa.string()),
                        # rowTracking (PROTOCOL.md): fresh row ids are
                        # baseRowId + row_index, stamped per add —
                        # checkpoints must carry them or every row id
                        # changes after the first log cleanup
                        ("baseRowId", pa.int64()),
                        ("defaultRowCommitVersion", pa.int64()),
                        (
                            "deletionVector",
                            pa.struct(
                                [
                                    ("storageType", pa.string()),
                                    ("pathOrInlineDv", pa.string()),
                                    ("offset", pa.int32()),
                                    ("sizeInBytes", pa.int32()),
                                    ("cardinality", pa.int64()),
                                ]
                            ),
                        ),
                    ]
                ),
            ),
            # unexpired remove TOMBSTONES (spec: checkpoints must retain
            # them) — an external client resuming from _last_checkpoint
            # needs them to vacuum correctly and to not resurrect
            # removed files
            pa.field(
                "remove",
                pa.struct(
                    [
                        ("path", pa.string()),
                        ("deletionTimestamp", pa.int64()),
                        ("dataChange", pa.bool_()),
                        (
                            "deletionVector",
                            pa.struct(
                                [
                                    ("storageType", pa.string()),
                                    ("pathOrInlineDv", pa.string()),
                                    ("offset", pa.int32()),
                                    ("sizeInBytes", pa.int32()),
                                    ("cardinality", pa.int64()),
                                ]
                            ),
                        ),
                    ]
                ),
            ),
            pa.field(
                "txn",
                pa.struct([("appId", pa.string()), ("version", pa.int64())]),
            ),
            pa.field(
                "domainMetadata",
                pa.struct(
                    [
                        ("domain", pa.string()),
                        ("configuration", pa.string()),
                        ("removed", pa.bool_()),
                    ]
                ),
            ),
        ]
        + extra_fields
    )
    if file_actions_only:
        return pa.schema(
            [full.field("add"), full.field("remove")] + extra_fields
        )
    if v2_top:
        return pa.schema(
            [
                full.field("protocol"),
                full.field("metaData"),
                full.field("txn"),
                full.field("domainMetadata"),
                pa.field(
                    "checkpointMetadata",
                    pa.struct(
                        [
                            ("version", pa.int64()),
                            ("tags", pa.map_(pa.string(), pa.string())),
                        ]
                    ),
                ),
                pa.field(
                    "sidecar",
                    pa.struct(
                        [
                            ("path", pa.string()),
                            ("sizeInBytes", pa.int64()),
                            ("modificationTime", pa.int64()),
                        ]
                    ),
                ),
            ]
        )
    return full


# spec default for delta.deletedFileRetentionDuration: tombstones older
# than this age out of newly-written checkpoints (vacuum past it can no
# longer see the file — real Delta's documented retention tradeoff)
_TOMBSTONE_RETENTION_MS = 7 * 24 * 3600 * 1000

_COMPACTED_RE = re.compile(r"^(\d{20})\.(\d{20})\.compacted\.json$")


def _is_commit_file(name: str) -> bool:
    return len(name) == 25 and name.endswith(".json")


def _is_state_file(name: str) -> bool:
    """A `_delta_log` entry whose arrival or loss can change the folded
    state: a JSON commit, a compacted segment or a checkpoint file.
    `.crc` sidecars, `_last_checkpoint` and temp files are not."""
    return (
        _is_commit_file(name)
        or _COMPACTED_RE.match(name) is not None
        or (
            name[:20].isdigit()
            and name[20:32] == ".checkpoint."
            and name.endswith(".parquet")
        )
    )


@dataclasses.dataclass(frozen=True)
class _Snapshot:
    """The table's state at one version: the last checkpoint plus the
    JSON tail after it, folded once (DeltaLogTable._fold). ``key`` is
    the (name, size, mtime) of every state file the fold was listed
    from (DeltaLogTable._listing_key). The dicts
    are never handed out — accessors return copies — so no caller can
    poison a cached snapshot."""

    version: int
    key: frozenset
    protocol: dict | None
    metadata: dict | None
    txns: dict  # appId -> highest txn version
    domains: dict  # domain -> latest domainMetadata action (removed too)
    adds: dict  # path -> live add action, in first-add order
    removes: dict  # path -> latest remove action (re-adds keep it)
    commit_info: dict | None  # the newest version's commitInfo


class LogStore:
    """Storage SPI for the `_delta_log` JSON surface — the public
    delta-spark LogStore contract (org.apache.spark.sql.delta.storage.
    LogStore): LIST the log directory, READ a log file, PUT-IF-ABSENT
    a commit file (the atomicity primitive the whole protocol rests
    on), atomic OVERWRITE for the re-writable artifacts
    (`_last_checkpoint`, `.crc` sidecars, compacted segments), DELETE
    for retention, and the writer-side mutual EXCLUSION that
    serializes same-store committers (delta's S3 single-writer /
    DynamoDB-lock analogue). The commit funnel in DeltaLogTable speaks
    ONLY this interface for the JSON log, so an object store with
    different consistency guarantees slots in underneath without
    touching protocol code — and the funnel's collision handling is
    exercised against injected object-store pathologies by
    FaultInjectingLogStore below.

    This base class IS the local-filesystem implementation: POSIX
    gives both primitives natively (O_CREAT|O_EXCL put-if-absent,
    flock mutual exclusion), exactly what the funnel used before the
    seam was extracted. Checkpoint PARQUET payloads stay on the plain
    filesystem — like delta-spark, only the JSON commit surface needs
    the store's atomicity contract; parquet artifacts are immutable
    once referenced and never raced."""

    def list(self, log_dir: str) -> list[str]:
        return os.listdir(log_dir)

    def read(self, path: str) -> str:
        with open(path) as fh:
            return fh.read()

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def put_if_absent(self, path: str, data: str) -> None:
        """Create ``path`` with ``data`` iff it does not exist —
        raises FileExistsError otherwise (never clobbers). Durable
        (fsync'd) before returning."""
        fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
        try:
            os.write(fd, data.encode())
            os.fsync(fd)
        finally:
            os.close(fd)

    def put_atomic(self, path: str, data: str) -> None:
        """Atomically (re)write ``path`` — readers see the old or the
        new content, never a torn file."""
        tmp = path + f".{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as fh:
            fh.write(data)
        os.replace(tmp, path)

    def delete(self, path: str) -> None:
        os.remove(path)

    @contextlib.contextmanager
    def lock(self, log_dir: str):
        """Writer-side mutual exclusion for one table's log (advisory
        flock on a sidecar — works across processes on one host; an
        object-store implementation substitutes its lock service)."""
        lock_path = os.path.join(log_dir, "_commit.lock")
        fd = os.open(lock_path, os.O_CREAT | os.O_WRONLY, 0o644)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            yield
        finally:
            fcntl.flock(fd, fcntl.LOCK_UN)
            os.close(fd)


class FaultInjectingLogStore(LogStore):
    """Adversarial LogStore for the commit-race suite: a real local
    directory underneath, with object-store pathologies injected in
    memory on the JSON funnel —

    - LOST-THEN-VISIBLE listings (eventual consistency): a file
      ANOTHER writer put is HIDDEN from this store's next ``lag``
      list() calls that would return it, then becomes visible —
      the pre-strong-consistency S3 LIST behavior, with
      read-your-writes kept (a store always sees its OWN puts; its
      post-commit checksum fold depends on that, exactly like a real
      client tracking its own commit version). A writer whose listing
      lagged computes a stale next-version and collides on
      put-if-absent; the funnel must turn that into a retryable
      conflict, never a crash or a clobber.
    - DUPLICATE PUTS (retried writes): the first ``dup``
      put_if_absent calls raise FileExistsError AFTER durably writing
      the payload — the retry-storm case where a client cannot
      distinguish its own successful write from a true conflict. The
      funnel resolves it by payload comparison (an identical existing
      file is OUR durable commit)."""

    def __init__(self, lag: int = 0, dup: int = 0):
        self.lag = lag
        self.dup = dup
        self._mine: set[str] = set()
        self._maturity: dict[str, int] = {}
        self.stats = {"hidden_lists": 0, "dup_puts": 0}

    def put_if_absent(self, path: str, data: str) -> None:
        super().put_if_absent(path, data)
        self._mine.add(path)
        if self.dup > 0:
            self.dup -= 1
            self.stats["dup_puts"] += 1
            raise FileExistsError(path)

    def put_atomic(self, path: str, data: str) -> None:
        super().put_atomic(path, data)
        self._mine.add(path)

    def list(self, log_dir: str) -> list[str]:
        out = []
        for f in super().list(log_dir):
            p = os.path.join(log_dir, f)
            if p in self._mine or not self.lag:
                out.append(f)
                continue
            n = self._maturity.get(p, self.lag)
            if n > 0:
                self._maturity[p] = n - 1
                self.stats["hidden_lists"] += 1
                continue
            out.append(f)
        return out


class CommitCoordinator:
    """COORDINATED-COMMITS SPI (Delta's commit-coordinator / catalog-
    managed commits RFC, delta-spark's CommitCoordinatorClient): for a
    coordinator-OWNED table, the source of truth for the log's tail is
    the COORDINATOR, not a filesystem listing — writers register each
    commit with it (the coordinator serializes version assignment and
    stages the payload under `_delta_log/_staged_commits/`), readers
    merge its unbackfilled tail over the backfilled `%020d.json`
    files, and BACKFILL later copies owned commits into the standard
    files so filesystem-only readers catch up. This is how Delta
    commits safely on stores with no put-if-absent primitive.

    - ``commit(log_dir, version, payload)``: atomically claim
      ``version`` and durably stage its payload; raises
      FileExistsError when the version is already owned or backfilled
      (the same conflict surface put-if-absent gives the funnel).
    - ``get_commits(log_dir)``: version -> staged payload path for the
      unbackfilled tail, ascending.
    - ``backfill(store, log_dir)``: publish owned commits as standard
      version files (idempotent put-if-absent; an already-backfilled
      file is success), then drop them from the owned tail.
    """

    def commit(self, log_dir: str, version: int, payload: str) -> str:
        raise NotImplementedError

    def get_commits(self, log_dir: str) -> dict[int, str]:
        raise NotImplementedError

    def backfill(self, store: "LogStore", log_dir: str) -> int:
        raise NotImplementedError

    def discard(self, log_dir: str, version: int) -> None:
        """Drop an owned, unbackfilled commit (retention cleanup of a
        checkpoint-covered version) — registry entry AND staged
        payload together, so list()/exists() never advertise a
        dangling version."""
        raise NotImplementedError


class InProcessCoordinator(CommitCoordinator):
    """In-process coordinator implementation: one shared object (the
    'service') holding the owned tail per table under a threading
    lock. Staged payloads are durable files under
    `_delta_log/_staged_commits/<uuid>.<version>.json` — a crash loses
    only the in-memory registry, and a restarted coordinator could
    rebuild it from the staged dir (version is in the name); the
    payloads themselves are never at risk."""

    def __init__(self) -> None:
        import threading

        self._lock = threading.Lock()
        self._owned: dict[str, dict[int, str]] = {}

    def commit(self, log_dir: str, version: int, payload: str) -> str:
        with self._lock:
            owned = self._owned.setdefault(log_dir, {})
            if version in owned or os.path.exists(
                os.path.join(log_dir, f"{version:020d}.json")
            ):
                raise FileExistsError(
                    f"version {version} already committed"
                )
            staged_dir = os.path.join(log_dir, "_staged_commits")
            os.makedirs(staged_dir, exist_ok=True)
            sp = os.path.join(
                staged_dir, f"{uuid.uuid4().hex}.{version:020d}.json"
            )
            fd = os.open(sp, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
            try:
                os.write(fd, payload.encode())
                os.fsync(fd)
            finally:
                os.close(fd)
            owned[version] = sp
            return sp

    def get_commits(self, log_dir: str) -> dict[int, str]:
        with self._lock:
            return dict(sorted(self._owned.get(log_dir, {}).items()))

    def backfill(self, store: "LogStore", log_dir: str) -> int:
        n = 0
        with self._lock:
            owned = self._owned.get(log_dir, {})
            for v in sorted(owned):
                sp = owned[v]
                real = os.path.join(log_dir, f"{v:020d}.json")
                with open(sp) as fh:
                    payload = fh.read()
                try:
                    store.put_if_absent(real, payload)
                except FileExistsError:
                    pass  # already backfilled (idempotent)
                os.remove(sp)
                del owned[v]
                n += 1
        return n

    def discard(self, log_dir: str, version: int) -> None:
        with self._lock:
            owned = self._owned.get(log_dir, {})
            sp = owned.pop(version, None)
            if sp is not None and os.path.exists(sp):
                os.remove(sp)


class CoordinatedLogStore(LogStore):
    """LogStore for a coordinator-OWNED table: version-file writes
    route to the coordinator (owned commit), and list/read/exists
    merge the coordinator's unbackfilled tail over the backfilled
    files — so the whole commit funnel, every fold, and the race
    matrix run UNCHANGED over coordinated tables. Non-version
    artifacts (`.crc` sidecars, `_last_checkpoint`, compacted
    segments) keep the plain store semantics; a reader with a PLAIN
    LogStore sees only backfilled commits, the spec's filesystem-
    reader contract."""

    def __init__(self, coordinator: CommitCoordinator):
        self.coordinator = coordinator

    @staticmethod
    def _version_of(path: str) -> tuple[str, int] | None:
        log_dir, name = os.path.split(path)
        if (
            len(name) == 25
            and name.endswith(".json")
            and name[:20].isdigit()
        ):
            return log_dir, int(name[:20])
        return None

    def _staged_path(self, path: str) -> str | None:
        ver = self._version_of(path)
        if ver is None:
            return None
        log_dir, v = ver
        if os.path.exists(path):
            return None  # backfilled wins (same content by contract)
        return self.coordinator.get_commits(log_dir).get(v)

    def list(self, log_dir: str) -> list[str]:
        out = super().list(log_dir)
        known = set(out)
        for v in self.coordinator.get_commits(log_dir):
            name = f"{v:020d}.json"
            if name not in known:
                out.append(name)
        return out

    def read(self, path: str) -> str:
        sp = self._staged_path(path)
        return super().read(sp if sp is not None else path)

    def exists(self, path: str) -> bool:
        return super().exists(path) or self._staged_path(path) is not None

    def put_if_absent(self, path: str, data: str) -> None:
        ver = self._version_of(path)
        if ver is None:
            super().put_if_absent(path, data)
            return
        log_dir, v = ver
        self.coordinator.commit(log_dir, v, data)
        if '"delta.coordinatedCommits.commitCoordinator' in data:
            # the ENABLEMENT commit (and everything before it) must be
            # backfilled SYNCHRONOUSLY (the coordinated-commits RFC's
            # rule): a filesystem writer that cannot see the ownership
            # metaData would sail past the ownership gate, compute a
            # stale version, and put-if-absent a SPLIT-BRAIN commit
            # beside the owned tail
            self.coordinator.backfill(LogStore(), log_dir)

    def delete(self, path: str) -> None:
        sp = self._staged_path(path)
        if sp is not None:
            # unbackfilled owned commit: the registry entry must go
            # WITH the payload or list()/exists() keep advertising a
            # dangling version whose read() then crashes
            log_dir, v = self._version_of(path)
            self.coordinator.discard(log_dir, v)
            return
        super().delete(path)


class _CheckpointMixin:
    """Parquet checkpoints (the Delta spec's log-compaction mechanism):
    `_delta_log/%020d.checkpoint.parquet` holds the FULL reconstructed
    state at a version (protocol + latest metaData + every live add +
    txn high-water marks) as one action-per-row parquet file, and
    `_delta_log/_last_checkpoint` points at it — so a reader folds the
    checkpoint plus only the JSON commits AFTER it, bounding log replay
    at any table age. At 100 TB / years of commits this is what keeps
    snapshot construction O(live files + recent commits) instead of
    O(all commits ever)."""

    def _explicit_stats_columns(self) -> set[str] | None:
        """`delta.dataSkippingStatsColumns` as a set of PHYSICAL
        column names, or None when the property is unset (the
        first-N `dataSkippingNumIndexedCols` rule applies instead).
        The per-column opt-in list is the knob that matters on a wide
        table where the first-32 rule would index junk columns.
        Parsed leniently here — validation (unknown names, partition
        columns, ineligible types) happens at SET time so a bad list
        never lands durably; a foreign log's bad entry just selects
        nothing, and statless columns always fall back to scan."""
        raw = (
            (self._metadata_dict() or {}).get("configuration") or {}
        ).get("delta.dataSkippingStatsColumns")
        if raw is None:
            return None
        cm = self.column_mapping() or {}
        return {
            cm.get(n, n)
            for n in (c.strip().strip("`") for c in raw.split(","))
            if n
        }

    def _validate_stats_columns(self, raw: str) -> None:
        """SET-time validation for `delta.dataSkippingStatsColumns`
        (delta-spark validates the same way): every entry must name
        an existing TOP-LEVEL data column of a stats-eligible atomic
        type — unknown names, partition columns, nested paths and
        ineligible types refuse loudly HERE, because a silently-bad
        list would stop stats collection on the columns the operator
        thinks are indexed."""
        s = self.schema()
        if s is None:
            raise ValueError(
                "cannot set delta.dataSkippingStatsColumns on a table "
                "with no schema"
            )
        by = {f.name: f for f in s.fields}
        pb = set(self.partition_columns())
        for name in (c.strip().strip("`") for c in raw.split(",")):
            if not name:
                raise ValueError(
                    "empty entry in delta.dataSkippingStatsColumns"
                )
            if "." in name:
                raise ValueError(
                    f"dataSkippingStatsColumns: nested column path "
                    f"{name!r} is not supported by this writer"
                )
            f = by.get(name)
            if f is None:
                raise ValueError(
                    f"dataSkippingStatsColumns names unknown column "
                    f"{name!r}"
                )
            if name in pb:
                raise ValueError(
                    f"dataSkippingStatsColumns cannot name partition "
                    f"column {name!r} (partition values prune via "
                    "partitionValues, not file stats)"
                )
            if f.dataType.typeName() not in _STATS_ATOMIC_TYPES:
                raise ValueError(
                    f"dataSkippingStatsColumns: column {name!r} of type "
                    f"{f.dataType.typeName()} is not stats-eligible"
                )

    def _parsed_stats_fields(self):
        """(stats_fields, part_fields) for this table's checkpoint
        materialized columns: the stats-eligible atomic data columns
        (physical names on a mapped table) and the typed partition
        columns. Empty when the log carries no schema (a foreign
        minimal log) — the checkpoint then keeps the classic layout.
        An explicit `delta.dataSkippingStatsColumns` list restricts
        `stats_parsed` to exactly the listed columns — unlisted
        parsed-stat fields are DROPPED from the checkpoint schema
        (their values would be all-null dead weight on every file
        row)."""
        s = self.schema()
        if s is None:
            return [], []
        cm = self.column_mapping() or {}
        pb = set(self.partition_columns())
        explicit = self._explicit_stats_columns()
        stats_fields = []
        for f in s.fields:
            if f.name in pb:
                continue  # partition values carry no file stats
            t = _pa_stats_type(f.dataType)
            if t is not None and (
                explicit is None or cm.get(f.name, f.name) in explicit
            ):
                stats_fields.append((cm.get(f.name, f.name), t))
        by = {f.name: f for f in s.fields}
        part_fields = []
        for c in self.partition_columns():
            f = by.get(c)
            t = _pa_stats_type(f.dataType) if f else None
            if t is not None:
                part_fields.append((cm.get(c, c), t))
        return stats_fields, part_fields

    @staticmethod
    def _enrich_file_rows(file_rows, stats_fields, part_fields):
        """Stamp the MATERIALIZED checkpoint columns onto add rows:
        `stats_parsed` decoded once at checkpoint-write time (so no
        reader ever has to json-decode a million stats strings again)
        and `partitionValues_parsed` with typed partition values.
        Foreign adds whose stats don't type-check fall back to null
        parsed columns — pruning then falls back to their JSON stats,
        never to a wrong decode."""
        if not stats_fields and not part_fields:
            return file_rows
        import datetime as _dt
        import decimal as _decmod

        import pyarrow as pa

        def conv(v, t):
            # stats-JSON value -> the column's REAL arrow type; None on
            # anything not faithfully representable (foreign junk,
            # out-of-range int, inexact decimal) so pruning falls back
            # to the JSON stats string instead of a wrong decode
            if v is None:
                return None
            if pa.types.is_integer(t):
                if not (isinstance(v, int) and not isinstance(v, bool)):
                    return None
                w = t.bit_width - 1
                return v if -(1 << w) <= v < (1 << w) else None
            if pa.types.is_floating(t):
                return (
                    float(v)
                    if isinstance(v, (int, float)) and not isinstance(v, bool)
                    else None
                )
            if pa.types.is_boolean(t):
                return v if isinstance(v, bool) else None
            if pa.types.is_date(t):
                if not isinstance(v, str):
                    return None
                try:
                    return _dt.date.fromisoformat(v)
                except ValueError:
                    return None
            if pa.types.is_timestamp(t):
                if not isinstance(v, str):
                    return None
                try:
                    ts = _dt.datetime.fromisoformat(v.replace("Z", "+00:00"))
                except ValueError:
                    return None
                if t.tz is not None:
                    return (
                        ts
                        if ts.tzinfo is not None
                        else ts.replace(tzinfo=_dt.timezone.utc)
                    )
                return ts.replace(tzinfo=None) if ts.tzinfo else ts
            if pa.types.is_decimal(t):
                try:
                    d = _decmod.Decimal(v if isinstance(v, str) else str(v))
                    q = d.quantize(
                        _decmod.Decimal(1).scaleb(-t.scale),
                        context=_decmod.Context(
                            traps=[
                                _decmod.Inexact,
                                _decmod.InvalidOperation,
                            ]
                        ),
                    )
                except (_decmod.DecimalException, TypeError, ValueError):
                    return None
                return q if len(q.as_tuple().digits) <= t.precision else None
            return v if isinstance(v, str) else None

        def pconv(v, t):
            if v is None:
                return None
            try:
                if pa.types.is_integer(t):
                    i = int(v)
                    w = t.bit_width - 1
                    return i if -(1 << w) <= i < (1 << w) else None
                if pa.types.is_floating(t):
                    return float(v)
                if pa.types.is_boolean(t):
                    return v == "true"
                if (
                    pa.types.is_date(t)
                    or pa.types.is_timestamp(t)
                    or pa.types.is_decimal(t)
                ):
                    # Hive partition strings use a ' ' time separator;
                    # fromisoformat (3.11+) accepts both forms
                    return conv(v, t)
                return v
            except (TypeError, ValueError):
                return None

        out = []
        for r in file_rows:
            if "add" not in r:
                out.append(r)
                continue
            r = dict(r)
            a = r["add"]
            if stats_fields:
                sp = None
                st = a.get("stats")
                if st:
                    try:
                        d = json.loads(st)
                    except ValueError:
                        d = None
                    if isinstance(d, dict):
                        mv = d.get("minValues") or {}
                        xv = d.get("maxValues") or {}
                        nc = d.get("nullCount") or {}
                        n_rec = d.get("numRecords")
                        sp = {
                            "numRecords": n_rec
                            if isinstance(n_rec, int)
                            else None,
                            "minValues": {
                                n: conv(mv.get(n), t)
                                for n, t in stats_fields
                            },
                            "maxValues": {
                                n: conv(xv.get(n), t)
                                for n, t in stats_fields
                            },
                            "nullCount": {
                                n: nc.get(n)
                                if isinstance(nc.get(n), int)
                                else None
                                for n, _ in stats_fields
                            },
                        }
                r["stats_parsed"] = sp
            if part_fields:
                pv = a.get("partitionValues") or {}
                if not isinstance(pv, dict):
                    pv = dict(pv)  # a map column read back as pairs
                r["partitionValues_parsed"] = {
                    n: pconv(pv.get(n), t) for n, t in part_fields
                }
            out.append(r)
        return out

    def checkpoint(self, parts: int = 1) -> int:
        """Write a checkpoint at the current version. Returns it.

        ``parts > 1`` writes a MULTI-PART checkpoint (the spec's
        `n.checkpoint.o.p.parquet` naming, `_last_checkpoint` carrying
        `parts`): the state rows are distributed across ``parts``
        files a reader must UNION — how Delta bounds single-file size
        when a 100 TB table's live add set outgrows one writer task
        (each part is written independently; the spec allows any
        row-to-part assignment)."""
        if parts < 1:
            raise ValueError(f"parts must be >= 1, got {parts}")
        m = self._metadata_dict() or {}
        if (m.get("configuration") or {}).get("delta.checkpointPolicy") == "v2":
            # the table property routes EVERY checkpointer (the
            # auto-checkpointing streaming sink included) to the v2
            # layout — delta-spark's checkpointPolicy switch
            if parts != 1:
                raise ValueError(
                    "delta.checkpointPolicy=v2: use checkpoint_v2(sidecars=N) "
                    "— v2 shards via sidecars, not positional parts"
                )
            return self.checkpoint_v2()
        v, nonfile, file_rows = self._checkpoint_fold_rows()
        sfields, pfields = self._parsed_stats_fields()
        file_rows = self._enrich_file_rows(file_rows, sfields, pfields)
        rows = nonfile + file_rows
        schema = _checkpoint_schema(
            stats_fields=sfields, part_fields=pfields
        )
        if parts == 1:
            self._write_checkpoint_parquet(
                rows, schema,
                os.path.join(self.log_dir, f"{v:020d}.checkpoint.parquet"),
            )
        else:
            # contiguous slices; a short tail leaves later parts EMPTY
            # (still schema-carrying files — the spec requires exactly
            # `parts` files to exist, not that each be non-empty)
            per = -(-len(rows) // parts) if rows else 0
            for i in range(parts):
                self._write_checkpoint_parquet(
                    rows[i * per : (i + 1) * per] if per else [],
                    schema,
                    os.path.join(
                        self.log_dir,
                        f"{v:020d}.checkpoint.{i + 1:010d}.{parts:010d}.parquet",
                    ),
                )
        lcp = {"version": v, "size": len(rows)}
        if parts > 1:
            lcp["parts"] = parts
        self._write_last_checkpoint(lcp)
        return v

    @staticmethod
    def _write_checkpoint_parquet(slice_rows, schema, path: str) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        cols = {f.name: [r.get(f.name) for r in slice_rows] for f in schema}
        pq.write_table(
            pa.Table.from_pydict(
                {
                    n: pa.array(c, type=schema.field(n).type)
                    for n, c in cols.items()
                },
                schema=schema,
            ),
            path,
        )

    def _write_last_checkpoint(self, info: dict) -> None:
        self._store.put_atomic(
            os.path.join(self.log_dir, "_last_checkpoint"), json.dumps(info)
        )

    def _checkpoint_fold_rows(self):
        """The current snapshot as checkpoint ROWS, split into non-file
        actions (protocol, metaData, txn — a v2 checkpoint's top-level
        file must carry these) and file actions (add + unexpired remove
        tombstones — sidecar-able). Shared by the classic and v2
        writers."""
        s = self._snapshot()
        if s.version < 0:
            raise ValueError("cannot checkpoint an empty log")
        meta, proto, txns, doms, adds = (
            s.metadata, s.protocol, s.txns, s.domains, s.adds
        )
        # spec: retain UNEXPIRED tombstones of files that are not live
        # again — older ones age out
        cutoff = _now_ms() - _TOMBSTONE_RETENTION_MS
        removes = {
            p: r
            for p, r in s.removes.items()
            if p not in adds and (r.get("deletionTimestamp") or 0) >= cutoff
        }
        nonfile: list[dict] = []
        if proto is not None:
            nonfile.append({"protocol": proto})
        if meta is not None:
            fmt = meta.get("format") or {"provider": "parquet", "options": {}}
            nonfile.append(
                {
                    "metaData": {
                        "id": meta["id"],
                        "format": {
                            "provider": fmt.get("provider", "parquet"),
                            "options": list((fmt.get("options") or {}).items()),
                        },
                        "schemaString": meta["schemaString"],
                        "partitionColumns": meta.get("partitionColumns", []),
                        "createdTime": meta.get("createdTime"),
                        # configuration is LOAD-BEARING state (CHECK
                        # constraints, CDF flag) — dropping it here
                        # would lift every constraint for any reader
                        # resuming from the checkpoint
                        "configuration": list(
                            (meta.get("configuration") or {}).items()
                        ),
                    }
                }
            )
        for app, ver in sorted(txns.items()):
            nonfile.append({"txn": {"appId": app, "version": ver}})
        # live domains only: once checkpointed, no older SET survives
        # for a removed tombstone to shadow
        for d in sorted(doms):
            r = doms[d]
            if not r.get("removed"):
                nonfile.append(
                    {
                        "domainMetadata": {
                            "domain": r["domain"],
                            "configuration": r.get("configuration"),
                            "removed": False,
                        }
                    }
                )
        file_rows: list[dict] = []
        for p in adds:
            ad = adds[p]
            file_rows.append(
                {
                    "add": {
                        "path": ad["path"],
                        "partitionValues": list(
                            (ad.get("partitionValues") or {}).items()
                        ),
                        "size": ad.get("size"),
                        "modificationTime": ad.get("modificationTime"),
                        "dataChange": ad.get("dataChange"),
                        "stats": ad.get("stats"),
                        "deletionVector": ad.get("deletionVector"),
                        "baseRowId": ad.get("baseRowId"),
                        "defaultRowCommitVersion": ad.get(
                            "defaultRowCommitVersion"
                        ),
                    }
                }
            )
        for p in sorted(removes):
            rm = removes[p]
            file_rows.append(
                {
                    "remove": {
                        "path": rm["path"],
                        "deletionTimestamp": rm.get("deletionTimestamp"),
                        "dataChange": rm.get("dataChange"),
                        "deletionVector": rm.get("deletionVector"),
                    }
                }
            )
        return s.version, nonfile, file_rows

    def checkpoint_v2(self, sidecars: int = 2) -> int:
        """Write a V2 CHECKPOINT (the spec's `v2Checkpoint` table
        feature — what delta-spark writes under
        delta.checkpointPolicy=v2): a UUID-named top-level file
        `<v>.checkpoint.<uuid>.parquet` carrying the NON-FILE actions
        (protocol, metaData, txn) plus a `checkpointMetadata` row and
        one `sidecar` row per sidecar file; the FILE actions (adds +
        unexpired remove tombstones) live in ``sidecars`` parquet
        files under `_delta_log/_sidecars/`. Requires the v2Checkpoint
        protocol feature (enable_v2_checkpoints) — readers that don't
        implement it must refuse the table, which is exactly what the
        feature gate is for.

        Scale: sidecars are the v2 design's point — a 100 TB table's
        live add set splits across independently-written (and
        independently-READ) sidecar files, and an incremental
        checkpointer can REUSE unchanged sidecars instead of rewriting
        the whole state (classic multi-part cannot: its parts are
        positional). Returns the checkpointed version."""
        if sidecars < 1:
            raise ValueError(f"sidecars must be >= 1, got {sidecars}")
        proto = self._protocol_dict() or {}
        if "v2Checkpoint" not in (proto.get("readerFeatures") or ()):
            raise ValueError(
                "v2 checkpoints require the v2Checkpoint protocol "
                "feature; call enable_v2_checkpoints() first"
            )
        v, nonfile, file_rows = self._checkpoint_fold_rows()
        sfields, pfields = self._parsed_stats_fields()
        file_rows = self._enrich_file_rows(file_rows, sfields, pfields)
        side_dir = os.path.join(self.log_dir, "_sidecars")
        os.makedirs(side_dir, exist_ok=True)
        side_schema = _checkpoint_schema(
            file_actions_only=True, stats_fields=sfields, part_fields=pfields
        )
        per = -(-len(file_rows) // sidecars) if file_rows else 0
        side_rows: list[dict] = []
        for i in range(sidecars):
            name = f"{uuid.uuid4()}.parquet"
            path = os.path.join(side_dir, name)
            self._write_checkpoint_parquet(
                file_rows[i * per : (i + 1) * per] if per else [],
                side_schema,
                path,
            )
            side_rows.append(
                {
                    "sidecar": {
                        "path": name,
                        "sizeInBytes": os.path.getsize(path),
                        "modificationTime": _now_ms(),
                    }
                }
            )
        top = (
            nonfile
            + [{"checkpointMetadata": {"version": v, "tags": []}}]
            + side_rows
        )
        self._write_checkpoint_parquet(
            top,
            _checkpoint_schema(v2_top=True),
            os.path.join(
                self.log_dir, f"{v:020d}.checkpoint.{uuid.uuid4()}.parquet"
            ),
        )
        self._write_last_checkpoint({"version": v, "size": len(top) + len(file_rows)})
        return v

    def enable_v2_checkpoints(self) -> int:
        """Ledger the v2Checkpoint protocol feature (reader AND writer
        — the spec requires readers to understand the UUID-named
        top-level + sidecar layout before they can fold the log).
        ADDITIVE and compare-under-lock: features other enablers
        ledgered survive, and a racing enabler aborts instead of
        being clobbered."""
        base = self._protocol_dict()
        proto = self._upgraded_protocol(
            reader_features=("v2Checkpoint",),
            writer_features=("v2Checkpoint",),
        )
        v = self._commit(
            [
                {"protocol": proto},
                {
                    "commitInfo": {
                        "timestamp": _now_ms(),
                        "operation": "UPGRADE PROTOCOL",
                        "operationParameters": {"feature": "v2Checkpoint"},
                    }
                },
            ],
            precondition=lambda: self._protocol_dict() == base,
        )
        if v is None:
            raise MetadataChangedError(
                "protocol changed while enabling v2Checkpoint; retry"
            )
        return v

    def _last_checkpoint_info(self) -> dict | None:
        p = os.path.join(self.log_dir, "_last_checkpoint")
        if not self._store.exists(p):
            return None
        return json.loads(self._store.read(p))

    def last_checkpoint(self) -> int | None:
        info = self._last_checkpoint_info()
        return None if info is None else int(info["version"])

    def _checkpoint_paths(
        self, cv: int, info: dict | None = None
    ) -> list[str]:
        """The TOP-LEVEL checkpoint file(s) at ``cv`` — the classic
        single file, the `parts` multi-part set `_last_checkpoint`
        declares (a reader must open ALL parts; rows may land in any
        of them), or a V2 UUID-named file
        (`<v>.checkpoint.<uuid>.parquet` — discovered by listing, the
        spec's rule; racing writers can leave several, each complete,
        so any one serves — the lexicographically last is taken).
        ``info`` is the `_last_checkpoint` content already read."""
        if info is None:
            info = self._last_checkpoint_info() or {}
        parts = int(info.get("parts", 0)) if int(info.get("version", -1)) == cv else 0
        if parts > 1:
            return [
                os.path.join(
                    self.log_dir,
                    f"{cv:020d}.checkpoint.{i + 1:010d}.{parts:010d}.parquet",
                )
                for i in range(parts)
            ]
        classic = os.path.join(self.log_dir, f"{cv:020d}.checkpoint.parquet")
        if os.path.exists(classic):
            return [classic]
        prefix = f"{cv:020d}.checkpoint."
        v2 = sorted(
            f
            for f in os.listdir(self.log_dir)
            if f.startswith(prefix)
            and f.endswith(".parquet")
            # exclude the multipart o.p form (two dot-separated numeric
            # fields) — a UUID segment has dashes / hex, never pure digits
            and not f[len(prefix):-8].replace(".", "").isdigit()
        )
        if v2:
            return [os.path.join(self.log_dir, v2[-1])]
        return [classic]  # let the caller's open raise the clear ENOENT

    def _checkpoint_file_action_paths(self, tops: list[str]) -> list[str]:
        """Every parquet file carrying the checkpoint's FILE actions
        (add/remove): the top-level file(s) ``tops`` themselves plus
        any v2 SIDECAR files their `sidecar` rows reference (resolved
        against `_delta_log/_sidecars/` for relative names, or as
        absolute URIs — both forms the spec allows)."""
        out = list(tops)
        for cp in tops:
            out.extend(self._sidecars_of_top(cp))
        return out

    def _sidecars_of_top(self, cp: str) -> list[str]:
        """Resolved sidecar parquet paths a v2 top-level checkpoint
        file references (empty for classic/multipart tops) — relative
        names against `_delta_log/_sidecars/`, or absolute/file: URIs,
        both forms the spec allows."""
        import pyarrow.parquet as pq

        f = pq.ParquetFile(cp)
        if "sidecar" not in f.schema_arrow.names:
            return []
        out: list[str] = []
        for rec in (
            pq.read_table(cp, columns=["sidecar"]).column("sidecar").to_pylist()
        ):
            if rec is not None and rec.get("path"):
                p = rec["path"]
                u = urllib.parse.urlparse(p)
                if u.scheme == "file":
                    out.append(urllib.parse.unquote(u.path))
                elif p.startswith("/"):
                    out.append(p)
                else:
                    out.append(os.path.join(self.log_dir, "_sidecars", p))
        return out

    def _checkpoint_state(self, cv: int, info: dict) -> dict:
        """The FULL reconstructed state of the checkpoint at ``cv`` —
        meta, proto, txns, domains, adds, removes — from ONE parquet
        read per part: the base every snapshot fold starts from.
        ``info`` is the `_last_checkpoint` content the fold read."""
        import pyarrow.parquet as pq

        meta = None
        proto = None
        txns: dict[str, int] = {}
        adds: dict[str, dict] = {}
        removes: dict[str, dict] = {}
        doms: dict[str, dict] = {}
        tops = self._checkpoint_paths(cv, info)
        # non-file actions live in the top-level file(s); file actions
        # in the top-level AND (v2) any sidecars — the file-action list
        # includes the tops, so each path reads its columns ONCE
        plan = [
            (cp, ("protocol", "metaData", "txn", "domainMetadata"))
            for cp in tops
        ] + [
            (cp, ("add", "remove"))
            for cp in self._checkpoint_file_action_paths(tops)
        ]
        for cp, want in plan:
            f = pq.ParquetFile(cp)
            names = set(f.schema_arrow.names)
            cols = [c for c in want if c in names]
            if not cols:
                continue
            t = pq.read_table(cp, columns=cols)
            cold = {c: t.column(c).to_pylist() for c in cols}
            for rec in cold.get("protocol", []):
                if rec is not None:
                    proto = {k: v for k, v in rec.items() if v is not None}
            for rec in cold.get("metaData", []):
                if rec is not None:
                    rec = dict(rec)
                    rec["configuration"] = dict(rec.get("configuration") or [])
                    if rec.get("format") is not None:
                        rec["format"] = {
                            "provider": rec["format"].get("provider"),
                            "options": dict(rec["format"].get("options") or []),
                        }
                    else:
                        rec.pop("format", None)
                    meta = rec
            for rec in cold.get("txn", []):
                if rec is not None:
                    txns[rec["appId"]] = max(
                        txns.get(rec["appId"], -1), rec["version"]
                    )
            for rec in cold.get("domainMetadata", []):
                if rec is not None:
                    doms[rec["domain"]] = dict(rec)
            for rec in cold.get("add", []):
                if rec is not None:
                    rec = dict(rec)
                    rec["partitionValues"] = dict(rec.get("partitionValues") or [])
                    for k in ("deletionVector", "baseRowId",
                              "defaultRowCommitVersion"):
                        if rec.get(k) is None:
                            rec.pop(k, None)
                    adds[rec["path"]] = rec
            for rec in cold.get("remove", []):
                if rec is not None:
                    rec = {k: v for k, v in rec.items() if v is not None}
                    removes[rec["path"]] = rec
        return {
            "meta": meta,
            "proto": proto,
            "txns": txns,
            "adds": adds,
            "removes": removes,
            "doms": doms,
        }

    def read_via_checkpoint(self, spark):
        """Snapshot read that starts from the checkpoint instead of
        folding the whole JSON log: the snapshot is the checkpoint's
        state plus ONLY the commits after it (pre-checkpoint JSON files
        are never even opened — the bounded replay every long-lived
        Delta table depends on). Verified equal to the full JSON fold
        by scan_delta_log_checkpoint's independent oracle."""
        return self.read(spark)


class DeltaLogTable(_CheckpointMixin):
    """One Delta table rooted at ``path`` (see module docstring)."""

    def __init__(self, path: str, log_store: LogStore | None = None):
        self.path = path
        self.log_dir = os.path.join(path, _LOG_DIR)
        self._store = log_store if log_store is not None else LogStore()
        os.makedirs(self.log_dir, exist_ok=True)
        # the latest snapshot this handle folded (see _snapshot)
        self._snap: _Snapshot | None = None

    # --- log plumbing ----------------------------------------------------

    def _compacted_files(
        self, names: list[str] | None = None
    ) -> list[tuple[int, int, str]]:
        """(x, y, path) for every `<x>.<y>.compacted.json` minor log
        compaction file (the spec's newer log-compaction mechanism
        below checkpoints: one file carrying the RECONCILED actions of
        versions x..y, which a reader may substitute for opening each
        of them). ``names`` is a listing already taken."""
        if names is None:
            names = self._store.list(self.log_dir)
        out = []
        for f in names:
            m = _COMPACTED_RE.match(f)
            if m:
                out.append(
                    (int(m.group(1)), int(m.group(2)),
                     os.path.join(self.log_dir, f))
                )
        return sorted(out)

    def _version_files(
        self, names: list[str] | None = None
    ) -> list[tuple[int, str]]:
        if names is None:
            names = self._store.list(self.log_dir)
        out = []
        for f in names:
            if _is_commit_file(f):
                out.append((int(f[:20]), os.path.join(self.log_dir, f)))
        return sorted(out)

    def latest_version(self) -> int:
        """The snapshot's version: the newest listed commit or compacted
        segment end, anchored on the checkpoint when log cleanup
        deleted every JSON at or below it (the next commit must never
        re-use a version number)."""
        return self._snapshot().version

    def _actions(
        self,
        as_of_version: int | None = None,
        from_version: int = 0,
        exact: bool = False,
        names: list[str] | None = None,
    ):
        """Yield (version, action_dict) in commit order. The log is the
        table: every read below is a fold over this stream. Files below
        ``from_version`` are skipped WITHOUT being opened — the hook
        checkpoint-bounded folds use.

        COMPACTED SEGMENTS: when a `<x>.<y>.compacted.json` file's
        whole range fits inside the requested window, it substitutes
        for opening x..y individually (its actions are attributed to
        version y) — one open instead of y-x+1, and the fold survives
        the originals being cleaned up. A range only PARTIALLY inside
        the window (time travel into it, a from_version past its
        start) never substitutes — the originals serve those folds.

        ``exact=True`` is for folds that need TRUE per-version
        attribution and the exact action stream (CDF, history,
        timestamp travel, the streaming source): segments NEVER
        substitute (compaction reconciles away cdc actions and
        collapses every commit to version y), and a version whose
        original commit file was cleaned up RAISES instead of being
        silently skipped — those folds must be correct or loud, never
        coarse. A missing version in a non-exact fold also raises
        unless a segment covers it (a snapshot silently missing
        commits would let DML preconditions validate against a
        truncated table). ``names`` is a listing already taken."""
        if names is None:
            names = self._store.list(self.log_dir)
        vf = dict(self._version_files(names))
        comp: dict[int, list[tuple[int, str]]] = {}
        for x, y, p in self._compacted_files(names):
            comp.setdefault(x, []).append((y, p))
        hi_candidates = [max(vf)] if vf else []
        hi_candidates += [y for ys in comp.values() for y, _ in ys]
        hi = max(hi_candidates) if hi_candidates else -1
        if as_of_version is not None:
            hi = min(hi, as_of_version)
        pos = from_version
        while pos <= hi:
            usable = (
                []
                if exact
                else [(y, p) for y, p in comp.get(pos, []) if y <= hi]
            )
            if usable:
                y, p = max(usable)  # longest applicable segment
                for line in self._store.read(p).splitlines():
                    if line.strip():
                        yield y, json.loads(line)
                pos = y + 1
                continue
            p = vf.get(pos)
            if p is None:
                raise ValueError(
                    f"version {pos}'s commit file is missing from the log "
                    + (
                        "and exact per-version folds (CDF / history / "
                        "timestamp travel / streaming) cannot substitute a "
                        "reconciled compacted segment for it"
                        if exact
                        else "and no compacted segment or checkpoint covers "
                        "it — refusing to fold a silently truncated log"
                    )
                )
            for line in self._store.read(p).splitlines():
                if line.strip():
                    yield pos, json.loads(line)
            pos += 1

    def _commit_lock(self):
        return self._store.lock(self.log_dir)

    def _commit(
        self,
        actions: list[dict],
        precondition=None,
        first_commit_actions: list[dict] | None = None,
    ) -> int | None:
        """Atomically publish ``actions`` as the next version. The
        version file is created O_CREAT|O_EXCL — put-if-absent, so a
        racer targeting the same version number fails loudly instead
        of silently clobbering (Delta's core log-store requirement).
        ``precondition`` (if given) re-validates against the CURRENT
        log under the lock — returning False aborts the commit (-> None),
        the optimistic-concurrency re-check a txn replay or concurrent
        OPTIMIZE needs. ``first_commit_actions`` (protocol + metaData)
        are prepended iff this commit wins version 0 — decided UNDER
        the lock, so two racing first appends can never both ledger a
        table identity. Returns the committed version."""
        # single write funnel: every commit path gates on the table's
        # protocol (outside the lock — a fast fail)
        self._check_write_protocol()
        with self._commit_lock():
            # re-validate UNDER the lock against a fresh listing: it
            # closes the race where a concurrent writer ledgers an
            # unknown writerFeature between the gate and the lock
            self._check_write_protocol()
            if precondition is not None and not precondition():
                return None
            v = self.latest_version() + 1
            if v == 0 and first_commit_actions:
                actions = list(first_commit_actions) + actions
            actions = self._finalize_row_tracking(actions, v)
            enabling = any(
                "metaData" in a
                and (a["metaData"].get("configuration") or {}).get(
                    "delta.enableInCommitTimestamps"
                )
                == "true"
                for a in actions
            )
            prev = self._last_commit_info() or {}
            # enablement check: disablement is unsupported, so a table
            # is ICT iff its LAST commitInfo is stamped (the snapshot
            # keeps it — never a full-log fold inside the commit lock).
            # After an (external) log cleanup that left NO commitInfo
            # at all, fall back to the metaData config — ICT must
            # never silently stop being stamped (cleanup_log itself
            # always retains the newest covered commit, so this
            # checkpoint-bounded fallback only runs on foreign logs)
            if enabling or "inCommitTimestamp" in prev or (
                not prev and self._ict_enabled()
            ):
                # strict monotonic in-commit timestamp, decided UNDER
                # the lock (two commits in the same ms, or a writer
                # whose wall clock runs behind, still order correctly);
                # the ENABLEMENT commit itself is the first stamped one
                # (the spec's enablement-version rule)
                last_ict = prev.get(
                    "inCommitTimestamp", prev.get("timestamp", 0)
                )
                ict = max(_now_ms(), (last_ict or 0) + 1)
                for a in actions:
                    if "commitInfo" in a:
                        a["commitInfo"]["inCommitTimestamp"] = ict
            p = os.path.join(self.log_dir, f"{v:020d}.json")
            payload = "".join(json.dumps(a) + "\n" for a in actions)
            try:
                self._store.put_if_absent(p, payload)
            except FileExistsError:
                # Two distinguishable cases (the object-store seam):
                # the existing file holds OUR payload — a duplicate put
                # from a store retrying the write, the commit IS
                # durable, proceed as success; anything else means a
                # writer outside our lock (or a lagged listing) took
                # this version — surface the retryable conflict, the
                # verb's OCC loop re-plans from the true tip.
                existing = (
                    self._store.read(p) if self._store.exists(p) else None
                )
                if existing != payload:
                    raise ConcurrentAppendError(
                        f"version {v} was committed concurrently by a "
                        "writer outside this store's lock (or this "
                        "store's listing lagged the true tip); re-plan "
                        "against the current log and retry"
                    ) from None
            self._write_version_crc(v)
            self._maybe_uniform(v)
            return v

    def _maybe_uniform(self, v: int) -> None:
        """UniForm post-commit hook: per format token in
        `delta.universalFormat.enabledFormats`, regenerate that
        format's metadata for this commit's state — "iceberg" the
        Iceberg tree (deltasink_spark/uniform.py), "hudi" the
        `.hoodie/` timeline instant (deltasink_spark/hudi.py); both
        may ride one table. The Delta commit is ALREADY durable when
        this runs — a failure here raises loudly (the foreign view
        lagged one commit; delta-spark's async converter has the same
        window) rather than rolling anything back. Unknown tokens in
        a FOREIGN log's property are skipped (set_properties refuses
        them on our own enable path)."""
        cfg = (self._metadata_dict() or {}).get("configuration") or {}
        fmts = {
            f.strip()
            for f in (
                cfg.get("delta.universalFormat.enabledFormats") or ""
            ).split(",")
            if f.strip()
        }
        if "iceberg" in fmts:
            from deltasink_spark import uniform

            uniform.write_iceberg_snapshot(self, v)
        if "hudi" in fmts:
            from deltasink_spark import hudi

            hudi.write_hudi_commit(self, v)

    def _write_version_crc(self, v: int) -> None:
        """Write the VERSION CHECKSUM sidecar (`_delta_log/%020d.crc`,
        delta-spark's VersionChecksum): tableSizeBytes / numFiles /
        numMetadata / numProtocol of the post-commit state, derived
        from the same checkpoint-anchored fold every reader uses.
        Folds re-derive the numbers and RAISE on mismatch (_fold) —
        the cheap tripwire that catches fold
        divergence (a buggy writer, a truncated log) at the very next
        read instead of as silent wrong data downstream. Still under
        the commit lock: the snapshot advances by this one commit (a
        foreign commit landed above it folds ``v`` on its own)."""
        snap = self._snapshot()
        if snap.version != v:
            snap = self._fold(v)
        info = {
            "tableSizeBytes": sum(
                int(a.get("size") or 0) for a in snap.adds.values()
            ),
            "numFiles": len(snap.adds),
            "numMetadata": 1 if snap.metadata is not None else 0,
            "numProtocol": 1 if snap.protocol is not None else 0,
        }
        p = os.path.join(self.log_dir, f"{v:020d}.crc")
        self._store.put_atomic(p, json.dumps(info, sort_keys=True))

    def _validate_version_crc(self, v: int, adds: dict[str, dict]) -> None:
        """Compare a folded snapshot against the version's checksum
        sidecar, when one exists (foreign commits may not write them).
        A mismatch is loud — it means the fold and the writer disagree
        about the table's state, which is never recoverable silently."""
        p = os.path.join(self.log_dir, f"{v:020d}.crc")
        if not self._store.exists(p):
            return
        want = json.loads(self._store.read(p))
        got_files = len(adds)
        got_bytes = sum(int(a.get("size") or 0) for a in adds.values())
        if (
            want.get("numFiles") is not None
            and int(want["numFiles"]) != got_files
        ) or (
            want.get("tableSizeBytes") is not None
            and int(want["tableSizeBytes"]) != got_bytes
        ):
            raise ValueError(
                f"version checksum mismatch at {v}: crc declares "
                f"numFiles={want.get('numFiles')} tableSizeBytes="
                f"{want.get('tableSizeBytes')}, the log folds to "
                f"numFiles={got_files} tableSizeBytes={got_bytes} — "
                "the table state and its checksum disagree (corrupt or "
                "foreign-tampered log)"
            )

    # --- snapshot state ---------------------------------------------------

    def _fold(
        self,
        as_of_version: int | None = None,
        names: list[str] | None = None,
        base: _Snapshot | None = None,
    ) -> _Snapshot:
        """The snapshot at ``as_of_version`` (None: the newest listed
        version) in ONE pass: the last CHECKPOINT's state whenever it
        covers the requested window, plus the JSON tail after it —
        bounded replay, and the fold that survives pre-checkpoint JSON
        cleanup. Time travel BELOW the checkpoint folds the original
        JSON from version 0, raising loudly if cleanup already removed
        the needed commits (never a silent partial snapshot — DML
        preconditions validate against this fold). ``base`` folds only
        the commits listed above an earlier snapshot on top of it.
        ``names`` is a listing already taken. The folded version is
        checked against its `.crc` sidecar when one exists."""
        if names is None:
            names = self._store.list(self.log_dir)
        cv = None
        if base is not None:
            proto, meta, info = base.protocol, base.metadata, base.commit_info
            txns, doms = dict(base.txns), dict(base.domains)
            adds, removes = dict(base.adds), dict(base.removes)
            start = base.version + 1
        else:
            proto = meta = info = None
            txns, doms, adds, removes = {}, {}, {}, {}
            start = 0
            # `_last_checkpoint` is read once per fold; the checkpoint
            # state reuses it to find the top-level file(s)
            info = self._last_checkpoint_info()
            cv = None if info is None else int(info["version"])
            if cv is not None and (
                as_of_version is None or as_of_version >= cv
            ):
                st = self._checkpoint_state(cv, info)
                proto, meta, txns = st["proto"], st["meta"], st["txns"]
                doms, adds, removes = st["doms"], st["adds"], st["removes"]
                start = cv + 1
        version = start - 1
        for v, a in self._actions(
            as_of_version, from_version=start, names=names
        ):
            if v != version:
                version, info = v, None
            if "add" in a:
                adds[a["add"]["path"]] = a["add"]
            elif "remove" in a:
                adds.pop(a["remove"]["path"], None)
                removes[a["remove"]["path"]] = a["remove"]
            elif "metaData" in a:
                meta = a["metaData"]
            elif "protocol" in a:
                proto = a["protocol"]
            elif "txn" in a:
                t = a["txn"]
                txns[t["appId"]] = max(txns.get(t["appId"], -1), t["version"])
            elif "domainMetadata" in a:
                doms[a["domainMetadata"]["domain"]] = a["domainMetadata"]
            elif "commitInfo" in a:
                info = a["commitInfo"]
        if cv is not None and version == cv:
            # no tail after the checkpoint: its own commit file (log
            # cleanup always retains the newest covered one) carries
            # the last commitInfo — the ICT high-water mark
            p = dict(self._version_files(names)).get(cv)
            for line in (self._store.read(p) if p else "").splitlines():
                if '"commitInfo"' in line:
                    info = json.loads(line).get("commitInfo", info)
        if version >= 0:
            self._validate_version_crc(version, adds)
        return _Snapshot(
            version=version,
            key=self._listing_key(names),
            protocol=proto,
            metadata=meta,
            txns=txns,
            domains=doms,
            adds=adds,
            removes=removes,
            commit_info=info,
        )

    def _listing_key(self, names: list[str]) -> frozenset:
        """(name, size, mtime) of every state file in a listing — the
        snapshot cache key. Size and mtime make a commit rewritten in
        place (a foreign or tampered log) a change like any other;
        a commit the coordinator has not backfilled has neither."""
        key = set()
        for f in names:
            if _is_state_file(f):
                try:
                    st = os.stat(os.path.join(self.log_dir, f))
                    key.add((f, st.st_size, st.st_mtime_ns))
                except OSError:
                    key.add((f, None, None))
        return frozenset(key)

    def _snapshot(self) -> _Snapshot:
        """The latest snapshot, from ONE listing of `_delta_log`. The
        cached one is reused while the listing shows the same commits,
        compacted segments and checkpoints; when the only change is
        new commits above it (this handle's own or a foreign one),
        just those are folded on top; any other change (a deleted or
        rewritten commit, a new checkpoint, a compacted segment)
        refolds from the checkpoint — so a commit deleted mid-log
        fails the same handle's next read loudly. Replacing it is one
        attribute assignment: handles shared across threads need no
        lock."""
        names = self._store.list(self.log_dir)
        key = self._listing_key(names)
        snap = self._snap
        if snap is not None and snap.key == key:
            return snap
        base = None
        if snap is not None and snap.key <= key and all(
            _is_commit_file(f) and int(f[:20]) > snap.version
            for f, _size, _mtime in key - snap.key
        ):
            base = snap
        snap = self._fold(names=names, base=base)
        self._snap = snap
        return snap

    def snapshot_adds(self, as_of_version: int | None = None) -> dict[str, dict]:
        """path -> add action for every live file at a version (adds
        minus removes, in first-add order) — the canonical Delta
        snapshot fold (see _fold), one implementation shared by every
        reader. The latest version reads the cached snapshot; time
        travel folds uncached."""
        self._check_read_protocol()
        if as_of_version is not None:
            return self._fold(as_of_version).adds
        return dict(self._snapshot().adds)

    def snapshot_files(self, as_of_version: int | None = None) -> list[str]:
        return list(self.snapshot_adds(as_of_version))

    @staticmethod
    def _remove_action(
        path: str, add: dict, now: int, data_change: bool = True
    ) -> dict:
        """Build a remove action for a superseded add — carrying the
        add's deletionVector descriptor when it has one (the spec's
        contract: a remove describes exactly the file state it
        retracts, which is what lets a CDF reader's remove-fallback
        retract only the rows that were actually live)."""
        rm = {"path": path, "deletionTimestamp": now, "dataChange": data_change}
        if add.get("deletionVector"):
            rm["deletionVector"] = add["deletionVector"]
        return rm

    def _adds_unchanged(self, planned: dict[str, dict]):
        """Commit-lock precondition for rewrite commits (OPTIMIZE /
        DELETE / MERGE / replaceWhere / DV delete): every file this
        commit supersedes must STILL be live with the SAME
        deletionVector descriptor — a concurrent rewrite (path gone)
        OR a concurrent DV delete (same path, new descriptor) between
        our snapshot and our commit point makes this plan stale;
        committing anyway would resurrect the concurrently-deleted
        rows (Delta's ConcurrentDeleteRead conflict class). Path
        liveness alone is NOT enough precisely because DV deletes
        change a file's logical content without changing its path."""
        need = {
            p: (a.get("deletionVector") or {}).get("pathOrInlineDv")
            for p, a in planned.items()
        }

        def check() -> bool:
            cur = self.snapshot_adds()
            return all(
                p in cur
                and (cur[p].get("deletionVector") or {}).get("pathOrInlineDv")
                == dv
                for p, dv in need.items()
            )

        return check

    def txn_versions(self) -> dict[str, int]:
        """appId -> highest committed txn version (the exactly-once
        high-water mark), from the snapshot: the last checkpoint's txn
        rows plus the JSON tail after it. Every call re-lists the log,
        so a commit by another handle shows up at once."""
        return dict(self._snapshot().txns)

    def _metadata_dict(self) -> dict | None:
        """Latest metaData action — the checkpoint's metaData row as
        the base whenever a checkpoint exists (the spec allows deleting
        pre-checkpoint JSON once a checkpoint covers it; table identity
        must survive that), overridden by any later metaData in the
        JSON tail after it. A deep copy: callers may mutate it."""
        return copy.deepcopy(self._snapshot().metadata)

    def _protocol_dict(self) -> dict | None:
        """Latest protocol action — the checkpoint row as the base
        (surviving pre-checkpoint log cleanup; otherwise every DV
        delete on a cleaned-up table would re-ledger a redundant
        protocol upgrade), overridden by later protocol actions in the
        JSON tail. A deep copy: callers may mutate it."""
        return copy.deepcopy(self._snapshot().protocol)

    def schema(self) -> StructType | None:
        m = self._metadata_dict()
        if m is None:
            return None
        return StructType.fromJson(json.loads(m["schemaString"]))

    def partition_columns(self) -> tuple[str, ...]:
        m = self._metadata_dict()
        return tuple((m or {}).get("partitionColumns") or ())

    # --- data-file staging -------------------------------------------------

    def _read_files(
        self,
        spark,
        adds: dict[str, dict],
        extra_long_cols: tuple[str, ...] = (),
    ) -> DataFrame:
        """Read the add actions' data files. In-root files scan with
        basePath anchored at the table root, so a partitioned table's
        Hive dirs re-materialize their partition columns (a no-op for
        root-level files). OUT-OF-ROOT absolute paths (shallow clones,
        foreign writers) cannot use basePath — Spark rejects files
        outside it — so they scan without one and their partition
        columns re-materialize from each add's partitionValues via a
        broadcast basename join (the spec's source of truth for them).
        The LOG's schemaString is imposed on every scan — the log, not
        any one file footer, defines the table's columns, which is
        what makes schema EVOLUTION readable: files written before a
        widening commit simply surface the new columns as null.

        COLUMN MAPPING: on a mapped table the files (and partition
        dirs) carry PHYSICAL names, so the scan is planned against the
        physical schema and aliased back to logical on top — which is
        the entire trick that makes RENAME COLUMN free: only this
        alias list changes, never a byte of data.

        Returns the frame with lineage helpers __fp (file-path URI)
        and __pos0 (row index) already materialized: `_metadata` only
        resolves directly on a scan, and the partition-value join
        above would orphan it."""
        from pyspark.sql.types import LongType, StructField

        s = self.schema()
        cm = self.column_mapping() or {}
        phys_of = {f.name: cm.get(f.name, f.name) for f in (s.fields if s else [])}
        fid_of = (
            self.column_field_ids()
            if self.column_mapping_mode() == "id"
            else {}
        )
        if fid_of:
            # columnMapping mode "id": the requested schema carries
            # parquet field ids, and Spark's fieldId.read path binds
            # file columns BY ID — a foreign id-mode file whose
            # physical column names differ from the log's
            # physicalName still resolves correctly (the id is the
            # durable identity; names are incidental)
            spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
        phys_schema = None
        if s is not None:
            phys_schema = (
                StructType(
                    [
                        StructField(
                            phys_of[f.name],
                            f.dataType,
                            f.nullable,
                            {"parquet.field.id": fid_of[phys_of[f.name]]}
                            if phys_of[f.name] in fid_of
                            else None,
                        )
                        for f in s.fields
                    ]
                )
                if cm
                else s
            )
            if extra_long_cols:
                # PHYSICAL-ONLY columns (materialized row-tracking
                # lineage): imposed on the scan so files written before
                # materialization surface them as null — never part of
                # the logical table schema
                phys_schema = StructType(
                    list(phys_schema.fields)
                    + [
                        StructField(c, LongType(), True)
                        for c in extra_long_cols
                    ]
                )
        root = os.path.realpath(self.path) + os.sep
        in_root: list[str] = []
        out_root: list[str] = []
        for p in adds:
            ap = os.path.realpath(self._abs_of_add_path(p))
            (in_root if ap.startswith(root) else out_root).append(p)

        def _with_lineage(df: DataFrame) -> DataFrame:
            return df.withColumn(
                "__fp", F.col("_metadata.file_path")
            ).withColumn("__pos0", F.col("_metadata.row_index"))

        def _logical(df: DataFrame) -> DataFrame:
            if cm and s is not None:
                return df.select(
                    *[F.col(phys_of[f.name]).alias(f.name) for f in s.fields],
                    *extra_long_cols,
                    "__fp",
                    "__pos0",
                )
            return df

        frames: list[DataFrame] = []
        if in_root:
            reader = spark.read.option("basePath", self.path)
            if phys_schema is not None:
                reader = reader.schema(phys_schema)
            frames.append(
                _logical(
                    _with_lineage(
                        reader.parquet(
                            *[self._abs_of_add_path(p) for p in in_root]
                        )
                    )
                )
            )
        if out_root:
            reader = spark.read
            if phys_schema is not None:
                reader = reader.schema(phys_schema)
            df = _with_lineage(
                reader.parquet(*[self._abs_of_add_path(p) for p in out_root])
            )
            pcols = self.partition_columns()
            if pcols and s is not None:
                bases = [self._basename_of_add_path(p) for p in out_root]
                if len(set(bases)) != len(bases):
                    raise ValueError(
                        "out-of-root add paths share a basename — cannot "
                        "attribute partitionValues unambiguously"
                    )
                ftype = {f.name: f.dataType for f in s.fields}
                pv_rows = [
                    tuple(
                        [self._basename_of_add_path(p)]
                        + [
                            (adds[p].get("partitionValues") or {}).get(
                                phys_of.get(c, c)
                            )
                            for c in pcols
                        ]
                    )
                    for p in out_root
                ]
                pv_df = spark.createDataFrame(
                    pv_rows,
                    ", ".join(
                        ["__pvb string"]
                        + [f"__pv{i} string" for i in range(len(pcols))]
                    ),
                )
                enc_base = F.element_at(F.split(F.col("__fp"), "/"), -1)
                dec_base = F.url_decode(
                    F.replace(enc_base, F.lit("+"), F.lit("%2B"))
                )
                df = df.withColumn("__b", dec_base).join(
                    F.broadcast(pv_df),
                    F.col("__b") == F.col("__pvb"),
                    "left",
                )
                for i, c in enumerate(pcols):
                    df = df.withColumn(
                        phys_of.get(c, c), F.col(f"__pv{i}").cast(ftype[c])
                    )
                df = df.drop(
                    "__b", "__pvb", *[f"__pv{i}" for i in range(len(pcols))]
                )
            frames.append(_logical(df))
        out = frames[0]
        for extra in frames[1:]:
            out = out.unionByName(extra)
        return out

    def _dv_positions(self, add: dict) -> set[int]:
        """The deleted row positions of one add action's deletion
        vector (empty when it has none) — parsed from the PUBLIC DV
        file format (deltasink_spark/roaring.py): storageType "u"
        resolves the z85 uuid to the table-relative file, "p" is an
        ABSOLUTE path (what a shallow clone of a DV-carrying table
        records, per the spec's descriptor table); offset points at
        the size field, CRC verified."""
        dv = add.get("deletionVector")
        if not dv:
            return set()
        from deltasink_spark import roaring

        if dv["storageType"] == "u":
            rel = roaring.dv_relative_path(dv["pathOrInlineDv"])
            fp = os.path.join(self.path, rel)
        elif dv["storageType"] == "p":
            fp = dv["pathOrInlineDv"]
        else:
            raise ValueError(
                f"unsupported DV storageType {dv['storageType']!r}"
            )
        return roaring.read_dv_file(fp, dv["offset"], dv["sizeInBytes"])

    def _read_adds(
        self,
        spark,
        adds: dict[str, dict],
        with_lineage: bool = False,
        extra_long_cols: tuple[str, ...] = (),
    ) -> DataFrame:
        """DV-aware scan of a set of add actions: files read as usual,
        then every add's deletion-vector positions are dropped by ONE
        broadcast anti-join on (file basename, `_metadata.row_index`)
        — merge-on-read, the reader half of deletion vectors (no data
        file is ever rewritten by a DV delete; the filter is applied
        at scan time, exactly delta-spark's DV read path). DVs are KBs
        per file whatever the table size, so the join's build side
        stays broadcastable at 100 TB. ``with_lineage=True`` keeps the
        (__file, __pos) columns — what DML planning needs to find the
        surviving physical rows of each file."""
        df = self._read_files(spark, adds, extra_long_cols=extra_long_cols)
        # __fp is the _metadata.file_path URI _read_files materialized
        # (percent-encoded): decode its basename so __file equals the
        # on-disk name whatever the log encoded ('+' is pre-escaped
        # because url_decode is form decoding, and a literal '+' in a
        # filename must survive)
        enc_base = F.element_at(F.split(F.col("__fp"), "/"), -1)
        df = (
            df.withColumn(
                "__file",
                F.url_decode(F.replace(enc_base, F.lit("+"), F.lit("%2B"))),
            )
            .withColumn("__pos", F.col("__pos0"))
            .drop("__fp", "__pos0")
        )
        dv_rows = []
        for p, a in adds.items():
            base = self._basename_of_add_path(p)
            dv_rows += [(base, int(x)) for x in self._dv_positions(a)]
        if dv_rows:
            pos_df = spark.createDataFrame(
                dv_rows, "dv_file string, dv_pos bigint"
            )
            df = df.join(
                F.broadcast(pos_df),
                (F.col("__file") == F.col("dv_file"))
                & (F.col("__pos") == F.col("dv_pos")),
                "left_anti",
            )
        return df if with_lineage else df.drop("__file", "__pos")

    def _rel_of_uri(self, uri: str) -> str:
        """Map a _metadata.file_path URI back to the log's relative
        path (strip scheme, percent-decode — Hive dirs escape spaces
        etc., and the URI escapes the escapes)."""
        p = urllib.parse.unquote(urllib.parse.urlparse(uri).path)
        return os.path.relpath(p, self.path)

    def _abs_of_add_path(self, p: str) -> str:
        """Resolve an add/remove/cdc action ``path`` to a filesystem
        path per the Delta spec: a RELATIVE path percent-encoded as a
        URI (delta-spark URL-encodes specials — `a%20b.parquet` means
        the file `a b.parquet`), or an ABSOLUTE URI (`file:///...`,
        which shallow clones and some foreign writers emit). Our own
        writer emits plain relative names (unquote is the identity on
        them); this is the foreign-writer read path."""
        u = urllib.parse.urlparse(p)
        if u.scheme == "file":
            return urllib.parse.unquote(u.path)
        if p.startswith("/"):
            return urllib.parse.unquote(p)
        return os.path.join(self.path, urllib.parse.unquote(p))

    @staticmethod
    def _basename_of_add_path(p: str) -> str:
        """The FILESYSTEM basename an action path resolves to — the
        join key against `_metadata.file_path` (which is always the
        decoded on-disk name, never the log's encoded form)."""
        return os.path.basename(
            urllib.parse.unquote(urllib.parse.urlparse(p).path)
        )

    def _rel_of_base_map(self, adds: dict[str, dict]) -> dict[str, str]:
        """basename -> action path for DML planning / DV application.
        Basenames MUST be unique across the set — our writer mints a
        uuid per staged file so they always are, but a foreign log CAN
        give files in different partition dirs the same basename
        (Spark reuses one task uuid across dirs); silently conflating
        them would rewrite the wrong file, so ambiguity raises."""
        out: dict[str, str] = {}
        for p in adds:
            b = self._basename_of_add_path(p)
            if b in out:
                raise ValueError(
                    f"ambiguous file basename {b!r}: both {out[b]!r} and "
                    f"{p!r} resolve to it — this (foreign-written) layout "
                    "cannot be planned by basename; OPTIMIZE the table "
                    "first to re-stage files under unique names"
                )
            out[b] = p
        return out

    def _stage_files(
        self,
        df: DataFrame,
        prefix: str = "part",
        partition_by: tuple[str, ...] = (),
        mapping: dict[str, str] | None = None,
        field_ids: dict[str, int] | None = None,
    ) -> list[dict]:
        """Write ``df``'s partitions as uniquely-named parquet files in
        the table root (under Hive-style partition dirs when
        ``partition_by`` is set — Delta's physical layout for
        partitioned tables) and return their add actions (path,
        partitionValues, size, modificationTime, stats). Files become
        VISIBLE only when a commit references them. partitionValues are
        stored UNESCAPED (the dir name is Hive-escaped; the protocol
        carries the logical value; NULL is the Hive default-partition
        sentinel -> None). Stats carry numRecords + per-column
        min/max/nullCount (Delta's file-skipping stats), taken on the
        driver from each written file's parquet footer
        (_footer_file_stats) — what was written, never a re-run of the
        input plan (a nondeterministic upstream must not desync stats
        from data), and no Spark job beyond the write itself. Only a
        file pyarrow cannot open (a VARIANT column) falls back to a
        Spark agg grouped by _metadata.file_path. A file of 0 rows is
        deleted and gets no add: an empty frame stages nothing. The
        staging write leaves no _SUCCESS marker (the dir is removed
        right after; without libhadoop each file Hadoop creates on
        file: forks a chmod for itself and its .crc).

        COLUMN MAPPING: on a mapped table the parquet files carry
        PHYSICAL column names (the spec's contract — renames never
        touch data), so the logical df is aliased to physical right
        here, ``partition_by`` translates, and the stats/partition
        keys that fall out are physical (exactly what a mapped
        table's add actions must carry). ``mapping`` overrides the
        log's current mapping — a schema-evolving append must stage
        with the mapping its OWN commit is about to publish, not the
        one that predates it."""
        cm = mapping if mapping is not None else self.column_mapping()
        if cm:
            df = df.select(
                *[F.col(l).alias(cm.get(l, l)) for l in df.columns]
            )
            partition_by = tuple(cm.get(c, c) for c in partition_by)
        spark = df.sparkSession
        if field_ids is None and self.column_mapping_mode() is not None:
            # BOTH mapped modes carry stable delta.columnMapping.ids —
            # stamping them as parquet field ids costs nothing and is
            # what lets id-resolving readers (mode-id tables, Iceberg
            # engines over a UniForm table) bind columns durably
            field_ids = self.column_field_ids()
        if field_ids:
            # columnMapping mode "id": stamp the spec's stable field
            # ids as PARQUET FIELD IDS (Spark's
            # spark.sql.parquet.fieldId.write path — the id, not the
            # name, is the column's durable identity in every file),
            # so any id-resolving reader binds columns regardless of
            # what the file calls them
            spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
            df = df.select(
                *[
                    F.col(c).alias(
                        c, metadata={"parquet.field.id": field_ids[c]}
                    )
                    if c in field_ids
                    else F.col(c)
                    for c in df.columns
                ]
            )
        tmp = os.path.join(self.path, f"tmp_stage_{uuid.uuid4().hex}")
        w = df.write.mode("overwrite").option(_SUCCESS_MARKER_OPTION, "false")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(tmp)
        written: list[str] = []  # paths relative to tmp
        for root, _dirs, files in os.walk(tmp):
            for f in files:
                if f.startswith("part-") and f.endswith(".parquet"):
                    written.append(
                        os.path.relpath(os.path.join(root, f), tmp)
                    )
        # Stats-column policy: an explicit `delta.
        # dataSkippingStatsColumns` list wins outright (the per-column
        # opt-in — on a wide table whose first 32 columns are junk,
        # this is the knob that indexes the columns queries actually
        # filter on); otherwise `delta.dataSkippingNumIndexedCols`
        # (real Delta's default 32): stats for the first N
        # schema-ordered columns only — min/max on every column of a
        # 1000-column table makes add actions (and the checkpoint)
        # megabytes per file, for columns nobody filters on. -1 means
        # all columns.
        # Files stay correct either way: stats are an optimization,
        # read_where_stats scans statless files.
        explicit_stats = self._explicit_stats_columns()
        if explicit_stats is not None:
            indexed_set = explicit_stats
        else:
            n_idx = int(
                (
                    (self._metadata_dict() or {}).get("configuration") or {}
                ).get("delta.dataSkippingNumIndexedCols", 32)
            )
            # "first N" counts TABLE-schema order (physical names on a
            # mapped table); staged-frame-only columns (evolving
            # appends, materialized row-tracking lineage) rank after it
            s_tbl = self.schema()
            order = [
                cm.get(f.name, f.name) if cm else f.name
                for f in (
                    s_tbl.fields if s_tbl is not None else df.schema.fields
                )
            ]
            order += [c for c in df.columns if c not in set(order)]
            indexed_set = set(order if n_idx < 0 else order[:n_idx])
        atomic = [
            f.name for f in df.schema.fields
            if f.name not in partition_by
            and f.name in indexed_set
            and f.dataType.typeName() in _STATS_ATOMIC_TYPES
        ]
        import pyarrow as pa

        types = {c: df.schema[c].dataType for c in atomic}
        stats_rows: dict[str, dict] = {}
        unreadable: list[str] = []
        for f in written:
            try:
                stats_rows[f] = _footer_file_stats(os.path.join(tmp, f), types)
            except (OSError, pa.ArrowException):
                unreadable.append(f)
        if unreadable:
            # files pyarrow cannot open (a VARIANT column's logical
            # type): one Spark agg over just those, grouped by file;
            # a file with no group has no rows
            aggs = [F.count(F.lit(1)).alias("numRecords")]
            for c in atomic:
                aggs += [
                    F.min(c).alias(f"min__{c}"),
                    F.max(c).alias(f"max__{c}"),
                    F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"null__{c}"),
                ]
            per_file = (
                spark.read.option("basePath", tmp)
                .parquet(*[os.path.join(tmp, f) for f in unreadable])
                .groupBy(F.col("_metadata.file_path").alias("fp"))
                .agg(*aggs)
                .collect()
            )
            for f in unreadable:
                stats_rows[f] = {"numRecords": 0}
            for r in per_file:
                d = r.asDict()
                p = urllib.parse.unquote(urllib.parse.urlparse(d["fp"]).path)
                stats_rows[os.path.relpath(p, tmp)] = d

        def _j(v):
            if v is None:
                return None
            if hasattr(v, "isoformat"):
                return v.isoformat()
            if isinstance(v, (int, float, bool, str)):
                return v
            return str(v)

        adds = []
        for f in sorted(written):
            srow = stats_rows[f]
            if not srow["numRecords"]:
                continue  # no empty data files: tmp's removal drops it
            part_dir = os.path.dirname(f)  # e.g. "event_type=view" or ""
            pvals: dict[str, str | None] = {}
            for seg in part_dir.split(os.sep) if part_dir else []:
                k, _, v = seg.partition("=")
                pvals[k] = (
                    None if v == _HIVE_NULL else urllib.parse.unquote(v)
                )
            final = os.path.join(
                part_dir, f"{prefix}-{uuid.uuid4().hex}.parquet"
            ) if part_dir else f"{prefix}-{uuid.uuid4().hex}.parquet"
            src = os.path.join(tmp, f)
            dst = os.path.join(self.path, final)
            # the LOGGED path is the percent-encoded URI form of the
            # on-disk name, per spec (delta-spark does the same): a
            # Hive-escaped dir like `a%3Ab` logs as `a%253Ab`, and the
            # reader's one unquote (_abs_of_add_path) round-trips it.
            # Plain part-<hex> and `bucket=1` names encode to
            # themselves — the safe set is every character legal in a
            # URI path segment (so '=' in Hive dirs stays literal,
            # matching delta-spark's Java-URI encoding).
            logged = urllib.parse.quote(final, safe="/-._~!$&'()*+,;=:@")
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            st_size = os.path.getsize(src)
            os.rename(src, dst)
            adds.append(
                {
                    "path": logged,
                    "partitionValues": pvals,
                    "size": st_size,
                    "modificationTime": _now_ms(),
                    "dataChange": True,
                    "stats": json.dumps(
                        {
                            "numRecords": srow["numRecords"],
                            "minValues": {c: _j(srow[f"min__{c}"]) for c in atomic},
                            "maxValues": {c: _j(srow[f"max__{c}"]) for c in atomic},
                            "nullCount": {c: srow[f"null__{c}"] for c in atomic},
                        }
                    ),
                }
            )
        shutil.rmtree(tmp, ignore_errors=True)
        return adds

    def _stage_cdc(
        self, frame: DataFrame, mapping: dict[str, str] | None = None
    ) -> list[dict]:
        """Write CDF rows under _change_data/ and return cdc actions
        (shared by delete_where and merge). On a mapped table cdc
        files carry PHYSICAL column names like data files (the spec's
        rule) — otherwise a CDF read spanning a rename would see two
        generations of cdc files disagreeing on column names.
        _change_type is CDF metadata, never mapped. ``mapping``
        overrides the log's current mapping — a schema-evolving MERGE
        stages cdc under the mapping its own commit publishes."""
        cm = mapping if mapping is not None else self.column_mapping()
        if cm:
            frame = frame.select(
                *[F.col(c).alias(cm.get(c, c)) for c in frame.columns]
            )
        os.makedirs(os.path.join(self.path, _CDC_DIR), exist_ok=True)
        tmp = os.path.join(self.path, f"tmp_cdc_{uuid.uuid4().hex}")
        frame.coalesce(1).write.mode("overwrite").option(
            _SUCCESS_MARKER_OPTION, "false"
        ).parquet(tmp)
        actions = []
        for f in sorted(os.listdir(tmp)):
            if f.startswith("part-") and f.endswith(".parquet"):
                rel = f"{_CDC_DIR}/cdc-{uuid.uuid4().hex}.parquet"
                size = os.path.getsize(os.path.join(tmp, f))
                os.rename(os.path.join(tmp, f), os.path.join(self.path, rel))
                actions.append(
                    {"cdc": {"path": rel, "partitionValues": {}, "size": size,
                             "dataChange": False}}
                )
        shutil.rmtree(tmp, ignore_errors=True)
        return actions

    def _metadata_actions(
        self,
        df: DataFrame,
        partition_by: tuple[str, ...] = (),
        generated: dict[str, str] | None = None,
        identity: dict[str, dict] | None = None,
        identity_high: dict[str, int] | None = None,
        column_mapping_mint: dict[str, tuple[int, str]] | None = None,
    ) -> list[dict]:
        schema = df.schema
        if identity:
            from pyspark.sql.types import StructField

            fields = []
            for f in schema.fields:
                if f.name in identity:
                    spec = identity[f.name]
                    md = {
                        **(f.metadata or {}),
                        "delta.identity.start": spec["start"],
                        "delta.identity.step": spec["step"],
                        "delta.identity.orderBy": spec["order_by"],
                        "delta.identity.allowExplicit": False,
                    }
                    if (identity_high or {}).get(f.name) is not None:
                        md["delta.identity.highWaterMark"] = identity_high[
                            f.name
                        ]
                    fields.append(
                        StructField(f.name, f.dataType, f.nullable, md)
                    )
                else:
                    fields.append(f)
            schema = StructType(fields)
        if generated:
            # generated columns live in the SCHEMA, as the spec's
            # `delta.generationExpression` field metadata — the rule
            # travels with the table, enforced on every future writer
            from pyspark.sql.types import StructField

            schema = StructType(
                [
                    StructField(
                        f.name,
                        f.dataType,
                        f.nullable,
                        {**(f.metadata or {}),
                         "delta.generationExpression": generated[f.name]}
                        if f.name in generated
                        else f.metadata,
                    )
                    for f in schema.fields
                ]
            )
        cfg = {"delta.enableChangeDataFeed": "true"}
        if column_mapping_mint:
            # columnMapping mode "id", declared at CREATION (delta's
            # rule — existing tables upgrade only to mode "name",
            # because their files carry no field ids): every field
            # gets a stable id + a uuid physical name, and the staged
            # version-0 files already carry the matching parquet
            # field ids (minted once in append, used for both)
            from pyspark.sql.types import StructField

            schema = StructType(
                [
                    StructField(
                        f.name,
                        f.dataType,
                        f.nullable,
                        {
                            **(f.metadata or {}),
                            "delta.columnMapping.id":
                                column_mapping_mint[f.name][0],
                            "delta.columnMapping.physicalName":
                                column_mapping_mint[f.name][1],
                        },
                    )
                    for f in schema.fields
                ]
            )
            cfg["delta.columnMapping.mode"] = "id"
            cfg["delta.columnMapping.maxColumnId"] = str(len(schema.fields))
        tfeats = _type_features_of_struct(schema)
        if column_mapping_mint:
            if tfeats:
                feats = tuple(sorted(set(tfeats) | {"columnMapping"}))
                proto = self._upgraded_protocol(feats, feats)
            else:
                proto = {"minReaderVersion": 2, "minWriterVersion": 5}
        else:
            proto = (
                self._upgraded_protocol(tfeats, tfeats)
                if tfeats
                else dict(_PROTOCOL)
            )
        return [
            {"protocol": proto},
            {
                "metaData": {
                    "id": uuid.uuid4().hex,
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": schema.json(),
                    "partitionColumns": list(partition_by),
                    "configuration": cfg,
                    "createdTime": _now_ms(),
                }
            },
        ]

    def column_defaults(self) -> dict[str, str]:
        """name -> default expression, from the schema's
        `CURRENT_DEFAULT` field metadata (the `allowColumnDefaults`
        writer feature's storage, per PROTOCOL.md Default Columns)."""
        s = self.schema()
        if s is None:
            return {}
        return {
            f.name: f.metadata["CURRENT_DEFAULT"]
            for f in s.fields
            if f.metadata and "CURRENT_DEFAULT" in f.metadata
        }

    def _apply_defaults(self, df: DataFrame) -> DataFrame:
        """The column-defaults WRITE contract (PROTOCOL.md's
        allowColumnDefaults): a column ABSENT from the written frame is
        filled from its default expression; a provided column wins
        verbatim — even explicit NULLs (defaults are insert-time fill,
        not generated-column validation; that difference is the whole
        point of the two features)."""
        for name, expr_sql in self.column_defaults().items():
            if name not in df.columns:
                df = df.withColumn(name, F.expr(expr_sql))
        return df

    @_occ_retry
    def set_column_default(self, name: str, expr_sql: str) -> int:
        """ALTER TABLE ... ALTER COLUMN ... SET DEFAULT (the
        `allowColumnDefaults` writer feature — writer-only: a reader
        needs nothing, defaults resolve at WRITE time and the files
        are self-contained): stamps `CURRENT_DEFAULT` on the field's
        schema metadata and ledgers the feature in the SAME commit.
        Generated and identity columns refuse (they own their values;
        delta-spark rejects the combination too). Existing rows are
        untouched — defaults fill future writes that omit the column,
        never history."""
        m = self._metadata_dict()
        if m is None:
            raise ValueError("cannot set a default on a table with no metaData")
        if name in self.generated_columns():
            raise ValueError(
                f"column {name} is GENERATED — its value is always the "
                "generation expression; a default cannot apply"
            )
        if name in self.identity_columns():
            raise ValueError(
                f"column {name} is GENERATED ALWAYS AS IDENTITY — "
                "a default cannot apply"
            )
        from pyspark.sql.types import StructField

        sch = StructType.fromJson(json.loads(m["schemaString"]))
        if name not in {f.name for f in sch.fields}:
            raise ValueError(f"unknown column {name}")
        fields = [
            StructField(
                f.name,
                f.dataType,
                f.nullable,
                {**(f.metadata or {}), "CURRENT_DEFAULT": expr_sql}
                if f.name == name
                else f.metadata,
            )
            for f in sch.fields
        ]
        meta = dict(m)
        meta["schemaString"] = StructType(fields).json()
        proto_base = self._protocol_dict()
        actions: list[dict] = []
        if "allowColumnDefaults" not in (
            (proto_base or {}).get("writerFeatures") or ()
        ):
            actions.append(
                {
                    "protocol": self._upgraded_protocol(
                        writer_features=("allowColumnDefaults",)
                    )
                }
            )
        now = _now_ms()
        actions += [
            {"metaData": meta},
            {
                "commitInfo": {
                    "timestamp": now,
                    "operation": "SET DEFAULT",
                    "operationParameters": {"name": name, "expr": expr_sql},
                }
            },
        ]

        def _pre() -> bool:
            if self._metadata_dict() != m:
                raise MetadataChangedError(
                    "table metaData changed while setting the default; retry"
                )
            if self._protocol_dict() != proto_base:
                raise MetadataChangedError(
                    "protocol changed while ledgering allowColumnDefaults; "
                    "retry"
                )
            return True

        v = self._commit(actions, _pre)
        if v is None:
            raise MetadataChangedError(
                "table metaData changed while setting the default; retry"
            )
        return v

    @_occ_retry
    def drop_column_default(self, name: str) -> int:
        """ALTER TABLE ... ALTER COLUMN ... DROP DEFAULT: removes the
        field's CURRENT_DEFAULT metadata (the feature stays ledgered —
        dropping a default never needs a protocol downgrade)."""
        m = self._metadata_dict()
        if m is None or name not in self.column_defaults():
            raise ValueError(f"column {name} has no default")
        from pyspark.sql.types import StructField

        sch = StructType.fromJson(json.loads(m["schemaString"]))
        fields = []
        for f in sch.fields:
            if f.name == name:
                md = dict(f.metadata or {})
                md.pop("CURRENT_DEFAULT", None)
                fields.append(StructField(f.name, f.dataType, f.nullable, md))
            else:
                fields.append(f)
        meta = dict(m)
        meta["schemaString"] = StructType(fields).json()
        now = _now_ms()
        v = self._commit(
            [
                {"metaData": meta},
                {
                    "commitInfo": {
                        "timestamp": now,
                        "operation": "DROP DEFAULT",
                        "operationParameters": {"name": name},
                    }
                },
            ],
            precondition=lambda: self._metadata_dict() == m,
        )
        if v is None:
            raise MetadataChangedError(
                "table metaData changed while dropping the default; retry"
            )
        return v

    def generated_columns(self) -> dict[str, str]:
        """name -> generation expression, from the schema's
        `delta.generationExpression` field metadata (the spec's
        generated-columns writer feature)."""
        s = self.schema()
        if s is None:
            return {}
        return {
            f.name: f.metadata["delta.generationExpression"]
            for f in s.fields
            if f.metadata and "delta.generationExpression" in f.metadata
        }

    def _apply_generated(self, df: DataFrame) -> DataFrame:
        """The generated-columns WRITE contract: a missing generated
        column is COMPUTED from its expression; a provided one is
        VALIDATED against it (null-safe equality) and a mismatch
        rejects the whole write — Delta's behavior, which is what
        keeps a generated partition column trustworthy for pruning."""
        for name, expr_sql in self.generated_columns().items():
            if name not in df.columns:
                df = df.withColumn(name, F.expr(expr_sql))
            else:
                bad = df.filter(
                    ~F.col(name).eqNullSafe(F.expr(expr_sql))
                ).limit(1)
                if bad.count():
                    raise ValueError(
                        f"generated column {name} was provided with values "
                        f"that do not match its expression ({expr_sql}); "
                        "Delta rejects the write"
                    )
        return df

    # --- in-commit timestamps ---------------------------------------------------

    def enable_in_commit_timestamps(self) -> int:
        """Enable the inCommitTimestamp writer feature
        (delta.enableInCommitTimestamps): from this commit on, every
        commitInfo carries an inCommitTimestamp that is STRICTLY
        monotonically increasing — max(wall clock, previous + 1) —
        decided under the commit lock, so timestampAsOf stays correct
        even when writers' clocks skew backwards (the failure mode
        file-timestamp resolution cannot survive)."""
        m = self._metadata_dict()
        if m is None:
            raise ValueError("no metaData yet")
        cfg = dict(m.get("configuration") or {})
        cfg["delta.enableInCommitTimestamps"] = "true"
        expected_v = self.latest_version() + 1
        # the spec records where ICT began — resolution before this
        # version falls back to plain commitInfo timestamps
        cfg["delta.inCommitTimestampEnablementVersion"] = str(expected_v)
        meta = dict(m)
        meta["configuration"] = cfg
        # inCommitTimestamp is a WRITER TABLE FEATURE: raise the
        # protocol so a spec-compliant external writer knows it must
        # stamp (enable_column_mapping's discipline)
        proto = self._protocol_dict() or dict(_PROTOCOL)
        proto = dict(proto)
        if "writerFeatures" in proto or "readerFeatures" in proto:
            proto["writerFeatures"] = sorted(
                set(proto.get("writerFeatures", [])) | {"inCommitTimestamp"}
            )
            proto["minWriterVersion"] = 7
        else:
            # legacy protocol -> table features: the implied legacy
            # writer capabilities must ride along explicitly
            implied = {
                "appendOnly", "invariants", "checkConstraints",
                "changeDataFeed", "generatedColumns", "identityColumns",
            }
            proto = {
                "minReaderVersion": proto.get("minReaderVersion", 1),
                "minWriterVersion": 7,
                "writerFeatures": sorted(implied | {"inCommitTimestamp"}),
            }

        def _unmoved() -> bool:
            # the enablement version baked into the config must be THE
            # version this commit wins — any interleaver shifts it
            return (
                self._metadata_dict() == m
                and self.latest_version() + 1 == expected_v
            )

        v = self._commit(
            [
                {"protocol": proto},
                {"metaData": meta},
                {
                    "commitInfo": {
                        "timestamp": _now_ms(),
                        "operation": "SET TBLPROPERTIES",
                        "operationParameters": {
                            "delta.enableInCommitTimestamps": "true"
                        },
                    }
                },
            ],
            precondition=_unmoved,
        )
        if v is None:
            raise MetadataChangedError(
                "table metaData changed while enabling ICT; retry"
            )
        return v

    def _ict_enabled(self) -> bool:
        m = self._metadata_dict()
        return bool(
            m
            and (m.get("configuration") or {}).get(
                "delta.enableInCommitTimestamps"
            )
            == "true"
        )

    def _last_commit_info(self) -> dict | None:
        return copy.deepcopy(self._snapshot().commit_info)

    # --- identity columns ------------------------------------------------------

    def identity_columns(self) -> dict[str, dict]:
        """name -> {start, step, order_by, high} from the schema's
        `delta.identity.*` field metadata (the protocol's
        identityColumns writer feature; the high-water mark lives in
        the metaData and moves with every identity-assigning write)."""
        s = self.schema()
        if s is None:
            return {}
        out = {}
        for f in s.fields:
            md = f.metadata or {}
            if "delta.identity.start" in md:
                out[f.name] = {
                    "start": int(md["delta.identity.start"]),
                    "step": int(md["delta.identity.step"]),
                    "order_by": md["delta.identity.orderBy"],
                    "high": (
                        int(md["delta.identity.highWaterMark"])
                        if "delta.identity.highWaterMark" in md
                        else None
                    ),
                }
        return out

    @staticmethod
    def _assign_identity_values(df: DataFrame, specs: dict[str, dict]):
        """The one identity-assignment arithmetic (creation and
        continuation MUST share it or the two paths drift): values =
        base, base+step, ... ordered by the declared sort key, pinned
        with a localCheckpoint so a nondeterministic input cannot
        re-derive differently between counting and staging. Returns
        (df, new_high_marks)."""
        from pyspark.sql.window import Window as _W

        new_high: dict[str, int] = {}
        for name, spec in specs.items():
            if name in df.columns:
                raise ValueError(
                    f"identity column {name} is GENERATED ALWAYS — "
                    "explicit values are rejected (Delta's contract)"
                )
            base = (
                spec["high"] + spec["step"]
                if spec.get("high") is not None
                else spec["start"]
            )
            rn = F.row_number().over(_W.orderBy(F.asc(spec["order_by"])))
            df = df.withColumn(
                name,
                (F.lit(base) + (rn - 1) * F.lit(spec["step"])).cast("long"),
            ).localCheckpoint()
            n = df.count()
            if n:
                new_high[name] = base + (n - 1) * spec["step"]
        return df, new_high

    def _assign_identity(self, df: DataFrame):
        """GENERATED ALWAYS AS IDENTITY on an existing table: assign
        from the LOG's high-water marks (see _assign_identity_values
        for the arithmetic and determinism contract)."""
        return self._assign_identity_values(df, self.identity_columns())

    def _identity_meta_update(
        self, new_high: dict[str, int], base_meta: dict | None = None
    ) -> dict | None:
        """A metaData action moving the identity high-water marks, or
        None when no identity values were assigned."""
        if not new_high:
            return None
        from pyspark.sql.types import StructField

        m = base_meta if base_meta is not None else self._metadata_dict()
        s = StructType.fromJson(json.loads(m["schemaString"]))
        fields = [
            StructField(
                f.name,
                f.dataType,
                f.nullable,
                {**(f.metadata or {}),
                 "delta.identity.highWaterMark": new_high[f.name]}
                if f.name in new_high
                else f.metadata,
            )
            for f in s.fields
        ]
        meta = dict(m)
        meta["schemaString"] = StructType(fields).json()
        return meta

    # --- column mapping (rename/drop as metadata) ----------------------------

    def column_mapping(self) -> dict[str, str] | None:
        """logical name -> physical name when the table runs in the
        spec's columnMapping mode "name" OR "id" (each field's
        `delta.columnMapping.physicalName` metadata), else None.
        Fields without an explicit physicalName map to themselves.
        In mode "id" the physicalName is still what OUR writer stamps
        into files; READS additionally resolve by parquet field id
        (see _read_files), which is what makes foreign id-mode files
        with different physical column names readable."""
        m = self._metadata_dict()
        if m is None:
            return None
        cfg = m.get("configuration") or {}
        if cfg.get("delta.columnMapping.mode") not in ("name", "id"):
            return None
        s = StructType.fromJson(json.loads(m["schemaString"]))
        return {
            f.name: (f.metadata or {}).get(
                "delta.columnMapping.physicalName", f.name
            )
            for f in s.fields
        }

    def column_mapping_mode(self) -> str | None:
        """The table's delta.columnMapping.mode ("name" / "id"), else
        None."""
        m = self._metadata_dict()
        if m is None:
            return None
        mode = (m.get("configuration") or {}).get("delta.columnMapping.mode")
        return mode if mode in ("name", "id") else None

    def column_field_ids(self) -> dict[str, int]:
        """PHYSICAL name -> parquet field id (each field's
        `delta.columnMapping.id` metadata) on a mapped table — the
        identity files carry in mode "id" (stamped as parquet field
        ids on write, matched by id on read)."""
        m = self._metadata_dict()
        if m is None or self.column_mapping_mode() is None:
            return {}
        s = StructType.fromJson(json.loads(m["schemaString"]))
        out = {}
        for f in s.fields:
            md = f.metadata or {}
            if "delta.columnMapping.id" in md:
                out[
                    md.get("delta.columnMapping.physicalName", f.name)
                ] = int(md["delta.columnMapping.id"])
        return out

    def enable_column_mapping(self) -> int:
        """Upgrade to columnMapping mode "name" (delta's ALTER TABLE
        upgrade path): every existing field gets a stable
        `delta.columnMapping.id` and a physicalName EQUAL to its
        current name — so every already-written file stays readable
        bit-for-bit — and the protocol rises to the feature's floor
        (reader 2 / writer 5; appended to the feature lists on a
        table-features protocol). From here on RENAME and DROP are
        pure metadata: the physical name is frozen, only the logical
        mapping moves. One metadata commit, no data touched."""
        from pyspark.sql.types import StructField

        m = self._metadata_dict()
        if m is None:
            raise ValueError("cannot enable column mapping: no metaData yet")
        cfg = dict(m.get("configuration") or {})
        if cfg.get("delta.columnMapping.mode") in ("name", "id"):
            raise ValueError("column mapping already enabled")
        s = StructType.fromJson(json.loads(m["schemaString"]))
        fields = []
        for i, f in enumerate(s.fields, start=1):
            fields.append(
                StructField(
                    f.name,
                    f.dataType,
                    f.nullable,
                    {
                        **(f.metadata or {}),
                        "delta.columnMapping.id": i,
                        "delta.columnMapping.physicalName": f.name,
                    },
                )
            )
        cfg["delta.columnMapping.mode"] = "name"
        cfg["delta.columnMapping.maxColumnId"] = str(len(fields))
        meta = dict(m)
        meta["schemaString"] = StructType(fields).json()
        meta["configuration"] = cfg
        proto = self._protocol_dict() or dict(_PROTOCOL)
        if "readerFeatures" in proto:
            proto = dict(proto)
            proto["readerFeatures"] = sorted(
                set(proto["readerFeatures"]) | {"columnMapping"}
            )
            proto["writerFeatures"] = sorted(
                set(proto.get("writerFeatures", [])) | {"columnMapping"}
            )
        else:
            proto = {
                "minReaderVersion": max(proto.get("minReaderVersion", 1), 2),
                "minWriterVersion": max(proto.get("minWriterVersion", 1), 5),
            }
        v = self._commit(
            [
                {"protocol": proto},
                {"metaData": meta},
                {
                    "commitInfo": {
                        "timestamp": _now_ms(),
                        "operation": "SET TBLPROPERTIES",
                        "operationParameters": {
                            "delta.columnMapping.mode": "name"
                        },
                    }
                },
            ],
            precondition=lambda: self._metadata_dict() == m,
        )
        if v is None:
            raise MetadataChangedError(
                "table metaData changed while enabling column mapping; retry"
            )
        return v

    def _column_referenced_by(self, name: str) -> str | None:
        """Is ``name`` load-bearing for a table RULE? Renaming or
        dropping a column that a CHECK constraint, a generation
        expression, or an identity sort key references would brick
        every future write (the rule's SQL keeps the old name) —
        delta-spark blocks exactly these; so do we."""
        import re

        pat = re.compile(rf"\b{re.escape(name)}\b")
        for cname, expr in self.constraints().items():
            if pat.search(expr):
                return f"CHECK constraint {cname} ({expr})"
        for gname, expr in self.generated_columns().items():
            if pat.search(expr):
                return f"generated column {gname} ({expr})"
        for iname, spec in self.identity_columns().items():
            if spec["order_by"] == name:
                return f"identity column {iname}'s order key"
        return None

    def rename_column(self, old: str, new: str) -> int:
        """RENAME COLUMN — pure metadata on a mapped table: the field's
        LOGICAL name changes, its physicalName (what every parquet file
        carries) is frozen, so zero data moves at any table size. Reads
        alias physical -> logical at plan time (the CURRENT schema
        governs every read, time travel included — the same
        log-defines-the-table rule schema evolution follows)."""
        from pyspark.sql.types import StructField

        if self.column_mapping() is None:
            raise ValueError(
                "RENAME COLUMN requires column mapping "
                "(enable_column_mapping first) — without it the parquet "
                "files' physical names ARE the schema"
            )
        m = self._metadata_dict()
        s = StructType.fromJson(json.loads(m["schemaString"]))
        names = [f.name for f in s.fields]
        if old not in names:
            raise ValueError(f"no such column: {old}")
        if new in names:
            raise ValueError(f"column {new} already exists")
        ref = self._column_referenced_by(old)
        if ref:
            raise ValueError(
                f"cannot rename {old}: referenced by {ref} — the rule's "
                "SQL would keep the old name and every future write "
                "would fail (delta-spark blocks this)"
            )
        fields = [
            StructField(new if f.name == old else f.name, f.dataType,
                        f.nullable, f.metadata)
            for f in s.fields
        ]
        meta = dict(m)
        meta["schemaString"] = StructType(fields).json()
        if old in (m.get("partitionColumns") or []):
            meta["partitionColumns"] = [
                new if c == old else c for c in m["partitionColumns"]
            ]
        v = self._commit(
            [
                {"metaData": meta},
                {
                    "commitInfo": {
                        "timestamp": _now_ms(),
                        "operation": "RENAME COLUMN",
                        "operationParameters": {"from": old, "to": new},
                    }
                },
            ],
            precondition=lambda: self._metadata_dict() == m,
        )
        if v is None:
            raise MetadataChangedError(
                "table metaData changed while renaming the column; retry"
            )
        return v

    def drop_column(self, name: str) -> int:
        """DROP COLUMN — pure metadata on a mapped table: the field
        leaves the schema, the bytes stay in the files (readers simply
        never select that physical column; a later OPTIMIZE rewrite
        physically sheds them). Partition columns cannot be dropped."""
        from pyspark.sql.types import StructField  # noqa: F401

        if self.column_mapping() is None:
            raise ValueError(
                "DROP COLUMN requires column mapping "
                "(enable_column_mapping first)"
            )
        m = self._metadata_dict()
        s = StructType.fromJson(json.loads(m["schemaString"]))
        if name not in [f.name for f in s.fields]:
            raise ValueError(f"no such column: {name}")
        if name in (m.get("partitionColumns") or []):
            raise ValueError(f"cannot drop partition column {name}")
        if len(s.fields) == 1:
            raise ValueError("cannot drop the only column")
        ref = self._column_referenced_by(name)
        if ref:
            raise ValueError(
                f"cannot drop {name}: referenced by {ref} "
                "(delta-spark blocks this)"
            )
        meta = dict(m)
        meta["schemaString"] = StructType(
            [f for f in s.fields if f.name != name]
        ).json()
        v = self._commit(
            [
                {"metaData": meta},
                {
                    "commitInfo": {
                        "timestamp": _now_ms(),
                        "operation": "DROP COLUMNS",
                        "operationParameters": {"column": name},
                    }
                },
            ],
            precondition=lambda: self._metadata_dict() == m,
        )
        if v is None:
            raise MetadataChangedError(
                "table metaData changed while dropping the column; retry"
            )
        return v

    # --- CHECK constraints ---------------------------------------------------

    def constraints(self) -> dict[str, str]:
        """name -> CHECK expression, from the latest metaData action's
        `delta.constraints.<name>` configuration keys (the protocol's
        checkConstraints writer feature, minWriterVersion 3 — this
        layer writes 4)."""
        m = self._metadata_dict() or {}
        cfg = m.get("configuration") or {}
        pre = "delta.constraints."
        return {k[len(pre):]: v for k, v in cfg.items() if k.startswith(pre)}

    def _violations(self, df: DataFrame, expr_sql: str) -> DataFrame:
        # SQL CHECK semantics: only FALSE violates — NULL/UNKNOWN passes
        return df.filter(~F.coalesce(F.expr(expr_sql), F.lit(True)))

    def _enforce_constraints(self, df: DataFrame) -> None:
        for name, expr_sql in self.constraints().items():
            if self._violations(df, expr_sql).limit(1).count():
                raise ValueError(
                    f"CHECK constraint {name} ({expr_sql}) violated by "
                    "rows in this write (Delta rejects the whole commit)"
                )

    @_occ_retry
    def add_constraint(self, spark, name: str, expr_sql: str) -> int:
        """ALTER TABLE ADD CONSTRAINT ... CHECK (expr): validates the
        EXISTING table first (Delta scans before accepting — a
        constraint that the current data already violates is refused),
        then commits a new metaData action whose configuration carries
        `delta.constraints.<name>`; every later write is enforced
        against it. Pure metadata commit after the validation scan."""
        m = self._metadata_dict()
        if m is None:
            raise ValueError("cannot add a constraint to a table with no metaData")
        if name in self.constraints():
            raise ValueError(f"constraint {name} already exists")
        if self.snapshot_files():
            n = self._violations(self.read(spark), expr_sql).count()
            if n:
                raise ValueError(
                    f"cannot add CHECK constraint {name}: {n} existing "
                    "row(s) violate it"
                )
        meta = dict(m)
        cfg = dict(meta.get("configuration") or {})
        cfg[f"delta.constraints.{name}"] = expr_sql
        meta["configuration"] = cfg
        now = _now_ms()
        v = self._commit(
            [
                {"metaData": meta},
                {
                    "commitInfo": {
                        "timestamp": now,
                        "operation": "ADD CONSTRAINT",
                        "operationParameters": {"name": name, "expr": expr_sql},
                    }
                },
            ],
            # the new metaData was derived from m: a concurrent
            # metadata commit (another constraint, a schema widening)
            # in between would be silently erased by committing it
            precondition=lambda: self._metadata_dict() == m,
        )
        if v is None:
            raise MetadataChangedError(
                "table metaData changed while adding the constraint; retry"
            )
        return v

    @_occ_retry
    def drop_constraint(self, name: str) -> int:
        """ALTER TABLE DROP CONSTRAINT — removes the configuration key
        in a new metaData action (missing name raises, Delta's
        behavior without IF EXISTS)."""
        if name not in self.constraints():
            raise ValueError(f"no such constraint: {name}")
        base = self._metadata_dict()
        meta = dict(base)
        cfg = dict(meta.get("configuration") or {})
        del cfg[f"delta.constraints.{name}"]
        meta["configuration"] = cfg
        v = self._commit(
            [
                {"metaData": meta},
                {
                    "commitInfo": {
                        "timestamp": _now_ms(),
                        "operation": "DROP CONSTRAINT",
                        "operationParameters": {"name": name},
                    }
                },
            ],
            precondition=lambda: self._metadata_dict() == base,
        )
        if v is None:
            raise MetadataChangedError(
                "table metaData changed while dropping the constraint; retry"
            )
        return v

    def set_domain_metadata(
        self, domain: str, configuration: dict, removed: bool = False
    ) -> int:
        """domainMetadata action (the spec's writer feature — the
        namespaced side-channel real Delta uses for clustering state,
        row-tracking domains etc.): one action per domain per commit,
        latest-wins per domain, ``removed=True`` tombstones it. The
        feature is ledgered on first use (minWriter 7) so a writer
        that doesn't understand domains refuses the table instead of
        silently dropping them on its next checkpoint."""
        base = self._protocol_dict()
        actions: list[dict] = []
        upgrading = "domainMetadata" not in (
            (base or {}).get("writerFeatures") or ()
        )
        if upgrading:
            # ADDITIVE upgrade with legacy-implied features carried
            # (the _upgraded_protocol discipline)
            actions.append(
                {
                    "protocol": self._upgraded_protocol(
                        writer_features=("domainMetadata",)
                    )
                }
            )
        actions += [
            {
                "domainMetadata": {
                    "domain": domain,
                    "configuration": json.dumps(
                        configuration, sort_keys=True
                    ),
                    "removed": bool(removed),
                }
            },
            {
                "commitInfo": {
                    "timestamp": _now_ms(),
                    "operation": "SET DOMAIN METADATA",
                    "operationParameters": {"domain": domain},
                }
            },
        ]
        v = self._commit(
            actions,
            precondition=(
                (lambda: self._protocol_dict() == base) if upgrading else None
            ),
        )
        if v is None:
            raise MetadataChangedError(
                "protocol changed while enabling domainMetadata; retry"
            )
        return v

    def domain_metadata(self) -> dict[str, dict]:
        """domain -> configuration dict, latest action per domain wins,
        removed domains excluded — folded from the last checkpoint's
        retained domainMetadata rows + the JSON tail (the spec requires
        checkpoints to retain live domains, so the fold survives log
        cleanup)."""
        self._check_read_protocol()  # a read surface like any other
        doms = self._snapshot().domains
        return {
            d: json.loads(r.get("configuration") or "{}")
            for d, r in doms.items()
            if not r.get("removed")
        }

    # --- row tracking (PROTOCOL.md rowTracking writer feature) ------------
    #
    # Row ids are stable per physical row: fresh rows of an add are
    # baseRowId + row_index (stamped on the add action, allocated from
    # the rowIdHighWaterMark in the `delta.rowTracking` domainMetadata);
    # rewrites that move rows between files (OPTIMIZE, copy-on-write
    # DML) MATERIALIZE the ids into hidden physical columns (names in
    # the table config) that readers prefer over the computed default.
    # DV deletes preserve ids for free (same file, same positions).

    _ROW_TRACKING_DOMAIN = "delta.rowTracking"

    def enable_row_tracking(self) -> int:
        """ALTER TABLE ... SET delta.enableRowTracking=true: ledger the
        rowTracking writer feature (+ domainMetadata, which carries its
        high-water mark), pick the materialized column names, and
        BACKFILL — re-add every live file (dataChange=false) so the
        commit funnel stamps each with a baseRowId. One commit; a
        concurrent protocol/metadata/file change aborts it."""
        base_proto = self._protocol_dict()
        base_meta = self._metadata_dict()
        if base_meta is None:
            raise ValueError("cannot enable row tracking on a table with no metaData")
        cfg = dict(base_meta.get("configuration") or {})
        if cfg.get("delta.enableRowTracking") == "true":
            return self.latest_version()
        cfg["delta.enableRowTracking"] = "true"
        cfg.setdefault(
            "delta.rowTracking.materializedRowIdColumnName",
            f"_row-id-col-{uuid.uuid4().hex}",
        )
        cfg.setdefault(
            "delta.rowTracking.materializedRowCommitVersionColumnName",
            f"_row-commit-col-{uuid.uuid4().hex}",
        )
        meta = dict(base_meta)
        meta["configuration"] = cfg
        snap = self.snapshot_adds()
        actions: list[dict] = [
            {
                "protocol": self._upgraded_protocol(
                    writer_features=("rowTracking", "domainMetadata")
                )
            },
            {"metaData": meta},
        ]
        for p in sorted(snap):
            na = dict(snap[p])
            na["dataChange"] = False  # bytes unmoved; CDF/stream readers skip
            na.pop("baseRowId", None)
            na.pop("defaultRowCommitVersion", None)
            actions.append({"add": na})
        actions.append(
            {
                "commitInfo": {
                    "timestamp": _now_ms(),
                    "operation": "SET TBLPROPERTIES",
                    "operationParameters": {
                        "properties": json.dumps(
                            {"delta.enableRowTracking": "true"}
                        )
                    },
                }
            }
        )
        adds_ok = self._adds_unchanged(snap)

        def _pre() -> bool:
            if (
                self._protocol_dict() != base_proto
                or self._metadata_dict() != base_meta
            ):
                raise MetadataChangedError(
                    "protocol/metaData changed while enabling row "
                    "tracking; retry"
                )
            return adds_ok()

        v = self._commit(actions, _pre)
        if v is None:
            raise ConcurrentDeleteReadError(
                "a concurrent commit rewrote files while enabling row "
                "tracking; retry"
            )
        return v

    def _row_tracking_cfg(self) -> tuple[str, str] | None:
        """(materialized row-id column, materialized commit-version
        column) when delta.enableRowTracking=true, else None."""
        cfg = (self._metadata_dict() or {}).get("configuration") or {}
        if cfg.get("delta.enableRowTracking") != "true":
            return None
        return (
            cfg["delta.rowTracking.materializedRowIdColumnName"],
            cfg["delta.rowTracking.materializedRowCommitVersionColumnName"],
        )

    def _row_id_hwm(self) -> int:
        """The current rowIdHighWaterMark (-1 before any allocation)."""
        cfg = self.domain_metadata().get(self._ROW_TRACKING_DOMAIN) or {}
        return int(cfg.get("rowIdHighWaterMark", -1))

    def _add_num_records(self, ad: dict) -> int:
        """numRecords of an add — from its stats, falling back to the
        parquet footer (foreign adds may carry no stats; assignment
        cannot guess a row count)."""
        st = ad.get("stats")
        if st:
            n = json.loads(st).get("numRecords")
            if n is not None:
                return int(n)
        import pyarrow.parquet as pq

        return pq.ParquetFile(
            self._abs_of_add_path(ad["path"])
        ).metadata.num_rows

    def _finalize_row_tracking(self, actions: list[dict], v: int) -> list[dict]:
        """Under the commit lock: on a row-tracking table, stamp every
        add action lacking a baseRowId with a fresh contiguous id range
        and defaultRowCommitVersion=v, and ledger the advanced
        high-water mark in the delta.rowTracking domain — the single
        funnel, so no DML path can mint colliding row ids. Re-adds of
        an existing file (DV swaps, RESTORE) are built from the old add
        dict upstream, so their original baseRowId rides through
        untouched (the spec's stability rule).

        Stamps COPIES of the pending add dicts, never the caller's —
        if a cross-process racer wins the version file (O_EXCL raises
        after this ran), the caller's actions stay unstamped, so the
        retry re-enters this funnel and mints ids off the RACER's
        advanced high-water mark instead of replaying stale ones."""
        proto = self._snapshot().protocol or {}
        tracked = "rowTracking" in (proto.get("writerFeatures") or ())
        if not tracked:
            tracked = any(
                "protocol" in a
                and "rowTracking" in (a["protocol"].get("writerFeatures") or ())
                for a in actions
            )
        if not tracked:
            return actions
        pending = [
            a["add"]
            for a in actions
            if "add" in a and a["add"].get("baseRowId") is None
        ]
        if not pending:
            return actions
        cur = self._row_id_hwm()
        stamped: dict[int, dict] = {}
        for ad in pending:
            new = dict(ad)
            new["baseRowId"] = cur + 1
            new["defaultRowCommitVersion"] = v
            cur += self._add_num_records(new)
            stamped[id(ad)] = new
        actions = [
            {"add": stamped[id(a["add"])]}
            if "add" in a and id(a["add"]) in stamped
            else a
            for a in actions
            if not (
                "domainMetadata" in a
                and a["domainMetadata"]["domain"] == self._ROW_TRACKING_DOMAIN
            )
        ]
        actions.append(
            {
                "domainMetadata": {
                    "domain": self._ROW_TRACKING_DOMAIN,
                    "configuration": json.dumps(
                        {"rowIdHighWaterMark": cur}, sort_keys=True
                    ),
                    "removed": False,
                }
            }
        )
        return actions

    # --- liquid clustering state (the `clustering` writer feature) --------

    _CLUSTERING_DOMAIN = "delta.clustering"

    def set_cluster_by(self, cols: tuple[str, ...]) -> int:
        """ALTER TABLE ... CLUSTER BY (liquid clustering state,
        PROTOCOL.md's Clustered Table feature): persist the clustering
        columns in the `delta.clustering` domain (the spec's
        nested-name form) and ledger the `clustering` +
        `domainMetadata` writer features — after which a PARAMETERLESS
        OPTIMIZE clusters on them automatically (one column:
        range-clustering; several: the z-order rewrite). CLUSTER BY
        NONE (empty ``cols``) clears the state. A clustered table
        cannot be Hive-partitioned (delta's mutual exclusion), and the
        columns must exist in the schema."""
        s = self.schema()
        have = {f.name for f in (s.fields if s else [])}
        unknown = [c for c in cols if c not in have]
        if unknown:
            raise ValueError(f"CLUSTER BY targets unknown column(s) {unknown}")
        if cols and self.partition_columns():
            raise ValueError(
                "CLUSTER BY on a Hive-partitioned table: clustering and "
                "partitioning are mutually exclusive (Delta's contract)"
            )
        base = self._protocol_dict()
        actions: list[dict] = []
        need = {"clustering", "domainMetadata"} - set(
            (base or {}).get("writerFeatures") or ()
        )
        if need:
            actions.append(
                {
                    "protocol": self._upgraded_protocol(
                        writer_features=("clustering", "domainMetadata")
                    )
                }
            )
        actions += [
            {
                "domainMetadata": {
                    "domain": self._CLUSTERING_DOMAIN,
                    "configuration": json.dumps(
                        {"clusteringColumns": [[c] for c in cols]},
                        sort_keys=True,
                    ),
                    "removed": False,
                }
            },
            {
                "commitInfo": {
                    "timestamp": _now_ms(),
                    "operation": "CLUSTER BY",
                    "operationParameters": {
                        "clusterBy": json.dumps(list(cols))
                    },
                }
            },
        ]
        v = self._commit(
            actions,
            precondition=(
                (lambda: self._protocol_dict() == base) if need else None
            ),
        )
        if v is None:
            raise MetadataChangedError(
                "protocol changed while setting CLUSTER BY; retry"
            )
        return v

    def cluster_columns(self) -> tuple[str, ...]:
        """The table's persisted clustering columns (empty when not a
        clustered table) — accepts both the spec's nested-name form
        and a foreign writer's flat list."""
        dom = self.domain_metadata().get(self._CLUSTERING_DOMAIN) or {}
        return tuple(
            c[0] if isinstance(c, list) else c
            for c in (dom.get("clusteringColumns") or [])
        )

    @staticmethod
    def _rows_of_adds(adds) -> tuple[int, bool]:
        """(total numRecords, stats-complete?) across add dicts —
        foreign adds may carry no stats; a partial sum must not read
        as a total, so completeness rides along."""
        rows, complete = 0, True
        for a in adds:
            st = a.get("stats")
            n = json.loads(st).get("numRecords") if st else None
            if n is None:
                complete = False
            else:
                rows += int(n)
        return rows, complete

    @staticmethod
    def _bytes_of(adds) -> int:
        """Total logged ``size`` across add dicts."""
        return sum(int(a.get("size") or 0) for a in adds)

    def _cdc_counts(self, cdc_actions: list[dict]) -> dict[str, int]:
        """Rows per _change_type in the staged cdc file(s): one column
        read of what was written, never a re-run of the change plan (a
        nondeterministic upstream must not desync the metrics from the
        published CDF, and the plan may scan far more than it wrote)."""
        import pyarrow.parquet as pq

        counts: dict[str, int] = {}
        for a in cdc_actions:
            col = (
                pq.ParquetFile(self._abs_of_add_path(a["cdc"]["path"]))
                .read(columns=["_change_type"])
                .column(0)
            )
            for vc in col.value_counts().to_pylist():
                k = vc["values"]
                counts[k] = counts.get(k, 0) + vc["counts"]
        return counts

    @staticmethod
    def _op_metrics(
        adds=(),
        n_removed: int = 0,
        cdc=(),
        dvs: int = 0,
        write: bool = False,
        op: str | None = None,
        removed_adds=(),
        clause_counts: dict[str, int] | None = None,
        dv_rows: int | None = None,
    ) -> dict[str, str]:
        """commitInfo.operationMetrics in delta-spark's per-operation
        DESCRIBE HISTORY vocabulary (string-valued per the format):
        WRITE emits numFiles/numOutputBytes/numOutputRows; DELETE
        numDeletedRows/numCopiedRows; UPDATE numUpdatedRows/
        numCopiedRows; MERGE numTargetRowsInserted/Updated/Deleted/
        Copied + numTargetFilesAdded/Removed; OPTIMIZE numAddedFiles/
        numRemovedFiles/numAddedBytes/numRemovedBytes. Row numbers come
        from add-action stats (added AND removed sides) plus the
        per-clause counts (``clause_counts``: rows per _change_type in
        the cdc file(s) the verb staged, read back by _cdc_counts —
        what was written, not a re-run of the change plan) or the DV
        cardinality delta (``dv_rows``) — omitted rather than guessed
        when any contributing add lacks stats."""
        rows, complete = DeltaLogTable._rows_of_adds(adds)
        nbytes = DeltaLogTable._bytes_of(adds)
        rrows, rcomplete = DeltaLogTable._rows_of_adds(removed_adds)
        rbytes = DeltaLogTable._bytes_of(removed_adds)
        cc = clause_counts or {}
        m: dict[str, str] = {}
        if write:
            m["numFiles"] = str(len(adds))
            m["numOutputBytes"] = str(nbytes)
            if complete:
                m["numOutputRows"] = str(rows)
            if n_removed:  # replaceWhere: the region it retired
                m["numRemovedFiles"] = str(n_removed)
        elif op == "OPTIMIZE":
            m["numAddedFiles"] = str(len(adds))
            m["numRemovedFiles"] = str(n_removed)
            m["numAddedBytes"] = str(nbytes)
            if rcomplete or not removed_adds:
                m["numRemovedBytes"] = str(rbytes)
        elif op == "DELETE":
            m["numAddedFiles"] = str(len(adds))
            m["numRemovedFiles"] = str(n_removed)
            if dv_rows is not None:  # merge-on-read: DV delta is exact
                m["numDeletedRows"] = str(dv_rows)
                m["numCopiedRows"] = "0"
            elif complete and rcomplete:
                m["numDeletedRows"] = str(rrows - rows)
                m["numCopiedRows"] = str(rows)
        elif op == "UPDATE":
            m["numAddedFiles"] = str(len(adds))
            m["numRemovedFiles"] = str(n_removed)
            if dvs and complete:
                # merge-on-read: every new-file row IS an updated row,
                # nothing is copied (survivors stay behind the DV)
                m["numUpdatedRows"] = str(rows)
                m["numCopiedRows"] = "0"
            elif "update_postimage" in cc:
                upd = cc["update_postimage"]
                m["numUpdatedRows"] = str(upd)
                if complete:
                    m["numCopiedRows"] = str(rows - upd)
        elif op == "MERGE":
            m["numTargetFilesAdded"] = str(len(adds))
            m["numTargetFilesRemoved"] = str(n_removed)
            ins = cc.get("insert", 0)
            upd = cc.get("update_postimage", 0)
            m["numTargetRowsInserted"] = str(ins)
            m["numTargetRowsUpdated"] = str(upd)
            m["numTargetRowsDeleted"] = str(cc.get("delete", 0))
            if complete:
                m["numTargetRowsCopied"] = str(rows - ins - upd)
                m["numOutputRows"] = str(rows)
        else:  # generic fallback (restore, clone, ...)
            m["numAddedFiles"] = str(len(adds))
            m["numRemovedFiles"] = str(n_removed)
            if complete:
                m["numOutputRows"] = str(rows)
        if cdc:
            m["numAddedChangeFiles"] = str(len(cdc))
        if dvs:
            m["numDeletionVectorsAdded"] = str(dvs)
        return m

    def _with_row_lineage(self, spark, adds, df, mat_id, mat_ver):
        """Resolve per-row (row id, commit version) on a lineage frame
        (__file/__pos present, materialized columns scanned): the
        MATERIALIZED value wins; the default is baseRowId + __pos and
        defaultRowCommitVersion off the add action, joined in by file
        basename — a broadcast O(live files) frame, never a shuffle.
        __pos is the physical row index, so ids stay stable under DV
        deletes (survivors keep their positions). Returns df with
        mat_id/mat_ver replaced by the resolved values.

        The basename join requires UNIQUE basenames across ``adds`` —
        a foreign/converted layout where two partition dirs share one
        basename would fan the join out (duplicated rows, wrong ids,
        and OPTIMIZE would persist the duplicates). _rel_of_base_map
        enforces that loudly, same as every DML planning path."""
        self._rel_of_base_map(adds)
        rows = [
            (
                self._basename_of_add_path(p),
                a.get("baseRowId"),
                a.get("defaultRowCommitVersion"),
            )
            for p, a in adds.items()
        ]
        bmap = spark.createDataFrame(
            rows, "__rt_file string, __rt_base bigint, __rt_ver bigint"
        )
        return (
            df.join(
                F.broadcast(bmap),
                F.col("__file") == F.col("__rt_file"),
                "left",
            )
            .withColumn(
                mat_id,
                F.coalesce(F.col(mat_id), F.col("__rt_base") + F.col("__pos")),
            )
            .withColumn(
                mat_ver, F.coalesce(F.col(mat_ver), F.col("__rt_ver"))
            )
            .drop("__rt_file", "__rt_base", "__rt_ver")
        )

    def read_with_row_ids(self, spark) -> DataFrame:
        """Snapshot read surfacing `_row_id` / `_row_commit_version`
        metadata columns (delta-spark's row-tracking read): stable per
        logical row across OPTIMIZE, DV deletes and copy-on-write DML —
        materialized lineage preferred, baseRowId + row_index default
        otherwise (the spec's coalesce rule)."""
        rt = self._row_tracking_cfg()
        if rt is None:
            raise ValueError(
                "row tracking is not enabled on this table "
                "(delta.enableRowTracking); call enable_row_tracking()"
            )
        mat_id, mat_ver = rt
        adds = self.snapshot_adds()
        s = self.schema()
        if not adds:
            return (
                spark.createDataFrame([], s)
                .withColumn("_row_id", F.lit(None).cast("long"))
                .withColumn("_row_commit_version", F.lit(None).cast("long"))
            )
        df = self._read_adds(
            spark, adds, with_lineage=True, extra_long_cols=(mat_id, mat_ver)
        )
        df = self._with_row_lineage(spark, adds, df, mat_id, mat_ver)
        return df.select(
            *[f.name for f in s.fields],
            F.col(mat_id).alias("_row_id"),
            F.col(mat_ver).alias("_row_commit_version"),
        )

    def _read_adds_materialized(self, spark, adds: dict[str, dict]):
        """The REWRITE-side read for row-tracking tables: the frame
        carries the materialized lineage columns populated for every
        row, so any rewrite that stages it (OPTIMIZE, copy-on-write
        DML survivors) physically persists the ids — rows keep their
        identity across files, per the spec's preservation rule.
        Returns (frame, (mat_id, mat_ver)) — or (plain DV-aware read,
        None) when tracking is off, so rewrite paths call this
        unconditionally."""
        rt = self._row_tracking_cfg()
        if rt is None:
            return self._read_adds(spark, adds), None
        mat_id, mat_ver = rt
        df = self._read_adds(
            spark, adds, with_lineage=True, extra_long_cols=(mat_id, mat_ver)
        )
        df = self._with_row_lineage(spark, adds, df, mat_id, mat_ver)
        return df.drop("__file", "__pos"), rt

    @_occ_retry
    def set_properties(self, props: dict[str, str]) -> int:
        """ALTER TABLE SET TBLPROPERTIES: a new metaData action whose
        configuration carries the given keys (pure metadata commit) —
        how `delta.appendOnly`, retention windows, and other table
        behaviors are switched on after creation. The same
        compare-under-lock precondition as add_constraint: a
        concurrent metadata commit aborts instead of being erased."""
        base = self._metadata_dict()
        if base is None:
            raise ValueError("cannot set properties on a table with no metaData")
        fmts_raw = props.get("delta.universalFormat.enabledFormats")
        if fmts_raw is not None:
            # validate BEFORE the property is durable: a table a
            # UniForm writer cannot represent (unmappable type, DVs)
            # — or a format no writer exists for — must refuse HERE;
            # enabling first would make the post-commit hook poison
            # every later commit
            fmts = [f.strip() for f in fmts_raw.split(",") if f.strip()]
            unknown = [f for f in fmts if f not in ("iceberg", "hudi")]
            if unknown:
                raise ValueError(
                    "delta.universalFormat.enabledFormats names "
                    f"unsupported format(s) {unknown} (iceberg, hudi "
                    "are supported)"
                )
            if "iceberg" in fmts:
                from deltasink_spark import uniform

                uniform.validate_table(self, pending=props)
            if "hudi" in fmts:
                from deltasink_spark import hudi

                hudi.validate_table(self, pending=props)
        if "delta.dataSkippingStatsColumns" in props:
            self._validate_stats_columns(
                props["delta.dataSkippingStatsColumns"]
            )
        meta = dict(base)
        cfg = dict(meta.get("configuration") or {})
        cfg.update(props)
        meta["configuration"] = cfg
        actions: list[dict] = [{"metaData": meta}]
        if (
            props.get("delta.enableIcebergCompatV2") or ""
        ).lower() == "true" and "icebergCompatV2" not in (
            (self._protocol_dict() or {}).get("writerFeatures") or ()
        ):
            # delta-spark ledgers icebergCompatV2 as a WRITER table
            # feature in the enabling commit — a legacy writer that
            # doesn't keep the Iceberg metadata in sync (or respect
            # the compat invariants) must be gated out
            actions.insert(
                0,
                {
                    "protocol": self._upgraded_protocol(
                        writer_features=("icebergCompatV2",)
                    )
                },
            )
        actions.append(
            {
                "commitInfo": {
                    "timestamp": _now_ms(),
                    "operation": "SET TBLPROPERTIES",
                    "operationParameters": {
                        "properties": json.dumps(props, sort_keys=True)
                    },
                }
            }
        )
        v = self._commit(
            actions,
            precondition=lambda: self._metadata_dict() == base,
        )
        if v is None:
            raise MetadataChangedError(
                "table metaData changed while setting properties; retry"
            )
        return v

    @_occ_retry
    def unset_properties(
        self, keys: list[str] | tuple[str, ...], if_exists: bool = False
    ) -> int:
        """ALTER TABLE ... UNSET TBLPROPERTIES: remove configuration
        keys in a new metaData commit. A missing key raises (delta's
        unset-non-existent error) unless ``if_exists``. Guards the
        feature-backed keys whose removal would silently change a
        ledgered feature's behavior: the checkpointProtection horizon
        must leave via DROP FEATURE (removing just the property would
        zero the horizon while the feature still claims protection),
        and icebergCompatV2 cannot be unset while the iceberg UniForm
        target carries deletion vectors (their position-delete
        representation depends on it)."""
        base = self._metadata_dict()
        if base is None:
            raise ValueError(
                "cannot unset properties on a table with no metaData"
            )
        cfg = dict(base.get("configuration") or {})
        missing = [k for k in keys if k not in cfg]
        if missing and not if_exists:
            raise ValueError(
                f"cannot unset non-existent propert{'ies' if len(missing) > 1 else 'y'} "
                f"{missing} (pass if_exists=True to ignore)"
            )
        proto = self._protocol_dict() or {}
        wf = set(proto.get("writerFeatures") or ())
        if (
            "delta.requireCheckpointProtectionBeforeVersion" in keys
            and "checkpointProtection" in wf
        ):
            raise ValueError(
                "cannot unset delta.requireCheckpointProtectionBefore"
                "Version while the checkpointProtection feature is "
                "ledgered — DROP FEATURE removes both together"
            )
        if (
            "delta.enableIcebergCompatV2" in keys
            and "iceberg"
            in (cfg.get("delta.universalFormat.enabledFormats") or "")
            and any(
                a.get("deletionVector")
                for a in self.snapshot_adds().values()
            )
        ):
            raise ValueError(
                "cannot unset delta.enableIcebergCompatV2 while the "
                "iceberg UniForm target carries deletion vectors — "
                "purge DVs (OPTIMIZE) first"
            )
        meta = dict(base)
        meta["configuration"] = {
            k: v for k, v in cfg.items() if k not in set(keys)
        }
        v = self._commit(
            [
                {"metaData": meta},
                {
                    "commitInfo": {
                        "timestamp": _now_ms(),
                        "operation": "UNSET TBLPROPERTIES",
                        "operationParameters": {
                            "properties": json.dumps(
                                sorted(keys), sort_keys=True
                            )
                        },
                    }
                },
            ],
            precondition=lambda: self._metadata_dict() == base,
        )
        if v is None:
            raise MetadataChangedError(
                "table metaData changed while unsetting properties; retry"
            )
        return v

    def drop_feature(self, spark, feature: str) -> int:
        """ALTER TABLE ... DROP FEATURE (the protocol DOWNGRADE path —
        how a table enabled with a feature its other clients cannot
        read becomes readable again). Supported, each with its spec
        purge:

        - ``deletionVectors``: DV-carrying files are REWRITTEN through
          the DV-aware read first (REORG ... APPLY (PURGE),
          dataChange=false — CDF readers skip it), then the feature is
          delisted both sides.
        - ``typeWidening``: every live file re-stages at the current
          (widened) types and each field's delta.typeChanges metadata
          is stripped, then the feature is delisted.
        - ``rowTracking``: the delta.rowTracking domain is tombstoned
          and the enablement/materialized-name properties removed
          (writer-only feature; existing optional add fields are
          harmless to any reader).
        - ``checkpointProtection``: droppable only once the protected
          history is fully truncated (earliest retained commit at or
          past `requireCheckpointProtectionBeforeVersion` — the
          spec's truncate-history requirement); the property leaves
          with the feature.

        After the downgrade a CHECKPOINT is written so clients folding
        checkpoint + tail never replay a pre-drop action. CAVEAT
        (documented, the conservative reading of the spec's
        TRUNCATE-HISTORY requirement): commits BELOW the drop still
        contain the feature's actions — a foreign reader time-traveling
        below it needs the feature; run cleanup_log past the retention
        window to retire that history."""
        base = self._protocol_dict() or {}
        rf = set(base.get("readerFeatures") or ())
        wf = set(base.get("writerFeatures") or ())
        if feature not in rf | wf:
            raise ValueError(
                f"feature {feature!r} is not ledgered on this table"
            )
        meta_action: list[dict] = []
        dom_action: list[dict] = []
        base_meta = self._metadata_dict()
        if feature == "deletionVectors":
            dv_adds = {
                p: a
                for p, a in self.snapshot_adds().items()
                if a.get("deletionVector")
            }
            if dv_adds:
                df, _rt = self._read_adds_materialized(spark, dv_adds)
                adds = self._stage_files(
                    df, partition_by=self.partition_columns()
                )
                now = _now_ms()
                actions = [
                    {"add": {**a, "dataChange": False}} for a in adds
                ]
                actions += [
                    {"remove": self._remove_action(p, dv_adds[p], now, False)}
                    for p in dv_adds
                ]
                actions.append(
                    {
                        "commitInfo": {
                            "timestamp": now,
                            "operation": "REORG TABLE (PURGE)",
                        }
                    }
                )
                if self._commit(actions, self._adds_unchanged(dv_adds)) is None:
                    raise ConcurrentDeleteReadError(
                        "a concurrent commit rewrote files this PURGE "
                        "targets; retry"
                    )
        elif feature == "typeWidening":
            if self.snapshot_adds():
                # re-stage every file at the CURRENT (widened) physical
                # types — after the drop no reader may be asked to
                # up-promote a narrow file
                self.optimize(spark)
            from pyspark.sql.types import StructField

            meta = dict(base_meta)
            s = StructType.fromJson(json.loads(meta["schemaString"]))
            meta["schemaString"] = StructType(
                [
                    StructField(
                        f.name,
                        f.dataType,
                        f.nullable,
                        {
                            k: v
                            for k, v in (f.metadata or {}).items()
                            if k != "delta.typeChanges"
                        },
                    )
                    for f in s.fields
                ]
            ).json()
            meta_action = [{"metaData": meta}]
        elif feature == "rowTracking":
            meta = dict(base_meta)
            meta["configuration"] = {
                k: v
                for k, v in (meta.get("configuration") or {}).items()
                if k != "delta.enableRowTracking"
                and not k.startswith("delta.rowTracking.")
            }
            meta_action = [{"metaData": meta}]
            dom_action = [
                {
                    "domainMetadata": {
                        "domain": self._ROW_TRACKING_DOMAIN,
                        "configuration": "{}",
                        "removed": True,
                    }
                }
            ]
        elif feature == "checkpointProtection":
            # droppable only once no protected history remains (the
            # spec's truncate-history requirement): the earliest
            # retained commit must sit at or past the horizon —
            # otherwise a post-drop cleanup could partially truncate
            # the region the feature was guarding
            n = self._checkpoint_protection_before()
            vf = self._version_files()
            earliest = vf[0][0] if vf else 0
            if earliest < n:
                raise ValueError(
                    "cannot drop checkpointProtection while protected "
                    f"history below version {n} remains (earliest "
                    f"retained commit is {earliest}); run cleanup_log "
                    "past the protected region first"
                )
            meta = dict(base_meta)
            meta["configuration"] = {
                k: v
                for k, v in (meta.get("configuration") or {}).items()
                if k != "delta.requireCheckpointProtectionBeforeVersion"
            }
            meta_action = [{"metaData": meta}]
        elif feature == "icebergCompatV2":
            cfg0 = (base_meta or {}).get("configuration") or {}
            if "iceberg" in (
                cfg0.get("delta.universalFormat.enabledFormats") or ""
            ) and any(
                a.get("deletionVector")
                for a in self.snapshot_adds().values()
            ):
                raise ValueError(
                    "cannot drop icebergCompatV2 while the iceberg "
                    "UniForm target carries deletion vectors (their "
                    "position-delete representation depends on it) — "
                    "purge DVs (OPTIMIZE) first"
                )
            meta = dict(base_meta)
            meta["configuration"] = {
                k: v
                for k, v in (meta.get("configuration") or {}).items()
                if k != "delta.enableIcebergCompatV2"
            }
            meta_action = [{"metaData": meta}]
        else:
            raise ValueError(
                f"dropping feature {feature!r} is not supported "
                "(deletionVectors, typeWidening, rowTracking, "
                "checkpointProtection, icebergCompatV2 are)"
            )
        proto = dict(self._protocol_dict() or {})
        nrf = sorted(set(proto.get("readerFeatures") or ()) - {feature})
        nwf = sorted(set(proto.get("writerFeatures") or ()) - {feature})
        new_proto: dict = {
            "minReaderVersion": proto.get("minReaderVersion", 1),
            "minWriterVersion": proto.get("minWriterVersion", 7),
        }
        if "writerFeatures" in proto:
            new_proto["writerFeatures"] = nwf
        if "readerFeatures" in proto:
            new_proto["readerFeatures"] = nrf
        actions = (
            [{"protocol": new_proto}]
            + meta_action
            + dom_action
            + [
                {
                    "commitInfo": {
                        "timestamp": _now_ms(),
                        "operation": "DROP FEATURE",
                        "operationParameters": {"feature": feature},
                    }
                }
            ]
        )
        pre_proto = self._protocol_dict()
        pre_meta = self._metadata_dict()

        def _pre() -> bool:
            if self._protocol_dict() != pre_proto or (
                meta_action and self._metadata_dict() != pre_meta
            ):
                raise MetadataChangedError(
                    "protocol/metaData changed while dropping the "
                    "feature; retry"
                )
            return True

        v = self._commit(actions, _pre)
        if v is None:
            raise MetadataChangedError(
                "concurrent commit while dropping the feature; retry"
            )
        self.checkpoint()  # the post-drop anchor foreign readers fold from
        return v

    def _upgraded_protocol(
        self,
        reader_features: tuple[str, ...] = (),
        writer_features: tuple[str, ...] = (),
    ) -> dict:
        """The current protocol RAISED to table-features form with the
        given features ADDED — never a wholesale replacement: at
        (3, 7) only LISTED features are active for a spec-compliant
        external client, so dropping the features another enabler
        ledgered (v2Checkpoint, domainMetadata, columnMapping...) would
        silently deactivate them. A LEGACY protocol's implied
        capabilities ride along explicitly (the enable_ict discipline,
        per the spec's version→feature table), and a legacy reader-2
        (column mapping) carries columnMapping into readerFeatures."""
        proto = dict(self._protocol_dict() or _PROTOCOL)
        rf = set(proto.get("readerFeatures") or [])
        wf = set(proto.get("writerFeatures") or [])
        if "writerFeatures" not in proto:
            mwv = proto.get("minWriterVersion", 1)
            legacy_w = {
                2: {"appendOnly", "invariants"},
                3: {"checkConstraints"},
                4: {"changeDataFeed", "generatedColumns"},
                5: {"columnMapping"},
                6: {"identityColumns"},
            }
            for lvl, feats in legacy_w.items():
                if mwv >= lvl:
                    wf |= feats
        if "readerFeatures" not in proto and proto.get("minReaderVersion", 1) >= 2:
            rf |= {"columnMapping"}
        rf |= set(reader_features)
        wf |= set(writer_features)
        # a reader feature must be listed writer-side too (spec rule)
        wf |= rf
        out: dict = {"minWriterVersion": 7, "writerFeatures": sorted(wf)}
        if rf:
            out["minReaderVersion"] = 3
            out["readerFeatures"] = sorted(rf)
        else:
            out["minReaderVersion"] = proto.get("minReaderVersion", 1)
        return out

    def _check_read_protocol(self) -> None:
        """Reader-side protocol gate (PROTOCOL.md's rule: a client
        MUST refuse to read a table whose minReaderVersion exceeds
        what it supports, or — at version 3 — whose readerFeatures
        contain anything it does not implement). Enforced on every
        read surface; unknown WRITER features do not block reads
        (delta-spark's behavior). A plain check of the snapshot's
        protocol: the snapshot re-lists the log on every call, so a
        protocol a racer ledgered is seen at the next gate."""
        p = self._snapshot().protocol
        if p is None:
            return
        mrv = p.get("minReaderVersion", 1)
        if mrv > _MAX_READER_VERSION:
            raise ValueError(
                f"cannot read table: minReaderVersion {mrv} exceeds "
                f"supported {_MAX_READER_VERSION}"
            )
        if mrv >= 3:
            unknown = set(p.get("readerFeatures") or ()) - _SUPPORTED_READER_FEATURES
            if unknown:
                raise ValueError(
                    "cannot read table: unsupported reader feature(s) "
                    f"{sorted(unknown)} (supported: "
                    f"{sorted(_SUPPORTED_READER_FEATURES)})"
                )

    def _check_write_protocol(self) -> None:
        """Writer-side protocol gate: refuse to COMMIT to a table whose
        minWriterVersion or writerFeatures demand behavior this engine
        does not implement — writing around an unknown feature corrupts
        whatever invariant that feature maintains. Runs in the single
        commit funnel (_commit) BOTH outside the lock (fast fail) and
        again under it (a racer's protocol upgrade between gate and
        lock must not be written around). Like the read gate, a plain
        check of the current snapshot's protocol and configuration.

        COORDINATED-COMMITS ownership gate (the catalogManaged rule):
        a table whose configuration names a commit coordinator is
        OWNED — its log tail lives with the coordinator, so a plain
        filesystem writer that put-if-absent'ed version N directly
        could land beside a coordinator-owned N with different
        content (split brain, both 'durable'). Such writers refuse
        here; reads stay open (a filesystem reader legitimately sees
        the backfilled prefix)."""
        self._check_read_protocol()
        snap = self._snapshot()
        cfg = (snap.metadata or {}).get("configuration") or {}
        coord = cfg.get(
            "delta.coordinatedCommits.commitCoordinator-preview"
        ) or cfg.get("delta.coordinatedCommits.commitCoordinator")
        if coord and not isinstance(self._store, CoordinatedLogStore):
            raise ValueError(
                f"table is owned by commit coordinator "
                f"{coord!r}; a filesystem writer must not "
                "commit directly — open it with a CoordinatedLogStore "
                "(reads of the backfilled prefix remain allowed)"
            )
        p = snap.protocol
        if p is None:
            return
        mwv = p.get("minWriterVersion", 1)
        if mwv > _MAX_WRITER_VERSION:
            raise ValueError(
                f"cannot write table: minWriterVersion {mwv} exceeds "
                f"supported {_MAX_WRITER_VERSION}"
            )
        if mwv >= 7:
            unknown = set(p.get("writerFeatures") or ()) - _SUPPORTED_WRITER_FEATURES
            if unknown:
                raise ValueError(
                    "cannot write table: unsupported writer feature(s) "
                    f"{sorted(unknown)} (supported: "
                    f"{sorted(_SUPPORTED_WRITER_FEATURES)})"
                )

    def _forbid_append_only(self, verb: str) -> None:
        """`delta.appendOnly=true` (the appendOnly writer feature):
        every commit that deletes or rewrites existing rows is REFUSED
        — DELETE, UPDATE, MERGE, RESTORE, replaceWhere and DV deletes
        all raise; appends and layout-only OPTIMIZE stay allowed (the
        spec constrains dataChange removes, not bytes moving)."""
        m = self._metadata_dict() or {}
        if (m.get("configuration") or {}).get("delta.appendOnly") == "true":
            raise ValueError(
                f"table is append-only (delta.appendOnly=true): {verb} "
                "would delete or rewrite existing rows"
            )

    # --- public DML ---------------------------------------------------------

    def _widen_schema_meta(self, extra, base: dict | None = None) -> dict:
        """The metaData action for a schema WIDENED by ``extra`` fields
        (Delta's mergeSchema evolution, shared by append and MERGE):
        same table id, new schemaString. Column-mapping aware — on a
        mapped table every new field gets a fresh stable id + a uuid
        physical name (the spec's rule: the logical name must stay
        freely renamable later)."""
        from pyspark.sql.types import StructField

        base = self._metadata_dict() if base is None else base
        cur_schema = StructType.fromJson(json.loads(base["schemaString"]))
        cfg = dict(base.get("configuration") or {})
        # evolution-added columns are ALWAYS nullable (delta-spark's
        # rule): every file written before this commit lacks them and
        # must legally surface them as null — inheriting a
        # non-nullable flag from the input frame (e.g. a lit()
        # expression) would make reading the table's own history a
        # constraint violation
        extra = [
            StructField(f.name, f.dataType, True, f.metadata)
            for f in extra
        ]
        if cfg.get("delta.columnMapping.mode") in ("name", "id"):
            maxid = int(cfg.get("delta.columnMapping.maxColumnId", "0"))
            extra = [
                StructField(
                    f.name,
                    f.dataType,
                    True,
                    {
                        **(f.metadata or {}),
                        "delta.columnMapping.id": maxid + i,
                        "delta.columnMapping.physicalName":
                            f"col-{uuid.uuid4().hex[:8]}",
                    },
                )
                for i, f in enumerate(extra, 1)
            ]
            cfg["delta.columnMapping.maxColumnId"] = str(maxid + len(extra))
        widened = StructType(list(cur_schema.fields) + list(extra))
        evolved_meta = dict(base)
        evolved_meta["schemaString"] = widened.json()
        evolved_meta["configuration"] = cfg
        return evolved_meta

    @staticmethod
    def _widen_types_meta(
        widen: list[tuple[str, str, str]], base: dict
    ) -> dict:
        """The metaData action for TYPE-WIDENED columns (the
        `delta.typeWidening` table feature): each (name, fromType,
        toType) rewrites the field's type in schemaString and appends
        the change to the field's `delta.typeChanges` metadata — the
        record a foreign reader uses to know the old files' narrower
        physical type is intentional. Files are never rewritten; the
        parquet reader up-promotes them to the log schema."""
        from pyspark.sql.types import (
            ByteType,
            DoubleType,
            FloatType,
            IntegerType,
            LongType,
            ShortType,
            StructField,
        )

        of_name = {
            "byte": ByteType(),
            "short": ShortType(),
            "integer": IntegerType(),
            "long": LongType(),
            "float": FloatType(),
            "double": DoubleType(),
        }
        cur = StructType.fromJson(json.loads(base["schemaString"]))
        by = {f.name: f for f in cur.fields}
        for name, from_t, to_t in widen:
            f = by[name]
            md = dict(f.metadata or {})
            changes = list(md.get("delta.typeChanges") or [])
            changes.append({"fromType": from_t, "toType": to_t})
            md["delta.typeChanges"] = changes
            by[name] = StructField(name, of_name[to_t], f.nullable, md)
        meta = dict(base)
        meta["schemaString"] = StructType(
            [by[f.name] for f in cur.fields]
        ).json()
        return meta

    @_occ_retry
    def append(
        self,
        df: DataFrame,
        app_id: str | None = None,
        txn_version: int | None = None,
        partition_by: tuple[str, ...] = (),
        merge_schema: bool = False,
        generated: dict[str, str] | None = None,
        identity: dict[str, dict] | None = None,
        column_mapping_mode: str | None = None,
    ) -> int | None:
        """Append ``df`` as one commit. With (app_id, txn_version) the
        commit is idempotent: a version at or below the appId's ledgered
        high-water mark is SKIPPED (returns None) — Delta's `txn` action
        exactly-once contract, the foreachBatch replay guard.
        ``partition_by`` declares the table's Hive-style partitioning on
        the FIRST commit; later appends inherit it automatically (and a
        conflicting redeclaration raises — partitioning is a table
        property, not a write option). Add actions carry partitionValues
        so readers prune partitions from LOG METADATA alone.

        Schema ENFORCEMENT + EVOLUTION (Delta's write contract): a df
        carrying columns the table schema lacks is REJECTED unless
        ``merge_schema=True``, which commits a NEW metaData action with
        the widened schemaString (same table id) in the same commit —
        readers impose the log schema, so pre-widening files surface
        the new columns as null.

        ``generated`` declares GENERATED COLUMNS on the first commit
        (name -> SQL expression, the spec's delta.generationExpression
        field metadata): a writer omitting the column gets it computed,
        a writer providing it is validated against the expression
        (mismatch rejects the write) — which is what makes a generated
        partition column trustworthy for pruning forever after."""
        if column_mapping_mode is not None:
            # columnMapping mode "id" exists only from CREATION: an
            # existing table's files carry no parquet field ids, so an
            # upgrade could never resolve them by id (delta's rule —
            # upgrades go to mode "name" via enable_column_mapping)
            if column_mapping_mode != "id":
                raise ValueError(
                    "only column mapping mode 'id' is declared at "
                    "creation; upgrade existing tables with "
                    "enable_column_mapping() (mode 'name')"
                )
            if self.latest_version() >= 0:
                raise ValueError(
                    "column mapping mode 'id' is declared on the FIRST "
                    "commit (Delta: id mode only at table creation)"
                )
        if generated:
            if self.latest_version() >= 0:
                raise ValueError(
                    "generated columns are declared on the FIRST commit "
                    "(Delta: only at table creation)"
                )
            for name, expr_sql in generated.items():
                if name not in df.columns:
                    df = df.withColumn(name, F.expr(expr_sql))
                else:
                    # the creation write is validated like every later
                    # one — otherwise version 0 poisons the very
                    # partition dirs the feature makes trustworthy
                    bad = df.filter(
                        ~F.col(name).eqNullSafe(F.expr(expr_sql))
                    ).limit(1)
                    if bad.count():
                        raise ValueError(
                            f"generated column {name} was provided with "
                            f"values that do not match its expression "
                            f"({expr_sql}); Delta rejects the write"
                        )
        first_identity_high: dict[str, int] = {}
        if identity:
            # GENERATED ALWAYS AS IDENTITY, declared at creation
            # (Delta: identity columns only at table creation)
            if self.latest_version() >= 0:
                raise ValueError(
                    "identity columns are declared on the FIRST commit"
                )
            df, first_identity_high = self._assign_identity_values(
                df, identity
            )
        if app_id is not None and txn_version is not None:
            # early replay check (nothing staged yet); the
            # authoritative re-check runs under the commit lock below
            if txn_version <= self.txn_versions().get(app_id, -1):
                return None
        existing_pb = self.partition_columns() if self.latest_version() >= 0 else None
        if existing_pb is not None:
            if partition_by and tuple(partition_by) != existing_pb:
                raise ValueError(
                    f"table is partitioned by {existing_pb}, cannot append "
                    f"with partition_by={tuple(partition_by)}"
                )
            partition_by = existing_pb
        evolved_meta = None
        evolve_base = None
        widen_upgrade: list[dict] = []
        base_proto_tw = None
        cur_schema = self.schema()
        if cur_schema is not None:
            have = {f.name for f in cur_schema.fields}
            cur_by = {f.name: f for f in cur_schema.fields}
            extra = [f for f in df.schema.fields if f.name not in have]
            # TYPE enforcement on shared columns: a NARROWER input is
            # upcast to the table type (Delta casts writes to the
            # schema), a WIDER input is TYPE WIDENING (delta's
            # typeWidening feature, merge_schema-gated), anything else
            # is a rejected mismatch — silently staging files whose
            # physical type contradicts the log schema would poison
            # every future read
            widen: list[tuple[str, str, str]] = []
            for f in df.schema.fields:
                if f.name not in cur_by:
                    continue
                td = cur_by[f.name].dataType
                if f.dataType == td:
                    continue
                dt, tt = f.dataType.typeName(), td.typeName()
                if (dt, tt) in _TYPE_WIDENINGS:
                    df = df.withColumn(f.name, F.col(f.name).cast(td))
                elif (tt, dt) in _TYPE_WIDENINGS:
                    widen.append((f.name, tt, dt))
                else:
                    raise ValueError(
                        f"schema mismatch: column {f.name} is {tt} in "
                        f"the table but {dt} in the write, and that is "
                        "not a supported type widening"
                    )
            if extra or widen:
                if not merge_schema:
                    what = [f.name for f in extra] + [w[0] for w in widen]
                    raise ValueError(
                        f"schema mismatch: df carries new/widened columns "
                        f"{what} the table lacks; pass merge_schema=True "
                        "to evolve (Delta's write enforcement)"
                    )
                evolve_base = self._metadata_dict()
                evolved_meta = evolve_base
                if extra:
                    evolved_meta = self._widen_schema_meta(
                        extra, evolved_meta
                    )
                need_feats: set[str] = set()
                if widen:
                    evolved_meta = self._widen_types_meta(
                        widen, evolved_meta
                    )
                    need_feats.add("typeWidening")
                if extra:
                    # a new TIMESTAMP_NTZ / VARIANT column gates the
                    # whole table on its type feature from this commit
                    need_feats.update(
                        _type_features_of_struct(
                            StructType([f for f in extra])
                        )
                    )
                base_proto_tw = self._protocol_dict()
                need_feats -= set(
                    (base_proto_tw or {}).get("writerFeatures") or ()
                )
                if need_feats:
                    # reader AND writer features, ONE upgrade action
                    # (two protocol actions in a commit would fold to
                    # the last): old files stay narrow / pre-widening,
                    # so every reader must understand the promotion
                    # before it can fold this table
                    nf = tuple(sorted(need_feats))
                    widen_upgrade.append(
                        {
                            "protocol": self._upgraded_protocol(
                                reader_features=nf, writer_features=nf
                            )
                        }
                    )
        df = self._apply_generated(df)
        df = self._apply_defaults(df)
        id_meta = None
        id_high: dict[str, int] = {}
        id_base = None
        if not identity and self.latest_version() >= 0:
            id_base = self._metadata_dict()
            df, id_high = self._assign_identity(df)
            id_meta = self._identity_meta_update(
                id_high, base_meta=evolved_meta
            )
            if id_meta is not None and evolved_meta is not None:
                evolved_meta = id_meta  # one metaData action carries both
                id_meta = None
        self._enforce_constraints(df)
        stage_mapping = None
        stage_field_ids = None
        cm_mint = None
        if evolved_meta is not None and (
            evolved_meta.get("configuration") or {}
        ).get("delta.columnMapping.mode") in ("name", "id"):
            ev_fields = StructType.fromJson(
                json.loads(evolved_meta["schemaString"])
            ).fields
            stage_mapping = {
                f.name: (f.metadata or {}).get(
                    "delta.columnMapping.physicalName", f.name
                )
                for f in ev_fields
            }
            if (
                evolved_meta.get("configuration") or {}
            ).get("delta.columnMapping.mode") == "id":
                # evolving an id-mode table: stage under the ids the
                # evolved metaData is about to publish
                stage_field_ids = {
                    (f.metadata or {}).get(
                        "delta.columnMapping.physicalName", f.name
                    ): int((f.metadata or {})["delta.columnMapping.id"])
                    for f in ev_fields
                    if "delta.columnMapping.id" in (f.metadata or {})
                }
        elif column_mapping_mode == "id":
            # creation: mint stable ids + uuid physical names ONCE —
            # staging stamps them as parquet field ids, the version-0
            # metaData publishes the identical mapping
            cm_mint = {
                f.name: (i, f"col-{uuid.uuid4().hex}")
                for i, f in enumerate(df.schema.fields, start=1)
            }
            stage_mapping = {n: p for n, (_i, p) in cm_mint.items()}
            stage_field_ids = {p: i for _n, (i, p) in cm_mint.items()}
        if (app_id is not None and txn_version is not None) or (
            (self._metadata_dict() or {}).get("configuration") or {}
        ).get("delta.autoOptimize.optimizeWrite") == "true":
            # a txn-keyed append is a streaming micro-batch commit: one
            # bin-packed file (per touched partition) instead of one
            # per upstream shuffle task, so each commit's fixed file
            # cost stays constant
            df = self._optimize_write(df, tuple(partition_by))
        adds = self._stage_files(
            df,
            partition_by=tuple(partition_by),
            mapping=stage_mapping,
            field_ids=stage_field_ids,
        )
        actions: list[dict] = list(widen_upgrade)
        if evolved_meta is not None:
            actions.append({"metaData": evolved_meta})
        elif id_meta is not None:
            actions.append({"metaData": id_meta})
        if app_id is not None and txn_version is not None:
            actions.append(
                {"txn": {"appId": app_id, "version": txn_version,
                         "lastUpdated": _now_ms()}}
            )
        actions += [{"add": a} for a in adds]
        actions.append(
            {
                "commitInfo": {
                    "timestamp": _now_ms(),
                    "operation": "WRITE",
                    "operationParameters": {"mode": "Append"},
                    "operationMetrics": self._op_metrics(adds, write=True),
                }
            }
        )
        checks = []
        if app_id is not None and txn_version is not None:
            # Re-validate the txn high-water mark UNDER the commit lock:
            # a concurrent same-appId writer may have ledgered this
            # version while our data files were being staged (the
            # write_batch re-check discipline). Aborting leaves the
            # staged uuid files unreferenced — invisible garbage.
            checks.append(
                lambda: txn_version
                > self.txn_versions().get(app_id, -1)
            )
        if evolved_meta is not None:
            # the widened metaData was derived from evolve_base: a
            # concurrent metadata commit (a constraint, another
            # widening) in between must not be silently overwritten.
            # RAISE rather than return None — None means "replay
            # skipped" to this method's callers, which this is not
            def _meta_unchanged() -> bool:
                if self._metadata_dict() != evolve_base:
                    raise MetadataChangedError(
                        "table metaData changed while evolving the "
                        "schema; retry the append"
                    )
                return True

            checks.append(_meta_unchanged)
        if widen_upgrade:
            # committing a stale protocol upgrade would erase features
            # a concurrent enabler ledgered in between
            def _proto_unchanged() -> bool:
                if self._protocol_dict() != base_proto_tw:
                    raise MetadataChangedError(
                        "protocol changed while this append was ledgering "
                        "table features; retry the append"
                    )
                return True

            checks.append(_proto_unchanged)
        if id_high:
            # the assigned identity values extend id_base's high-water
            # mark: a concurrent identity append in between would hand
            # out the SAME ids (and committing our stale metaData would
            # clobber its mark) — abort and retry instead
            def _id_base_unchanged() -> bool:
                if self._metadata_dict() != id_base:
                    raise MetadataChangedError(
                        "identity high-water mark moved concurrently; "
                        "retry the append"
                    )
                return True

            checks.append(_id_base_unchanged)
        if cur_schema is None:
            # we planned against an EMPTY table: no schema enforcement
            # ran and partition_by is OUR declaration. If a concurrent
            # first append wins version 0 before this commit, the lock
            # decides we land at version 1 — so re-validate UNDER the
            # lock that our staged layout matches the winner's
            # metaData; committing adds whose partitionValues/columns
            # contradict it would silently corrupt the table.
            planned_pb = tuple(partition_by)
            df_fields = {
                f.name: f.dataType.simpleString() for f in df.schema.fields
            }

            def _first_commit_race() -> bool:
                if self.latest_version() < 0:
                    return True  # still empty — we win version 0
                if generated or identity or column_mapping_mode:
                    raise MetadataChangedError(
                        "a concurrent first append won version 0; "
                        "generated/identity columns and column mapping "
                        "mode can only be declared at table creation — "
                        "retry without them"
                    )
                if self.identity_columns() or self.generated_columns():
                    raise MetadataChangedError(
                        "a concurrent first append created the table with "
                        "identity/generated columns this write did not "
                        "assign or validate; retry the append"
                    )
                winner_pb = self.partition_columns()
                if winner_pb != planned_pb:
                    raise MetadataChangedError(
                        f"a concurrent first append created the table "
                        f"partitioned by {winner_pb}, this write staged "
                        f"{planned_pb}; retry the append"
                    )
                s = self.schema()
                have = {
                    f.name: f.dataType.simpleString()
                    for f in (s.fields if s is not None else [])
                }
                bad = [
                    n
                    for n, t in df_fields.items()
                    if n not in have or have[n] != t
                ]
                if bad:
                    raise MetadataChangedError(
                        f"a concurrent first append created the table with "
                        f"a schema that does not cover columns {bad}; "
                        "retry the append against it"
                    )
                return True

            checks.append(_first_commit_race)
        precondition = (
            (lambda: all(c() for c in checks)) if checks else None
        )

        # protocol+metaData ride along and are prepended only if this
        # commit WINS version 0 (decided under the lock — two racing
        # first appends must not both ledger a table identity)
        v = self._commit(
            actions,
            precondition,
            first_commit_actions=self._metadata_actions(
                df,
                tuple(partition_by),
                generated=generated,
                identity=identity,
                identity_high=first_identity_high,
                column_mapping_mint=cm_mint,
            ),
        )
        if v is not None:
            # post-commit hook, AFTER the ingest is durable; a no-op
            # unless delta.autoOptimize.autoCompact is on, and never
            # raises a retryable into this append's OCC wrapper
            self.auto_compact(df.sparkSession)
        return v

    @_occ_retry
    def optimize(
        self,
        spark,
        target_files: int = 2,
        cluster_by: tuple[str, ...] = (),
        zorder_by: tuple[str, ...] = (),
        partitions: dict | None = None,
    ) -> int:
        """OPTIMIZE: rewrite the live snapshot as ``target_files``
        right-sized files (per partition on a partitioned table),
        committed as add+remove with dataChange=false (bytes move, no
        logical row changes — CDF readers skip the commit entirely).
        ``cluster_by`` is single-dimension range clustering: rows are
        range-partitioned and sorted on the keys, so every rewritten
        file's min/max stats become TIGHT and disjoint — the layout
        that makes read_where_stats skip instead of scan.
        ``zorder_by`` is OPTIMIZE ZORDER BY (delta-spark's
        multi-dimensional clustering): each numeric dimension is
        linearly bucketed into 2^10 cells between its global min/max
        (one broadcastable agg — no window, no global sort), the
        bucket bits INTERLEAVE into one Morton key, and the rewrite
        range-clusters + sorts on that key, which is then dropped —
        after it, a range predicate on ANY of the dimensions prunes
        to a narrow band of files instead of the fleet.

        ``partitions`` scopes the rewrite (OPTIMIZE ... WHERE on
        partition columns — how a 100 TB table is actually compacted:
        partition by partition, never the fleet at once): only files
        whose partitionValues match every given (column, value) pair
        are rewritten; everything else is untouched metadata and the
        concurrency precondition covers only the selected files, so
        parallel OPTIMIZEs of DIFFERENT partitions never conflict.

        Scale: the z-key is pure codegen bit arithmetic; clustering is
        repartitionByRange (sampled boundaries, one shuffle) +
        sortWithinPartitions — never a global sort."""
        if cluster_by and zorder_by:
            raise ValueError("cluster_by and zorder_by are mutually exclusive")
        if not cluster_by and not zorder_by:
            # liquid clustering: a parameterless OPTIMIZE on a
            # clustered table picks up the persisted CLUSTER BY state
            # (delta-spark's behavior) — one column range-clusters,
            # several take the z-order rewrite
            cc = self.cluster_columns()
            if len(cc) == 1:
                cluster_by = cc
            elif cc:
                zorder_by = cc
        adds_live = self.snapshot_adds()
        pb = self.partition_columns()
        if partitions:
            unknown = set(partitions) - set(pb)
            if unknown:
                raise ValueError(
                    f"OPTIMIZE WHERE targets non-partition column(s) "
                    f"{sorted(unknown)} (partitioned by {list(pb)})"
                )
            cm = self.column_mapping() or {}
            # None selects the NULL partition (partitionValues stores
            # null for it — str() would never match)
            want = {
                cm.get(k, k): (None if v is None else str(v))
                for k, v in partitions.items()
            }
            adds_live = {
                p: a
                for p, a in adds_live.items()
                if all(
                    (a.get("partitionValues") or {}).get(k) == v
                    for k, v in want.items()
                )
            }
        live = list(adds_live)
        if not live:
            raise ValueError("nothing to optimize")
        # DV-aware read: OPTIMIZE PURGES deletion vectors — the
        # rewrite materializes only surviving rows, so the new files
        # carry no DV (delta's OPTIMIZE ... behavior). On a
        # row-tracking table the frame carries the MATERIALIZED row
        # ids/commit versions, so compaction moves rows without
        # renaming them (the OPTIMIZE-preserves-ids rule).
        df, _rt = self._read_adds_materialized(spark, adds_live)
        if cluster_by:
            rewritten = df.repartitionByRange(
                target_files, *cluster_by
            ).sortWithinPartitions(*cluster_by)
        elif zorder_by:
            zb = 10
            hi = (1 << zb) - 1
            mm = df.agg(
                *[
                    f
                    for i, c in enumerate(zorder_by)
                    for f in (
                        F.min(F.col(c).cast("double")).alias(f"mn{i}"),
                        F.max(F.col(c).cast("double")).alias(f"mx{i}"),
                    )
                ]
            ).collect()[0]
            tmp = df
            for i, c in enumerate(zorder_by):
                mn = mm[f"mn{i}"]
                mx = mm[f"mx{i}"]
                if mn is None:  # all-null dimension: one bucket
                    mn, mx = 0.0, 0.0
                span = (mx - mn) or 1.0
                tmp = tmp.withColumn(
                    f"__zb{i}",
                    F.least(
                        F.lit(hi),
                        F.greatest(
                            F.lit(0),
                            (
                                (F.col(c).cast("double") - F.lit(mn))
                                * hi
                                / F.lit(span)
                            ).cast("long"),
                        ),
                    ),
                )
            k = len(zorder_by)
            zexpr = " + ".join(
                f"(shiftleft(shiftright(__zb{i}, {j}) & 1, {k * j + i}))"
                for j in range(zb)
                for i in range(k)
            )
            helpers = [f"__zb{i}" for i in range(k)]
            rewritten = (
                tmp.withColumn("__zkey", F.expr(zexpr))
                .repartitionByRange(target_files, "__zkey")
                .sortWithinPartitions("__zkey")
                .drop("__zkey", *helpers)
            )
        else:
            rewritten = df.repartition(target_files)
        adds = self._stage_files(rewritten, partition_by=pb)
        actions = self._optimize_commit_actions(
            adds,
            {p: adds_live[p] for p in live},
            {"zOrderBy": json.dumps(list(zorder_by))} if zorder_by else None,
        )
        v = self._commit(actions, self._adds_unchanged(adds_live))
        if v is None:
            raise ConcurrentDeleteReadError(
                "a concurrent commit rewrote part of this OPTIMIZE's "
                "snapshot; retry"
            )
        return v

    @staticmethod
    def _plan_bytes(df: DataFrame) -> int | None:
        """Catalyst's size estimate of ``df``'s optimized plan, or None
        when it has none (the Long.Max sentinel of RDD-backed frames)."""
        try:
            est = int(
                str(
                    df._jdf.queryExecution()
                    .optimizedPlan()
                    .stats()
                    .sizeInBytes()
                )
            )
        except Exception:
            return None
        return est if 0 < est < (1 << 50) else None

    def _optimize_write(
        self,
        df: DataFrame,
        pb: tuple[str, ...],
        bound_bytes: int | None = None,
    ) -> DataFrame:
        """delta.autoOptimize.optimizeWrite (delta-spark's optimized
        write): ONE pre-write shuffle that bin-packs the output so a
        micro-batch lands as few right-sized files instead of one tiny
        file per input task — the property that keeps continuous
        ingest from accreting thousands of small files per partition.
        The bin count comes from Catalyst's own plan-size estimate
        over the target bin size (delta-spark's
        optimizeWrite.binSize, default 128 MiB; overridable via the
        table property delta.autoOptimize.optimizeWrite.binSize) and
        is clamped to the session's shuffle parallelism — an unknown
        estimate (Catalyst's Long.Max default) must never explode the
        shuffle. On a partitioned table the shuffle keys on the
        partition columns, so each Hive partition's rows collapse into
        the fewest tasks and ~binSize files, exactly the adaptive
        shuffle delta-spark injects before the write.

        Whatever the property says, two kinds of write bin-pack
        through it, so each adds ceil(bytes / binSize) files, or one
        per touched partition, instead of one per upstream task:
        txn-keyed appends (every DeltaLogSink / foreachBatch
        micro-batch commit) and the row-level DML verbs (delete_where,
        update_where, update_where_dv, merge, merge_when and
        merge_scd2, through _stage_rewrite). The DML verbs pass
        ``bound_bytes``: the logged size of the files they rewrite,
        plus the source's estimate for a MERGE. It caps Catalyst's
        estimate and stands in for an unknown one; an append passes
        none."""
        cfg = (self._metadata_dict() or {}).get("configuration") or {}
        bin_size = int(
            cfg.get(
                "delta.autoOptimize.optimizeWrite.binSize",
                128 * 1024 * 1024,
            )
        )
        cap = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        est = self._plan_bytes(df)
        if bound_bytes is not None:
            # Catalyst's size-only estimate of an inner or outer join
            # is the PRODUCT of its sides: a MERGE's staged union reads
            # gigabytes for a few hundred KB of rows. A rewrite can
            # never stage more than it reads, so its bound caps the
            # estimate and stands in for an unknown one
            est = bound_bytes if est is None else min(est, bound_bytes)
        if est is None:
            # Catalyst couldn't estimate (Long.Max sentinel on
            # RDD-backed frames): shuffling to the session default
            # would SPREAD a tiny batch into hundreds of one-row
            # files — the opposite of optimized writes. Keep the
            # input's own partitioning; the post-commit auto compact
            # still bounds any accretion.
            return df
        n = max(1, min(-(-est // bin_size), cap))
        keys = [c for c in pb if c in df.columns]
        return df.repartition(n, *keys) if keys else df.repartition(n)

    def _stage_rewrite(
        self,
        df: DataFrame,
        rewritten: list[dict],
        source: DataFrame | None = None,
        mapping: dict[str, str] | None = None,
    ) -> list[dict]:
        """Stage a DML verb's output rows bin-packed (_optimize_write):
        they can hold no more than the ``rewritten`` files (their
        logged sizes) plus the ``source`` a MERGE brings in (its plan
        estimate), so that sum bounds the bin count."""
        pb = self.partition_columns()
        src_bytes = self._plan_bytes(source) if source is not None else None
        bound = self._bytes_of(rewritten) + (src_bytes or 0)
        return self._stage_files(
            self._optimize_write(df, pb, bound),
            partition_by=pb,
            mapping=mapping,
        )

    def auto_compact(self, spark) -> int | None:
        """delta.autoOptimize.autoCompact (delta-spark's auto
        compaction): the POST-COMMIT small-file check append runs when
        the property is on. Per partition, live files smaller than
        maxFileSize (128 MiB default) are counted from LOG METADATA
        alone — no file is opened — and any partition whose small-file
        count reaches minNumFiles (delta-spark's default 50; both
        overridable via delta.autoOptimize.autoCompact.minNumFiles /
        .maxFileSize table properties) gets its small files rewritten
        into ~maxFileSize bins, committed as add+remove with
        dataChange=false (CDF readers skip it, exactly OPTIMIZE's
        commit class, operationParameters auto=true). BEST-EFFORT by
        contract: a concurrent writer touching the selected files
        aborts the compaction silently (returns None) — auto compact
        must never fail or retry the ingest that triggered it, and the
        skipped files are simply picked up by the next trigger.

        Scale: the trigger test is O(live adds) driver metadata; the
        rewrite reads ONLY the triggered partitions' small files —
        never the fleet — and large files are never rewritten, so
        steady-state write amplification is bounded by one extra copy
        per small file."""
        cfg = (self._metadata_dict() or {}).get("configuration") or {}
        if cfg.get("delta.autoOptimize.autoCompact") != "true":
            return None
        min_n = int(
            cfg.get("delta.autoOptimize.autoCompact.minNumFiles", 50)
        )
        max_size = int(
            cfg.get(
                "delta.autoOptimize.autoCompact.maxFileSize",
                128 * 1024 * 1024,
            )
        )
        snap = self.snapshot_adds()
        groups: dict[tuple, list[str]] = {}
        for p, a in snap.items():
            if (a.get("size") or 0) >= max_size:
                continue
            key = tuple(sorted((a.get("partitionValues") or {}).items()))
            groups.setdefault(key, []).append(p)
        sel = {
            p: snap[p]
            for paths in groups.values()
            if len(paths) >= min_n
            for p in paths
        }
        if not sel:
            return None
        pb = self.partition_columns()
        try:
            # the WHOLE rewrite is best-effort: the triggering append
            # is already durable, so neither a conflict NOR a racing
            # vacuum/IO failure during the read/stage may escape into
            # append's OCC wrapper (a propagated retryable would
            # re-append the batch; any other escape fails an ingest
            # that actually succeeded). Losers leave invisible staged
            # orphans (vacuum-reclaimed); the small files are simply
            # picked up by the next trigger.
            df, _rt = self._read_adds_materialized(spark, sel)
            total = sum((a.get("size") or 0) for a in sel.values())
            n = max(1, -(-total // max_size))
            keys = [c for c in pb if c in df.columns]
            rewritten = (
                df.repartition(n, *keys) if keys else df.repartition(n)
            )
            adds = self._stage_files(rewritten, partition_by=pb)
            actions = self._optimize_commit_actions(
                adds, sel, {"auto": "true"}
            )
            return self._commit(actions, self._adds_unchanged(sel))
        except Exception:
            return None

    def _optimize_commit_actions(
        self,
        adds: list[dict],
        removed: dict[str, dict],
        params: dict | None = None,
    ) -> list[dict]:
        """The OPTIMIZE commit class, shared by optimize() and
        auto_compact(): dataChange=false adds for the rewrite,
        dataChange=false removes for the superseded files, one
        commitInfo with delta-spark's OPTIMIZE operationMetrics —
        one assembly, so the two paths can never drift on action
        shape or metric names."""
        actions: list[dict] = []
        for a in adds:
            a = dict(a)
            a["dataChange"] = False
            actions.append({"add": a})
        now = _now_ms()
        for p in removed:
            actions.append(
                {"remove": self._remove_action(p, removed[p], now, False)}
            )
        ci: dict = {
            "timestamp": now,
            "operation": "OPTIMIZE",
            "operationMetrics": self._op_metrics(
                adds,
                len(removed),
                op="OPTIMIZE",
                removed_adds=list(removed.values()),
            ),
        }
        if params:
            ci["operationParameters"] = params
        actions.append({"commitInfo": ci})
        return actions

    @_occ_retry
    def delete_where(self, spark, predicate_sql: str) -> int:
        """Row-level DELETE (copy-on-write, the GDPR-erasure path):

        1. ONE scan with the predicate pushed down finds the files that
           contain matching rows (_metadata.file_path distinct) — cost
           scales with matches, and parquet stats prune files whose
           min/max exclude the predicate;
        2. only those files are rewritten without their matching rows
           (unaffected files are untouched metadata; a partitioned
           table's rewrites stay in their partitions);
        3. one commit: remove(dataChange=true) for each affected file,
           add for each rewrite, plus a cdc action publishing the
           deleted rows under _change_data/ with
           _change_type='delete' — the Delta CDF contract for DML.

        Deleting zero rows commits nothing and returns the current
        version (Delta's DELETE no-op). Crash before the commit leaves
        unreferenced rewrite/CDC files — invisible, replay-safe."""
        self._forbid_append_only("DELETE")
        snap = self.snapshot_adds()
        if not snap:
            # DELETE over an empty snapshot is a no-op, not an error
            # (an empty-corpus table legitimately has zero live files).
            return self.latest_version()
        rel_of_base = self._rel_of_base_map(snap)
        full = self._read_adds(spark, snap, with_lineage=True)
        hit_files = [
            rel_of_base[r[0]]
            for r in full.filter(F.expr(predicate_sql))
            .select("__file")
            .distinct()
            .collect()
        ]
        if not hit_files:
            return self.latest_version()
        # DV-aware: rows an existing deletion vector already removed
        # must neither survive into the rewrite nor re-enter the CDF.
        # The predicate verdict is materialized ONCE and the frame
        # pinned, so kept and deleted are complementary by construction
        # — a nondeterministic predicate evaluated twice could let a
        # row survive in the table AND appear deleted in the CDF
        hit_frame, rt = self._read_adds_materialized(
            spark, {p: snap[p] for p in hit_files}
        )
        affected = hit_frame.withColumn(
            "__match",
            F.coalesce(F.expr(predicate_sql), F.lit(False)),
        ).localCheckpoint()
        # on a row-tracking table the survivors carry their
        # materialized ids into the rewritten files; the CDC frame
        # stays logical-schema-only (CDF does not publish lineage)
        kept = affected.filter(~F.col("__match")).drop("__match")
        deleted = affected.filter(F.col("__match")).drop("__match", *(rt or ()))
        adds = self._stage_rewrite(kept, [snap[p] for p in hit_files])
        cdc_actions = self._stage_cdc(
            deleted.withColumn("_change_type", F.lit("delete"))
        )
        now = _now_ms()
        actions = cdc_actions + [{"add": a} for a in adds]
        actions += [
            {"remove": self._remove_action(p, snap[p], now)}
            for p in hit_files
        ]
        actions.append(
            {
                "commitInfo": {
                    "timestamp": now,
                    "operation": "DELETE",
                    "operationParameters": {"predicate": predicate_sql},
                    "operationMetrics": self._op_metrics(
                        adds,
                        len(hit_files),
                        cdc_actions,
                        op="DELETE",
                        removed_adds=[snap[p] for p in hit_files],
                    ),
                }
            }
        )
        v = self._commit(
            actions, self._adds_unchanged({p: snap[p] for p in hit_files})
        )
        if v is None:
            raise ConcurrentDeleteReadError(
                "a concurrent commit rewrote files this DELETE targets; retry"
            )
        return v

    def _write_dvs(self, matched: DataFrame, adds: dict[str, dict]) -> list:
        """Write one deletion vector per file of the pinned ``matched``
        frame (its (__file, __pos) lineage) and return one row per
        touched file: (file basename, DV path encoding, offset, size,
        cardinality). DV construction is EXECUTOR-SIDE: each file's
        positions are grouped, unioned with the file's existing DV
        from ``adds``, serialized and written to table storage inside
        ONE applyInPandas over __file — the driver receives only
        O(files-touched) descriptors, never the position lists, so a
        wide DELETE's millions of matched rows stay distributed
        exactly like real Delta's DV writer. A crash after the write
        leaves unreferenced DV files — invisible, VACUUM-reclaimed."""
        table_path = self.path
        old_dvs = {
            self._basename_of_add_path(p): a["deletionVector"]
            for p, a in adds.items()
            if a.get("deletionVector")
        }

        def _build_dv(pdf):
            import pandas as pd

            from deltasink_spark import roaring as _r

            base = pdf["__file"].iloc[0]
            pos = set(int(x) for x in pdf["__pos"])
            old_desc = old_dvs.get(base)
            if old_desc:
                # 'u' resolves inside THIS table; 'p' is an absolute
                # path (a shallow clone's re-anchored source DV)
                old_fp = (
                    old_desc["pathOrInlineDv"]
                    if old_desc["storageType"] == "p"
                    else os.path.join(
                        table_path,
                        _r.dv_relative_path(old_desc["pathOrInlineDv"]),
                    )
                )
                pos |= _r.read_dv_file(
                    old_fp, old_desc["offset"], old_desc["sizeInBytes"]
                )
            merged = sorted(pos)
            enc, dv_rel = _r.new_dv_descriptor_path()
            desc = _r.write_dv_file(os.path.join(table_path, dv_rel), merged)
            return pd.DataFrame(
                [
                    {
                        "file": base,
                        "enc": enc,
                        "offset": desc["offset"],
                        "size": desc["sizeInBytes"],
                        "card": len(merged),
                    }
                ]
            )

        return (
            matched.groupBy("__file")
            .applyInPandas(
                _build_dv,
                "file string, enc string, offset int, size int, card long",
            )
            .collect()
        )

    @staticmethod
    def _dv_swap(
        hits: list,
        adds: dict[str, dict],
        rel_of_base: dict[str, str],
        now: int,
    ) -> tuple[dict[str, dict], list[dict], list[dict]]:
        """(planned adds, removes, re-adds) that swap each hit file's
        add for an identical one carrying its new DV — same path, same
        bytes on disk; the old descriptor rides the remove, per spec."""
        planned: dict[str, dict] = {}
        removes: list[dict] = []
        readds: list[dict] = []
        for r in hits:
            rel = rel_of_base[r["file"]]
            old = adds[rel]
            planned[rel] = old
            rm = {"path": rel, "deletionTimestamp": now, "dataChange": True}
            if old.get("deletionVector"):
                rm["deletionVector"] = old["deletionVector"]
            removes.append(rm)
            na = dict(old)
            na["dataChange"] = True
            na["modificationTime"] = now
            na["deletionVector"] = {
                "storageType": "u",
                "pathOrInlineDv": r["enc"],
                "offset": r["offset"],
                "sizeInBytes": r["size"],
                "cardinality": r["card"],
            }
            readds.append(na)
        return planned, removes, readds

    @_occ_retry
    def delete_where_dv(self, spark, predicate_sql: str) -> int:
        """Row-level DELETE via DELETION VECTORS — merge-on-read, the
        modern Delta DML path (protocol feature `deletionVectors`)
        next to [delete_where]'s copy-on-write: NO data file is
        rewritten; each affected file's matching row POSITIONS are
        serialized into a roaring-bitmap DV file (the public format —
        roaring.py) and one commit swaps the file's add action for an
        identical one carrying the deletionVector descriptor (remove
        then re-add, same path, same bytes on disk). Readers drop the
        positions at scan time. A second DV delete on the same file
        UNIONS into a fresh DV (the old add's descriptor rides its
        remove action, per spec). cdc publishes the deleted rows, so
        CDF consumers see exactly what vanished.

        Why it matters at 100 TB: deleting 100 rows from a 1 GB file
        costs KBs of DV instead of a 1 GB rewrite — DELETE latency
        tracks matches, not file sizes; OPTIMIZE later purges DVs by
        rewriting through the DV-aware read. Conflict check is
        STRICTER than file liveness: the precondition re-validates
        each planned file's DV descriptor is unchanged, so two
        concurrent DV deletes can't silently drop each other's
        positions."""
        self._forbid_append_only("DELETE (deletion vectors)")
        adds = self.snapshot_adds()
        if not adds:
            return self.latest_version()
        # table-features protocol upgrade (Delta's auto-upgrade on the
        # first DV write): deletionVectors requires minReaderVersion 3
        # / minWriterVersion 7 with the feature listed both sides
        proto = self._protocol_dict()
        upgrade: list[dict] = []
        if "deletionVectors" not in (proto or {}).get("readerFeatures", []):
            # ADDITIVE upgrade: a wholesale protocol replacement here
            # would erase features other enablers ledgered
            # (v2Checkpoint, domainMetadata, ICT...) and deactivate
            # the legacy versions' implied capabilities
            upgrade.append(
                {
                    "protocol": self._upgraded_protocol(
                        reader_features=("deletionVectors",),
                        writer_features=("deletionVectors",),
                    )
                }
            )
        full = self._read_adds(spark, adds, with_lineage=True)
        # pin the matched rows ONCE: the positions that go into the DV
        # files and the rows the cdc action publishes must come from
        # the same evaluation, or a nondeterministic predicate desyncs
        # CDF consumers from the table
        matched = full.filter(F.expr(predicate_sql)).localCheckpoint()
        # ambiguity check BEFORE the DV writer keys on basenames
        rel_of_base = self._rel_of_base_map(adds)
        hits = self._write_dvs(matched, adds)
        if not hits:
            return self.latest_version()
        now = _now_ms()
        planned, old_removes, new_adds = self._dv_swap(
            hits, adds, rel_of_base, now
        )
        deleted = matched.drop("__file", "__pos")
        cdc_actions = self._stage_cdc(
            deleted.withColumn("_change_type", F.lit("delete"))
        )
        # removes BEFORE the same-path re-adds: the snapshot fold is
        # sequential, so order decides which action survives
        actions = upgrade + cdc_actions
        actions += [{"remove": rm} for rm in old_removes]
        actions += [{"add": a} for a in new_adds]
        actions.append(
            {
                "commitInfo": {
                    "timestamp": now,
                    "operation": "DELETE",
                    "operationParameters": {
                        "predicate": predicate_sql,
                        "deletionVectors": "true",
                    },
                    "operationMetrics": self._op_metrics(
                        (),
                        len(old_removes),
                        cdc_actions,
                        dvs=len(hits),
                        op="DELETE",
                        # newly-deleted = merged-DV card minus the old
                        # card (the merge folded prior deletes in)
                        dv_rows=sum(
                            r["card"]
                            - int(
                                (
                                    adds[rel_of_base[r["file"]]].get(
                                        "deletionVector"
                                    )
                                    or {}
                                ).get("cardinality", 0)
                            )
                            for r in hits
                        ),
                    ),
                }
            }
        )

        adds_ok = self._adds_unchanged(planned)

        def _pre_dv() -> bool:
            if upgrade and self._protocol_dict() != proto:
                # a concurrent feature enable landed: committing our
                # stale upgrade action would erase its feature
                raise MetadataChangedError(
                    "protocol changed while enabling deletionVectors; retry"
                )
            return adds_ok()

        v = self._commit(actions, _pre_dv)
        if v is None:
            raise ConcurrentDeleteReadError(
                "a concurrent commit changed files this DV DELETE "
                "targets; retry"
            )
        return v

    @_occ_retry
    def update_where_dv(
        self, spark, set_exprs: dict[str, str], predicate_sql: str
    ) -> int:
        """UPDATE via DELETION VECTORS (merge-on-read UPDATE — what
        delta-spark does with delta.enableDeletionVectors for DML,
        next to [update_where]'s copy-on-write): the matched rows'
        positions go into per-file roaring DVs (NO data file is
        rewritten) and ONLY the updated rows land as new files — so
        UPDATE cost tracks matched ROWS, not the sizes of the files
        they live in. At 100 TB: updating 100 rows spread across 100
        x 1 GB files costs KBs of DV plus one small add instead of a
        100 GB rewrite; OPTIMIZE later purges the DVs through the
        DV-aware read. Same write discipline as update_where: SET
        right-hand sides evaluate against the OLD row in one select,
        identity columns are immutable, generated columns recompute,
        CHECK constraints gate the post rows, and the CDF carries
        update_preimage/update_postimage pairs. Row tracking: updated
        rows keep their id (materialized into the new files) with a
        fresh commit version. Concurrency: each planned file's
        (path, DV descriptor) is re-validated under the lock."""
        self._forbid_append_only("UPDATE (deletion vectors)")
        snap = self.snapshot_adds()
        if not snap:
            return self.latest_version()
        s = self.schema()
        have = {f.name for f in s.fields} if s is not None else set()
        missing = [c for c in set_exprs if c not in have]
        if missing:
            raise ValueError(f"UPDATE SET targets unknown column(s) {missing}")
        ids = self.identity_columns()
        gens = self.generated_columns()
        for name in set_exprs:
            if name in ids:
                raise ValueError(
                    f"identity column {name} is GENERATED ALWAYS — "
                    "UPDATE cannot set it (Delta's contract)"
                )
            if name in gens:
                raise ValueError(
                    f"generated column {name} cannot be SET directly; "
                    "it is recomputed from its generation expression "
                    f"({gens[name]}) when its inputs change"
                )
        proto = self._protocol_dict()
        upgrade: list[dict] = []
        if "deletionVectors" not in (proto or {}).get("readerFeatures", []):
            upgrade.append(
                {
                    "protocol": self._upgraded_protocol(
                        reader_features=("deletionVectors",),
                        writer_features=("deletionVectors",),
                    )
                }
            )
        rt = self._row_tracking_cfg()
        full = self._read_adds(
            spark, snap, with_lineage=True, extra_long_cols=rt or ()
        )
        if rt:
            full = self._with_row_lineage(spark, snap, full, *rt)
        # pin the matched rows ONCE: DV positions, CDF preimage and the
        # post rows must come from the same evaluation
        matched = full.filter(F.expr(predicate_sql)).localCheckpoint()
        # ambiguity check BEFORE the DV writer keys on basenames
        rel_of_base = self._rel_of_base_map(snap)
        hits = self._write_dvs(matched, snap)
        if not hits:
            return self.latest_version()
        pre = matched.drop("__file", "__pos")
        ftype = {f.name: f.dataType for f in s.fields}
        cols = [f.name for f in s.fields]
        rt_keep = (
            [F.col(rt[0]), F.lit(None).cast("long").alias(rt[1])]
            if rt
            else []
        )
        post = pre.select(
            *[
                F.expr(set_exprs[c]).cast(ftype[c]).alias(c)
                if c in set_exprs
                else F.col(c)
                for c in cols
            ],
            *rt_keep,
        )
        for gname, gexpr in gens.items():
            post = post.withColumn(gname, F.expr(gexpr))
        post = post.localCheckpoint()
        self._enforce_constraints(post)
        adds_new = self._stage_rewrite(
            post.select(*(cols + list(rt or ()))),
            [snap[rel_of_base[r["file"]]] for r in hits],
        )
        cdc_actions = self._stage_cdc(
            pre.select(*cols)
            .withColumn("_change_type", F.lit("update_preimage"))
            .unionByName(
                post.select(*cols).withColumn(
                    "_change_type", F.lit("update_postimage")
                )
            )
        )
        now = _now_ms()
        planned, old_removes, dv_adds = self._dv_swap(
            hits, snap, rel_of_base, now
        )
        actions = upgrade + cdc_actions
        actions += [{"remove": rm} for rm in old_removes]
        actions += [{"add": a} for a in dv_adds]
        actions += [{"add": a} for a in adds_new]
        actions.append(
            {
                "commitInfo": {
                    "timestamp": now,
                    "operation": "UPDATE",
                    "operationParameters": {
                        "predicate": predicate_sql,
                        "set": json.dumps(set_exprs, sort_keys=True),
                        "deletionVectors": "true",
                    },
                    "operationMetrics": self._op_metrics(
                        adds_new, len(old_removes), cdc_actions,
                        dvs=len(hits), op="UPDATE",
                    ),
                }
            }
        )
        adds_ok = self._adds_unchanged(planned)

        def _pre_dv() -> bool:
            if upgrade and self._protocol_dict() != proto:
                raise MetadataChangedError(
                    "protocol changed while enabling deletionVectors; retry"
                )
            return adds_ok()

        v = self._commit(actions, _pre_dv)
        if v is None:
            raise ConcurrentDeleteReadError(
                "a concurrent commit changed files this DV UPDATE "
                "targets; retry"
            )
        return v

    @_occ_retry
    def update_where(
        self, spark, set_exprs: dict[str, str], predicate_sql: str
    ) -> int:
        """UPDATE ... SET col = expr, ... WHERE predicate — the fourth
        Delta DML verb (append / DELETE / MERGE / UPDATE). Copy-on-write
        with the same file discipline as [delete_where]: one
        predicate-pushed lineage scan finds the files containing
        matches, ONLY those are rewritten (their non-matching rows kept
        verbatim — DV-aware, so rows a deletion vector already removed
        neither survive nor re-enter the CDF), and one commit publishes
        remove+add for each rewritten file plus a cdc action with the
        spec's update_preimage / update_postimage row pairs — what a
        downstream replica applies without re-diffing snapshots.

        The full write discipline applies to the POST rows: CHECK
        constraints are enforced, GENERATED columns are recomputed from
        their expressions (setting one directly is rejected — its value
        is the expression's, per spec), IDENTITY columns are immutable
        (GENERATED ALWAYS — SET on one is rejected), and a mapped
        table's rewrites stage under physical names. Updating a
        PARTITION column is allowed: rewritten rows land in their new
        Hive directories with new partitionValues (how real Delta moves
        rows between partitions). Zero matches commits nothing and
        returns the current version (Delta's UPDATE no-op). Concurrency:
        the commit re-validates under the lock that every planned
        file's (path, DV descriptor) is unchanged — a concurrent
        rewrite or DV delete aborts with ConcurrentDeleteReadError.

        Scale: cost tracks matched files, not table size — the
        predicate reaches the parquet scan of the lineage pass, stats/
        partition pruning apply upstream, and unaffected files are
        untouched metadata."""
        self._forbid_append_only("UPDATE")
        snap = self.snapshot_adds()
        if not snap:
            return self.latest_version()  # UPDATE over empty table: no-op
        s = self.schema()
        have = {f.name for f in s.fields} if s is not None else set()
        missing = [c for c in set_exprs if c not in have]
        if missing:
            raise ValueError(f"UPDATE SET targets unknown column(s) {missing}")
        ids = self.identity_columns()
        gens = self.generated_columns()
        for name in set_exprs:
            if name in ids:
                raise ValueError(
                    f"identity column {name} is GENERATED ALWAYS — "
                    "UPDATE cannot set it (Delta's contract)"
                )
            if name in gens:
                raise ValueError(
                    f"generated column {name} cannot be SET directly; "
                    "it is recomputed from its generation expression "
                    f"({gens[name]}) when its inputs change"
                )
        rel_of_base = self._rel_of_base_map(snap)
        full = self._read_adds(spark, snap, with_lineage=True)
        hit_files = [
            rel_of_base[r[0]]
            for r in full.filter(F.expr(predicate_sql))
            .select("__file")
            .distinct()
            .collect()
        ]
        if not hit_files:
            return self.latest_version()
        # pin the affected rows AND the predicate verdict ONCE: kept /
        # preimage / postimage must come from the same evaluation —
        # the predicate is materialized as a column before the pin so
        # a nondeterministic predicate cannot put a row in both (or
        # neither) of kept and preimage
        hit_frame, rt = self._read_adds_materialized(
            spark, {p: snap[p] for p in hit_files}
        )
        affected = hit_frame.withColumn(
            "__match",
            F.coalesce(F.expr(predicate_sql), F.lit(False)),
        ).localCheckpoint()
        kept = affected.filter(~F.col("__match")).drop("__match")
        pre = affected.filter(F.col("__match")).drop("__match")
        # ALL SET right-hand sides evaluate against the OLD row in one
        # select (SQL UPDATE semantics — a chained withColumn would let
        # SET a=b, b=a see the already-updated a and break the swap)
        ftype = {f.name: f.dataType for f in s.fields}
        cols = [f.name for f in s.fields]
        # row tracking: an UPDATE keeps a row's id (materialized
        # through the rewrite) but its commit version becomes the
        # UPDATE's — materialized as NULL so the new file's
        # defaultRowCommitVersion (this very commit) serves it
        rt_keep = (
            [
                F.col(rt[0]),
                F.lit(None).cast("long").alias(rt[1]),
            ]
            if rt
            else []
        )
        post = pre.select(
            *[
                F.expr(set_exprs[c]).cast(ftype[c]).alias(c)
                if c in set_exprs
                else F.col(c)
                for c in cols
            ],
            *rt_keep,
        )
        # generated columns recompute from the UPDATED inputs (the
        # spec's rule: their value is always the expression's)
        for gname, gexpr in gens.items():
            post = post.withColumn(gname, F.expr(gexpr))
        # pin the post rows: they are written twice (data files + CDC
        # postimage) — a nondeterministic SET expression must not
        # desync the CDF from the table
        post = post.localCheckpoint()
        self._enforce_constraints(post)
        stage_cols = cols + list(rt or ())
        adds = self._stage_rewrite(
            kept.select(*stage_cols).unionByName(post.select(*stage_cols)),
            [snap[p] for p in hit_files],
        )
        cdc_actions = self._stage_cdc(
            pre.select(*cols)
            .withColumn("_change_type", F.lit("update_preimage"))
            .unionByName(
                post.select(*cols).withColumn(
                    "_change_type", F.lit("update_postimage")
                )
            )
        )
        now = _now_ms()
        actions = cdc_actions + [{"add": a} for a in adds]
        actions += [
            {"remove": self._remove_action(p, snap[p], now)}
            for p in hit_files
        ]
        actions.append(
            {
                "commitInfo": {
                    "timestamp": now,
                    "operation": "UPDATE",
                    "operationParameters": {
                        "predicate": predicate_sql,
                        "set": json.dumps(set_exprs, sort_keys=True),
                    },
                    "operationMetrics": self._op_metrics(
                        adds,
                        len(hit_files),
                        cdc_actions,
                        op="UPDATE",
                        clause_counts=self._cdc_counts(cdc_actions),
                    ),
                }
            }
        )
        v = self._commit(
            actions, self._adds_unchanged({p: snap[p] for p in hit_files})
        )
        if v is None:
            raise ConcurrentDeleteReadError(
                "a concurrent commit rewrote files this UPDATE targets; retry"
            )
        return v

    @_occ_retry
    def merge(
        self,
        spark,
        source: DataFrame,
        key: str,
        merge_schema: bool = False,
    ) -> int:
        """MERGE INTO (upsert — the third leg of Delta DML after append
        and DELETE): target rows whose ``key`` matches a source row are
        REPLACED by the source row (whole-row update), source rows with
        no target match are INSERTED; one atomic commit. A source with
        DUPLICATE keys is REJECTED (ValueError) — the same ambiguity
        real Delta MERGE refuses ("multiple source rows matched"),
        because silently multiplying target rows corrupts the table and
        every CDF consumer. Copy-on-write like delete_where: one key
        semi-join finds the files containing matches, ONLY those are
        rewritten (their unmatched rows kept verbatim), inserts ride
        the same staged write. CDF publishes the full change vocabulary
        per the spec: update_preimage / update_postimage pairs for
        matched rows, insert rows for new keys — what a downstream
        replica needs to apply the merge without re-diffing snapshots.

        Schema EVOLUTION (Delta MERGE's withSchemaEvolution): a source
        carrying columns the target lacks is REJECTED unless
        ``merge_schema=True``, which widens the schema in the SAME
        commit (column-mapping aware) — kept rows in rewritten files
        pad the new columns with null, untouched files pad at read
        time (the log schema is imposed on every scan).

        Scale: cost tracks files-with-matches + source size (the
        semi-join prunes via add-action stats); the unmatched bulk of
        the table is untouched metadata. Source is read several times
        (matched/unmatched splits) — localCheckpoint'd first so a
        nondeterministic source cannot desync the reads.

        Column DEFAULTS deliberately do NOT fill a merge() source:
        this verb replaces matched rows WHOLE-ROW, so a defaulted fill
        would clobber the target's value with the default on every
        match — the clause-level [merge_when] applies defaults to its
        INSERT branch only, which is delta-spark's contract."""
        self._forbid_append_only("MERGE")
        snap = self.snapshot_adds()
        if not snap:
            raise ValueError("merge into an empty table: use append")
        src = source.localCheckpoint()
        src = self._apply_generated(src)
        cur_schema = self.schema()
        have = {f.name for f in cur_schema.fields}
        extra = [f for f in src.schema.fields if f.name not in have]
        evolved_meta = None
        evolve_base = None
        merge_upgrade: list[dict] = []
        if extra:
            if not merge_schema:
                raise ValueError(
                    f"schema mismatch: merge source carries new columns "
                    f"{[f.name for f in extra]} the table lacks; pass "
                    "merge_schema=True to evolve (Delta's write "
                    "enforcement — silently dropping them would lose data)"
                )
            evolve_base = self._metadata_dict()
            evolved_meta = self._widen_schema_meta(extra, evolve_base)
            proto_base = self._protocol_dict()
            tfeats = tuple(
                f
                for f in _type_features_of_struct(StructType(list(extra)))
                if f
                not in set((proto_base or {}).get("writerFeatures") or ())
            )
            if tfeats:
                # a new TIMESTAMP_NTZ / VARIANT column gates the table
                # on its type feature in the SAME commit as the widen
                merge_upgrade.append(
                    {
                        "protocol": self._upgraded_protocol(
                            reader_features=tfeats, writer_features=tfeats
                        )
                    }
                )
        self._enforce_constraints(src)
        if src.groupBy(key).count().filter(F.col("count") > 1).limit(1).count():
            raise ValueError(
                f"merge source has duplicate {key} values: multiple source "
                "rows would match the same target row (Delta rejects this)"
            )
        rel_of_base = self._rel_of_base_map(snap)
        target = self._read_adds(spark, snap, with_lineage=True)
        # the duplicate-key check above makes the source keys distinct:
        # no aggregation (and its shuffle) in front of each broadcast
        keys = F.broadcast(src.select(key))
        hit_files = [
            rel_of_base[r[0]]
            for r in target.select(F.col(key), F.col("__file"))
            .join(keys, key, "left_semi")
            .select("__file")
            .distinct()
            .collect()
        ]
        target = target.drop("__file", "__pos")
        rt = self._row_tracking_cfg()
        if hit_files:
            affected, rt = self._read_adds_materialized(
                spark, {p: snap[p] for p in hit_files}
            )
        else:
            affected = target.limit(0)
            for c in rt or ():
                affected = affected.withColumn(c, F.lit(None).cast("long"))
        kept = affected.join(src.select(key), key, "left_anti")
        preimage = affected.join(src.select(key), key, "left_semi")
        # every live row whose key is in the source sits in a hit file,
        # so the hit files' keys decide updated vs inserted — no second
        # scan of the whole table
        updated = src.join(affected.select(key), key, "left_semi")
        inserted = src.join(affected.select(key), key, "left_anti")
        ids = self.identity_columns()
        id_meta = None
        id_base = None
        ins_high: dict[str, int] = {}
        if ids:
            for name in ids:
                if name in src.columns:
                    raise ValueError(
                        f"identity column {name} is GENERATED ALWAYS — "
                        "explicit values are rejected (Delta's contract)"
                    )
            id_base = self._metadata_dict()
            # UPDATES never reassign identity: matched rows carry the
            # target's value (MIN per key when duplicate-key target
            # rows collapse into the one updated row — deterministic);
            # INSERTS draw fresh values from the ledgered mark
            carry = preimage.groupBy(key).agg(
                *[F.min(c).alias(c) for c in ids]
            )
            updated = updated.join(carry, key, "inner")
            inserted, ins_high = self._assign_identity(inserted)
            id_meta = self._identity_meta_update(
                ins_high, base_meta=evolved_meta
            )
            if id_meta is not None and evolved_meta is not None:
                evolved_meta = id_meta  # one metaData action carries both
                id_meta = None
        if rt:
            # row tracking across MERGE: matched rows KEEP their id
            # (carried per key off the preimage, MIN for determinism
            # like identity) with a fresh commit version (NULL → the
            # new file's default); inserts mint fresh ids from the
            # new file's baseRowId range
            mat_id, mat_ver = rt
            carry_rt = preimage.groupBy(key).agg(
                F.min(mat_id).alias(mat_id)
            )
            updated = updated.join(carry_rt, key, "inner").withColumn(
                mat_ver, F.lit(None).cast("long")
            )
            inserted = inserted.withColumn(
                mat_id, F.lit(None).cast("long")
            ).withColumn(mat_ver, F.lit(None).cast("long"))
        cols = target.columns
        stage_mapping = None
        if evolved_meta is not None:
            wf = StructType.fromJson(
                json.loads(evolved_meta["schemaString"])
            ).fields
            cols = [f.name for f in wf]
            pad_fields = [f for f in wf if f.name not in set(target.columns)]

            def _pad(df: DataFrame) -> DataFrame:
                # pre-evolution rows (kept / preimage) predate the new
                # columns: pad with typed nulls, exactly what the log
                # schema makes untouched files surface at read time
                for f in pad_fields:
                    if f.name not in df.columns:
                        df = df.withColumn(
                            f.name, F.lit(None).cast(f.dataType)
                        )
                return df

            kept, preimage = _pad(kept), _pad(preimage)
            updated, inserted = _pad(updated), _pad(inserted)
            if (
                evolved_meta.get("configuration") or {}
            ).get("delta.columnMapping.mode") == "name":
                # stage under the mapping this commit is about to
                # publish (the new fields' physical names live only in
                # evolved_meta until the commit lands)
                stage_mapping = {
                    f.name: (f.metadata or {}).get(
                        "delta.columnMapping.physicalName", f.name
                    )
                    for f in wf
                }
        stage_cols = cols + list(rt or ())
        adds = self._stage_rewrite(
            kept.select(*stage_cols)
            .unionByName(updated.select(*stage_cols))
            .unionByName(inserted.select(*stage_cols)),
            [snap[p] for p in hit_files],
            src,
            mapping=stage_mapping,
        )
        cdc_frame = (
            preimage.select(*cols)
            .withColumn("_change_type", F.lit("update_preimage"))
            .unionByName(
                updated.select(*cols).withColumn(
                    "_change_type", F.lit("update_postimage")
                )
            )
            .unionByName(
                inserted.select(*cols).withColumn("_change_type", F.lit("insert"))
            )
        )
        cdc_actions = self._stage_cdc(cdc_frame, mapping=stage_mapping)
        now = _now_ms()
        actions = cdc_actions + [{"add": a} for a in adds]
        if evolved_meta is not None:
            actions.insert(0, {"metaData": evolved_meta})
        elif id_meta is not None:
            actions.insert(0, {"metaData": id_meta})
        actions = merge_upgrade + actions
        actions += [
            {"remove": self._remove_action(p, snap[p], now)}
            for p in hit_files
        ]
        actions.append(
            {
                "commitInfo": {
                    "timestamp": now,
                    "operation": "MERGE",
                    "operationParameters": {"matchedPredicates": f"key={key}"},
                    "operationMetrics": self._op_metrics(
                        adds,
                        len(hit_files),
                        cdc_actions,
                        op="MERGE",
                        clause_counts=self._cdc_counts(cdc_actions),
                    ),
                }
            }
        )
        adds_check = self._adds_unchanged({p: snap[p] for p in hit_files})

        def _pre() -> bool:
            if ins_high and self._metadata_dict() != id_base:
                raise MetadataChangedError(
                    "identity high-water mark moved concurrently; retry"
                )
            if evolved_meta is not None and self._metadata_dict() != evolve_base:
                raise MetadataChangedError(
                    "table metaData changed while evolving the schema; "
                    "retry the merge"
                )
            if merge_upgrade and self._protocol_dict() != proto_base:
                raise MetadataChangedError(
                    "protocol changed while this merge was ledgering "
                    "table features; retry the merge"
                )
            return adds_check()

        v = self._commit(actions, _pre)
        if v is None:
            raise ConcurrentDeleteReadError(
                "a concurrent commit rewrote files this MERGE targets; retry"
            )
        return v

    @_occ_retry
    def merge_when(
        self,
        spark,
        source: DataFrame,
        key: str,
        matched_update: dict[str, str] | None = None,
        matched_update_condition: str | None = None,
        matched_delete_condition: str | None = None,
        not_matched_insert: bool = True,
        not_matched_insert_condition: str | None = None,
        not_matched_by_source_delete_condition: str | None = None,
    ) -> int:
        """MERGE INTO with the full WHEN-clause vocabulary (delta-spark's
        whenMatchedUpdate / whenMatchedDelete / whenNotMatchedInsert /
        whenNotMatchedBySourceDelete — [merge] is the whole-row-upsert
        special case):

        - WHEN MATCHED [AND cond] THEN DELETE: ``matched_delete_condition``
          (pass "true" for unconditional) — evaluated FIRST, like a
          delete-before-update clause order.
        - WHEN MATCHED [AND cond] THEN UPDATE SET: ``matched_update``
          maps target columns to SQL expressions that may reference the
          target row's columns by name and the source row's as
          ``src_<name>`` (all SET right-hand sides see the OLD row).
        - WHEN NOT MATCHED [AND cond] THEN INSERT: source rows without
          a target match (condition over the source's own columns).
        - WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE: target
          rows whose key has no source row (condition over target
          columns) — the full-sync idiom that retires rows the feed
          stopped sending.

        One atomic commit; copy-on-write over ONLY the files holding
        matched keys or by-source-delete candidates; CDF publishes the
        exact per-clause vocabulary (update_preimage/postimage pairs,
        delete rows, insert rows). Duplicate source keys are rejected
        (Delta's multi-match refusal); identity columns stay immutable
        on updates and mint fresh values on inserts; generated columns
        recompute; CHECK constraints gate every written row; row ids
        survive updates and keeps.

        Scale: cost tracks matched files + source size — the unmatched
        bulk is untouched metadata. The table is scanned once, by the
        stats-pruned semi-join that finds the hit files; those are
        read once and pinned, and inserts are the source keys absent
        from them (every live row with a source key sits in a hit
        file). The staged rows are bin-packed (_optimize_write), so a
        merge adds ceil(bytes / binSize) files, or one per touched
        partition, however many tasks fed them, and the clause counts
        come from the cdc file it wrote (_cdc_counts)."""
        self._forbid_append_only("MERGE")
        snap = self.snapshot_adds()
        if not snap:
            raise ValueError("merge into an empty table: use append")
        src = source.localCheckpoint()
        src = self._apply_generated(src)
        s = self.schema()
        cols = [f.name for f in s.fields]
        ftype = {f.name: f.dataType for f in s.fields}
        ids = self.identity_columns()
        gens = self.generated_columns()
        # identity columns must NOT be in the source (the insert branch
        # mints them via _assign_identity, like merge()); generated
        # columns were just computed by _apply_generated and DEFAULTED
        # columns fill from their expressions — none counts as
        # "missing" for the INSERT clause
        src = self._apply_defaults(src)
        missing = [
            c
            for c in cols
            if c not in src.columns and c not in ids and c not in gens
        ]
        if not_matched_insert and missing:
            raise ValueError(
                f"merge source lacks table column(s) {missing} required "
                "for the INSERT clause"
            )
        for name in matched_update or {}:
            if name not in cols:
                raise ValueError(f"UPDATE SET targets unknown column {name}")
            if name in ids:
                raise ValueError(
                    f"identity column {name} is GENERATED ALWAYS — "
                    "UPDATE cannot set it (Delta's contract)"
                )
            if name in gens:
                raise ValueError(
                    f"generated column {name} cannot be SET directly"
                )
        clash = [c for c in cols if c.startswith("src_")]
        if clash and (matched_update or matched_update_condition):
            raise ValueError(
                f"target columns {clash} collide with the src_ prefix "
                "this MERGE uses to expose source columns in SET "
                "expressions"
            )
        if src.groupBy(key).count().filter(F.col("count") > 1).limit(1).count():
            raise ValueError(
                f"merge source has duplicate {key} values — multiple "
                "source rows match one target row (Delta rejects this)"
            )
        rel_of_base = self._rel_of_base_map(snap)
        rt = self._row_tracking_cfg()
        full = self._read_adds(
            spark, snap, with_lineage=True, extra_long_cols=rt or ()
        )
        if rt:
            full = self._with_row_lineage(spark, snap, full, *rt)
        # the duplicate-key check above makes the source keys distinct:
        # no aggregation (and its shuffle) in front of each broadcast
        keys = F.broadcast(src.select(key))
        nbs = not_matched_by_source_delete_condition
        # files to rewrite: those holding a matched key, plus (for the
        # by-source clause) those holding a retire candidate
        matched_files = (
            full.join(keys, key, "left_semi").select("__file").distinct()
        )
        if nbs:
            nbs_files = (
                full.filter(F.coalesce(F.expr(nbs), F.lit(False)))
                .join(keys, key, "left_anti")
                .select("__file")
                .distinct()
            )
            matched_files = matched_files.union(nbs_files).distinct()
        hit_files = [rel_of_base[r[0]] for r in matched_files.collect()]
        if not hit_files:
            affected = full.limit(0)
        else:
            affected, _ = self._read_adds_materialized(
                spark, {p: snap[p] for p in hit_files}
            )
            affected = affected.localCheckpoint()
        src_pref = src.select(
            key, *[F.col(c).alias(f"src_{c}") for c in src.columns if c != key]
        )
        matched = affected.join(src_pref, key, "inner")
        unmatched_t = affected.join(keys, key, "left_anti")
        tcols = cols + list(rt or ())

        def _cond(e: str | None):
            return (
                F.coalesce(F.expr(e), F.lit(False))
                if e is not None
                else F.lit(True)
            )

        deleted_m = (
            matched.filter(_cond(matched_delete_condition))
            if matched_delete_condition is not None
            else matched.limit(0)
        )
        remaining = (
            matched.filter(~_cond(matched_delete_condition))
            if matched_delete_condition is not None
            else matched
        )
        if matched_update:
            to_update = remaining.filter(_cond(matched_update_condition))
            kept_m = remaining.filter(~_cond(matched_update_condition))
        else:
            to_update = remaining.limit(0)
            kept_m = remaining
        rt_keep = (
            [F.col(rt[0]), F.lit(None).cast("long").alias(rt[1])]
            if rt
            else []
        )
        post = to_update.select(
            *[
                F.expr((matched_update or {})[c]).cast(ftype[c]).alias(c)
                if c in (matched_update or {})
                else F.col(c)
                for c in cols
            ],
            *rt_keep,
        )
        for gname, gexpr in gens.items():
            post = post.withColumn(gname, F.expr(gexpr))
        post = post.localCheckpoint()
        if nbs:
            deleted_nbs = unmatched_t.filter(_cond(nbs))
            kept_nm = unmatched_t.filter(~_cond(nbs))
        else:
            deleted_nbs = unmatched_t.limit(0)
            kept_nm = unmatched_t
        id_meta = None
        id_base = None
        ins_high: dict[str, int] = {}
        if not_matched_insert:
            # every live row whose key is in the source sits in a hit
            # file: the pinned hit files decide what is new, not a
            # second scan of the whole table
            inserted = src.join(affected.select(key), key, "left_anti")
            if not_matched_insert_condition is not None:
                inserted = inserted.filter(
                    _cond(not_matched_insert_condition)
                )
            if ids:
                for name in ids:
                    if name in source.columns:
                        raise ValueError(
                            f"identity column {name} is GENERATED ALWAYS "
                            "— explicit values are rejected"
                        )
                id_base = self._metadata_dict()
                inserted, ins_high = self._assign_identity(inserted)
                id_meta = self._identity_meta_update(ins_high)
            inserted = inserted.select(*cols)
            for c in rt or ():
                inserted = inserted.withColumn(c, F.lit(None).cast("long"))
        else:
            inserted = affected.limit(0).select(*tcols)
        self._enforce_constraints(post)
        self._enforce_constraints(inserted.select(*cols))
        staged = (
            kept_m.select(*tcols)
            .unionByName(kept_nm.select(*tcols))
            .unionByName(post.select(*tcols))
            .unionByName(inserted.select(*tcols))
        )
        adds = self._stage_rewrite(staged, [snap[p] for p in hit_files], src)
        cdc_frame = (
            to_update.select(*cols)
            .withColumn("_change_type", F.lit("update_preimage"))
            .unionByName(
                post.select(*cols).withColumn(
                    "_change_type", F.lit("update_postimage")
                )
            )
            .unionByName(
                deleted_m.select(*cols)
                .unionByName(deleted_nbs.select(*cols))
                .withColumn("_change_type", F.lit("delete"))
            )
            .unionByName(
                inserted.select(*cols).withColumn(
                    "_change_type", F.lit("insert")
                )
            )
        )
        cdc_actions = self._stage_cdc(cdc_frame)
        now = _now_ms()
        actions = cdc_actions + [{"add": a} for a in adds]
        if id_meta is not None:
            actions.insert(0, {"metaData": id_meta})
        actions += [
            {"remove": self._remove_action(p, snap[p], now)}
            for p in hit_files
        ]
        actions.append(
            {
                "commitInfo": {
                    "timestamp": now,
                    "operation": "MERGE",
                    "operationParameters": {
                        "matchedPredicates": json.dumps(
                            [
                                c
                                for c in (
                                    matched_delete_condition,
                                    matched_update_condition,
                                )
                                if c is not None
                            ]
                        ),
                        "notMatchedBySourcePredicates": json.dumps(
                            [nbs] if nbs else []
                        ),
                    },
                    "operationMetrics": self._op_metrics(
                        adds,
                        len(hit_files),
                        cdc_actions,
                        op="MERGE",
                        clause_counts=self._cdc_counts(cdc_actions),
                    ),
                }
            }
        )
        adds_check = self._adds_unchanged({p: snap[p] for p in hit_files})

        def _pre() -> bool:
            if ins_high and self._metadata_dict() != id_base:
                raise MetadataChangedError(
                    "identity high-water mark moved concurrently; retry"
                )
            return adds_check()

        v = self._commit(actions, _pre)
        if v is None:
            raise ConcurrentDeleteReadError(
                "a concurrent commit rewrote files this MERGE targets; retry"
            )
        return v

    @_occ_retry
    def merge_scd2(
        self,
        spark,
        source: DataFrame,
        key: str,
        tracked: tuple[str, ...],
        ts_col: str = "effective_ts",
        valid_from: str = "valid_from",
        valid_to: str = "valid_to",
        current_col: str = "is_current",
    ) -> int:
        """SCD TYPE-2 MERGE — the dimension-maintenance idiom every
        warehouse runs on Delta (one MERGE with a matched-UPDATE that
        closes the old version and an INSERT that opens the new one).
        The target is a slowly-changing dimension: ``key``, the
        ``tracked`` attributes, and the bookkeeping triple
        (``valid_from``, ``valid_to``, ``current_col``). Per source row
        (key, tracked..., ``ts_col``):

        - key unknown to the dimension: INSERT an open row
          (valid_from=ts, valid_to=null, current=true);
        - key's CURRENT row differs on any tracked attribute
          (null-safe): CLOSE it (valid_to=ts, current=false — an
          update_preimage/update_postimage CDF pair) and INSERT the
          new open row (insert CDF row);
        - equal tracked attributes: no-op (no file churn, no CDF).

        ONE atomic commit; copy-on-write over only the files holding
        affected CURRENT rows (historical closed rows are untouched
        metadata — the common case on a dimension whose history dwarfs
        its live set). A duplicate-key source is rejected like merge().
        Assumes ts_col is monotone per key across calls (the standard
        SCD2 contract; an out-of-order feed needs a staging dedup)."""
        self._forbid_append_only("MERGE (SCD2)")
        snap = self.snapshot_adds()
        if not snap:
            raise ValueError("SCD2 merge into an empty table: use append "
                             "with open rows")
        src = source.localCheckpoint()
        if src.groupBy(key).count().filter(F.col("count") > 1).limit(1).count():
            raise ValueError(
                f"SCD2 source has duplicate {key} values: one change per "
                "key per merge (Delta rejects multi-match)"
            )
        s = self.schema()
        cols = [f.name for f in s.fields]
        ftype = {f.name: f.dataType for f in s.fields}
        target = self._read_adds(spark, snap, with_lineage=True)
        cur = target.filter(F.col(current_col))
        # changed = source rows whose key HAS a current row with a
        # differing tracked attribute (null-safe); new = unknown keys
        diff = F.lit(False)
        for c in tracked:
            diff = diff | ~F.col(f"t.{c}").eqNullSafe(F.col(f"s.{c}"))
        joined = src.alias("s").join(
            cur.alias("t"), F.col(f"s.{key}") == F.col(f"t.{key}"), "left"
        )
        # changed keys stay a FRAME (pinned once): at scale a merge
        # batch can change millions of keys — never a driver-side list
        changed_keys = (
            joined.filter(F.col(f"t.{key}").isNotNull() & diff)
            .select(F.col(f"s.{key}").alias(key))
            .localCheckpoint()
        )
        new_rows = joined.filter(F.col(f"t.{key}").isNull()).select("s.*")
        changed_src = src.join(F.broadcast(changed_keys), key, "left_semi")
        # only files holding an affected CURRENT row are rewritten
        rel_of_base = self._rel_of_base_map(snap)
        hit_files = [
            rel_of_base[r[0]]
            for r in cur.join(F.broadcast(changed_keys), key, "left_semi")
            .select("__file")
            .distinct()
            .collect()
        ]
        affected = (
            self._read_adds(spark, {p: snap[p] for p in hit_files})
            if hit_files
            else target.drop("__file", "__pos").limit(0)
        )
        # to_close and kept are COMPLEMENTARY by construction: one
        # deterministic membership flag, not two independent filters
        is_close = F.col(current_col) & F.col("__chg").isNotNull()
        flagged = affected.join(
            F.broadcast(changed_keys.select(F.col(key).alias("__chg"))),
            F.col(key) == F.col("__chg"),
            "left",
        )
        to_close = flagged.filter(is_close).drop("__chg")
        kept = flagged.filter(~F.coalesce(is_close, F.lit(False))).drop("__chg")
        ts_of = changed_src.select(
            F.col(key), F.col(ts_col).alias("__new_ts")
        )
        closed = (
            to_close.join(ts_of, key, "inner")
            .withColumn(valid_to, F.col("__new_ts").cast(ftype[valid_to]))
            .withColumn(current_col, F.lit(False).cast(ftype[current_col]))
            .drop("__new_ts")
        )

        def _open(df: DataFrame) -> DataFrame:
            out = df.withColumn(
                valid_from, F.col(ts_col).cast(ftype[valid_from])
            ).withColumn(
                valid_to, F.lit(None).cast(ftype[valid_to])
            ).withColumn(current_col, F.lit(True).cast(ftype[current_col]))
            return out.select(*cols)

        opened = _open(changed_src)
        inserted = _open(new_rows)
        if not hit_files and inserted.limit(1).count() == 0:
            return self.latest_version()  # nothing changed: no-op
        self._enforce_constraints(closed.select(*cols))
        self._enforce_constraints(opened.unionByName(inserted))
        adds = self._stage_rewrite(
            kept.select(*cols)
            .unionByName(closed.select(*cols))
            .unionByName(opened)
            .unionByName(inserted),
            [snap[p] for p in hit_files],
            src,
        )
        cdc_frame = (
            to_close.select(*cols)
            .withColumn("_change_type", F.lit("update_preimage"))
            .unionByName(
                closed.select(*cols).withColumn(
                    "_change_type", F.lit("update_postimage")
                )
            )
            .unionByName(
                opened.withColumn("_change_type", F.lit("insert"))
            )
            .unionByName(
                inserted.withColumn("_change_type", F.lit("insert"))
            )
        )
        cdc_actions = self._stage_cdc(cdc_frame)
        now = _now_ms()
        actions = cdc_actions + [{"add": a} for a in adds]
        actions += [
            {"remove": self._remove_action(p, snap[p], now)}
            for p in hit_files
        ]
        actions.append(
            {
                "commitInfo": {
                    "timestamp": now,
                    "operation": "MERGE",
                    "operationParameters": {
                        "mode": "SCD2",
                        "key": key,
                        "tracked": json.dumps(list(tracked)),
                    },
                    "operationMetrics": self._op_metrics(
                        adds,
                        len(hit_files),
                        cdc_actions,
                        op="MERGE",
                        clause_counts=self._cdc_counts(cdc_actions),
                    ),
                }
            }
        )
        v = self._commit(
            actions, self._adds_unchanged({p: snap[p] for p in hit_files})
        )
        if v is None:
            raise ConcurrentDeleteReadError(
                "a concurrent commit rewrote files this SCD2 merge "
                "targets; retry"
            )
        return v

    @_occ_retry
    def replace_where(self, spark, df: DataFrame, predicate_sql: str) -> int:
        """Predicate-scoped OVERWRITE (Delta's
        ``.mode("overwrite").option("replaceWhere", pred)`` — the
        idempotent-backfill primitive: re-deriving one day/region
        replaces exactly that slice atomically, however many times the
        job reruns):

        1. every NEW row must satisfy the predicate — rows outside the
           replaced region are REJECTED up front (Delta's replaceWhere
           constraint check; silently writing them would corrupt
           neighboring slices);
        2. files containing matching rows are found with one
           predicate-pushed scan and rewritten WITHOUT those rows
           (rows of theirs outside the predicate survive — copy-on-
           write, the delete_where machinery);
        3. ONE commit: removes for the affected files, adds for the
           kept-rewrites and the new data, plus cdc actions publishing
           the replaced rows as deletes and the new rows as inserts —
           a CDF replica applies the backfill without re-diffing.

        Scale: cost tracks files-with-matches + new-data size; on a
        partition-aligned predicate the rewrite set is pruned from log
        metadata alone and untouched partitions are pure metadata."""
        self._forbid_append_only("replaceWhere")
        # pin the input FIRST: validating one instantiation of a
        # nondeterministic df and staging another would let
        # out-of-predicate (or constraint-violating) rows slip past
        # the very checks below
        df = df.localCheckpoint()
        df = self._apply_generated(df)
        id_base = self._metadata_dict() if self.identity_columns() else None
        df, id_high = self._assign_identity(df)
        id_meta = self._identity_meta_update(id_high)
        bad = df.filter(
            ~F.coalesce(F.expr(predicate_sql), F.lit(False))
        ).limit(1)
        if bad.count():
            raise ValueError(
                f"replaceWhere: new data contains rows NOT matching "
                f"{predicate_sql!r} (Delta rejects writes outside the "
                "replaced region)"
            )
        self._enforce_constraints(df)
        live = self.snapshot_adds()
        pb = self.partition_columns() if live or self.latest_version() >= 0 else ()
        hit_files: list[str] = []
        deleted = None
        if live:
            rel_of_base = self._rel_of_base_map(live)
            full = self._read_adds(spark, live, with_lineage=True)
            hit_files = [
                rel_of_base[r[0]]
                for r in full.filter(F.expr(predicate_sql))
                .select("__file")
                .distinct()
                .collect()
            ]
        adds: list[dict] = []
        rt = None
        if hit_files:
            affected, rt = self._read_adds_materialized(
                spark, {p: live[p] for p in hit_files}
            )
            kept = affected.filter(
                ~F.coalesce(F.expr(predicate_sql), F.lit(False))
            )
            deleted = affected.filter(F.expr(predicate_sql)).drop(*(rt or ()))
            adds += self._stage_files(kept, partition_by=pb)
        adds += self._stage_files(df, partition_by=pb)
        cdc_frame = df.withColumn("_change_type", F.lit("insert"))
        if deleted is not None:
            cdc_frame = deleted.withColumn(
                "_change_type", F.lit("delete")
            ).unionByName(cdc_frame)
        cdc_actions = self._stage_cdc(cdc_frame)
        now = _now_ms()
        actions = cdc_actions + [{"add": a} for a in adds]
        if id_meta is not None:
            actions.insert(0, {"metaData": id_meta})
        actions += [
            {"remove": self._remove_action(p, live[p], now)}
            for p in hit_files
        ]
        actions.append(
            {
                "commitInfo": {
                    "timestamp": now,
                    "operation": "WRITE",
                    "operationParameters": {
                        "mode": "Overwrite",
                        "predicate": predicate_sql,
                    },
                    "operationMetrics": self._op_metrics(
                        adds, len(hit_files), cdc_actions, write=True
                    ),
                }
            }
        )
        adds_check = (
            self._adds_unchanged({p: live[p] for p in hit_files})
            if hit_files
            else None
        )

        def _pre() -> bool:
            if id_high and self._metadata_dict() != id_base:
                raise MetadataChangedError(
                    "identity high-water mark moved concurrently; retry"
                )
            return adds_check() if adds_check is not None else True

        v = self._commit(
            actions,
            _pre if (adds_check is not None or id_high) else None,
            first_commit_actions=self._metadata_actions(df, tuple(pb)),
        )
        if v is None:
            raise ConcurrentDeleteReadError(
                "a concurrent commit rewrote files this replaceWhere "
                "targets; retry"
            )
        return v

    def history(self, spark) -> DataFrame:
        """DESCRIBE HISTORY — the audit surface every Delta table
        exposes: one row per commit from its commitInfo action
        (version, wall-clock timestamp, operation name). Pure log
        metadata, O(commits), no data file touched; the returned frame
        is driver-built because the log IS driver-local metadata."""
        rows = [
            (
                v,
                a["commitInfo"].get(
                    "inCommitTimestamp", a["commitInfo"].get("timestamp")
                ),
                a["commitInfo"].get("operation"),
            )
            for v, a in self._exact_commit_actions()
            if "commitInfo" in a
        ]
        return spark.createDataFrame(
            rows, "version bigint, timestamp bigint, operation string"
        )

    def history_metrics(self, spark) -> DataFrame:
        """DESCRIBE HISTORY with operationMetrics (delta-spark's
        per-operation numbers column): per retained commit, what the
        writer DECLARED it did — files added/removed, rows
        written (WRITE/MERGE numOutputRows), deleted (DELETE
        numDeletedRows / MERGE numTargetRowsDeleted), updated (UPDATE
        numUpdatedRows / MERGE numTargetRowsUpdated) and copied — each
        vocabulary's synonyms collapse into one column; absent metrics
        read as 0. Audited against the raw actions AND the change
        files by scan_delta_log_history_metrics' oracle, which
        recomputes every number from the log + cdc parquet."""
        rows = []
        for v, a in self._exact_commit_actions():
            if "commitInfo" not in a:
                continue
            ci = a["commitInfo"]
            m = ci.get("operationMetrics") or {}

            def pick(*names: str, m=m) -> int:
                for n in names:
                    if n in m:
                        return int(m[n])
                return 0

            rows.append(
                (
                    v,
                    ci.get("operation"),
                    pick("numFiles", "numAddedFiles", "numTargetFilesAdded"),
                    pick("numRemovedFiles", "numTargetFilesRemoved"),
                    pick("numOutputRows"),
                    pick("numDeletedRows", "numTargetRowsDeleted"),
                    pick("numUpdatedRows", "numTargetRowsUpdated"),
                    pick("numCopiedRows", "numTargetRowsCopied"),
                )
            )
        return spark.createDataFrame(
            rows,
            "version bigint, operation string, num_added_files bigint, "
            "num_removed_files bigint, num_output_rows bigint, "
            "num_deleted_rows bigint, num_updated_rows bigint, "
            "num_copied_rows bigint",
        )

    def _exact_commit_actions(self):
        """(version, action) over the ORIGINAL commit files only, with
        true per-version attribution — never a compacted segment
        (compaction collapses every in-range commit to version y and
        reconciles cdc away, which would silently corrupt history and
        timestamp travel). After log cleanup this is the retained TAIL
        — exactly what DESCRIBE HISTORY shows on a real Delta table
        whose old commits aged out."""
        vf = self._version_files()
        if not vf:
            return
        yield from self._actions(from_version=vf[0][0], exact=True)

    @_occ_retry
    def enable_vacuum_protocol_check(self) -> int:
        """Ledger the `vacuumProtocolCheck` reader+writer feature: from
        this commit on, every VACUUM (this engine's and any compliant
        client's) must pass the full protocol gate before deleting a
        byte — the guard that stops a legacy vacuumer from reclaiming
        files a feature it doesn't understand still references."""
        proto_base = self._protocol_dict()
        new_proto = self._upgraded_protocol(
            reader_features=("vacuumProtocolCheck",),
            writer_features=("vacuumProtocolCheck",),
        )
        v = self._commit(
            [
                {"protocol": new_proto},
                {
                    "commitInfo": {
                        "timestamp": _now_ms(),
                        "operation": "UPGRADE PROTOCOL",
                        "operationParameters": {
                            "feature": "vacuumProtocolCheck"
                        },
                    }
                },
            ],
            precondition=lambda: self._protocol_dict() == proto_base,
        )
        if v is None:
            raise MetadataChangedError(
                "protocol changed while enabling vacuumProtocolCheck; retry"
            )
        return v

    def enable_checkpoint_protection(
        self, before_version: int | None = None
    ) -> int:
        """Ledger the `checkpointProtection` writer feature (Delta
        4.0) and set `delta.requireCheckpointProtectionBeforeVersion`
        in ONE commit: from here on, metadata cleanup may remove a
        commit/checkpoint below that version ONLY by truncating the
        whole protected region in a single run (its boundary landing
        at or past the version) — partial truncation into protected
        history is forbidden, so a checkpoint covering it can never be
        stranded mid-region. This is the guard DROP FEATURE's
        history-truncation flow relies on. ``before_version`` defaults
        to this enablement commit's own version + 1 (protect all
        current history)."""
        proto_base = self._protocol_dict()
        meta_base = self._metadata_dict()
        if meta_base is None:
            raise ValueError(
                "cannot enable checkpointProtection on a table with no "
                "metaData"
            )
        n = (
            before_version
            if before_version is not None
            else self.latest_version() + 2  # this commit's version + 1
        )
        new_proto = self._upgraded_protocol(
            writer_features=("checkpointProtection",)
        )
        meta = dict(meta_base)
        cfg = dict(meta.get("configuration") or {})
        cfg["delta.requireCheckpointProtectionBeforeVersion"] = str(n)
        meta["configuration"] = cfg
        v = self._commit(
            [
                {"protocol": new_proto},
                {"metaData": meta},
                {
                    "commitInfo": {
                        "timestamp": _now_ms(),
                        "operation": "UPGRADE PROTOCOL",
                        "operationParameters": {
                            "feature": "checkpointProtection",
                            "requireCheckpointProtectionBeforeVersion": n,
                        },
                    }
                },
            ],
            precondition=lambda: (
                self._protocol_dict() == proto_base
                and self._metadata_dict() == meta_base
            ),
        )
        if v is None:
            raise MetadataChangedError(
                "protocol/metadata changed while enabling "
                "checkpointProtection; retry"
            )
        return v

    def _checkpoint_protection_before(self) -> int:
        """The protected-history horizon: `delta.
        requireCheckpointProtectionBeforeVersion` when the
        `checkpointProtection` writer feature is ledgered, else 0.
        An unparseable property value protects EVERYTHING (a misread
        horizon must never let cleanup delete protected history)."""
        proto = self._protocol_dict() or {}
        if "checkpointProtection" not in (
            proto.get("writerFeatures") or ()
        ):
            return 0
        raw = (
            (self._metadata_dict() or {}).get("configuration") or {}
        ).get("delta.requireCheckpointProtectionBeforeVersion", "0")
        try:
            return int(raw)
        except ValueError:
            return (self.latest_version() or 0) + 1

    def copy_into(self, spark, src_dir: str, fmt: str = "parquet") -> int | None:
        """COPY INTO — idempotent BULK FILE INGEST (Delta's COPY INTO
        semantics: each source file loads EXACTLY ONCE however many
        times the command re-runs — the retryable backfill primitive).
        The loaded-file ledger is one `txn` action per source file
        (appId = "copyInto:" + the file's fully-qualified real path —
        same-named files in different directories are different
        files), so
        it rides checkpoints and survives log cleanup like every other
        exactly-once mark; modified files are NOT reloaded (Delta's
        default — a reload would duplicate their already-loaded rows).
        New files are read, pushed through the full write discipline
        (schema enforcement, generated columns, CHECK constraints) and
        committed ATOMICALLY with their ledger marks: a crash between
        staging and commit leaves invisible files and loads cleanly on
        retry. Returns the commit version, or None when every source
        file is already ledgered (the idempotent no-op).

        Scale: per run the cost is O(new files) — the ledger check is
        a set lookup against the txn fold (checkpoint + tail), and the
        load is one distributed scan of only the new files."""
        files = sorted(
            f
            for f in os.listdir(src_dir)
            if f.endswith(f".{fmt}") and not f.startswith(("_", "."))
        )
        if not files:
            return None
        ledger = self.txn_versions()
        # ledger keys are the FULLY-QUALIFIED source path (real COPY
        # INTO's identity): two directories' same-named files are
        # different files — a basename key would silently never load
        # the second one
        def _key(f: str) -> str:
            return "copyInto:" + os.path.realpath(os.path.join(src_dir, f))

        new = [f for f in files if ledger.get(_key(f), -1) < 0]
        if not new:
            return None
        paths = [os.path.join(src_dir, f) for f in new]
        s = self.schema()
        reader = spark.read
        if s is not None:
            # schema enforcement needs the files' OWN columns: an
            # imposed read schema silently drops extra source columns
            # (the exact data loss this guard refuses), so probe the
            # footers first
            have = {x.name for x in s.fields}
            probed = getattr(spark.read, fmt)(*paths)
            extra = [c for c in probed.columns if c not in have]
            if extra:
                raise ValueError(
                    f"COPY INTO source carries columns {extra} the table "
                    "lacks (schema enforcement — evolve the table first)"
                )
            reader = reader.schema(s)
        df = getattr(reader, fmt)(*paths)
        df = self._apply_generated(df)
        self._enforce_constraints(df)
        adds = self._stage_files(df, partition_by=self.partition_columns())
        now = _now_ms()
        actions: list[dict] = [
            {"txn": {"appId": _key(f), "version": 0, "lastUpdated": now}}
            for f in new
        ]
        actions += [{"add": a} for a in adds]
        actions.append(
            {
                "commitInfo": {
                    "timestamp": now,
                    "operation": "COPY INTO",
                    "operationParameters": {
                        "source": src_dir,
                        "numFiles": len(new),
                    },
                }
            }
        )

        def _unloaded() -> bool:
            # a concurrent COPY INTO may have ledgered some of these
            # files while we staged — loading them again would double
            led = self.txn_versions()
            return all(led.get(_key(f), -1) < 0 for f in new)

        v = self._commit(
            actions,
            precondition=_unloaded,
            first_commit_actions=self._metadata_actions(df),
        )
        if v is None:
            raise ConcurrentAppendError(
                "a concurrent COPY INTO ledgered overlapping source "
                "files; retry (already-loaded files will be skipped)"
            )
        return v

    def convert_from_parquet(self, spark) -> int:
        """CONVERT TO DELTA: adopt the EXISTING plain-parquet directory
        at ``self.path`` (flat or Hive-partitioned) as a Delta table —
        one version-0 commit referencing every data file IN PLACE,
        zero bytes copied or moved (delta-spark's CONVERT TO DELTA).
        The schema (partition columns included, typed by Hive
        inference) comes from one Spark scan; partitionValues are
        parsed from each file's directory path; add.paths are logged
        percent-encoded like every write. Converted adds carry no
        stats — readers treat stats-less files as unprunable-but-
        correct (read_where_stats' documented fallback), and the first
        OPTIMIZE rewrites them with full stats. After conversion the
        directory IS a Delta table: every DML verb, time travel, CDF
        and checkpointing apply.

        Scale: the commit is O(files) driver-side metadata — a 100 TB
        directory converts without touching a data page (schema
        inference reads one footer). Fails loudly on a directory that
        already has a `_delta_log`."""
        if self.latest_version() >= 0:
            raise ValueError(
                f"{self.path} already has a _delta_log — refusing to "
                "convert over an existing table"
            )
        rels: list[str] = []
        for root, dirs, files in os.walk(self.path):
            dirs[:] = [d for d in dirs if not d.startswith("_")]
            for f in files:
                if f.endswith(".parquet") and not f.startswith(("_", ".")):
                    rels.append(
                        os.path.relpath(os.path.join(root, f), self.path)
                    )
        if not rels:
            raise ValueError(f"no parquet files under {self.path}")
        df = spark.read.option("basePath", self.path).parquet(
            *[os.path.join(self.path, r) for r in rels]
        )
        schema = df.schema
        # partition columns = every key Hive dirs contribute (ordered
        # by first appearance in the deepest path — one consistent
        # layout is required, mixed layouts raise)
        pcols: list[str] | None = None
        for r in sorted(rels):
            keys = [
                seg.partition("=")[0]
                for seg in os.path.dirname(r).split(os.sep)
                if "=" in seg
            ]
            if pcols is None:
                pcols = keys
            elif keys != pcols:
                # a FLAT file next to Hive dirs is also a mismatch
                # ([] vs ['shop']) — an unpartitioned row has no home
                # in a partitioned schema
                raise ValueError(
                    f"inconsistent partition layouts: {pcols} vs {keys} "
                    f"({r}) — CONVERT requires one Hive layout"
                )
        pcols = pcols or []
        now = _now_ms()
        actions: list[dict] = []
        for r in sorted(rels):
            ap = os.path.join(self.path, r)
            actions.append(
                {
                    "add": {
                        "path": urllib.parse.quote(
                            r, safe="/-._~!$&'()*+,;=:@"
                        ),
                        "partitionValues": _pvals_of_rel_path(r)
                        if pcols
                        else {},
                        "size": os.path.getsize(ap),
                        "modificationTime": int(os.path.getmtime(ap) * 1000),
                        "dataChange": True,
                    }
                }
            )
        actions.append(
            {
                "commitInfo": {
                    "timestamp": now,
                    "operation": "CONVERT",
                    "operationParameters": {"numFiles": len(rels)},
                }
            }
        )
        meta = {
            "id": uuid.uuid4().hex,
            "format": {"provider": "parquet", "options": {}},
            "schemaString": schema.json(),
            "partitionColumns": pcols,
            "configuration": {"delta.enableChangeDataFeed": "true"},
            "createdTime": now,
        }
        v = self._commit(
            actions,
            precondition=lambda: self.latest_version() < 0,
            first_commit_actions=[
                {"protocol": dict(_PROTOCOL)},
                {"metaData": meta},
            ],
        )
        if v is None:
            raise ValueError(
                "a concurrent commit created the table during CONVERT"
            )
        return v

    def detail(self) -> dict:
        """DESCRIBE DETAIL — the table's metadata summary exactly as
        delta-spark reports it: format, id, location, timestamps,
        partition columns, live numFiles / sizeInBytes (from the log
        fold — no filesystem scan), table properties and the protocol
        floor. Pure metadata: O(checkpoint + tail) at any table size."""
        m = self._metadata_dict() or {}
        p = self._protocol_dict() or {}
        adds = self.snapshot_adds()
        last = self._last_commit_info() or {}
        return {
            "format": (m.get("format") or {}).get("provider", "parquet"),
            "id": m.get("id"),
            "location": self.path,
            "createdAt": m.get("createdTime"),
            "lastModified": last.get(
                "inCommitTimestamp", last.get("timestamp")
            ),
            "partitionColumns": list(m.get("partitionColumns") or ()),
            "numFiles": len(adds),
            "sizeInBytes": sum(int(a.get("size") or 0) for a in adds.values()),
            "properties": dict(m.get("configuration") or {}),
            "minReaderVersion": p.get("minReaderVersion", 1),
            "minWriterVersion": p.get("minWriterVersion", 1),
        }

    def clone_from(self, source: "DeltaLogTable") -> int:
        """SHALLOW CLONE (Delta's CREATE TABLE ... SHALLOW CLONE): one
        version-0 commit whose add actions reference the SOURCE's live
        data files by ABSOLUTE percent-encoded file:// URI — zero data
        bytes copied (PROTOCOL.md: add.path "can be an absolute path",
        the form delta-spark's SHALLOW CLONE writes). The clone then
        diverges independently: DML copy-on-writes into the CLONE root
        (source files stay untouched metadata), vacuum never deletes
        outside the clone root, and each table keeps its own history.
        Adds carrying a DELETION VECTOR re-anchor the descriptor as
        storageType "p" (absolute path — the spec's cross-table form),
        which this reader and the streaming source both fold.

        Scale: the clone commit is O(live files) of driver-side
        metadata — cloning a 100 TB table writes one JSON file; cost
        is independent of data size. A concurrent writer racing the
        clone to version 0 aborts the clone (never a half-identity)."""
        from deltasink_spark import roaring as _roaring

        if self.latest_version() >= 0:
            raise ValueError("clone target table is not empty")
        src_meta = source._metadata_dict()
        if src_meta is None:
            raise ValueError("clone source has no metaData action")
        now = _now_ms()
        actions: list[dict] = []
        for p, a in sorted(source.snapshot_adds().items()):
            ap = os.path.realpath(source._abs_of_add_path(p))
            na = dict(a)
            na["path"] = "file://" + urllib.parse.quote(
                ap, safe="/-._~!$&'()*+,;=:@"
            )
            na["dataChange"] = True
            dv = a.get("deletionVector")
            if dv:
                if dv["storageType"] == "u":
                    nd = dict(dv)
                    nd["storageType"] = "p"
                    nd["pathOrInlineDv"] = os.path.join(
                        source.path,
                        _roaring.dv_relative_path(dv["pathOrInlineDv"]),
                    )
                    na["deletionVector"] = nd
                elif dv["storageType"] != "p":
                    raise ValueError(
                        f"cannot clone DV storageType {dv['storageType']!r}"
                    )
            actions.append({"add": na})
        meta = dict(src_meta)
        meta["id"] = uuid.uuid4().hex  # a clone is a NEW table identity
        meta["createdTime"] = now
        actions.append(
            {
                "commitInfo": {
                    "timestamp": now,
                    "operation": "CLONE",
                    "operationParameters": {
                        "source": source.path,
                        "sourceVersion": source.latest_version(),
                    },
                }
            }
        )
        proto = source._protocol_dict() or dict(_PROTOCOL)
        v = self._commit(
            actions,
            precondition=lambda: self.latest_version() < 0,
            first_commit_actions=[{"protocol": proto}, {"metaData": meta}],
        )
        if v is None:
            raise ValueError(
                "a concurrent commit created the clone target first"
            )
        return v

    def deep_clone_from(self, source: "DeltaLogTable") -> int:
        """DEEP CLONE (Delta's CREATE TABLE ... CLONE — the deep form,
        the OSS default): physically COPY every live data file (and
        every live deletion-vector payload) into the clone root, then
        one version-0 commit whose adds carry the copied paths with
        the source's stats / partitionValues / row-tracking lineage —
        a fully INDEPENDENT table. Nothing references the source, so
        vacuuming or dropping the source can never damage the clone
        (the availability property [clone_from]'s zero-copy shallow
        form trades away). Source domainMetadata (row-id high-water
        mark, clustering state) clones along so row ids keep minting
        collision-free and a parameterless OPTIMIZE keeps clustering.
        txn app marks do NOT clone (exactly-once ledgers are
        per-table; a replay guard must not skip the clone's first
        legitimate batch). Relative source files keep their partition
        layout; absolute adds (a shallow-clone source) copy to fresh
        root names — partitionValues on the action, not the dir, are
        what readers consume. DV descriptors re-anchor as table-local
        'u' over the copied payload (offsets preserved — the whole DV
        file is copied).

        Scale: the clone is one file-copy pass over LIVE bytes (the
        operation's irreducible cost and its point — an isolated
        physical copy) plus O(files) driver metadata; history does
        NOT clone (version 0 is the snapshot), per delta-spark."""
        from deltasink_spark import roaring as _roaring

        if self.latest_version() >= 0:
            raise ValueError("clone target table is not empty")
        src_meta = source._metadata_dict()
        if src_meta is None:
            raise ValueError("clone source has no metaData action")
        now = _now_ms()
        actions: list[dict] = []
        for p, a in sorted(source.snapshot_adds().items()):
            src_fp = os.path.realpath(source._abs_of_add_path(p))
            if "://" in p or p.startswith("/"):
                rel = f"part-{uuid.uuid4().hex}.parquet"
            else:
                rel = urllib.parse.unquote(p)
            dst = os.path.join(self.path, rel)
            # CONTAINMENT: a foreign/untrusted source log whose
            # relative add path smuggles '..' segments must not turn
            # the copy into an arbitrary-file-write outside the clone
            # root (the same realpath root-prefix guard vacuum and the
            # read path enforce) — such paths fall back to a fresh
            # root-level name, like the absolute-path branch
            root = os.path.realpath(self.path)
            if not os.path.realpath(dst).startswith(root + os.sep):
                rel = f"part-{uuid.uuid4().hex}.parquet"
                dst = os.path.join(self.path, rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(src_fp, dst)
            na = dict(a)
            na["path"] = urllib.parse.quote(rel, safe="/-._~!$&'()*+,;=:@")
            na["dataChange"] = True
            na["modificationTime"] = now
            dv = a.get("deletionVector")
            if dv:
                if dv["storageType"] == "u":
                    src_dv = os.path.join(
                        source.path,
                        _roaring.dv_relative_path(dv["pathOrInlineDv"]),
                    )
                elif dv["storageType"] == "p":
                    src_dv = dv["pathOrInlineDv"]
                else:
                    raise ValueError(
                        f"cannot clone DV storageType {dv['storageType']!r}"
                    )
                enc, dv_rel = _roaring.new_dv_descriptor_path()
                dst_dv = os.path.join(self.path, dv_rel)
                os.makedirs(os.path.dirname(dst_dv), exist_ok=True)
                shutil.copyfile(src_dv, dst_dv)
                nd = dict(dv)
                nd["storageType"] = "u"
                nd["pathOrInlineDv"] = enc
                na["deletionVector"] = nd
            actions.append({"add": na})
        for dom in sorted(source.domain_metadata()):
            actions.append(
                {
                    "domainMetadata": {
                        "domain": dom,
                        "configuration": json.dumps(
                            source.domain_metadata()[dom], sort_keys=True
                        ),
                        "removed": False,
                    }
                }
            )
        meta = dict(src_meta)
        meta["id"] = uuid.uuid4().hex  # a clone is a NEW table identity
        meta["createdTime"] = now
        actions.append(
            {
                "commitInfo": {
                    "timestamp": now,
                    "operation": "CLONE",
                    "operationParameters": {
                        "source": source.path,
                        "sourceVersion": source.latest_version(),
                        "isShallow": "false",
                    },
                }
            }
        )
        proto = source._protocol_dict() or dict(_PROTOCOL)
        v = self._commit(
            actions,
            precondition=lambda: self.latest_version() < 0,
            first_commit_actions=[{"protocol": proto}, {"metaData": meta}],
        )
        if v is None:
            raise ValueError(
                "a concurrent commit created the clone target first"
            )
        return v

    def restore(self, spark, version: int) -> int:
        """RESTORE TABLE ... TO VERSION AS OF — roll the table back to
        an earlier snapshot as a NEW commit (history is immutable; the
        rollback is itself versioned, exactly Delta's RESTORE): re-add
        the target snapshot's files missing from the current one and
        remove current files the target lacks, both dataChange=true —
        a CDF reader nets the re-added files' rows (inserts) against
        the removed files' rows (deletes, via the reader fallback in
        read_changes), so a replica converges on the restored state.
        Pure metadata — no data is copied or rewritten, whatever the
        table size. Fails if VACUUM already deleted a needed file
        (Delta's documented RESTORE failure mode), rejects a
        nonexistent target version, and aborts if ANY concurrent
        commit lands between plan and commit (the snapshot this plan
        diffed against must be the one it supersedes)."""
        self._forbid_append_only("RESTORE")
        latest = self.latest_version()
        if not (0 <= version <= latest):
            raise ValueError(
                f"cannot RESTORE to version {version}: log has 0..{latest}"
            )
        old = self.snapshot_adds(version)
        cur = self.snapshot_adds()
        missing = [
            p for p in old if not os.path.exists(self._abs_of_add_path(p))
        ]
        from deltasink_spark import roaring as _roaring

        missing += [
            dv_rel
            for a in old.values()
            if a.get("deletionVector")
            for dv_rel in [_roaring.dv_relative_path(a["deletionVector"]["pathOrInlineDv"])]
            if not os.path.exists(os.path.join(self.path, dv_rel))
        ]
        if missing:
            raise ValueError(
                f"cannot RESTORE to version {version}: {len(missing)} data "
                f"file(s) were vacuumed (first: {missing[0]})"
            )
        def _dv(a: dict):
            return a.get("deletionVector")

        # a path whose CURRENT add differs from the target's (a DV
        # delete swapped the descriptor under the same path) must be
        # removed and re-added too — diffing by path alone would
        # silently keep the newer deletion vector
        re_adds = [
            dict(old[p], dataChange=True)
            for p in old
            if p not in cur or _dv(cur[p]) != _dv(old[p])
        ]
        removes = [
            dict({"path": p}, **({"deletionVector": _dv(cur[p])} if _dv(cur[p]) else {}))
            for p in cur
            if p not in old or _dv(cur[p]) != _dv(old[p])
        ]
        now = _now_ms()
        # removes BEFORE adds: same-path swaps fold sequentially
        actions: list[dict] = [
            {"remove": dict(r, deletionTimestamp=now, dataChange=True)}
            for r in removes
        ]
        actions += [{"add": a} for a in re_adds]
        actions.append(
            {
                "commitInfo": {
                    "timestamp": now,
                    "operation": "RESTORE",
                    "operationParameters": {"version": version},
                }
            }
        )
        planned = {
            p: (a.get("deletionVector") or {}).get("pathOrInlineDv")
            for p, a in cur.items()
        }

        def snapshot_unchanged() -> bool:
            # stricter than _adds_unchanged: ANY concurrent commit —
            # a new path, a dropped path, OR a same-path DV swap (a
            # concurrent DV delete changes content without changing
            # the path set) — invalidates the planned diff
            now_adds = self.snapshot_adds()
            return {
                p: (a.get("deletionVector") or {}).get("pathOrInlineDv")
                for p, a in now_adds.items()
            } == planned

        v = self._commit(actions, snapshot_unchanged)
        if v is None:
            raise ConcurrentDeleteReadError(
                "a concurrent commit changed the snapshot this RESTORE "
                "planned against; retry"
            )
        return v

    def compact_log(self, x: int, y: int) -> str:
        """MINOR LOG COMPACTION (the spec's `<x>.<y>.compacted.json`,
        the lighter sibling of parquet checkpoints): write ONE file
        carrying the RECONCILED actions of versions x..y — net adds
        (in-range add+remove pairs cancel entirely), retained removes
        (they cancel PRE-range adds, so they must survive), the latest
        protocol/metaData in range, per-app txn high-water marks, and
        every commitInfo (history) — ordered removes-before-adds so
        same-path supersessions (DV swaps) fold correctly. Readers
        substitute the segment when their whole window covers it (one
        file open instead of y-x+1; see _actions), after which the
        originals may be cleaned up for full-fold readers. Folds
        entering the range midway (time travel inside it) still need
        the originals — keep them as long as such reads matter, the
        same retention tradeoff VACUUM makes with time travel."""
        latest = self.latest_version()
        if not (0 <= x < y <= latest):
            raise ValueError(f"invalid compaction range [{x}, {y}] for 0..{latest}")
        have = {v for v, _ in self._version_files()}
        missing = [v for v in range(x, y + 1) if v not in have]
        if missing:
            raise ValueError(
                f"cannot compact [{x}, {y}]: version {missing[0]} missing"
            )
        proto = None
        meta = None
        adds: dict[str, dict] = {}
        removes: dict[str, dict] = {}
        txns: dict[str, int] = {}
        doms: dict[str, dict] = {}
        infos: list[dict] = []
        for _, a in self._actions(y, from_version=x):
            if "protocol" in a:
                proto = a["protocol"]
            elif "metaData" in a:
                meta = a["metaData"]
            elif "domainMetadata" in a:
                # latest-per-domain, KEEPING removed=true tombstones:
                # unlike a checkpoint (state from version 0, where a
                # removed domain can simply vanish), a segment replaces
                # only x..y — a SET below x must stay shadowed by the
                # in-range removal, so the tombstone must survive.
                # Without this, non-exact folds that substitute the
                # segment (domain_metadata, checkpoint writes) silently
                # lose every domain set inside the range.
                doms[a["domainMetadata"]["domain"]] = a["domainMetadata"]
            elif "add" in a:
                adds[a["add"]["path"]] = a["add"]
                removes.pop(a["add"]["path"], None)
            elif "remove" in a:
                p = a["remove"]["path"]
                if p in adds:
                    del adds[p]  # added AND removed in range: never visible
                else:
                    removes[p] = a["remove"]  # cancels a pre-range add
            elif "txn" in a:
                t = a["txn"]
                txns[t["appId"]] = max(txns.get(t["appId"], -1), t["version"])
            elif "commitInfo" in a:
                infos.append(a["commitInfo"])
        actions: list[dict] = []
        if proto is not None:
            actions.append({"protocol": proto})
        if meta is not None:
            actions.append({"metaData": meta})
        actions += [
            {"txn": {"appId": app, "version": v}}
            for app, v in sorted(txns.items())
        ]
        actions += [{"domainMetadata": doms[d]} for d in sorted(doms)]
        actions += [{"remove": removes[p]} for p in sorted(removes)]
        actions += [{"add": adds[p]} for p in sorted(adds)]
        actions += [{"commitInfo": ci} for ci in infos]
        path = os.path.join(self.log_dir, f"{x:020d}.{y:020d}.compacted.json")
        self._store.put_atomic(
            path, "".join(json.dumps(a) + "\n" for a in actions)
        )
        return path

    def vacuum(
        self,
        retention_ms: int | None = None,
        dry_run: bool = False,
        force: bool = False,
        mode: str = "lite",
    ) -> int:
        """Physically delete data files no longer in the CURRENT
        snapshot whose tombstones are at least ``retention_ms`` old
        (Delta's VACUUM ... RETAIN: the window that keeps concurrent
        readers of recent versions — and time travel inside it — safe).
        ``retention_ms=None`` (the default) resolves the TABLE's
        `delta.deletedFileRetentionDuration` property, falling back to
        the spec's 1-week default — the table, not each caller,
        decides its safety window, exactly delta-spark. An explicit
        retention BELOW the resolved window refuses unless
        ``force=True`` (delta-spark's retentionDurationCheck: the
        guard against the classic VACUUM RETAIN 0 HOURS foot-gun that
        breaks every concurrent reader); past it, pre-vacuum time
        travel raises on the missing files, Delta's documented
        behavior. Also reclaims DELETION-VECTOR files no live add
        references (every second DV delete orphans its predecessor's
        DV file, and OPTIMIZE/rewrite DML orphan them wholesale —
        without this they leak forever); DV files ride the same
        retention window via their youngest referencing tombstone.
        ``dry_run=True`` counts (and never deletes) — Delta's VACUUM
        DRY RUN. Never touches unrecognized files outside the
        removed/DV sets. Returns files deleted (or deletable).

        ``mode`` (delta's VACUUM ... LITE vs FULL, delta-spark 3.3):
        "lite" (the default) drives deletion from the LOG'S REMOVE
        HISTORY alone — O(checkpoint removes + tail) metadata, no
        directory listing of the data tree, the only mode that stays
        cheap on a 100 TB table with millions of files — and by
        construction never touches a file the log doesn't know.
        "full" ADDITIONALLY walks the table root and reclaims
        UNTRACKED debris past the retention window (by mtime):
        crash-orphaned staged files no commit ever referenced, foreign
        junk, leftover tmp_stage dirs. Hidden trees (`_delta_log`,
        `_change_data`, dot-files) are never touched, live files and
        live DV payloads never qualify, and tombstoned files keep
        their tombstone-age rule from the lite pass (mtime never
        overrides a younger tombstone).

        `vacuumProtocolCheck` (PROTOCOL.md's Vacuum Protocol Check
        feature): when the table ledgers it, VACUUM runs the FULL
        writer-side protocol gate first — an unknown writerFeature may
        track files this client cannot see (its own sidecar layout, a
        different DV naming), and deleting by an incomplete reachability
        fold would be permanent data loss. Without the feature, the
        read gate alone applies (delta's historical default, kept for
        parity)."""
        if mode not in ("lite", "full"):
            raise ValueError(f"vacuum mode must be 'lite' or 'full', got {mode!r}")
        proto = self._protocol_dict() or {}
        if "vacuumProtocolCheck" in (
            tuple(proto.get("writerFeatures") or ())
            + tuple(proto.get("readerFeatures") or ())
        ):
            self._check_write_protocol()
        cfg = (self._metadata_dict() or {}).get("configuration") or {}
        prop = cfg.get("delta.deletedFileRetentionDuration")
        window = (
            _parse_duration_ms(prop)
            if prop
            else _TOMBSTONE_RETENTION_MS  # the spec's 1-week default
        )
        if retention_ms is None:
            retention_ms = window
        elif retention_ms < window and not force:
            raise ValueError(
                f"VACUUM retention {retention_ms} ms is below the "
                f"table's window ({window} ms from "
                "delta.deletedFileRetentionDuration); a concurrent "
                "reader of a recent version may still hold these files "
                "— pass force=True to override "
                "(delta-spark's retentionDurationCheck)"
            )
        from deltasink_spark import roaring as _roaring

        cutoff = _now_ms() - retention_ms
        self._check_read_protocol()
        snap = self._snapshot()
        adds = snap.adds
        # the live/removed set difference runs over RESOLVED filesystem
        # paths, never raw action strings: a foreign log can reference
        # one physical file under several encodings (absolute file://
        # URI vs relative, percent-encoded vs not), and a raw string
        # difference would let a stale encoding of a LIVE file through
        # to os.remove — permanent data loss
        live = {os.path.realpath(self._abs_of_add_path(p)) for p in adds}
        # tombstones: the snapshot's latest remove per path — the last
        # checkpoint's retained removes + the JSON tail after it, which
        # both survives pre-checkpoint log cleanup and stays
        # O(checkpoint + tail); tombstones that aged out of the
        # checkpoint are beyond retention (real Delta's documented
        # vacuum horizon)
        removed_actions = snap.removes
        # retention: a file is reclaimable only when its YOUNGEST
        # tombstone has aged past the window (a re-removed file's age
        # restarts — a reader of the newer version may still hold it)
        ts_of: dict[str, int] = {}
        for p, r in removed_actions.items():
            fp = os.path.realpath(self._abs_of_add_path(p))
            ts_of[fp] = max(
                ts_of.get(fp, 0), int(r.get("deletionTimestamp") or 0)
            )
        ever_removed = set(ts_of)
        n = 0
        root = os.path.realpath(self.path) + os.sep
        for fp in sorted(ever_removed - live):
            # resolved like every reader (URL-encoded / absolute forms
            # a foreign writer logs), but only ever delete INSIDE the
            # table root — an absolute tombstone pointing elsewhere
            # (shallow-clone source data) is never this table's to
            # destroy, real VACUUM's behavior
            if ts_of[fp] > cutoff:
                continue  # tombstone younger than the retention window
            if fp.startswith(root) and os.path.exists(fp):
                if not dry_run:
                    os.remove(fp)
                n += 1
        live_dvs = set()
        for a in adds.values():
            dv = a.get("deletionVector")
            if not dv:
                continue
            if dv["storageType"] == "u":
                live_dvs.add(_roaring.dv_relative_path(dv["pathOrInlineDv"]))
            elif dv["storageType"] == "p":
                # absolute-path DV (shallow clone): if it happens to
                # live in THIS table's root, its basename is live too
                live_dvs.add(os.path.basename(dv["pathOrInlineDv"]))
        for f in sorted(os.listdir(self.path)):
            if (
                f.startswith("deletion_vector_")
                and f.endswith(".bin")
                and f not in live_dvs
            ):
                if retention_ms and os.path.getmtime(
                    os.path.join(self.path, f)
                ) * 1000 > cutoff:
                    continue  # orphaned too recently: window protects it
                if not dry_run:
                    os.remove(os.path.join(self.path, f))
                n += 1
        if mode == "full":
            real_root = os.path.realpath(self.path)
            for walk_root, dirs, files in os.walk(real_root):
                rel_root = os.path.relpath(walk_root, real_root)
                # hidden trees are never vacuum's to touch; neither is
                # the root-level UniForm `metadata/` tree — it is the
                # Iceberg catalog surface, exactly as off-limits as
                # `_delta_log` (a Hive partition dir always carries
                # '=', so a literal "metadata" dir is never data)
                dirs[:] = [
                    d
                    for d in dirs
                    if not (d.startswith("_") or d.startswith("."))
                    and not (walk_root == real_root and d == "metadata")
                ]
                for f in files:
                    if f.startswith("_") or f.startswith("."):
                        continue
                    if f.startswith("deletion_vector_") and f.endswith(
                        ".bin"
                    ):
                        continue  # the DV pass above owns these
                    fp = os.path.realpath(os.path.join(walk_root, f))
                    rel = (
                        f if rel_root == "." else os.path.join(rel_root, f)
                    )
                    if fp in live or rel in live_dvs:
                        continue
                    if fp in ever_removed:
                        continue  # tombstoned: the lite pass owns it
                    try:
                        mt = os.path.getmtime(fp) * 1000
                    except OSError:
                        continue
                    if retention_ms and mt > cutoff:
                        continue  # too fresh: may be a commit in flight
                    if not dry_run:
                        os.remove(fp)
                    n += 1
            if not dry_run:
                # reap now-empty debris dirs (crash-orphaned tmp_stage
                # trees), bottom-up; live Hive partition dirs hold
                # files and survive
                for walk_root, dirs, files in os.walk(
                    real_root, topdown=False
                ):
                    if walk_root == real_root:
                        continue
                    base = os.path.basename(walk_root)
                    if base.startswith("_") or base.startswith("."):
                        continue
                    if not os.listdir(walk_root):
                        os.rmdir(walk_root)
        return n

    def cleanup_log(self, retention_ms: int | None = None) -> int:
        """METADATA CLEANUP (`delta.logRetentionDuration` semantics —
        the mechanism that keeps `_delta_log` from growing forever on
        a long-lived table): delete JSON commit files AT OR BELOW the
        last checkpoint whose commit timestamp is older than
        ``retention_ms``, plus compacted segments wholly inside the
        deleted range. Only checkpoint-covered commits are ever
        deletable (the checkpoint carries their reconstructed state —
        protocol, metaData, live adds, txn marks, unexpired remove
        tombstones), so every snapshot/DML/txn fold keeps working via
        checkpoint + tail. What is lost, LOUDLY (never silently):
        time travel / CDF / timestamp-travel below the checkpoint now
        raise (snapshot_adds and _actions(exact=True) detect the gap),
        and history shows only the retained tail — exactly real
        Delta's documented retention behavior. Returns files deleted.

        ``retention_ms=None`` resolves the TABLE's
        `delta.logRetentionDuration` property, falling back to the
        spec's 30-day default — the table decides how much history it
        keeps, not each caller (delta-spark's contract).

        Scale: the log stays O(checkpoint + retention window) however
        old the table; the delete itself is O(expired files) of
        driver-side unlinks."""
        if retention_ms is None:
            cfg = (self._metadata_dict() or {}).get("configuration") or {}
            prop = cfg.get("delta.logRetentionDuration")
            retention_ms = (
                _parse_duration_ms(prop) if prop else 30 * 24 * 3600 * 1000
            )
        cv = self.last_checkpoint()
        if cv is None:
            return 0  # nothing is checkpoint-covered: delete nothing

        def _age_ts(path: str) -> int:
            """Retention timestamp of a log file: its last commitInfo
            (ICT-preferring), falling back to FILE MTIME when a commit
            carries no commitInfo (optional per spec) — absent content
            must never read as infinitely old."""
            last = None
            for line in self._store.read(path).splitlines():
                if line.strip():
                    a = json.loads(line)
                    if "commitInfo" in a:
                        ci = a["commitInfo"]
                        last = ci.get(
                            "inCommitTimestamp", ci.get("timestamp")
                        )
            if last is None:
                last = int(os.path.getmtime(path) * 1000)
            return last

        cutoff = _now_ms() - retention_ms
        deleted = 0
        # under the commit lock: _commit's _last_commit_info/latest_version
        # read the very files this unlinks — every log mutation
        # serializes on the same lock
        with self._commit_lock():
            vf = [(v, p) for v, p in self._version_files() if v <= cv]
            # always RETAIN the newest covered commit: it carries the
            # last commitInfo (the ICT high-water mark _commit's O(1)
            # enablement check keys on), and one file bounds nothing.
            # Deletion stops at the FIRST non-expired commit so only a
            # CONTIGUOUS prefix ever goes: per-file expiry against
            # non-monotonic commitInfo timestamps (a writer with a fast
            # clock) would leave holes in the retained tail, and every
            # exact fold (history, CDF, timestamp travel) permanently
            # raises on a hole instead of at the retention horizon
            doomed_vf: list[tuple[int, str]] = []
            for v, p in vf[:-1]:
                if _age_ts(p) > cutoff:
                    break
                doomed_vf.append((v, p))
            # `checkpointProtection` (Delta 4.0): history below
            # requireCheckpointProtectionBeforeVersion may only leave
            # in a run whose truncation boundary reaches the horizon —
            # partial truncation into the protected region is
            # forbidden (it would strand the checkpoints DROP
            # FEATURE's truncation flow planted there). The boundary
            # is the first RETAINED version; when it falls short, the
            # whole run abstains from protected files (commits,
            # segments, superseded checkpoints alike) and reaps only
            # unprotected debris.
            prot_n = self._checkpoint_protection_before()
            boundary = (
                doomed_vf[-1][0] + 1
                if doomed_vf
                else (vf[0][0] if vf else 0)
            )
            allow_protected = boundary >= prot_n
            if not allow_protected:
                doomed_vf = []  # every doomed commit sits below prot_n
            for v, p in doomed_vf:
                self._store.delete(p)
                deleted += 1
                crc = os.path.join(self.log_dir, f"{v:020d}.crc")
                if self._store.exists(crc):  # checksum sidecar rides along
                    self._store.delete(crc)
                    deleted += 1
            for x, y, p in self._compacted_files():
                # a segment is deletable only when its whole range is
                # covered + gone AND the segment itself has expired —
                # a fresh compaction whose originals were already
                # cleaned must keep serving folds within retention
                if (
                    y <= cv
                    and (allow_protected or x >= prot_n)
                    and _age_ts(p) <= cutoff
                    and all(
                        not self._store.exists(
                            os.path.join(self.log_dir, f"{v:020d}.json")
                        )
                        for v in range(x, y + 1)
                    )
                ):
                    self._store.delete(p)
                    deleted += 1
            # superseded CHECKPOINTS: every read anchors on
            # last_checkpoint(), so checkpoints strictly below it serve
            # no fold — but deleting eagerly would race a reader mid-way
            # through the older checkpoint, so they ride the same
            # retention window (mtime-aged: parquet carries no
            # commitInfo). A deleted v2 top drags its sidecar set along
            # UNLESS a retained top still references a sidecar (they
            # are shareable across checkpoints). Without this, every
            # checkpoint_v2 leaks the previous UUID top + its full
            # _sidecars set forever.
            tops_by_v: dict[int, list[str]] = {}
            for f in os.listdir(self.log_dir):
                if (
                    f.endswith(".parquet")
                    and len(f) > 31
                    and f[:20].isdigit()
                    and f[20:31] == ".checkpoint"
                ):
                    tops_by_v.setdefault(int(f[:20]), []).append(
                        os.path.join(self.log_dir, f)
                    )
            doomed = {
                p
                for v, ps in tops_by_v.items()
                if v < cv and (allow_protected or v >= prot_n)
                for p in ps
                if int(os.path.getmtime(p) * 1000) <= cutoff
            }
            if doomed:
                retained_side: set[str] = set()
                for ps in tops_by_v.values():
                    for p in ps:
                        if p not in doomed:
                            retained_side.update(
                                os.path.realpath(s)
                                for s in self._sidecars_of_top(p)
                            )
                for p in sorted(doomed):
                    for s in self._sidecars_of_top(p):
                        if (
                            os.path.realpath(s) not in retained_side
                            and os.path.exists(s)
                        ):
                            os.remove(s)
                            deleted += 1
                    os.remove(p)
                    deleted += 1
        return deleted

    # --- reads ---------------------------------------------------------------

    def read(self, spark, as_of_version: int | None = None) -> DataFrame:
        """Snapshot read (optionally versionAsOf): fold the log, scan
        only live files (basePath-anchored, so a partitioned table's
        partition columns re-materialize). An empty snapshot reads as
        the schemaString's empty frame — the log, not the file listing,
        is the source of truth."""
        adds = self.snapshot_adds(as_of_version)
        if not adds:
            s = self.schema()
            if s is None:
                raise ValueError("empty table with no metaData action")
            return spark.createDataFrame([], s)
        return self._read_adds(spark, adds)

    def version_at_timestamp(self, ts_ms: int) -> int:
        """The latest version whose commitInfo timestamp is <= ``ts_ms``
        — Delta's timestampAsOf resolution (each commit records its
        wall-clock in commitInfo; time-travel-by-time binary-searches
        that sequence). Raises if the timestamp predates the table —
        or predates the earliest RETAINED commit after log cleanup
        (resolving it against a reconciled compacted segment would
        silently return the wrong version)."""
        best = None
        for v, a in self._exact_commit_actions():
            if "commitInfo" not in a:
                continue
            ci = a["commitInfo"]
            eff = ci.get("inCommitTimestamp", ci.get("timestamp", 0))
            if eff <= ts_ms:
                best = v
        if best is None:
            raise ValueError(
                f"no retained commit at or before timestamp {ts_ms} "
                "(table created later, or the commit aged out of the log)"
            )
        return best

    def commit_timestamps(self) -> dict[int, int]:
        """version -> commitInfo timestamp (ms), per-version exact
        (retained original commits only — see _exact_commit_actions)."""
        out: dict[int, int] = {}
        for v, a in self._exact_commit_actions():
            if "commitInfo" in a:
                ci = a["commitInfo"]
                out[v] = ci.get("inCommitTimestamp", ci.get("timestamp", 0))
        return out

    def restore_to_timestamp(self, spark, ts_ms: int) -> int:
        """RESTORE TABLE ... TO TIMESTAMP AS OF — the timestamp leg of
        restore(): resolve the timestamp exactly like timestampAsOf
        (ICT-preferring) and roll back to that snapshot as a new
        commit. All of restore()'s guarantees apply (versioned
        rollback, CDF nets the change, loud VACUUM failure)."""
        return self.restore(spark, self.version_at_timestamp(ts_ms))

    def read_changes_by_timestamp(
        self, spark, from_ts_ms: int, to_ts_ms: int
    ) -> DataFrame:
        """CDF read by TIMESTAMP window (delta-spark's
        startingTimestamp/endingTimestamp): the window covers every
        commit whose (ICT-preferring) timestamp lies in
        [from_ts_ms, to_ts_ms] — start resolves to the FIRST commit at
        or after the start (delta's startingTimestamp rule), end to
        the last commit at or before the end; an empty window raises
        like delta-spark's 'greater than latest commit' error rather
        than silently returning nothing."""
        if from_ts_ms > to_ts_ms:
            raise ValueError(
                f"reversed timestamp window [{from_ts_ms}, {to_ts_ms}]"
            )
        ts = self.commit_timestamps()
        inside = [v for v, t in ts.items() if from_ts_ms <= t <= to_ts_ms]
        if not inside:
            raise ValueError(
                f"no retained commit inside [{from_ts_ms}, {to_ts_ms}]"
            )
        lo, hi = min(inside), max(inside)
        return self.read_changes(spark, lo - 1, hi)

    def read_partition(
        self, spark, as_of_version: int | None = None, **partition_filter: str
    ) -> DataFrame:
        """Partition-pruned snapshot read: select live files by their
        add-action partitionValues — pruning happens in LOG METADATA,
        no file footer (let alone data page) of a non-matching
        partition is ever opened; this is Delta's partition pruning,
        which at 100 TB is the difference between scanning one day and
        listing three years. Shares snapshot_adds (the one fold) and
        supports versionAsOf like every other read."""
        adds = self.snapshot_adds(as_of_version)
        cm = self.column_mapping() or {}
        hit = {
            p: a for p, a in adds.items()
            if all(
                (a.get("partitionValues") or {}).get(cm.get(k, k)) == v
                for k, v in partition_filter.items()
            )
        }
        if not hit:
            s = self.schema()
            if s is None:
                raise ValueError("empty table with no metaData action")
            return spark.createDataFrame([], s)
        return self._read_adds(spark, hit)

    def read_where_stats(self, spark, col: str, lo, hi) -> DataFrame:
        """Data skipping from add-action STATS (Delta's file pruning,
        the non-partition sibling of read_partition): only live files
        whose [minValues, maxValues] interval for ``col`` overlaps
        [lo, hi] are scanned — decided from LOG METADATA, no footer of
        a skipped file is ever opened. Files without stats are scanned
        (skipping is an optimization, never a correctness filter); the
        exact predicate is applied on top, so the result is identical
        to a full-scan filter whatever the file layout. At 100 TB with
        ingest-time ordering (hilbert/zorder_cluster), this is the
        mechanism that turns a point query into a handful of file
        reads.

        CHECKPOINT FAST PATH: when a checkpoint anchors the snapshot,
        the skip/keep decision for every checkpointed file comes from
        the checkpoint's MATERIALIZED `stats_parsed` columns — one
        columnar read of three subcolumns per part, no JSON decode of
        any add's stats string. Only files that entered in the JSON
        tail after the checkpoint (or whose parsed stats are null)
        fall back to decoding their stats. On a 1M-file table that
        turns a million driver-side json.loads into one vectorized
        parquet column scan."""
        adds = self.snapshot_adds()
        phys = (self.column_mapping() or {}).get(col, col)
        decided = self._ckpt_stats_prune(phys, lo, hi)
        hit = {}
        for p, a in adds.items():
            if p in decided:
                if not decided[p]:
                    hit[p] = a
                continue
            st = a.get("stats")
            if not st:
                hit[p] = a
                continue
            s = json.loads(st)
            mn = s.get("minValues", {}).get(phys)
            mx = s.get("maxValues", {}).get(phys)
            if mn is None or mx is None:
                hit[p] = a
                continue
            try:
                skip = mx < lo or mn > hi
            except TypeError:
                # stats serialized as strings for this type (timestamp/
                # decimal isoformat/str) — skipping is an optimization,
                # never a correctness filter, so scan
                skip = False
            if not skip:
                hit[p] = a
        pred = (F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi))
        if not hit:
            s = self.schema()
            if s is None:
                raise ValueError("empty table with no metaData action")
            return spark.createDataFrame([], s).filter(pred)
        return self._read_adds(spark, hit).filter(pred)

    def _ckpt_stats_prune(self, phys: str, lo, hi) -> dict[str, bool]:
        """path -> skip? decisions from the checkpoint's materialized
        `stats_parsed` columns (see read_where_stats): one columnar
        read of exactly (add.path, minValues.<col>, maxValues.<col>)
        per checkpoint part/sidecar. Paths absent from the result (no
        checkpoint, pre-stats_parsed layout, null parsed stats) stay
        UNDECIDED and fall back to JSON stats — pruning is an
        optimization, never a correctness filter. Safe under the JSON
        tail: a same-path re-add (DV swap, RESTORE) points at the same
        immutable bytes, so checkpointed bounds remain valid bounds;
        a new tail-staged file simply isn't in the checkpoint."""
        info = self._last_checkpoint_info()
        if info is None:
            return {}
        import pyarrow as pa
        import pyarrow.parquet as pq

        out: dict[str, bool] = {}
        tops = self._checkpoint_paths(int(info["version"]), info)
        for part in self._checkpoint_file_action_paths(tops):
            try:
                t = pq.read_table(
                    part,
                    columns=[
                        "add.path",
                        f"stats_parsed.minValues.{phys}",
                        f"stats_parsed.maxValues.{phys}",
                    ],
                )
            except (KeyError, OSError, pa.ArrowInvalid):
                return {}  # old-layout checkpoint or unknown column
            paths = t.column(0).to_pylist()
            mns = t.column(1).to_pylist()
            mxs = t.column(2).to_pylist()
            import datetime as _dt

            bounds_aware = (
                isinstance(lo, _dt.datetime) and lo.tzinfo is not None
            )

            def norm(v):
                # parsed timestamp columns come back tz-aware UTC; the
                # session TZ is pinned UTC, so compare wall-clock when
                # the caller's bounds are naive
                if (
                    isinstance(v, _dt.datetime)
                    and v.tzinfo is not None
                    and not bounds_aware
                ):
                    return v.replace(tzinfo=None)
                return v

            for path, mn, mx in zip(paths, mns, mxs):
                if path is None or mn is None or mx is None:
                    continue
                try:
                    out[path] = bool(norm(mx) < lo or norm(mn) > hi)
                except TypeError:
                    continue
        return out

    def read_changes(self, spark, from_version: int, to_version: int) -> DataFrame:
        """CDF read over (from_version, to_version]: per commit, cdc
        actions win when present (DML commits publish exact change
        rows); otherwise the reader-side fallback the Delta spec
        defines — dataChange=true adds synthesize as inserts AND
        dataChange=true removes synthesize as DELETES by reading the
        removed files (still on disk pre-VACUUM; RESTORE is the commit
        class this nets correctly: re-added files' rows minus the
        superseded rewrite's rows = exactly the resurrected rows).
        dataChange=false commits (OPTIMIZE) emit nothing."""
        self._check_read_protocol()
        if from_version > to_version:
            raise ValueError(
                f"reversed version range ({from_version}, {to_version}]"
            )
        latest = self.latest_version()
        if not (-1 <= from_version <= latest and 0 <= to_version <= latest):
            raise ValueError(
                f"version range ({from_version}, {to_version}] outside log 0..{latest}"
            )
        by_version: dict[int, dict[str, list]] = {}
        # exact=True: CDF must fold the ORIGINAL commits — a compacted
        # segment reconciles cdc actions away and collapses attribution
        # to its end version, so substituting one would silently lose
        # DELETE retractions and MERGE pre/postimages; a cleaned-up
        # window raises instead
        for v, a in self._actions(
            to_version, from_version=from_version + 1, exact=True
        ):
            slot = by_version.setdefault(v, {"cdc": [], "add": [], "rm": []})
            if "cdc" in a:
                slot["cdc"].append(a["cdc"]["path"])
            elif "add" in a and a["add"].get("dataChange"):
                slot["add"].append(a["add"])
            elif "remove" in a and a["remove"].get("dataChange"):
                slot["rm"].append(a["remove"])
        parts = []
        for v in sorted(by_version):
            slot = by_version[v]
            if slot["cdc"]:
                # cdc files carry partition columns as ordinary data
                # columns — no basePath needed (they live under the
                # underscore-prefixed _change_data dir)
                d = spark.read.parquet(
                    *[self._abs_of_add_path(p) for p in slot["cdc"]]
                )
                cm = self.column_mapping()
                if cm:
                    inv = {p2: l for l, p2 in cm.items()}
                    d = d.select(
                        *[F.col(c).alias(inv.get(c, c)) for c in d.columns]
                    )
                parts.append(d.withColumn("_commit_version", F.lit(v).cast("long")))
                continue
            if slot["add"]:
                # DV-aware: an add carrying a deletion vector inserts
                # only its SURVIVING rows
                d = self._read_adds(spark, {a["path"]: a for a in slot["add"]})
                parts.append(
                    d.withColumn("_change_type", F.lit("insert"))
                    .withColumn("_commit_version", F.lit(v).cast("long"))
                )
            if slot["rm"]:
                missing = [
                    r["path"] for r in slot["rm"]
                    if not os.path.exists(self._abs_of_add_path(r["path"]))
                ]
                if missing:
                    raise ValueError(
                        f"CDF over commit {v} needs removed file "
                        f"{missing[0]} which VACUUM already deleted"
                    )
                # remove actions carry the removed add's DV descriptor
                # (per spec), so synthesized deletes retract only the
                # rows that were actually live
                d = self._read_adds(spark, {r["path"]: r for r in slot["rm"]})
                parts.append(
                    d.withColumn("_change_type", F.lit("delete"))
                    .withColumn("_commit_version", F.lit(v).cast("long"))
                )
        if not parts:
            base = self.read(spark).limit(0)
            return base.withColumn("_change_type", F.lit("insert")).withColumn(
                "_commit_version", F.lit(0).cast("long")
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out


class DeltaLogSink:
    """foreachBatch adapter: exactly-once streaming append into a
    DeltaLogTable via `txn {appId, version=batch_id}` actions (the
    replay guard sinks.py implements with its bespoke ledger, here in
    the public format). Each commit is bin-packed: a txn-keyed append
    goes through the optimized-write shuffle (_optimize_write), so a
    micro-batch adds one file, or one per touched partition, however
    many tasks produced it. Writes a parquet CHECKPOINT every
    ``checkpoint_interval`` commits — delta-spark's own cadence (10) —
    so a long-lived stream's log folds stay bounded (the txn replay
    check reads the checkpoint + tail, never the whole history)."""

    def __init__(self, path: str, app_id: str, checkpoint_interval: int = 10):
        self.table = DeltaLogTable(path)
        self.app_id = app_id
        self.checkpoint_interval = checkpoint_interval

    def write_batch(self, df: DataFrame, batch_id: int) -> bool:
        v = self.table.append(df, self.app_id, batch_id)
        if v is not None and v > 0:
            # `delta.checkpointInterval` (the table property real Delta
            # honors) overrides the constructor cadence — the TABLE
            # decides how often its log is compacted, not each writer
            cfg = (
                self.table._metadata_dict() or {}
            ).get("configuration") or {}
            ival = int(
                cfg.get("delta.checkpointInterval", self.checkpoint_interval)
            )
            if ival > 0 and v % ival == 0:
                self.table.checkpoint()
        return v is not None

    def foreach_batch(self):
        def fn(df: DataFrame, batch_id: int) -> None:
            self.write_batch(df, batch_id)

        return fn


# --- table-as-stream source -------------------------------------------------

from pyspark.sql.datasource import (  # noqa: E402
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)


def _tracked_schema_entry(loc: str | None) -> dict | None:
    """Latest entry of a stream's SCHEMA TRACKING LOG (delta-spark's
    schemaTrackingLocation): a directory of %020d.json records, each
    the (tableVersion, schemaString, partitionColumns, configuration)
    a restarting stream should resume under. None = never
    initialized."""
    if not loc or not os.path.isdir(loc):
        return None
    entries = sorted(
        f for f in os.listdir(loc) if f.endswith(".json") and f[:20].isdigit()
    )
    if not entries:
        return None
    with open(os.path.join(loc, entries[-1])) as fh:
        return json.load(fh)


def _persist_schema_entry(loc: str, entry: dict) -> None:
    """Append a schema entry to the tracking log unless the latest
    entry already matches (idempotent under replanned batches and
    racing executors-side retries — the write is tmp + atomic
    rename)."""
    os.makedirs(loc, exist_ok=True)
    cur = _tracked_schema_entry(loc)
    if (
        cur is not None
        and cur.get("schemaString") == entry.get("schemaString")
        and cur.get("partitionColumns") == entry.get("partitionColumns")
    ):
        return
    nxt = 0
    entries = sorted(
        f for f in os.listdir(loc) if f.endswith(".json") and f[:20].isdigit()
    )
    if entries:
        nxt = int(entries[-1][:20]) + 1
    tmp = os.path.join(loc, f".{uuid.uuid4().hex}.tmp")
    with open(tmp, "w") as fh:
        json.dump(entry, fh)
    os.replace(tmp, os.path.join(loc, f"{nxt:020d}.json"))


class _AddFilePartition(InputPartition):
    def __init__(
        self,
        abs_path: str,
        version: int,
        pvals: dict,
        kind: str = "add",
        dv_pos: list[int] | None = None,
    ) -> None:
        self.abs_path = abs_path
        self.version = version
        self.pvals = pvals
        self.kind = kind  # "add" (synthesized insert) | "cdc" (exact rows)
        self.dv_pos = dv_pos  # deletion-vector row positions to drop


class DeltaTableStreamReader(DataSourceStreamReader):
    """Streaming read FROM a DeltaLogTable (table-as-source): offsets
    are COMMIT VERSIONS — `{"v": last_planned_version}` — checkpointed
    by the engine's offset log, so a restarted query resumes from the
    version it already consumed; each micro-batch serves the
    dataChange=true add files of the next version range, one
    InputPartition per file (the scan parallelizes per file, and cost
    is O(new commits), never a table rescan — the log IS the change
    index, the same read that makes delta-spark's streaming source
    incremental). OPTIMIZE commits (dataChange=false) are skipped
    entirely. A commit containing a dataChange remove (a DELETE/MERGE)
    RAISES unless ignore_deletes is set; with it, the WHOLE commit is
    skipped — its rewrite adds carry mostly already-served rows, so
    serving them would deliver duplicates (delta-spark's ignoreDeletes
    likewise never re-serves rewrite files). Partitioned tables
    re-materialize their partition columns from each add's
    partitionValues so batches match the declared schema."""

    # delta-spark's camelCase option names accepted as aliases — a user
    # migrating a readStream.format("delta") call keeps their options
    # verbatim (snake_case wins when both are given)
    _OPTION_ALIASES = {
        "ignoredeletes": "ignore_deletes",
        "readchangefeed": "read_cdf",
        "maxfilespertrigger": "max_files_per_trigger",
        "startingversion": "starting_version",
        "startingtimestamp": "starting_timestamp",
        "schematrackinglocation": "schema_tracking_location",
        "skipchangecommits": "skip_change_commits",
    }

    def __init__(self, options) -> None:
        self.options = dict(options)
        for alias, canon in self._OPTION_ALIASES.items():
            # Spark lower-cases DataSource option keys, so the alias
            # table is keyed lowercase; explicit snake_case wins
            if alias in self.options and canon not in self.options:
                self.options[canon] = self.options[alias]
        options = self.options
        self.path = options["path"]
        self.ignore_deletes = str(options.get("ignore_deletes", "")).lower() == "true"
        # skipChangeCommits (delta-spark's successor to ignoreDeletes/
        # ignoreChanges): skip ANY commit carrying dataChange removes
        # in its entirety — rewrite adds are mostly already-served
        # rows, so serving them would duplicate. Behavior-identical to
        # ignore_deletes here (our ignore_deletes already skips whole
        # commits, the only correct reading); both names accepted.
        self.skip_change_commits = (
            str(options.get("skip_change_commits", "")).lower() == "true"
        )
        # schemaTrackingLocation (delta-spark's non-additive schema
        # evolution contract): the stream PERSISTS the schema it reads
        # under; a mid-stream schema change fails the run loudly after
        # recording the NEW schema, and the restarted stream resumes
        # under it — old files conform (typed-null padding, physical->
        # logical rename continuity, widening casts) at read time.
        self.schema_tracking_location = options.get("schema_tracking_location")
        # read_cdf=true turns the source into a streaming CHANGE FEED
        # (delta-spark's readChangeFeed): every commit's exact change
        # rows — cdc files when the commit published them, synthesized
        # inserts from dataChange adds otherwise — stamped with
        # _change_type / _commit_version. DML commits are SERVED (the
        # whole point), never refused.
        self.read_cdf = str(options.get("read_cdf", "")).lower() == "true"
        # max_files_per_trigger: delta-spark's maxFilesPerTrigger —
        # ADMISSION CONTROL. Without it a new stream on a years-old
        # table serves its whole backlog as ONE micro-batch (an
        # OOM-or-timeout at 100 TB); with it, latestOffset advances
        # from the last planned version by only as many commits as fit
        # the file budget (always at least one commit, so progress is
        # guaranteed — best-effort like delta-spark's).
        mfpt = options.get("max_files_per_trigger")
        self.max_files_per_trigger = int(mfpt) if mfpt is not None else None
        # the last version this reader already PLANNED (advanced in
        # partitions(), which also covers a restart's WAL replay);
        # None = no batch planned yet this process — the one case
        # where the next latestOffset is uncapped (a restart whose
        # first action is offset discovery), documented best-effort
        self._planned_v: int | None = None
        # per-version dataChange-add counts (a committed version's
        # content is immutable, so the cache never invalidates) —
        # keeps per-trigger admission O(newly admitted commits)
        # instead of re-parsing previously seen files every trigger
        self._add_counts: dict[int, int] = {}
        self.table = DeltaLogTable(self.path)
        # the stream reads via pyarrow, not snapshot_adds — gate here
        self.table._check_read_protocol()
        self.pcols = self.table.partition_columns()
        # column mapping: files carry PHYSICAL names; this reader's
        # declared schema (and pvals) are logical — keep the inverse map
        self._phys_to_logical = {
            p: l for l, p in (self.table.column_mapping() or {}).items()
        }
        s = self.table.schema()
        if self.schema_tracking_location:
            tracked = _tracked_schema_entry(self.schema_tracking_location)
            if tracked is None:
                # first run: initialize the tracking log with the
                # schema this stream starts under
                m = self.table._metadata_dict() or {}
                if m.get("schemaString"):
                    _persist_schema_entry(
                        self.schema_tracking_location,
                        {
                            "tableVersion": self.table.latest_version(),
                            "schemaString": m["schemaString"],
                            "partitionColumns": list(
                                m.get("partitionColumns") or ()
                            ),
                            "configuration": m.get("configuration") or {},
                        },
                    )
            else:
                # restart: resume under the TRACKED schema (the one a
                # detected change persisted), not whatever the table
                # says now — a second later change must still be
                # detected against this baseline
                s = StructType.fromJson(json.loads(tracked["schemaString"]))
                self.pcols = tuple(tracked.get("partitionColumns") or ())
                if (tracked.get("configuration") or {}).get(
                    "delta.columnMapping.mode"
                ) in ("name", "id"):
                    # BOTH mapped modes carry physicalName — resetting
                    # the map on an id-mode restart would compare
                    # partition columns by logical name and trip the
                    # readability check on every config-only commit
                    self._phys_to_logical = {
                        (f.metadata or {}).get(
                            "delta.columnMapping.physicalName", f.name
                        ): f.name
                        for f in s.fields
                    }
                else:
                    self._phys_to_logical = {}
        # the DECLARED baseline a mid-stream metaData action is
        # compared against, keyed by PHYSICAL identity (files carry
        # physical columns; logical renames must compare as the same
        # column): physical name -> (typeName, simpleString)
        self._decl_phys = (
            {
                (f.metadata or {}).get(
                    "delta.columnMapping.physicalName", f.name
                ): (f.dataType.typeName(), f.dataType.simpleString())
                for f in s.fields
            }
            if s is not None
            else {}
        )
        _l2p = {l: p for p, l in self._phys_to_logical.items()}
        self._decl_pcols_phys = tuple(_l2p.get(c, c) for c in self.pcols)
        # columnMapping mode "id": the stream's arrow-side reads bind
        # file columns by PARQUET FIELD ID too (same rule as the batch
        # scan) — a foreign id-mode file whose physical names disagree
        # with the log still streams correctly
        self._fid_to_logical: dict[int, str] = {}
        if s is not None and self.table.column_mapping_mode() == "id":
            for f in s.fields:
                md = f.metadata or {}
                if "delta.columnMapping.id" in md:
                    self._fid_to_logical[
                        int(md["delta.columnMapping.id"])
                    ] = f.name
        self.field_order = [f.name for f in s.fields] if s else []
        if self.read_cdf:
            self.field_order += ["_change_type", "_commit_version"]
        # simpleString type per field: partition columns re-materialize
        # from partitionValues; schema-evolution gaps pad with nulls
        self.ptypes = (
            {f.name: f.dataType.simpleString() for f in s.fields} if s else {}
        )

    def initialOffset(self) -> dict:
        # delta-spark's startingVersion / startingTimestamp: begin the
        # stream AT a version (its own changes included — the spec's
        # inclusive rule) instead of the table start; timestamp
        # resolves to the FIRST commit at or after it. Mutually
        # exclusive like the real options.
        sv = self.options.get("starting_version")
        st = self.options.get("starting_timestamp")
        if sv is not None and st is not None:
            raise ValueError(
                "starting_version and starting_timestamp are mutually "
                "exclusive"
            )
        if sv is not None:
            first = int(sv)
        elif st is not None:
            ts = self.table.commit_timestamps()
            at_or_after = [v for v, t in ts.items() if t >= int(st)]
            if not at_or_after:
                raise ValueError(
                    f"no retained commit at or after timestamp {st}"
                )
            first = min(at_or_after)
        else:
            first = 0
        self._planned_v = first - 1
        return {"v": first - 1}

    def latestOffset(self) -> dict:
        latest = self.table.latest_version()
        lo = self._planned_v
        if self.max_files_per_trigger is None or lo is None or lo >= latest:
            return {"v": latest}
        # walk forward from the cursor, admitting whole commits until
        # the file budget is spent (at least one commit always admits);
        # cost is O(admitted commits), never the whole backlog
        vf = dict(self.table._version_files())
        earliest = min(vf) if vf else 0
        v = lo
        n = 0
        nxt = lo + 1
        if nxt < earliest:
            if lo >= 0:
                # resume below the cleaned horizon: admission control
                # has nothing to meter — let partitions() raise the
                # loud data-loss error on the full range
                return {"v": latest}
            # fresh stream on a cleaned log: the first batch is the
            # checkpoint SNAPSHOT (see _range_adds) — it is atomic, so
            # the cap cannot split it; admit through the checkpoint
            cv = self.table.last_checkpoint()
            if cv is not None:
                v = cv
                nxt = cv + 1
        for vv in range(max(nxt, 0), latest + 1):
            cnt = self._add_counts.get(vv)
            if cnt is None:
                p = vf.get(vv)
                cnt = 0
                if p is not None:
                    with open(p) as fh:
                        for line in fh:
                            if line.strip():
                                a = json.loads(line)
                                if "add" in a and a["add"].get("dataChange"):
                                    cnt += 1
                self._add_counts[vv] = cnt
            if n and n + cnt > self.max_files_per_trigger:
                break
            n += cnt
            v = vv
            if n >= self.max_files_per_trigger:
                break
        return {"v": max(v, lo)}

    def _range_adds(self, lo: int, hi: int) -> list[tuple[int, dict, str]]:
        start = max(lo + 1, 0)
        initial: list[tuple[int, dict, str]] = []
        vf = self.table._version_files()
        earliest = vf[0][0] if vf else 0
        if start < earliest:
            if lo >= 0:
                # a RESUMING stream (it already served rows up to lo)
                # whose next commits were cleaned: serving the snapshot
                # would RE-DELIVER everything at or below lo and erase
                # the cleaned range's deletes from a CDF — data
                # duplication, not recovery. delta-spark fails this
                # loudly (failOnDataLoss); so do we.
                raise ValueError(
                    f"stream resumed at version {lo} but commits "
                    f"[{start}, {earliest}) were cleaned from the log — "
                    "the change history this stream still owes its sink "
                    "is gone (restart the stream from scratch to serve "
                    "the current snapshot instead)"
                )
            if self.options.get("starting_version") is not None or (
                self.options.get("starting_timestamp") is not None
            ):
                # an EXPLICIT starting_version=0 (or a timestamp that
                # resolved to it) also lands at lo == -1 — the same
                # sentinel as "no starting option" — but its meaning is
                # the opposite of the fresh-stream default: the user
                # asked for the exact change history from version 0,
                # and serving the checkpoint snapshot instead would
                # silently collapse the cleaned range's deletes and
                # re-deliver rewrites as if they were the requested
                # commits. Fail as loudly as any start >= 1 below the
                # horizon does.
                raise ValueError(
                    f"starting_version requested version {start} but "
                    f"commits [{start}, {earliest}) were cleaned from "
                    "the log — the requested change history is gone "
                    "(drop the starting option to stream from the "
                    "current snapshot instead)"
                )
            # FRESH stream (lo == -1) on a cleaned log: serve the
            # CHECKPOINT SNAPSHOT as the first batch and exact
            # per-commit batches after it — delta-spark's
            # initial-snapshot semantics (in CDF mode the snapshot rows
            # surface as inserts at the checkpoint version, what
            # readChangeFeed without startingVersion serves). Without
            # this fallback a new stream on a long-lived cleaned table
            # would permanently raise on the missing commit files.
            cv = self.table.last_checkpoint()
            if cv is None or cv < earliest - 1 or cv > hi:
                # no checkpoint covering the gap (or the gap lies inside
                # an already-served range a restart is replaying): fail
                # loudly rather than serve a partial history as if it
                # were complete
                raise ValueError(
                    f"commits [{start}, {earliest}) were cleaned from the "
                    "log and no checkpoint at or below the requested end "
                    f"version {hi} covers them — cannot serve a stream "
                    f"batch from version {start}"
                )
            snap = self.table.snapshot_adds(cv)
            initial = [(cv, a, "add") for _, a in sorted(snap.items())]
            start = cv + 1
        by_version: dict[int, dict[str, list]] = {}
        # exact=True: the stream serves per-commit batches — reconciled
        # segments (coarse attribution, no cdc) must never substitute
        for v, a in self.table._actions(hi, from_version=start, exact=True):
            slot = by_version.setdefault(
                v,
                {"adds": [], "cdc": [], "rms": [], "del": False, "meta": None},
            )
            if "add" in a and a["add"].get("dataChange"):
                slot["adds"].append(a["add"])
            elif "cdc" in a:
                slot["cdc"].append(a["cdc"])
            elif "remove" in a and a["remove"].get("dataChange"):
                slot["del"] = True
                slot["rms"].append(a["remove"])
            elif "metaData" in a:
                slot["meta"] = a["metaData"]
        out: list[tuple[int, dict, str]] = list(initial)
        for v in sorted(by_version):
            slot = by_version[v]
            self._check_schema_change(v, slot.get("meta"))
            if self.read_cdf:
                # change-feed mode: cdc actions carry the exact rows;
                # commits without cdc fall back to dataChange adds as
                # inserts AND dataChange removes as deletes (read from
                # the removed files — the RESTORE net, read_changes'
                # reader-fallback mirrored)
                if slot["cdc"]:
                    out.extend((v, c, "cdc") for c in slot["cdc"])
                else:
                    out.extend((v, a, "add") for a in slot["adds"])
                    out.extend((v, r, "rm") for r in slot["rms"])
                continue
            if slot["del"]:
                if not (self.ignore_deletes or self.skip_change_commits):
                    raise ValueError(
                        f"commit {v} deletes or rewrites data; streaming a "
                        "table with row-level deletes requires "
                        "skip_change_commits=true / ignore_deletes=true "
                        "(or read_cdf=true) — refusing to silently drop them"
                    )
                # skip the WHOLE commit: its adds are rewrites of
                # already-served rows — serving them would duplicate
                continue
            out.extend((v, a, "add") for a in slot["adds"])
        return out

    @staticmethod
    def _pvals_of_path(rel: str) -> dict:
        """Hive partitionValues from a relative path — remove actions
        don't carry partitionValues, so synthesized-delete partitions
        recover them from the file's directory (shared module fold)."""
        return _pvals_of_rel_path(rel)

    def _check_schema_change(self, v: int, meta: dict | None) -> None:
        """Mid-stream SCHEMA CHANGE discipline (delta-spark's streaming
        source contract): a metaData action in the admitted range is
        checked for READABILITY UNDER THIS STREAM'S DECLARED BASELINE,
        by PHYSICAL column identity — files written under a schema
        whose every physical column exists in the baseline at the same
        (or a narrower, widening-castable) type serve fine (that is
        every HISTORICAL schema after a restart: old logical names
        rebind via physicalName, missing columns pad as typed nulls,
        narrow files up-cast — so a restarted stream never re-trips on
        its own history). A schema the baseline CANNOT represent — an
        added column (would silently drop), a widened type (would
        misread), repartitioning — must never be served silently: a
        running query's output schema is fixed. Without schema
        tracking: fail loudly (restart required). With
        schema_tracking_location: PERSIST the new schema first, then
        fail the run — the restarted stream resumes under the tracked
        schema and Spark's WAL replays this exact batch, now
        conformable. Config-only metaData commits (SET TBLPROPERTIES)
        pass through untouched (same schemaString)."""
        if meta is None or not meta.get("schemaString"):
            return
        new_s = StructType.fromJson(json.loads(meta["schemaString"]))
        new_pcols_phys = []
        readable = True
        for f in new_s.fields:
            phys = (f.metadata or {}).get(
                "delta.columnMapping.physicalName", f.name
            )
            d = self._decl_phys.get(phys)
            if d is None:
                readable = False
                break
            d_tn, d_ss = d
            m_tn, m_ss = f.dataType.typeName(), f.dataType.simpleString()
            if m_ss != d_ss and (m_tn, d_tn) not in _TYPE_WIDENINGS:
                readable = False
                break
        if readable:
            new_l2p = {
                f.name: (f.metadata or {}).get(
                    "delta.columnMapping.physicalName", f.name
                )
                for f in new_s.fields
            }
            new_pcols_phys = [
                new_l2p.get(c, c)
                for c in (meta.get("partitionColumns") or ())
            ]
            if tuple(new_pcols_phys) != self._decl_pcols_phys:
                readable = False
        if readable:
            return
        if self.schema_tracking_location:
            _persist_schema_entry(
                self.schema_tracking_location,
                {
                    "tableVersion": v,
                    "schemaString": meta["schemaString"],
                    "partitionColumns": list(
                        meta.get("partitionColumns") or ()
                    ),
                    "configuration": meta.get("configuration") or {},
                },
            )
            raise ValueError(
                f"schema of the Delta table changed at version {v}; the "
                "new schema was persisted to the schema tracking location "
                "— restart the stream to continue under it (this batch "
                "replays from the checkpoint)"
            )
        raise ValueError(
            f"schema of the Delta table changed at version {v}; restart "
            "the stream, or set schema_tracking_location "
            "(schemaTrackingLocation) to continue across schema changes"
        )

    def partitions(self, start: dict, end: dict):
        # the admission cursor: covers both live progress and a
        # restart's WAL replay (Spark re-plans the pending batch with
        # its stored offsets before asking for a new latestOffset)
        self._planned_v = end["v"]
        adds = self._range_adds(start["v"], end["v"])
        if not adds:
            return [_AddFilePartition("", -1, {})]
        return [
            _AddFilePartition(
                # spec path resolution (URL-encoded relative / absolute
                # URI forms) — the same rule every batch reader uses
                self.table._abs_of_add_path(a["path"]),
                v,
                {
                    self._phys_to_logical.get(k, k): v
                    for k, v in (
                        a.get("partitionValues")
                        or self._pvals_of_path(
                            urllib.parse.unquote(
                                urllib.parse.urlparse(a["path"]).path
                            )
                        )
                    ).items()
                }
                if kind != "cdc"
                else {},
                kind,
                sorted(self.table._dv_positions(a)) if kind != "cdc" else None,
            )
            for v, a, kind in adds
        ]

    @staticmethod
    def _pa_type(simple: str):
        import pyarrow as pa

        return {
            "bigint": pa.int64(), "int": pa.int32(), "smallint": pa.int16(),
            "tinyint": pa.int8(), "double": pa.float64(), "float": pa.float32(),
            "boolean": pa.bool_(), "timestamp": pa.timestamp("us"),
            "date": pa.date32(),
        }.get(simple, pa.string())

    def read(self, partition):
        if partition.version < 0:
            return
        import pyarrow as pa
        import pyarrow.parquet as pq

        t = pq.read_table(partition.abs_path)
        if self._fid_to_logical:
            names = []
            for i, c in enumerate(t.column_names):
                md = t.schema.field(i).metadata or {}
                fid = md.get(b"PARQUET:field_id")
                if fid is not None and int(fid) in self._fid_to_logical:
                    names.append(self._fid_to_logical[int(fid)])
                else:
                    names.append(self._phys_to_logical.get(c, c))
            t = t.rename_columns(names)
        elif self._phys_to_logical:
            t = t.rename_columns(
                [self._phys_to_logical.get(c, c) for c in t.column_names]
            )
        if partition.dv_pos:
            # deletion vector: drop the deleted row positions (the
            # file is never rewritten — merge-on-read at the source)
            import numpy as np

            keep = np.ones(t.num_rows, dtype=bool)
            keep[[p for p in partition.dv_pos if p < t.num_rows]] = False
            t = t.filter(pa.array(keep))
        if self.read_cdf:
            # stamp the CDF metadata columns: cdc files carry their own
            # _change_type; synthesized adds/removes get the constant
            n = t.num_rows
            if "_change_type" not in t.column_names:
                ct = "delete" if partition.kind == "rm" else "insert"
                t = t.append_column(
                    "_change_type", pa.array([ct] * n, pa.string())
                )
            t = t.append_column(
                "_commit_version",
                pa.array([partition.version] * n, pa.int64()),
            )
        # numeric types a pre-widening file may carry NARROWER than
        # the declared schema (type widening: int->bigint, float->
        # double, int->double) — cast-conformed below; everything else
        # (timestamps' tz flavors, decimals, compounds) must never be
        # cast here
        castable = {
            "bigint", "int", "smallint", "tinyint", "double", "float",
        }
        type_drift = any(
            self.ptypes.get(nm) in castable
            and t.schema.field(i).type != self._pa_type(self.ptypes[nm])
            for i, nm in enumerate(t.column_names)
        )
        if self.field_order and (
            self.pcols
            or type_drift
            or t.column_names != self.field_order
        ):
            # conform the file to the DECLARED schema: re-materialize
            # partition columns from partitionValues (NOT for cdc files,
            # which carry partition columns as ordinary data columns and
            # whose actions have empty partitionValues — substituting
            # would null real values), pad columns the file predates
            # (schema evolution) with typed nulls, and emit in declared
            # ORDER — the engine maps Arrow batch columns to the
            # declared schema POSITIONALLY, so a file whose physical
            # order differs would feed the wrong vector to the wrong
            # accessor
            n = t.num_rows
            cols = {name: t.column(name) for name in t.column_names}
            from_pvals = set(self.pcols) if partition.kind != "cdc" else set()
            for c in self.field_order:
                if c in cols and c not in from_pvals:
                    simple = self.ptypes.get(c)
                    if simple in castable:
                        want = self._pa_type(simple)
                        if cols[c].type != want:
                            # pre-widening file: up-promote to the
                            # declared type (the log schema wins)
                            cols[c] = cols[c].cast(want)
                    continue
                typ = self.ptypes.get(c, "string")
                raw = partition.pvals.get(c) if c in from_pvals else None
                if raw is None and c in cols:
                    continue  # cdc file already carries the column
                if raw is None:
                    cols[c] = pa.nulls(n, self._pa_type(typ))
                elif typ in ("bigint", "int", "smallint", "tinyint"):
                    cols[c] = pa.array([int(raw)] * n, self._pa_type(typ))
                elif typ in ("double", "float"):
                    cols[c] = pa.array([float(raw)] * n, self._pa_type(typ))
                else:
                    cols[c] = pa.array([raw] * n, pa.string())
            t = pa.table({name: cols[name] for name in self.field_order})
        yield from t.to_batches()

    def commit(self, end: dict) -> None:
        pass  # the engine's offset log is the only cursor needed


class DeltaTableStreamDataSource(DataSource):
    """``spark.readStream.format("delta_log_table")`` — schema comes
    from the table's own metaData action (schemaString), so the source
    serves whatever the log declares (partition columns included)."""

    @classmethod
    def name(cls) -> str:
        return "delta_log_table"

    def schema(self):
        # a tracked schema (schemaTrackingLocation) WINS over the
        # table's current one: the restarted stream must resume under
        # the schema persisted at the detected change, and later
        # changes are detected against that baseline, not blended in
        loc = self.options.get("schema_tracking_location") or self.options.get(
            "schematrackinglocation"
        )
        tracked = _tracked_schema_entry(loc)
        if tracked is not None and tracked.get("schemaString"):
            s = StructType.fromJson(json.loads(tracked["schemaString"]))
        else:
            s = DeltaLogTable(self.options["path"]).schema()
        if s is None:
            raise ValueError("table has no metaData action yet")
        if str(self.options.get("read_cdf", "")).lower() == "true":
            from pyspark.sql.types import LongType, StringType, StructField

            s = StructType(
                list(s.fields)
                + [
                    StructField("_change_type", StringType()),
                    StructField("_commit_version", LongType()),
                ]
            )
        return s

    def streamReader(self, schema):
        return DeltaTableStreamReader(self.options)
