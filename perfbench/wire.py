"""Seeded Kafka-wire backlog generator.

Writes parquet files in the shape of a Kafka source frame
(``deltasink_spark.sources.KAFKA_SCHEMA``): key/value bytes, topic,
partition, offset, timestamp and timestampType. The program under test
sees only these files.

The stream has the faults a real at-least-once topic has:

- redelivery: every file after the first starts with the tail of the
  previous file's records, byte for byte (same offsets and timestamps);
- a fixed share of malformed JSON payloads (truncated documents);
- Zipf-skewed user keys, hashed onto the partitions;
- out-of-order timestamps that stay inside the watermark horizon.

The same seed always gives the same files.
"""

from __future__ import annotations

import os
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TOPIC = "events"
PAYLOAD_SCHEMA = "event_id bigint, user_id bigint, event_type string, amount_cents bigint"
EVENT_TYPES = ("view", "click", "cart", "purchase", "refund")

ARROW_SCHEMA = pa.schema(
    [
        ("key", pa.binary()),
        ("value", pa.binary()),
        ("topic", pa.string()),
        ("partition", pa.int32()),
        ("offset", pa.int64()),
        ("timestamp", pa.timestamp("ms", tz="UTC")),
        ("timestampType", pa.int32()),
    ]
)


PARTITIONS = 4
USERS = 100_000
ZIPF_A = 1.3
REDELIVERED_SHARE = 0.05  # of a file's records: the tail of the previous file
MALFORMED_SHARE = 0.005  # of a file's new records
FILE_SPAN_MS = 60_000  # event time one file's new records cover
LATE_SHARE = 0.2  # share of records stamped behind their position
MAX_LATENESS_MS = 30_000
WATERMARK_DELAY = "2 minutes"  # > max lateness + redelivered span
START_MS = 1_767_225_600_000  # 2026-01-01T00:00:00Z


class KafkaBacklog:
    """Produces file ``i`` of the backlog on each ``write_next`` call.

    Files must be produced in order: file ``i`` repeats the tail of file
    ``i - 1``. ``distinct_records`` counts the records the files hold
    once duplicates are removed, i.e. what an exactly-once sink must
    end up with."""

    def __init__(self, seed: int, records_per_file: int, out_dir: str):
        self.seed = seed
        self.records_per_file = records_per_file
        self.redelivered = int(records_per_file * REDELIVERED_SHARE)
        self.malformed = int(records_per_file * MALFORMED_SHARE)
        self.out_dir = out_dir
        self.files: list[str] = []
        self.distinct_records = 0
        self._next_event_id = 0
        self._next_offset = np.zeros(PARTITIONS, dtype=np.int64)
        self._tail: pa.Table | None = None
        os.makedirs(out_dir, exist_ok=True)

    def write_next(self) -> str:
        i = len(self.files)
        rng = np.random.default_rng([self.seed, i])
        n_new = self.records_per_file - (0 if self._tail is None else self.redelivered)
        event_id = np.arange(self._next_event_id, self._next_event_id + n_new, dtype=np.int64)
        self._next_event_id += n_new
        user = (rng.zipf(ZIPF_A, n_new) - 1) % USERS
        # Kafka's default partitioner hashes the key: skewed keys give
        # skewed partitions
        part = ((user * 2_654_435_761) % (1 << 32) % PARTITIONS).astype(np.int32)
        offset = np.empty(n_new, dtype=np.int64)
        for p in range(PARTITIONS):
            idx = np.flatnonzero(part == p)
            offset[idx] = self._next_offset[p] + np.arange(idx.size)
            self._next_offset[p] += idx.size
        ts = START_MS + i * FILE_SPAN_MS + (np.arange(n_new) * FILE_SPAN_MS) // n_new
        late = rng.random(n_new) < LATE_SHARE
        ts = ts - late * rng.integers(0, MAX_LATENESS_MS, n_new)
        etype = rng.integers(0, len(EVENT_TYPES), n_new)
        cents = rng.integers(1, 100_000, n_new)
        values = [
            f'{{"event_id":{e},"user_id":{u},"event_type":"{EVENT_TYPES[t]}","amount_cents":{c}}}'
            for e, u, t, c in zip(event_id.tolist(), user.tolist(), etype.tolist(), cents.tolist())
        ]
        for j in rng.choice(n_new, self.malformed, replace=False).tolist():
            cut = int(rng.integers(1, len(values[j]) - 1))
            values[j] = values[j][:cut]
        new = pa.table(
            {
                "key": pa.array([str(u).encode() for u in user.tolist()], pa.binary()),
                "value": pa.array([v.encode() for v in values], pa.binary()),
                "topic": pa.array([TOPIC] * n_new, pa.string()),
                "partition": pa.array(part, pa.int32()),
                "offset": pa.array(offset, pa.int64()),
                "timestamp": pa.array(ts, pa.int64()).cast(pa.timestamp("ms", tz="UTC")),
                "timestampType": pa.array(np.zeros(n_new, dtype=np.int32), pa.int32()),
            },
            schema=ARROW_SCHEMA,
        )
        table = new if self._tail is None else pa.concat_tables([self._tail, new])
        self._tail = new.slice(n_new - self.redelivered)
        self.distinct_records += n_new
        path = os.path.join(self.out_dir, f"part-{i:06d}.parquet")
        pq.write_table(table, path)
        # the file source orders by modification time: make it strictly
        # follow the file index
        mtime = 1_800_000_000 + i
        os.utime(path, (mtime, mtime))
        self.files.append(path)
        return path
