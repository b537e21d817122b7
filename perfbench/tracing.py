"""Traced-mode instruments, all attached from outside the program.

- ``CountingLogStore``: a ``LogStore`` subclass counting the log reads,
  bytes read, listings and puts, handed to a table through its public
  ``log_store`` argument.
- ``Py4jCounter``: counts py4j round trips at the gateway client.
- ``Tracer``: wall-clock spans around calls into a layer's public
  functions, with the counters above read as deltas across each span.
  Spans are kept in memory and summarised when the run ends.
- ``jobs_of_group``: Spark job and stage counts of one job group, read
  from ``statusTracker()`` (works with ``spark.ui.enabled=false``);
  ``shuffle_bytes_of_group``: its shuffle bytes written, from the
  status store.

None of this is active in an end-to-end run.
"""

from __future__ import annotations

import contextlib
import functools
import statistics
import threading
import time
from collections import defaultdict

from deltasink_spark.delta_log import LogStore


class CountingLogStore(LogStore):
    def __init__(self) -> None:
        self.reads = 0
        self.read_bytes = 0
        self.lists = 0
        self.puts = 0

    def list(self, log_dir: str) -> list[str]:
        self.lists += 1
        return super().list(log_dir)

    def read(self, path: str) -> str:
        data = super().read(path)
        self.reads += 1
        self.read_bytes += len(data)
        return data

    def put_if_absent(self, path: str, data: str) -> None:
        self.puts += 1
        super().put_if_absent(path, data)

    def put_atomic(self, path: str, data: str) -> None:
        self.puts += 1
        super().put_atomic(path, data)


class Py4jCounter:
    """Counts every command the Python side sends to the JVM. The
    gateway client is shared by all threads, foreachBatch callbacks
    included, so patching its ``send_command`` sees every call."""

    def __init__(self, spark) -> None:
        self.calls = 0
        self._lock = threading.Lock()
        self._client = spark.sparkContext._gateway._gateway_client
        self._orig = self._client.send_command

        def send_command(*args, **kwargs):
            with self._lock:
                self.calls += 1
            return self._orig(*args, **kwargs)

        self._client.send_command = send_command

    def close(self) -> None:
        self._client.send_command = self._orig


class Tracer:
    def __init__(self, spark, store: CountingLogStore) -> None:
        self.py4j = Py4jCounter(spark)
        self.store = store
        self.ms: dict[str, list[float]] = defaultdict(list)
        self.deltas: dict[str, dict[str, int]] = defaultdict(lambda: defaultdict(int))

    def _counters(self) -> dict[str, int]:
        s = self.store
        return {
            "py4j_calls": self.py4j.calls,
            "log_store_reads": s.reads,
            "log_store_read_bytes": s.read_bytes,
            "log_store_lists": s.lists,
            "log_store_puts": s.puts,
        }

    @contextlib.contextmanager
    def span(self, name: str):
        before = self._counters()
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.ms[name].append((time.perf_counter() - t0) * 1000.0)
            for k, v in self._counters().items():
                self.deltas[name][k] += v - before[k]

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def p50(self, name: str) -> float:
        v = self.ms.get(name)
        return statistics.median(v) if v else 0.0

    def per_call(self, name: str, counter: str) -> float:
        n = len(self.ms.get(name, ()))
        return self.deltas[name][counter] / n if n else 0.0

    def close(self) -> None:
        self.py4j.close()


def maybe_span(tracer: Tracer | None, name: str):
    return tracer.span(name) if tracer else contextlib.nullcontext()


def jobs_of_group(spark, group: str) -> tuple[int, int]:
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages += len(info.stageIds)
    return len(jobs), stages


def shuffle_bytes_of_group(spark, group: str) -> int:
    """Shuffle bytes written by the stages of one job group's jobs,
    from the application status store (kept with the UI disabled)."""
    tracker = spark.sparkContext.statusTracker()
    store = spark.sparkContext._jsc.sc().statusStore()
    total = 0
    for j in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(j)
        for sid in info.stageIds if info is not None else ():
            total += store.lastStageAttempt(sid).shuffleWriteBytes()
    return total
