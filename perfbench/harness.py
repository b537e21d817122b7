"""Process and disk hygiene for one benchmark run.

A ``Harness`` owns everything a run creates: its temp dir inside the
checkout, the SparkSession, the gateway JVM with the Python workers it
forks, and every StreamingQuery. ``close`` stops all of them and waits
until each process has ended, on every exit path.
"""

from __future__ import annotations

import logging
import os
import shutil
import signal
import sys
import tempfile
import time
import uuid

TMP_ROOT = ".perfbench_tmp"


def _children_of() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_of()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


# HotSpot's JIT compiler threads: they keep compiling well into the
# measured phase and their share swings from run to run (a fifth of a
# round's CPU or more), so the CPU figures leave them out
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat_fields(path: str) -> tuple[str, list[str]] | None:
    try:
        with open(path) as fh:
            stat = fh.read()
    except OSError:
        return None
    return stat[stat.index("(") + 1:stat.rindex(")")], stat.rsplit(")", 1)[1].split()


def cpu_ticks(pid: int) -> dict[int, int]:
    """CPU ticks, by process, of ``pid`` and of its live descendants
    (the gateway JVM, the Python worker daemon and its workers). Each
    process counts user + system time of all its threads, ended ones
    included, plus that of its reaped children (utime, stime, cutime,
    cstime), less the ticks of its live JIT compiler threads. Time the
    hypervisor steals from the virtual CPUs is not in it."""
    ticks: dict[int, int] = {}
    for p in [pid, *descendants(pid)]:
        got = _stat_fields(f"/proc/{p}/stat")
        if got is None:
            continue
        f = got[1]
        t = int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
        try:
            tids = os.listdir(f"/proc/{p}/task")
        except OSError:
            tids = []
        for tid in tids:
            th = _stat_fields(f"/proc/{p}/task/{tid}/stat")
            if th is not None and th[0].startswith(JIT_THREADS):
                t -= int(th[1][11]) + int(th[1][12])
        ticks[p] = t
    return ticks


def cpu_seconds_between(before: dict[int, int], after: dict[int, int]) -> float:
    """CPU time spent between two ``cpu_ticks`` readings. A process
    that started in between counts from zero. One that ended in between
    is in its parent's reaped-children time with all its ticks, so the
    ticks it had at the first reading come off."""
    ticks = sum(t - before.get(p, 0) for p, t in after.items())
    ticks -= sum(t for p, t in before.items() if p not in after)
    return ticks / os.sysconf("SC_CLK_TCK")


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_gone(pids: list[int], timeout_s: float) -> None:
    deadline = time.monotonic() + timeout_s
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
    while any(_alive(p) for p in pids):
        time.sleep(0.05)


class Harness:
    def __init__(self, root: str, seed: int, seconds: float, trace: bool, fault: str) -> None:
        self.pid = os.getpid()
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.fault = fault
        self.tmp = os.path.join(root, TMP_ROOT, f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}")
        self.spark = None
        self.queries: list = []
        self.session_start_s = 0.0
        self.setup_s = 0.0
        self._phases = [("start", time.perf_counter())]
        self._gateway = None
        # Everything the run writes stays inside its temp dir: Python's
        # tempfile (and the session's warehouse dir, derived from it),
        # Spark's scratch space and the JVM's java.io.tmpdir.
        # (created by start_spark, so that an early signal leaves nothing)
        scratch = self.path("tmp")
        os.environ["TMPDIR"] = scratch
        tempfile.tempdir = scratch
        os.environ["SPARK_LOCAL_DIRS"] = scratch
        # Python workers must import the program: some of its UDFs (the
        # deletion-vector builds, for one) run package code in a worker.
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p
        )
        os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
        os.environ.setdefault("SPARK_DRIVER_MEM", "3g")

    def phase(self, name: str) -> None:
        """Marks the end of a set-up phase, for the wall-clock breakdown
        printed when set-up ends."""
        self._phases.append((name, time.perf_counter()))

    def setup_done(self) -> None:
        """Ends set-up. ``setup_s`` is the CPU time of the process tree
        from process start to here: imports, session start, input
        generation and warm-up."""
        self.setup_s = cpu_seconds_between({}, cpu_ticks(self.pid))
        self.phase("rest")
        walls = {n: round(t - t0, 1) for (_, t0), (n, t) in zip(self._phases, self._phases[1:])}
        print(f"perfbench: set-up {self.setup_s:.1f} CPU s; wall s {walls}", file=sys.stderr)
        print("perfbench: measuring", file=sys.stderr, flush=True)

    def path(self, *parts: str) -> str:
        return os.path.join(self.tmp, *parts)

    def start_spark(self):
        from pyspark import SparkContext

        from deltasink_spark.session import get_spark

        os.makedirs(self.path("tmp"))
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            extra_conf={
                # a fixed set of JIT compiler threads: HotSpot otherwise
                # starts and ends them on demand, and the ticks of an
                # ended one could no longer be told apart (cpu_ticks)
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.path('tmp')} "
                                                 "-XX:-UseDynamicNumberOfCompilerThreads",
                "spark.local.dir": self.path("tmp"),
            },
        )
        self._gateway = SparkContext._gateway
        self.session_start_s = time.perf_counter() - t0
        self.phase("session")
        return self.spark

    def close(self, graceful: bool = True) -> None:
        """Stop the queries and the session (graceful), end the gateway
        JVM, wait for it and every process it forked, then remove the
        temp dir. After a signal the py4j connection may be mid-call,
        so only the JVM's own shutdown is used."""
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        procs = descendants(os.getpid())
        if graceful:
            for q in list(self.queries):
                try:
                    q.stop()
                except Exception as e:  # keep tearing down
                    print(f"perfbench: stopping a query failed: {e}", file=sys.stderr)
            if self.spark is not None:
                try:
                    self.spark.stop()
                except Exception as e:
                    print(f"perfbench: stopping the session failed: {e}", file=sys.stderr)
        gw = self._gateway
        if gw is None:
            # a signal before the session was up: no gateway to close
            for p in procs:
                try:
                    os.kill(p, signal.SIGTERM)
                except ProcessLookupError:
                    pass
        else:
            # the gateway JVM exits when its stdin closes; py4j would
            # then log an error for every call still made on its dead
            # sockets, here, from other threads and at interpreter exit
            logging.disable(logging.CRITICAL)
            proc = gw.proc
            try:
                proc.stdin.close()
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
            gw.shutdown(raise_exception=False)
        wait_gone(procs, timeout_s=30)
        # a foreachBatch thread cut off by the JVM's exit may still be
        # finishing a local file write
        for _ in range(50):
            shutil.rmtree(self.tmp, ignore_errors=True)
            if not os.path.exists(self.tmp):
                break
            time.sleep(0.1)
        try:
            os.rmdir(os.path.dirname(self.tmp))
        except OSError:
            pass  # another run's dir is still there
