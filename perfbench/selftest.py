"""Self-test of the benchmark's hygiene and of its checks.

    python3 perfbench/selftest.py

Runs ``perfbench/run.py`` five times from the root of the checkout and
confirms, after each, that no process it started is still running
(every process of its session is gone) and that its temp dir is gone:

1. a normal ingest run: it prints a correct result;
2. an ingest run whose table loses one row of a data file behind the
   log's back before the checks: the ingest check must fail;
3. a DML run whose DuckDB model loses a row before the reads are
   checked: the DML check must fail;
4. a query run whose first oracle result loses a row: the oracle
   check must fail;
5. an ingest run sent SIGTERM while it measures: it must exit non-zero
   without printing a result.

Takes about four minutes. Exits 0 when every case holds.
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TMP_ROOT = os.path.join(ROOT, ".perfbench_tmp")
MARKER = "perfbench: measuring"


def _session_members(sid: int) -> list[int]:
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid and fields[0] != "Z":
            out.append(int(name))
    return out


def _leftovers(pid: int) -> list[str]:
    bad = [f"process {p} of the run is still alive" for p in _session_members(pid)]
    if os.path.isdir(TMP_ROOT):
        bad += [f"temp dir {d} is still there" for d in os.listdir(TMP_ROOT) if d.startswith(f"run-{pid}-")]
    return bad


def _run(args: list[str], sigterm_after_marker: float | None = None) -> tuple[int, str, list[str]]:
    cmd = [sys.executable, "perfbench/run.py", *args]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                            text=True, start_new_session=True)
    if sigterm_after_marker is None:
        out, _ = proc.communicate(timeout=300)
    else:
        for line in proc.stderr:
            if MARKER in line:
                break
        time.sleep(sigterm_after_marker)
        proc.send_signal(signal.SIGTERM)
        out, _ = proc.communicate(timeout=180)
    # the run's own processes may take a moment to be reaped by init
    deadline = time.monotonic() + 10
    while _leftovers(proc.pid) and time.monotonic() < deadline:
        time.sleep(0.2)
    return proc.returncode, out, _leftovers(proc.pid)


def _result(out: str) -> dict | None:
    lines = out.strip().splitlines()
    try:
        return json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return None


def main() -> int:
    base = ["--seed", "1", "--seconds", "1", "--trace", "0"]
    correct = lambda rc, r: rc == 0 and r is not None and r["correct"] and r["failed"] == 0  # noqa: E731
    caught = lambda rc, r: rc == 0 and r is not None and not r["correct"] and r["failed"] > 0  # noqa: E731
    cases = [
        ("normal ingest run", ["--workload", "ingest_small_batches", *base], None, correct),
        ("one row deleted from a data file",
         ["--workload", "ingest_small_batches", *base, "--inject-fault", "drop_row"], None, caught),
        ("a row missing from the DML model",
         ["--workload", "delta_dml_mix", *base, "--inject-fault", "wrong_expected"], None, caught),
        ("a row missing from an oracle result",
         ["--workload", "query_suite", *base, "--inject-fault", "wrong_expected"], None, caught),
        ("SIGTERM while measuring", ["--workload", "ingest_small_batches", "--seed", "1",
                                     "--seconds", "60", "--trace", "0"], 3.0,
         lambda rc, r: rc != 0 and r is None),
    ]
    failures = 0
    for name, args, sigterm, ok in cases:
        t0 = time.perf_counter()
        rc, out, left = _run(args, sigterm)
        res = _result(out)
        good = ok(rc, res) and not left
        failures += not good
        print(f"{'ok  ' if good else 'FAIL'} {name}: exit {rc}, result {res and {k: res[k] for k in ('correct', 'attempted', 'failed')}}, "
              f"{time.perf_counter() - t0:.0f}s" + "".join(f"\n     {x}" for x in left))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
