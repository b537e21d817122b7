"""Run one benchmark workload and print one JSON result line.

    python3 perfbench/run.py --workload ingest_small_batches --seed 1 \
        --seconds 10 --trace 0

Run it from the root of a checkout of the repository. ``--trace 0``
prints the end-to-end metrics of ``BENCHMARK.json``, ``--trace 1`` the
per-layer ones from a separately instrumented run; a per-layer metric
whose layer the workload does not use reads 0. The last line of
standard output is the result; Spark's log goes to standard error.
``--inject-fault`` corrupts the output on purpose so the self-test can
see the checks fail.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import signal
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FAULTS = ("none", "drop_row", "wrong_expected")
WORKLOADS = {  # workload -> module of perfbench with its run(harness)
    "ingest_small_batches": "ingest",
    "delta_dml_mix": "dml",
    "query_suite": "queries",
}


def _terminate(signum, frame):
    # one clean-up is enough: a second SIGTERM (a supervisor and its
    # child wrapper both signalling) must not cut the first one short
    signal.signal(signal.SIGTERM, signal.SIG_IGN)
    raise SystemExit(128 + signum)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-fault", choices=FAULTS, default="none")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        from perfbench import harness

        workload = importlib.import_module(f"perfbench.{WORKLOADS[args.workload]}")
    except (OSError, ImportError) as e:
        print(f"perfbench: cannot start: {e}", file=sys.stderr)
        return 2

    h = harness.Harness(ROOT, args.seed, args.seconds, bool(args.trace), args.inject_fault)
    signal.signal(signal.SIGTERM, _terminate)
    graceful = True
    try:
        result = workload.run(h)
    except SystemExit:
        graceful = False  # a signal: the py4j connection may be mid-call
        raise
    finally:
        h.close(graceful)

    if args.trace:
        wanted = spec["per_layer"]
        got = result.pop("layer")
        got["session.start_s"] = (h.session_start_s, "s")
    else:
        wanted = spec["end_to_end"]
        got = result.pop("metrics")
        got["setup_s"] = (h.setup_s, "s")
    metrics = {}
    for m in wanted:
        value, unit = got.pop(m["name"], (0, m["unit"]) if args.trace else (None, None))
        if unit != m["unit"]:
            raise ValueError(f"{m['name']}: unit {unit}, BENCHMARK.json says {m['unit']}")
        metrics[m["name"]] = {"value": value, "unit": unit}
    if got:
        raise ValueError(f"metrics missing from BENCHMARK.json: {sorted(got)}")
    result["metrics"] = metrics
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
