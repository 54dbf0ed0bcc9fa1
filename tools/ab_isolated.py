"""Dedicated serialized per-query A/B (VERDICT r7 #1): the committed
2x gate compares bench-run timings against BASELINE.md rows, but a
bench reading is taken inside a 214-query mega-session — plan-cache
churn, JVM heap aging, and host stalls all ride along. When a query
breaches the gate with NO code change, the adjudication protocol is:

1. isolate it — FRESH JVM, sf0.001 warm-up, one sf0.1 warm run,
   then N timed runs (min + all readings reported);
2. compare the isolated min against the committed baseline row: under
   the gate -> the breach was measurement-layer (session aging /
   contention), recorded as adjudicated with these readings;
   still over -> a real regression, bisect the query.

r9 (ADVICE): isolation is per-PROCESS, not per-SparkSession —
stopping a SparkSession reuses the same JVM/py4j gateway, so heap
aging and the JVM-wide codegen cache would persist into the next
query's reading, and static confs (codegen cache sizing) do not
re-bind on a 2nd SparkContext. The multi-query entrypoint therefore
forks one subprocess per query (``--single`` mode), exactly like
bench.py's per-revision runs.

Each row carries its own ``drift_probe_sec`` (VERDICT r8 #8): the
fixed-work pure-JVM probe from bench.py, timed in the same process
right after the query readings, so every adjudication table ships a
host-speed reference alongside the numbers it is adjudicating.

One query at a time, one timed job at a time (serialize-performance-
measurements doctrine). Prints one JSON line per query.

Usage: python tools/ab_isolated.py q1 [q2 ...] [--runs N] [--sf DIR]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)


def run_single(name: str, runs: int, sf_dir: str) -> dict:
    """Measure ONE query in THIS process (assumed fresh — no prior
    SparkContext). Returns the reading row."""
    from bench import drift_probe
    from vega_spark import registry
    from vega_spark.session import get_session

    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")),
                            "sf0.001")
    spec = registry.SPECS[name]
    fn = spec.fn
    spark = get_session(f"ab-{name}")
    spark.range(1000).count()
    if os.path.isdir(warm_dir):
        fn(spark, warm_dir).count()
    fn(spark, sf_dir).count()          # sf0.1 warm (JIT + AQE shape)
    readings = []
    for _ in range(runs):
        t0 = time.perf_counter()
        fn(spark, sf_dir).count()
        readings.append(round(time.perf_counter() - t0, 3))
    op = spec.op
    op_readings = []
    if op is not None:
        op(spark, sf_dir).count()
        for _ in range(runs):
            t0 = time.perf_counter()
            op(spark, sf_dir).count()
            op_readings.append(round(time.perf_counter() - t0, 3))
    row = {"min": min(readings), "runs": readings}
    if op_readings:
        row["operator_only"] = {"min": min(op_readings),
                                "runs": op_readings}
    row["drift_probe_sec"] = drift_probe(spark)
    spark.stop()
    return row


def main() -> int:
    args = list(sys.argv[1:])
    runs = 3
    sf_dir = "/root/testdata/sf0.1"
    single = False
    names = []
    i = 0
    while i < len(args):
        if args[i] == "--runs":
            runs = int(args[i + 1]); i += 2
        elif args[i] == "--sf":
            sf_dir = args[i + 1]; i += 2
        elif args[i] == "--single":
            single = True; i += 1
        else:
            names.append(args[i]); i += 1

    if single:
        assert len(names) == 1, "--single takes exactly one query"
        print(json.dumps({names[0]: run_single(names[0], runs, sf_dir)}))
        return 0

    rc = 0
    for name in names:
        # fresh JVM per query: fork a --single child; its stdout's
        # last line is the JSON row (Spark noise goes to stderr)
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), name,
             "--single", "--runs", str(runs), "--sf", sf_dir],
            capture_output=True, text=True, cwd=_REPO)
        lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
        if proc.returncode != 0 or not lines:
            print(json.dumps({name: {
                "err": (proc.stderr or "no output")[-800:]}}))
            rc = 1
            continue
        print(lines[-1])
    return rc


if __name__ == "__main__":
    sys.exit(main())
