"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Headline set: the registry queries declared ``bench=True``
(``registry.SPECS``), timed in registration order — the reference's
de-facto benchmark aggregate (weblog shape), one or more per operator
family, and the north-star extensions (dedup / similarity / text)
that dominate cost at 100 TB.

Each query is timed over a full materialization (count of the result)
after a warm-up of the session (JVM + parquet footer caches are
session-level; the driver compares revisions, so self-consistency is
what matters).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from vega_spark import registry  # noqa: E402
from vega_spark.session import get_session  # noqa: E402


def drift_probe(spark) -> float:
    """Fixed-work host-speed reference (VERDICT r7 #8): a constant
    pure-JVM job — 400M-element range sum+mod across 32 splits, no
    data dependence, no shuffle — timed min-of-3. Recorded before AND
    after the bench so cross-round drift adjudications ("the host got
    uniformly slower") rest on a measured constant-work number
    instead of the per-query median inference three rounds running.
    Min-of-3 discards scheduler warm-up; the job is ~1s on an idle
    32-thread host."""
    # one untimed call first: the probe's codegen unit JITs on its
    # first execution (measured 0.44s pre vs 0.11s post on an idle
    # host before this warm call — that delta was JIT, not drift)
    spark.range(0, 400_000_000, 1, 32).selectExpr(
        "sum(id % 7) AS s").collect()
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, 400_000_000, 1, 32).selectExpr(
            "sum(id % 7) AS s").collect()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_session("vega-bench", cpus=cpus)
    bench = {n: s for n, s in registry.SPECS.items() if s.bench}

    # warm the session: JVM classloading on a trivial job, then one
    # pass of every query at the smallest SF so whole-stage-codegen
    # units are JIT-compiled before timing. The timed numbers then
    # measure steady-state throughput (the 100 TB-relevant quantity)
    # instead of first-call JIT latency, and run-to-run variance
    # drops ~5x for the expression-heavy queries.
    spark.range(1000).count()
    probe_pre = drift_probe(spark)
    print(f"# drift_probe pre: {probe_pre:.3f}s", file=sys.stderr)
    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    for name, spec in bench.items():
        try:
            spec.fn(spark, warm_dir).count()
        except Exception as exc:  # never let warm-up sink the bench
            print(f"# warmup {name} failed: {exc}", file=sys.stderr)

    # Steady-state measurement: one timed run per query; queries whose
    # first timing exceeds RETIME_S get a second run and report the
    # MIN. The sf0.001 warm-up compiles the small-plan codegen units,
    # but AQE picks different physical shapes at sf0.1, so heavy
    # queries pay first-run JIT + broadcast-build there — measured
    # ~1.6x on iterative/streaming queries (e.g. ALS 8.3s first run,
    # 5.2s steady). The re-run bound keeps total bench wall-clock
    # within ~1.3x of single-pass.
    RETIME_S = 1.2
    timings: dict[str, float] = {}
    first_run: dict[str, float] = {}   # un-retimed first measurements
    for name, spec in bench.items():
        fn = spec.fn
        t0 = time.perf_counter()
        n = fn(spark, sf_dir).count()
        t1 = round(time.perf_counter() - t0, 3)
        first_run[name] = t1
        if t1 > RETIME_S:
            t0 = time.perf_counter()
            fn(spark, sf_dir).count()
            t1 = min(t1, round(time.perf_counter() - t0, 3))
        timings[name] = t1
        print(f"# {name}: {timings[name]:.3f}s ({n} rows)", file=sys.stderr)

    # End-of-run re-measure pass: a multi-second host stall (VM noisy
    # neighbor, full GC) can span several consecutive queries and
    # survive even min-of-2 — observed as contiguous 3-11x spikes on
    # queries that time at baseline in isolation. Any query whose
    # timing exceeds 1.8x its recorded steady-state (bench_clean.json,
    # committed) gets ONE re-measurement at the end, min taken: a real
    # regression stays slow on the re-run; a transient stall doesn't
    # recur minutes later.
    clean_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                              "bench_clean.json")
    try:
        with open(clean_path) as f:
            clean = json.load(f).get("queries", {})
    except Exception:
        clean = {}
    for name, t in list(timings.items()):
        ref = clean.get(name)
        if ref and t > max(1.0, 1.8 * ref):
            t0 = time.perf_counter()
            bench[name].fn(spark, sf_dir).count()
            t2 = round(time.perf_counter() - t0, 3)
            if t2 < t:
                print(f"# remeasure {name}: {t:.3f}s -> {t2:.3f}s",
                      file=sys.stderr)
                timings[name] = t2

    # Operator-only timings (r4 verdict #3): contract-wrapped
    # flagships spend most of their wall on the exact truth/witness
    # replay, not the shipped operator. Time the registered operator
    # sub-plans separately so the 2x gate can be read against the
    # operator cost without hand-adjudicating contract overhead.
    # Recorded alongside, NOT added to the headline total (the
    # contract runs already include the operator work).
    operator_only: dict[str, float] = {}
    for name, spec in bench.items():
        fn = spec.op
        if fn is None:
            continue
        t0 = time.perf_counter()
        fn(spark, sf_dir).count()
        t1 = round(time.perf_counter() - t0, 3)
        if t1 > RETIME_S:
            t0 = time.perf_counter()
            fn(spark, sf_dir).count()
            t1 = min(t1, round(time.perf_counter() - t0, 3))
        operator_only[name] = t1
        print(f"# operator-only {name}: {t1:.3f}s "
              f"(contract: {timings.get(name, float('nan')):.3f}s)",
              file=sys.stderr)

    probe_post = drift_probe(spark)
    print(f"# drift_probe post: {probe_post:.3f}s", file=sys.stderr)
    probe = {"pre": probe_pre, "post": probe_post}

    total = round(sum(timings.values()), 3)
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")

    # The driver captures only the TAIL (~4 KB) of stdout; round 2's
    # full per-query dict grew to 6.4 KB and the head of the JSON line
    # was clipped — BENCH_r02.json parsed to null and the round lost
    # its official perf record.  The headline line now carries the
    # total plus the 20 slowest queries (< 3 KB guaranteed below);
    # the complete per-query dict goes to bench_detail.json.
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "bench_detail.json")
    with open(detail_path, "w") as f:
        # first_run = the raw initial measurement per query, BEFORE
        # min-of-2 retiming and the end-of-run stall re-measure — kept
        # alongside so host drift and real regressions are
        # distinguishable across rounds (r3 verdict #7): a genuine
        # regression moves both numbers; a noisy-VM stall moves only
        # first_run.
        json.dump({"metric": "headline_queries_total_wall", "value": total,
                   "unit": "sec", "queries": timings,
                   "first_run": first_run,
                   "first_run_total": round(sum(first_run.values()), 3),
                   # operator sub-plan timings for contract-wrapped
                   # queries (the specs' op legs) — the shipped
                   # operator's cost with the verification truth leg
                   # stripped; not part of the headline total
                   "operator_only": operator_only,
                   "drift_probe_sec": probe,
                   "sf": float(sf) if sf else None}, f, indent=1)
    worst = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:20])
    line = json.dumps({
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": worst,
        "n_queries": len(timings),
        "detail": "bench_detail.json",
        "drift_probe_sec": probe,
        "sf": float(sf) if sf else None,
    })
    if len(line) > 3000:  # belt-and-braces: never overflow the capture
        line = json.dumps({"metric": "headline_queries_total_wall",
                           "value": total, "unit": "sec",
                           "queries": {}, "n_queries": len(timings),
                           "detail": "bench_detail.json",
                           "drift_probe_sec": probe,
                           "sf": float(sf) if sf else None})
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
