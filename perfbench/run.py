"""Closed-loop benchmark of the registry queries, end to end and per layer.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One client runs the queries of one
workload one at a time, as ``registry.QUERIES[name](spark, dir)`` followed
by a count, on ``local[<cores>]`` with an 8g driver. The seed makes the
input tables (see ``datagen.py``) and the query order within each pass.

A run:

1. writes the seeded tables under ``.perfbench_work/`` (not timed);
2. sets up: imports the engine, starts the JVM and session, runs one
   pass that collects every query, then the workload's fixed number of
   discarded passes of counts, so that the JIT has compiled the hot code
   before timing starts; this is ``setup_s``;
3. compares each collected result with its DuckDB oracle from
   ``registry.ORACLES``, outside all timing (see ``_cells_match`` for
   how floats compare);
4. runs whole passes until ``--seconds`` have gone by, requiring every
   count to equal the checked row count, and records the CPU time the
   hypervisor stole from the VM during each pass and each query.

On a shared host the hypervisor runs other guests on this VM's CPUs,
and for as long as it does the engine's threads wait. On a 4-vCPU VM
the median pass wall time of olap moved 2.15-3.09 s over ten runs,
rising by about a second per second of CPU time stolen from the VM; less
the stolen time, the same passes took 2.11-2.36 s. Query times are
therefore taken net of steal: wall time less the CPU seconds stolen from
the VM (all CPUs) while the query ran. On a host that steals nothing
this is the wall time. Raw wall times and steal are kept in the run's
JSON file.

With ``--trace 0`` the last stdout line carries the end-to-end metrics:
``pass_s``, the time of one pass, as the sum over the workload's queries
of each query's median net time (a sum of per-query medians drops a
burst of steal that a median of whole passes keeps); ``query_geomean_s``,
the geometric mean over queries of each query's median net time;
``setup_s``, wall time from the start of set-up to the first timed
query; and ``ok_frac``, the share of executions that ran and passed their
check. With ``--trace 1`` every second pass runs with Spark's JSON event
log attached, and the last line carries the per-layer metrics of the
traced passes (see ``layers.py``), ``trace.overhead``, the traced over
the untraced median pass wall time, ``host.steal_s``, the median stolen
CPU seconds per pass, and ``host.pass_wall_s``, the median raw wall time
of an untraced pass. Each run leaves its effective confs, drift probes,
pass times and steal, and in traced runs one row per traced query
execution, in ``.perfbench_work/<workload>-seed<seed>-<e2e|trace>.json``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# name -> (scale factor, warm-up passes, registry queries). olap reads
# five times the rows of llm_pipeline. One workload never crosses into
# Python, runs no stream and writes nothing; the other does all three.
# Lists are short because a run's set-up (JVM start, a cold pass, then
# warm-up passes) costs more than its measured passes. Until the C2 JIT
# has compiled the hot code, each pass runs faster than the one before,
# and a slow host, which fits fewer passes in a run, would report a
# higher median. After these warm-up passes the first timed pass is
# still 5-15% slower than the rest, which the per-query medians absorb.
# At sf0.1 olap needed six warm-up passes, which a run has no time for.
WORKLOADS = {
    # relational plans: scans, joins and shuffles in the JVM, no Python
    "olap": (0.05, 3, [
        "tpch_q1_pricing_summary", "tpch_q3_shipping",
        "tpch_q9_profit_by_nation", "tpch_q18_large_orders",
    ]),
    # data-curation steps: Arrow/Python-boundary dedup and image
    # operators, a graph loop that runs its jobs while building its plan,
    # a stateful stream drain and a partitioned write
    "llm_pipeline": (0.01, 2, [
        "dedup_ngram_jaccard", "image_dhash_census", "sssp_parts_weighted",
        "streaming_dedup_exact", "save_parquet_partitioned_roundtrip",
    ]),
}
DRIVER_MEMORY = "8g"
REL_TOL = 1e-9


def drift_probe() -> float:
    """Seconds for a fixed pure-Python workload; tracks host speed."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i % 7
    return time.perf_counter() - t0


def steal_s() -> float:
    """CPU seconds the hypervisor has taken from this VM, summed over
    its CPUs; on a shared host this is what inflates wall times."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _tree_pss_bytes(root_pid: int) -> int:
    """Proportional set size of a process and all of its descendants.
    PSS splits pages shared by forked Python workers among them, so the
    sum does not count those pages once per worker."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    tree, frontier = {root_pid}, [root_pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in tree]
        tree.update(kids)
        frontier.extend(kids)
    total = 0
    for p in tree:
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            pass
    return total


class RssSampler:
    """Peak resident memory (PSS) of the JVM process tree, the driver
    JVM and the Python workers it forks, sampled until ``close``."""

    def __init__(self, pid: int, period_s: float = 0.2):
        self.pid, self.period_s, self.peak = pid, period_s, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self):
        while not self._stop.wait(self.period_s):
            self.peak = max(self.peak, _tree_pss_bytes(self.pid))

    def close(self):
        self._stop.set()
        self._thread.join()


def _cells_match(a: tuple, b: tuple) -> bool:
    if a == b:
        return True
    if len(a) != len(b):
        return False
    for x, y in zip(a, b):
        if x == y:
            continue
        try:
            fx, fy = float(x), float(y)
        except ValueError:
            return False
        if not (math.isclose(fx, fy, rel_tol=REL_TOL, abs_tol=REL_TOL)
                or abs(fx - fy) < 1.5 * max(_last_place(x), _last_place(y))):
            return False
    return True


def _last_place(cell: str) -> float:
    """One unit in the last decimal place of a float's repr, else 0.

    Spark and DuckDB add doubles in different orders, so a sum that
    lands next to a half rounds to neighbouring values, e.g. TPC-H q3's
    ``ROUND(SUM(...), 2)`` gave 783900.43 in Spark and 783900.44 in
    DuckDB on one seed. Rounded values may therefore differ by one unit
    in their last place."""
    if "e" in cell or "." not in cell:
        return 0.0
    return 10.0 ** -len(cell.split(".")[1])


def oracle_problem(con, sql: str, rows: list, cols: list[str]) -> str | None:
    """None when the Spark rows match the DuckDB oracle, else why not."""
    from tools.check_oracle import normalize

    rel = con.sql(sql)
    dcols = list(rel.columns)
    drows = rel.fetchall()
    if sorted(cols) != sorted(dcols):
        return f"columns {sorted(cols)} vs oracle {sorted(dcols)}"
    if len(rows) != len(drows):
        return f"{len(rows)} rows vs oracle {len(drows)}"
    for a, b in zip(normalize(rows, cols), normalize(drows, dcols)):
        if not _cells_match(a, b):
            return f"row {a} vs oracle {b}"
    return None


class Bench:
    def __init__(self, workload: str, seed: int, work: str):
        self.sf, self.warmup_passes, self.queries = WORKLOADS[workload]
        self.workload, self.seed, self.work = workload, seed, work
        self.data = os.path.join(work, "data")
        self.cores = len(os.sched_getaffinity(0))
        self.rng = random.Random(seed)
        self.attempted = self.failed = 0
        self.expected: dict[str, int] = {}
        self.spark = None

    def start(self):
        from vega_spark.session import get_session

        self.spark = get_session(f"perfbench-{self.workload}", cpus=self.cores,
                                 extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}",
        })

    def confs(self) -> dict[str, str]:
        keep = ("spark.master", "spark.driver.memory", "spark.sql.")
        return {k: v for k, v in self.spark.sparkContext.getConf().getAll()
                if k.startswith(keep)}

    def _fail(self, name: str, why: str):
        self.failed += 1
        print(f"FAILED {name}: {why}", file=sys.stderr)

    def checked_pass(self, con) -> tuple[float, float]:
        """Collect every query once and compare it with its oracle.
        Returns (Spark seconds, oracle seconds)."""
        from vega_spark import registry

        spark_s = oracle_s = 0.0
        for name in self.queries:
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                df = registry.QUERIES[name](self.spark, self.data)
                rows = [tuple(r) for r in df.collect()]
                cols = df.columns
            except Exception as e:  # a failing query is a measured outcome
                self._fail(name, f"{type(e).__name__}: {e}")
                continue
            t1 = time.perf_counter()
            spark_s += t1 - t0
            problem = oracle_problem(con, registry.ORACLES[name], rows, cols)
            oracle_s += time.perf_counter() - t1
            if problem:
                self._fail(name, problem)
            else:
                self.expected[name] = len(rows)
        return spark_s, oracle_s

    def execute(self, name: str, record_phases: bool) -> dict | None:
        from vega_spark import registry

        self.attempted += 1
        s0 = steal_s()
        t0 = time.time()
        try:
            df = registry.QUERIES[name](self.spark, self.data)
            tb = time.time()
            counted = df.groupBy().count()  # the plan df.count() runs
            n = counted.collect()[0][0]
            t1 = time.time()
        except Exception as e:  # a failing query is a measured outcome
            self._fail(name, f"{type(e).__name__}: {e}")
            return None
        if n != self.expected.get(name):
            self._fail(name, f"count {n}, checked {self.expected.get(name)}")
            return None
        run = {"query": name, "t0_ms": t0 * 1e3, "tb_ms": tb * 1e3,
               "t1_ms": t1 * 1e3, "rows": n, "wall_s": t1 - t0,
               "steal_s": steal_s() - s0}
        if record_phases:
            for phase in ("analysis", "optimization", "planning"):
                run[f"catalyst.{phase}_s"] = 0.0
            it = counted._jdf.queryExecution().tracker().phases().iterator()
            while it.hasNext():
                kv = it.next()
                run[f"catalyst.{kv._1()}_s"] = kv._2().durationMs() / 1e3
        return run

    def timed_passes(self, seconds: float, tracer=None):
        """Whole passes in seeded order until ``seconds`` have gone by.
        With a tracer, every second pass runs traced. Returns one dict
        per pass (wall and stolen seconds, traced or not) and the
        executions, each marked traced or not."""
        passes, runs = [], []
        t_start = time.perf_counter()
        min_passes = 1 if tracer is None else 2
        while (len(passes) < min_passes
               or time.perf_counter() - t_start < seconds):
            traced = tracer is not None and len(passes) % 2 == 1
            order = list(self.queries)
            self.rng.shuffle(order)
            if traced:
                tracer.attach()
            s0 = steal_s()
            t0 = time.perf_counter()
            for name in order:
                run = self.execute(name, record_phases=traced)
                if run is not None:
                    runs.append(dict(run, traced=traced))
            wall = time.perf_counter() - t0
            passes.append({"wall_s": wall, "steal_s": steal_s() - s0,
                           "traced": traced})
            if traced:
                tracer.detach()
        return passes, runs

    def stop_session(self):
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def stop_jvm(self):
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()


def _setup_env(work: str):
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    pythonpath = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ.update({
        # Python workers import vega_spark from here, whatever the cwd
        "PYTHONPATH": os.pathsep.join(pythonpath),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "TMPDIR": os.path.join(work, "tmp"),
    })
    import tempfile
    tempfile.tempdir = None
    sys.path[:0] = [HERE, ROOT]


def _emit(correct: bool, attempted: int, failed: int, metrics: dict):
    print(json.dumps({"correct": correct, "attempted": max(attempted, 1),
                      "failed": failed, "metrics": metrics}), flush=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("vega_spark/registry.py", "tools/check_oracle.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a "
                  "checkout of the repository", file=sys.stderr)
            return 2

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        return _run(args, base, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, base: str, work: str) -> int:
    _setup_env(work)
    probes = [drift_probe()]

    import datagen
    bench = Bench(args.workload, args.seed, work)
    datagen.write(bench.data, args.seed, bench.sf)

    try:
        t_setup = time.perf_counter()
        import duckdb

        from vega_spark.tables import TABLE_NAMES
        bench.start()
        con = duckdb.connect()
        for t in TABLE_NAMES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(bench.data, t)}.parquet'")
        spark_s, oracle_s = bench.checked_pass(con)
        con.close()
        for _ in range(bench.warmup_passes):  # discarded passes of counts
            for name in bench.queries:
                bench.execute(name, record_phases=False)
        setup_s = time.perf_counter() - t_setup - oracle_s
        confs = bench.confs()
        if args.trace:
            # the sampler reads /proc while queries run, so only traced
            # runs pay for it
            import layers
            sampler = RssSampler(bench.spark.sparkContext._gateway.proc.pid)
            tracer = layers.EventLog(bench.spark, os.path.join(work, "eventlog"))
            passes, runs = bench.timed_passes(args.seconds, tracer)
            sampler.close()
            log = tracer.close()
        else:
            passes, runs = bench.timed_passes(args.seconds)
    finally:
        bench.stop_session()
        bench.stop_jvm()
    probes.append(drift_probe())

    nets = {q: [r["wall_s"] - r["steal_s"] for r in runs if r["query"] == q
                and not r["traced"]] for q in bench.queries}
    medians = {q: statistics.median(n) for q, n in nets.items() if n}
    result = {
        "workload": args.workload, "seed": args.seed, "sf": bench.sf,
        "cores": bench.cores, "confs": confs, "drift_probe_s": probes,
        "env": {k: os.environ[k] for k in (
            "PYTHONPATH", "SPARK_LOCAL_DIRS", "SPARK_DRIVER_MEMORY")},
        "passes": passes, "samples": sum(not r["traced"] for r in runs),
        "checked_pass_spark_s": spark_s, "oracle_s": oracle_s,
        "query_median_s": medians,
    }
    if not args.trace:
        metrics = {
            "pass_s": (sum(medians.values()), "s"),
            "query_geomean_s": (statistics.geometric_mean(
                medians.values()) if medians else 0.0, "s"),
            "setup_s": (setup_s, "s"),
            "ok_frac": (1 - bench.failed / max(bench.attempted, 1), "ratio"),
        }
    else:
        rows = layers.attribute(log, [r for r in runs if r["traced"]],
                                bench.cores)
        metrics = {k: (v, layers.UNITS[k])
                   for k, v in layers.summarize(rows, bench.cores).items()}
        metrics["host.drift_probe_s"] = (statistics.mean(probes), "s")
        metrics["host.peak_rss_mb"] = (sampler.peak / 2**20, "MB")
        traced = [p["wall_s"] for p in passes if p["traced"]] or [float("nan")]
        plain = statistics.median(p["wall_s"] for p in passes if not p["traced"])
        metrics["trace.overhead"] = (statistics.median(traced) / plain, "ratio")
        metrics["host.steal_s"] = (statistics.median(
            p["steal_s"] for p in passes), "s")
        metrics["host.pass_wall_s"] = (plain, "s")
        result["rows"] = rows
    result["metrics"] = {k: v for k, (v, _) in metrics.items()}
    os.makedirs(base, exist_ok=True)
    suffix = "trace" if args.trace else "e2e"
    with open(os.path.join(base, f"{args.workload}-seed{args.seed}-{suffix}.json"),
              "w") as f:
        json.dump(result, f, indent=1)

    for q, s in result["query_median_s"].items():
        print(f"{q:40s} {s:8.3f} s", file=sys.stderr)
    _emit(bench.failed == 0, bench.attempted, bench.failed,
          {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()})
    return 0


if __name__ == "__main__":
    sys.exit(main())
