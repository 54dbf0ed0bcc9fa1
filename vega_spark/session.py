"""SparkSession bootstrap.

Reference parity: ``Context::new / with_mode`` (reference
src/context.rs:147-164, :209-303) — driver bootstrap for local or
distributed execution. In this engine the cluster manager, scheduler,
shuffle service and cache are Spark's own; this module only pins the
configuration that matters for correctness (UTC session time zone,
nanosecond-parquet handling) and for scale (AQE, Arrow, sensible
shuffle parallelism).

Scale notes (100 TB design intent):
- AQE on: runtime partition coalescing + skew-join splitting replace
  any hand-tuned partition counts at large SF.
- ``spark.sql.shuffle.partitions`` is only the *initial* value; AQE
  re-plans. On a real cluster set it ~2-3x total cores.
- Arrow enabled for any pandas-UDF path (the sanctioned slow path).

Scoped confs: an operator that needs a conf other than the caller's
(AQE off around a fixed-shape loop, a drain's state-store partition
count) sets it on a ``cloned_session`` and runs there, moving frames
across with ``rebind``. It never sets it on the caller's session,
whose confs are shared with every query running on it concurrently
(``run_overlapped`` legs included).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def cloned_session(spark: SparkSession,
                   confs: dict[str, str]) -> SparkSession:
    """A clone of ``spark`` with ``confs`` set on the clone only.

    ``cloneSession()`` copies the caller's confs, temp views and UDFs
    (``newSession()`` would drop the runtime confs
    ``ensure_engine_conf`` set) and shares its SparkContext and cache;
    later conf changes on either side do not reach the other."""
    clone = SparkSession(spark.sparkContext,
                         spark._jsparkSession.cloneSession())
    for k, v in confs.items():
        clone.conf.set(k, v)
    return clone


def rebind(df: DataFrame, session: SparkSession) -> DataFrame:
    """``df``'s logical plan re-rooted in ``session``: actions on the
    result plan with ``session``'s confs. A checkpointed frame keeps
    its recorded output partitioning. Returns ``df`` itself when it
    already belongs to ``session``."""
    if df.sparkSession is session:
        return df
    jdf = session._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        session._jsparkSession, df._jdf.queryExecution().logical())
    return DataFrame(jdf, session)


def get_session(
    app_name: str = "vega_spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a local SparkSession with engine defaults.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS (driver contract) or '*'.
    """
    if cpus is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 4)

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        # events.parquet stores timestamp[ns]; Spark 4 rejects NANOS
        # unless read as raw int64 (we do wall-clock integer math on it)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # the generated-class cache defaults to 100 entries JVM-wide;
        # a session that runs hundreds of distinct plans (the
        # 214-query bench, the 322-query oracle sweep, any real
        # multi-query workload) thrashes it and re-Janino-compiles
        # evicted stages — one suspected driver of the mega-session
        # tax (queries timing 1.2-3x their fresh-session floor).
        # STATIC conf: read once at JVM start, so it binds ONLY here
        # (builder time) — ensure_engine_conf cannot set it on an
        # externally provided session (r9, ADVICE). 8000 not 2000:
        # 214 bench queries x ~15-40 codegen units each can exceed
        # 2000 distinct generated classes, and entries are cheap
        # (class metadata refs, not compiled-code copies).
        .config("spark.sql.codegen.cache.maxEntries", "8000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def drain_shuffle_partitions(*staged_paths: str,
                             floor: int = 4,
                             bytes_per_partition: int = 64 << 20,
                             cap: int = 2048) -> str:
    """State-store partition count for a bounded AvailableNow drain,
    derived from the STAGED arrival size (r9 opt, guide §2:
    scale-dependent settings derive from input, never a constant
    tuned for one SF). Stateful streaming disables AQE and pins the
    state-store count at the FIRST batch, so the initial
    ``spark.sql.shuffle.partitions`` is the drain's final stateful
    parallelism — the one setting AQE cannot rescue.

    Sizing: one partition per ``bytes_per_partition`` of staged
    arrival bytes (state for these drains is a bounded fraction of
    arrival volume), floored at ``floor`` — near-empty HDFS-backed
    state stores are pure per-batch overhead, the r6-r9 A/Bs'
    finding — and capped defensively. Floor 4 since r10: the
    micro-batch profile showed even a ZERO-row batch costs
    0.6-0.8 s, mostly per-partition store open/commit; an
    interleaved floor A/B over 5 drains read 8 → 4 as −0.8 s total
    (loj 3.36→3.00, pairs 2.55→2.25, watermark 1.85→1.61) with
    floor 2 a wash vs 4 — 4 keeps task parallelism for the
    non-state stages. At the bench SFs every drain's
    staging is far below one partition's budget, so the floor binds
    and bench readings are unchanged by construction; the value only
    grows when the arrival data does. Returns a string, ready for
    ``conf.set`` (``drain_to_memory`` sets it on its drain session).
    Paths may be files or directories (walked).
    The walk deliberately counts EVERY directory entry: Spark
    sidecars (_SUCCESS, .crc) are noise well under the 64 MB
    granularity, and hardlinked duplicate arrivals (streaming_dedup's
    staging) SHOULD count once per link — each is a real arrival the
    drain processes (r9 ADVICE, documented rather than filtered)."""
    import math
    total = 0
    for p in staged_paths:
        if os.path.isdir(p):
            for dp, _dn, fns in os.walk(p):
                for f in fns:
                    try:
                        total += os.path.getsize(os.path.join(dp, f))
                    except OSError:
                        pass
        else:
            try:
                total += os.path.getsize(p)
            except OSError:
                pass
    return str(max(floor, min(cap, math.ceil(total / bytes_per_partition))))


def _conf_get(spark: SparkSession, key: str) -> str | None:
    try:
        return spark.conf.get(key, None)
    except Exception:
        return None


def ensure_engine_conf(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable engine confs to an externally
    provided session (the driver passes its own session to
    ``__spark_entry__.entry``/``queries``).

    r9 (ADVICE): ``spark.sql.codegen.cache.maxEntries`` is a
    StaticSQLConf in Spark 4.1 — ``spark.conf.set`` on a live session
    ALWAYS raises, so an externally provided session keeps whatever
    its builder pinned (the 100-entry default unless the caller used
    ``get_session``). We read every conf back after setting and warn
    once per session when a value could not be applied, instead of
    silently passing: a mega-session-tax adjudication must know
    which path the cache sizing actually bound on.

    Each conf is read first and set only when it differs, and a conf
    already warned about is not retried: ``_t`` calls this on every
    table load, and a failing static-conf set costs a Py4J exception."""
    import warnings
    warned = getattr(spark, "_vega_conf_warned", set())
    for k, v in {
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        # static conf — set attempt below always fails on a live
        # session; kept in the map so the read-back WARNS when an
        # external session runs with the 100-entry default
        "spark.sql.codegen.cache.maxEntries": "8000",
    }.items():
        if k in warned or _conf_get(spark, k) == v:
            continue
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf — verified by the read-back below
        applied = _conf_get(spark, k)
        if applied != v:
            warnings.warn(
                f"engine conf {k}={v!r} could not be applied to "
                f"this session (static conf; effective value "
                f"{applied!r}). Mega-session workloads on this "
                f"session may pay codegen-cache eviction; build "
                f"sessions via vega_spark.session.get_session to "
                f"bind static confs.", stacklevel=2)
            warned.add(k)
            spark._vega_conf_warned = warned
    return spark


def conf_for_scale(input_bytes: int, total_cores: int,
                   mem_per_core_bytes: int,
                   target_partition_bytes: int = 128 * 1024**2) -> dict[str, str]:
    """Concrete conf recommendations for a given input scale — the
    arithmetic behind "would this hold at 100 TB":

    - initial shuffle partitions: enough that one shuffle partition's
      spill-free working set (~3x its on-disk bytes once decoded)
      fits in a task's memory share, floored at 2x total cores so
      every core gets work; AQE coalesces DOWN from there at runtime
      (over-partitioning is cheap, under-partitioning spills).
    - scan split size: the default 128 MB target unless tasks would
      be too few to fill the cluster.
    - broadcast threshold: 10% of a task's memory share, capped at
      512 MB (a broadcast lives once per executor, ~4x decoded).

    ``mem_per_core_bytes`` is the PER-TASK memory share: executor
    memory divided by cores per executor (e.g. 32 GiB / 8 cores =
    4 GiB). Passing whole-executor memory would inflate every
    spill-free estimate by the core count.

    E.g. 100 TB (1e14 B) on 1000 executors x 8 cores x 32 GiB
    (mem_per_core = 4 GiB, spill-free ≈ 1.4 GiB):
    shuffle.partitions = max(2*8000, ceil(1e14/1.43e9)) ≈ 69,850;
    maxPartitionBytes stays 128 MB (≈ 745k scan tasks); broadcast
    threshold 4 GiB/10 ≈ 410 MB.
    """
    mem_per_task = mem_per_core_bytes
    spill_free = max(mem_per_task // 3, 32 * 1024**2)
    n_shuffle = max(2 * total_cores,
                    -(-input_bytes // spill_free))  # ceil div
    n_scan_tasks = -(-input_bytes // target_partition_bytes)
    scan_bytes = (target_partition_bytes if n_scan_tasks >= total_cores
                  else max(input_bytes // max(total_cores, 1), 4 * 1024**2))
    bcast = min(mem_per_task // 10, 512 * 1024**2)
    # the ADAPTIVE threshold applies to exact runtime shuffle sizes
    # (not Catalyst's inflated pre-execution estimates), so it can
    # safely sit higher than the static one: a plan that conservatively
    # planned sort-merge gets converted to broadcast-hash at runtime
    # when the built side's TRUE size fits (observed: a ~30 MB
    # aggregate misestimated above a 51 MB static threshold cost a
    # 105M-row frame two extra sort-shuffles at the 300x smoke)
    bcast_rt = min(mem_per_task // 4, 512 * 1024**2)
    return {
        "spark.sql.shuffle.partitions": str(n_shuffle),
        "spark.sql.files.maxPartitionBytes": str(scan_bytes),
        "spark.sql.autoBroadcastJoinThreshold": str(bcast),
        "spark.sql.adaptive.autoBroadcastJoinThreshold": str(bcast_rt),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes":
            str(target_partition_bytes // 2),
    }


def run_overlapped(*thunks):
    """Run independent driver thunks (each typically materializing one
    frame via an eager ``localCheckpoint``/action) CONCURRENTLY from a
    small thread pool and return their results in argument order —
    guide §2.6: actions are only sequential because driver code calls
    them sequentially, and Spark's FIFO scheduler back-fills the tail
    of one job with tasks of the next. Used by multi-leg contract
    queries whose legs share no lineage (e.g. an exact-truth leg next
    to an LSH leg): the query's RESULT is unchanged — same frames,
    same final action — only the driver-side ordering of independent
    jobs changes. Peak cluster load is the sum of the overlapped legs,
    so keep the fan small (2-3) and the legs corpus-pass-sized.

    Exceptions propagate to the caller (first failing thunk, after
    all threads finish — no half-started leg is leaked)."""
    from concurrent.futures import ThreadPoolExecutor

    if len(thunks) == 1:
        return (thunks[0](),)
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(t) for t in thunks]
        results, first_err = [], None
        for f in futures:
            try:
                results.append(f.result())
            except Exception as e:  # noqa: BLE001 — re-raised below
                if first_err is None:
                    first_err = e
                results.append(None)
        if first_err is not None:
            raise first_err
        return tuple(results)


def release_local_checkpoint(df) -> None:
    """Free the block-manager storage behind a ``localCheckpoint()``ed
    DataFrame NOW instead of waiting for the ContextCleaner's
    weak-ref sweep (r8, ALS 100x profiling): superseded iteration
    state — old factor/frontier frames plus the broadcast relations
    built against them — otherwise accumulates in the executor heap
    until a full GC happens to run, and the SAME half-step was
    measured anywhere from 15s to 112s at the 100x smoke depending on
    that accumulated pressure. Iterative operators (ALS, k-means,
    graph loops) must release frame N-1 as soon as frame N is
    materialized; block loss after release only re-lengthens lineage
    on failure, never changes results.

    No-op (never raises) if the frame is not a checkpoint — py4j
    internals are version-sensitive, and a missed release is a perf
    bug, not a correctness bug."""
    try:
        node = df._jdf.queryExecution().analyzed()
        if node.getClass().getSimpleName() == "LogicalRDD":
            node.rdd().unpersist(False)
    except Exception:
        pass
