"""SparkSession construction and runtime configuration.

Two entry styles:

- ``get_session()`` — build our own tuned local session (tests, bench).
- ``configure(spark)`` — apply the runtime-settable subset of that
  tuning to a session we did NOT build (the driver builds its own and
  calls ``entry(spark)`` / ``queries()[k](spark, sf_dir)``, see
  ``__spark_entry__.py``). Everything set here is verified
  runtime-settable on Spark 4.1.2.

Scale notes (100 TB): ``get_session()`` runs ``local[N]`` with N the
cores this process may use (or ``SPARK_GRAFT_CPUS``). On a
real cluster the same code runs with cluster-level defaults — nothing in
the engine hard-codes partition counts; shuffle sizing is AQE-driven
(``spark.sql.adaptive.coalescePartitions``), so plans re-size at runtime
from actual stage statistics instead of static guesses.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runtime-settable confs applied to ANY session the engine touches.
_RUNTIME_CONFS: dict[str, str] = {
    # events.parquet stores ts as timestamp[ns]; without this flag the
    # vectorized reader throws PARQUET_TYPE_ILLEGAL (verified, SURVEY §1.2).
    # With it, ts arrives as bigint nanos; the registry normalizes once.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Deterministic timestamp rendering vs the DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # Adaptive execution: runtime partition coalescing + skew-join
    # splitting — the 100 TB answer to static shuffle sizing.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow transfer for pandas UDFs / toPandas (X1–X5 surface).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to an existing session.

    Idempotent and safe on sessions the driver owns; any conf that the
    running Spark build refuses at runtime is skipped rather than fatal.
    """
    low_latency = spark.conf.get("spark.lightcurator.lowLatency", "false") == "true"
    for k, v in _RUNTIME_CONFS.items():
        if low_latency and k.startswith("spark.sql.adaptive."):
            continue
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - defensive, all verified settable
            pass
    # Right-size shuffle parallelism for LOCAL sessions still on the 200
    # default (the driver builds a vanilla local session): 200 partitions
    # of sf0.01 data is pure scheduling overhead, and stateful streaming
    # cannot rely on AQE coalescing (AQE is disabled for stateful plans).
    # Non-local (cluster) sessions are left untouched — there the
    # cluster-level default / AQE owns shuffle sizing.
    try:
        master = spark.conf.get("spark.master", "")
        if master.startswith("local") and spark.conf.get(
            "spark.sql.shuffle.partitions"
        ) == "200":
            spark.conf.set(
                "spark.sql.shuffle.partitions",
                str(max(8, spark.sparkContext.defaultParallelism)),
            )
    except Exception:  # pragma: no cover - Connect sessions lack sparkContext
        pass
    return spark


def get_session(
    app_name: str = "lightcurator-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    low_latency: bool = False,
) -> SparkSession:
    """Build the engine's own tuned local session.

    ``SPARK_GRAFT_CPUS`` (driver contract) sets parallelism; unset, it
    is the number of cores this process may run on — more task slots
    than cores only queue (on a 4-core host l35 took 2.9 s at
    ``local[32]`` against 0.56 s at ``local[4]``). Shuffle
    partitions default to the core count — at the test scale factors a
    shuffle partition is well under executor memory, and AQE coalesces
    further when stages are small.

    ``low_latency=True`` (bench mode) disables AQE and pins a small
    static shuffle-partition count: AQE's shuffle-stage materialization
    barrier + driver re-plan costs ~30-50 ms per shuffle, which dwarfs
    sub-100 ms queries at sf0.1 (measured: r4 tumbling agg 0.10 s with
    AQE vs 0.044 s without). At cluster scale that barrier amortizes to
    noise and AQE's coalescing/skew-splitting is essential, so the
    default session keeps AQE on — latency mode is strictly a
    small-data interactive profile, same plans otherwise. The
    amortization is MEASURED, not asserted (r7): SCALING.md's
    "Cluster profile" section runs 8 shapes under AQE-on/200
    partitions vs the bench profile at 1x and 16x — the 1x penalty of
    up to 2.15× (g5) falls to 0.69–1.18× at 16x, with AQE-on already
    WINNING on the heaviest shape, and the finished adaptive plans
    carry AQEShuffleRead nodes (tripwired in tests/test_plans.py).

    Python workers fork from the engine's daemon
    (``lightcurator_spark.pydaemon``). Each task's worker setup calls
    ``importlib.invalidate_caches()``, which before CPython 3.12 re-reads
    the directory of every zip and jar on the worker path, 0.14-0.31 s
    per task; the daemon re-reads an archive only when its stat changed.
    On Python >= 3.12 it is the stock daemon. The daemon module is a
    static conf, so sessions the driver builds (``configure(spark)``)
    keep the stock daemon.
    """
    if cpus is None:
        cpus = int(
            os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0)))
        )
    # Python runner subprocesses (UDF workers, Python DataSource stream
    # runners) connect back to the JVM with a 15 s default auth-socket
    # timeout; under a fully loaded 32-core host that can flake
    # (observed on the S9 stream-source runner). Children inherit this
    # env from the driver JVM, so widen it before the JVM launches.
    os.environ.setdefault("SPARK_AUTH_SOCKET_TIMEOUT", "120")
    if shuffle_partitions is None:
        # 4 measured fastest across the headline set at sf0.1 (total
        # 538 ms vs 631 ms at 8): small-group aggs want fewer reducers
        # (per-task scheduling dominates), while window sorts degrade
        # below 4 (w3 154 ms at 1 vs 74 ms at 4) — 4 is the knee.
        shuffle_partitions = 4 if low_latency else max(8, cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # r13: the whole-stage-codegen CLASS cache defaults to 100
        # entries — far below this engine's working set (93 headline
        # queries × 5-20 codegen units each), so every fresh plan
        # recompiled evicted classes (measured: g5b rebuild 2.4 s
        # alone, 3.5 s after 30 other queries ran; with the cache
        # sized to the workload it settles at 1.7 s and stays there).
        # Static conf, so set at build; parameterized for clusters
        # (any multi-query driver session wants it ≥ its query count
        # × codegen units; memory cost is compiled classes, KBs each).
        .config(
            "spark.sql.codegen.cache.maxEntries",
            os.environ.get("SPARK_GRAFT_CODEGEN_CACHE", "4000"),
        )
        # the package's parent directory goes on the workers' path so the
        # daemon, and closures that import the package, load from any
        # working directory
        .config("spark.python.daemon.module", "lightcurator_spark.pydaemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    if low_latency:
        builder = builder.config("spark.sql.adaptive.enabled", "false").config(
            "spark.lightcurator.lowLatency", "true"
        )
    spark = builder.getOrCreate()
    if low_latency:
        spark.conf.set("spark.lightcurator.lowLatency", "true")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
    return configure(spark)
