"""SparkSession factory and session-conf hardening.

Two entry points:

- :func:`get_spark` builds our own local session (tests, bench).
- :func:`harden` applies the *runtime-settable* confs this engine
  depends on to an externally-provided session (the driver harness
  passes its own ``SparkSession`` into ``queries()`` callables, so we
  cannot rely on builder-time config).

Scale notes (SURVEY.md §4): AQE is the load-bearing knob for a real
cluster — runtime partition coalescing, skew-join splitting, and
dynamic broadcast selection all come from it. Everything set here is
also valid on a 1000-executor cluster; only ``master`` and memory
sizing are local-mode specific.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

# Confs that are runtime-settable and required for correctness.
_RUNTIME_CONFS = {
    # events.parquet stores TIMESTAMP(NANOS) which Spark's parquet reader
    # rejects by default; legacy mode surfaces it as LongType (nanos since
    # epoch) and sources/catalog.py converts to TIMESTAMP_NTZ explicitly.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # DuckDB (the correctness oracle) is UTC-naive; pin the session zone so
    # any TimestampType <-> NTZ conversion is the identity.
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime re-planning (partition coalescing, skew join splitting).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Skew-join splitting is VETOED by default whenever splitting would
    # add an exchange — which is exactly the common skewed shape (join
    # output feeding a different-key aggregation: OptimizeSkewedJoin
    # sees the agg's future exchange and declines). Measured at sf100
    # on the zipf join (skew_join_stress, 100M rows, SCALE.md r10):
    # without force the hot reducer runs solo at 27-32 s; with force
    # the split fires and the query takes 9.4 s (3.3x). The adversarial
    # shape (groupBy ON the join key, where force could add a real
    # exchange) measured NO regression — detection still requires a
    # partition past threshold AND factor x median, so this only ever
    # acts where a straggler already dominates.
    "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    # Arrow for any pandas_udf / toPandas boundary crossing.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def _ship_package(spark: SparkSession) -> None:
    """Distribute mr_py_spark to executor Python workers via addPyFile.

    Pickled UDF closures reference module-level functions by import
    path, so workers must be able to `import mr_py_spark` — true on a
    real cluster (this is the standard deploy mechanism) and in local
    mode when the harness process runs from a different cwd.
    """
    if getattr(spark, "_mrps_shipped", False):
        return
    import shutil
    import tempfile

    import mr_py_spark

    pkg_dir = os.path.dirname(os.path.abspath(mr_py_spark.__file__))
    root = os.path.dirname(pkg_dir)
    # per-process archive name: a fixed path would race a concurrent run
    # (pytest + bench on one host) while its executors fetch the zip
    archive = shutil.make_archive(
        os.path.join(tempfile.gettempdir(), f"mr_py_spark_pkg_{os.getpid()}"),
        "zip",
        root_dir=root,
        base_dir="mr_py_spark",
    )
    spark.sparkContext.addPyFile(archive)
    spark._mrps_shipped = True


def harden(spark: SparkSession) -> SparkSession:
    """Apply required runtime confs to an existing session (idempotent)."""
    for k, v in _RUNTIME_CONFS.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            # Non-settable in this build; operators degrade gracefully.
            pass
    try:
        # A vanilla harness session keeps the 200-partition default, which
        # over-parallelizes local shuffles (observed: streaming aggs pay
        # 200 tasks for 10k rows). AQE coalesces batch plans but not
        # streaming state partitioning, so pin it to the core count if
        # the user hasn't chosen a value themselves.
        if spark.conf.get("spark.sql.shuffle.partitions") == "200":
            spark.conf.set(
                "spark.sql.shuffle.partitions",
                os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8)),
            )
        # The 128 MB split default leaves medium local files on 1-3 cores.
        # Measured across splits (SCALE.md r4): 32 MB is the sweet spot —
        # beats 16 MB both on a 110 MB lineitem at sf0.1 (parallelism
        # saturates by 32 cores either way, fewer tasks win) and on the
        # 1.8 GB sf10 file (16 MB pays 3.5 task waves; 32-64 MB is 15%
        # faster). Only applied when the user kept the default; cluster
        # deployments with remote storage should keep large splits (set
        # the env).
        if spark.conf.get("spark.sql.files.maxPartitionBytes") == "134217728b":
            spark.conf.set(
                "spark.sql.files.maxPartitionBytes",
                os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "32m"),
            )
        # Raise the broadcast ceiling only for AQE's *runtime* re-plan,
        # where actual (post-filter, post-shuffle-write) sizes are
        # known: q3's segment+date-filtered customer⋈orders measures
        # tens of MB and converting its lineitem SMJ to broadcast cut
        # q3 1.8x / q5 1.3x at sf1. The STATIC threshold stays at the
        # default on purpose — raising it made the planner eagerly
        # broadcast whole fact tables off optimistic file-size stats
        # (measured 2-3x regressions at sf1). Runtime sizes can't lie,
        # so 64 MB there is safe on any cluster.
        if spark.conf.get(
            "spark.sql.adaptive.autoBroadcastJoinThreshold", "-1"
        ) in ("-1", ""):
            spark.conf.set(
                "spark.sql.adaptive.autoBroadcastJoinThreshold",
                os.environ.get("SPARK_GRAFT_AQE_BROADCAST_THRESHOLD", "64m"),
            )
        # Same runtime-sizes argument for sort-merge -> shuffled-hash:
        # when AQE measures a join's build-side PARTITIONS under the
        # threshold it drops both sorts and hashes the small side —
        # per-partition and post-shuffle, so the build map is bounded
        # by the threshold (unlike the blunt preferSortMergeJoin=false,
        # which GC-thrashed on q3's unbounded build at sf100).
        # Interleaved at sf100 (SCALE.md r7): q3 62.0 -> 29.8 s, q5
        # 18.6 -> 16.3 s; small-sf plans unaffected (their dims
        # broadcast before this rule is consulted). Off by default in
        # Spark ("0b"), so only set when the user kept the default —
        # sentinel is EXACTLY "0b": a user-set "0" is an explicit
        # opt-out of SHJ conversion and must survive harden().
        if spark.conf.get(
            "spark.sql.adaptive.shuffledHashJoinLocalMapThreshold", "0b"
        ) in ("0b", ""):
            spark.conf.set(
                "spark.sql.adaptive.shuffledHashJoinLocalMapThreshold",
                os.environ.get("SPARK_GRAFT_AQE_SHJ_THRESHOLD", "128m"),
            )
    except Exception:
        pass
    try:
        _ship_package(spark)
    except Exception:
        # e.g. Spark Connect sessions without a SparkContext; UDF-free
        # operators still work, UDF ones need the package installed.
        pass
    return spark


def _driver_memory() -> str:
    """``$SPARK_GRAFT_DRIVER_MEM``, else half of physical RAM capped at
    16g: in local mode the driver heap also holds every executor, and
    a heap larger than the machine (16g on a 15 GB host without swap)
    fails by the OOM killer instead of by a Java OutOfMemoryError."""
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if mem:
        return mem
    try:
        ram = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    except (AttributeError, OSError, ValueError):  # no sysconf: old default
        return "16g"
    return f"{min(16 * 1024, ram // 2 // 2**20)}m"


#: ``spark.sql.codegen.cache.maxEntries`` of ``get_spark`` sessions
#: (static; Spark's default is 100). The whole registry at sf0.01 in one
#: session generates 3,058-3,097 distinct classes (CodegenMetrics compile
#: count under an oversized cache); a small cold hier build alone
#: generates 114, so at 100 a warm rebuild recompiled 76-91 of them. The
#: headroom covers the cache's split of its bound across segments. At
#: about 53 KB of Metaspace per class, a full cache holds ~210 MB.
_CODEGEN_CACHE_ENTRIES = 4096


def _prepend_worker_path(spark: SparkSession) -> None:
    """Put the package root first on the Python workers' PYTHONPATH,
    keeping any value set through ``spark.executorEnv.PYTHONPATH`` (the
    JVM appends the environment's own PYTHONPATH itself): the daemon
    module must be importable before any task has shipped the package."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = spark.sparkContext.environment
    parts = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if parts[:1] != [root]:
        env["PYTHONPATH"] = os.pathsep.join([root, *parts])


def get_spark(app_name: str = "mr_py_spark", cpus: int | None = None) -> SparkSession:
    """Build a local session sized for this machine.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or all cores. Shuffle
    partitions are pinned to the core count: at local scale the default
    200 over-parallelizes tiny shuffles; on a real cluster you would
    size this to 2-3x total executor cores and let AQE coalesce. The
    driver heap is ``$SPARK_GRAFT_DRIVER_MEM`` or half of physical RAM,
    at most 16g. Python workers fork from the preloaded
    ``mr_py_spark._daemon`` and the codegen class cache holds
    ``_CODEGEN_CACHE_ENTRIES`` classes; a session made elsewhere and
    passed to ``harden`` keeps Spark's defaults for both (performance
    only, never correctness).
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    # Shuffle partitioning: default = core count (right for the sub-GB
    # driver/bench fixtures where 200 over-parallelizes). Above sf~10 a
    # single local machine needs more: per-partition shuffle volume
    # should stay a few hundred MB, so override with
    # SPARK_GRAFT_SHUFFLE_PARTITIONS (SCALE.md sf100 A/B) — the same
    # sizing a cluster deployment does with 2-3x total cores.
    shuffle_parts = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(cpus))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle_parts)
        # Pin PYTHON-WORKER BLAS to one thread (static conf — workers
        # inherit spark.executorEnv.*). This container's OpenBLAS
        # spawns a thread per core per process for a ~1.25× single-
        # matmul gain (measured: 23.2 vs 28.9 ms on the knn block
        # tile), so 32 concurrent Arrow-cogroup workers ran ~1024 BLAS
        # threads — the oversubscription behind sf1 knn_selfjoin's
        # session-to-session wall bands (1.8–17 s on identical code,
        # VERDICT r15 item 5; A/B in SCALE.md r16). Task-level
        # parallelism comes from Spark; intra-task BLAS threads only
        # fight it. The DRIVER process is deliberately left unpinned —
        # the bounded-sample root k-means (vectors._lloyd) runs there
        # and does benefit from threaded BLAS.
        .config(
            "spark.executorEnv.OPENBLAS_NUM_THREADS",
            os.environ.get("SPARK_GRAFT_WORKER_BLAS_THREADS", "1"),
        )
        .config(
            "spark.executorEnv.OMP_NUM_THREADS",
            os.environ.get("SPARK_GRAFT_WORKER_BLAS_THREADS", "1"),
        )
        # Parquet In-predicate pushdown keeps the literal value list
        # only up to this threshold (default 10); above it the filter
        # is rewritten to a [min, max] range, which is useless for a
        # probed-bucket set scattered across the key domain (the ANN
        # serve tiers' bounded `isin` over probed roots — r16: measured
        # decoding the FULL 2M-row assigned table at 39/488-root
        # selectivity because the 400-odd-value INSET degraded to the
        # range form; with the value list kept, row-group skipping on
        # the bucket-key-sorted small-row-group layout tracks the
        # probed fraction). Set here and NOT in harden(): harden is in
        # every registered query's fingerprint closure, so a conf
        # nudge there re-stamps the whole registry into the driver
        # verification window at once (the `_fingerprint` hazard —
        # this exact edit did it in-session before being moved). A
        # vanilla harness session keeps Spark's default; the prune is
        # a performance pushdown, never a correctness dependency.
        .config(
            "spark.sql.parquet.pushdown.inFilterThreshold",
            os.environ.get("SPARK_GRAFT_PARQUET_IN_THRESHOLD", "1024"),
        )
        .config("spark.driver.memory", _driver_memory())
        .config("spark.ui.enabled", "false")
        # Fork Python workers from a daemon that has already imported
        # numpy/pandas/pyarrow/pyspark and this package (see
        # mr_py_spark/_daemon.py); its PYTHONPATH entry is added below.
        .config("spark.python.daemon.module", "mr_py_spark._daemon")
        .config("spark.sql.codegen.cache.maxEntries", str(_CODEGEN_CACHE_ENTRIES))
        # static conf: must be set at session build; bucketed-table tests
        # and any saveAsTable land here instead of cwd/spark-warehouse.
        # Per-process dir: a leftover location from a dead run would make
        # saveAsTable fail with LOCATION_ALREADY_EXISTS.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE")
            or tempfile.mkdtemp(prefix="mrps_warehouse_"),
        )
    )
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _prepend_worker_path(spark)
    return harden(spark)
