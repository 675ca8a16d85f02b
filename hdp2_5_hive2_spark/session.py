"""SparkSession factory with scale-oriented defaults.

Replaces the reference's Driver/HiveServer2 session machinery
(ql/Driver.java:1091, service/.../HiveServer2.java:89 in /root/reference)
with a configured SparkSession: Catalyst does parse/analyze/optimize,
AQE does the runtime re-planning Hive did with conditional tasks
(CommonJoinResolver, skew-join processors — SURVEY.md §4.3).

Local-mode notes: `local[N]` is one JVM; on a real cluster the same confs
hold except memory sizing. Everything here is cluster-safe:
  - AQE on (coalesce partitions, skew-join splitting, dynamic join selection)
  - shuffle partitions sized to cores locally; on a 1000-executor cluster
    raise `spark.sql.shuffle.partitions` (or let AQE coalesce from a high
    initial number).
  - broadcast threshold left at default 10 MB; our dimension tables
    (region/nation/supplier/part at any SF) are broadcast candidates and
    Catalyst picks that up from parquet size stats automatically.
  - stats-less relations (RDD-backed, JDBC without sizeInBytes) report
    Long.MaxValue and never auto-broadcast; SURVEY §4's deliberate optimizer
    work covers them: `plans.broadcast_hints.register_table_size` +
    `hinted` inject the ResolvedHint(BROADCAST) a SessionExtensions rule
    would, and `catalog.load_tables` applies it at the registry boundary
    (plan-tested in tests/test_plans.py).
  - local masters start Python workers through `pyworker` (the stock
    pyspark daemon minus a per-task re-read of every zip directory on the
    worker's path); other masters keep the stock daemon, since their
    executors need not have this package installed.
  - compiled-class cache (`spark.sql.codegen.cache.maxEntries`) at 1024
    entries, not Spark's 100. Spark caches each Janino compile by its
    source text; the conf is static and is read once per JVM, when
    `CodeGenerator` first loads, so it holds for every context later
    started in that JVM. One perfbench pass needs ~145 entries (sql_mix)
    or 126 (llm_dedup), ~260 for both in one JVM, and the next pass
    visits them in the same cycle: under LRU a 100-entry cache then
    recompiles most of them every pass. A session built elsewhere (such
    as the bare session `__spark_entry__.py` runs in) keeps Spark's 100.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# Directory holding this package: put on the workers' PYTHONPATH so the JVM
# resolves the daemon module whatever the driver's working directory is.
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_session(
    app_name: str = "hdp2_5_hive2_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Defaults are tuned for correctness-parity with the Hive reference and
    for 100 TB-scale execution habits (AQE, adaptive skew join, Arrow).
    """
    cpus = int(DEFAULT_CPUS)
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        # Local default: small enough that single-file test inputs still split
        # across all cores. On a real cluster raise to 128-256 MB via env.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", str(8 * 1024 * 1024)),
        )
        # Driver testdata stores events.ts as parquet TIMESTAMP(NANOS); Spark
        # has no nanosecond timestamp type, so read as epoch-nanos long and
        # convert in catalog.load_tables.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # No per-call call-site capture: with it on, every Column/functions
        # call costs ~4 extra Py4J round trips (active session, conf read,
        # origin set and clear) while a query is built. Trade-off: errors
        # lose their Python call-site (DataFrameQueryContext) block.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Compiled-class cache sized to the engine's working set (module
        # docstring): at 100 entries a warm sql_mix pass recompiled 137
        # entries, 12.7 ms apiece on average under a C1-only JIT; at 1024,
        # none. An entry holds ~2 classes of ~2.5 KB bytecode each, so a
        # full cache costs a few MB.
        .config("spark.sql.codegen.cache.maxEntries", "1024")
    )
    if master.startswith("local"):
        builder = builder.config(
            "spark.python.daemon.module", "hdp2_5_hive2_spark.pyworker"
        ).config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
