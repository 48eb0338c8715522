"""SparkSession factory tuned for this engine.

Local-mode posture (tests / bench run on local[N]); the same config keys
are what we would set on a real cluster, with sizes scaled to the data:
AQE handles runtime re-planning (skew joins, partition coalescing), the
session timezone is pinned to UTC for DuckDB-oracle timestamp parity,
and Arrow is enabled for every pandas interchange path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "meshtastic_airsensor_database_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    At 100 TB the only values that change are ``shuffle_partitions``
    (sized so post-shuffle partitions are ~128-200 MB) and memory knobs;
    the qualitative posture (AQE on, broadcast threshold default, UTC
    session tz, Arrow on) is scale-independent.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # testdata events.parquet stores TIMESTAMP(NANOS); read as long
        # (io_utils.load converts to a proper TimestampType column)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Naive parquet timestamps (isAdjustedToUTC=0) infer as plain
        # TIMESTAMP (LTZ @ UTC session tz) instead of TIMESTAMP_NTZ, so
        # time-range predicates stay plain scan columns and reach
        # PushedFilters (row-group/page pruning at scale).
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # The whole-stage-codegen class cache defaults to 100 entries
        # (JVM-wide, sized on first use). A session running the full
        # declared query surface compiles far more generated classes
        # than that, so every repeated query recompiles its stages
        # (~100 ms each) instead of hitting the cache — measured as a
        # uniform ~30-60% inflation across the 31-query bench sweep
        # versus the same queries run solo. One long-lived driver
        # serving many queries is exactly the production shape, so a
        # cache sized to the query surface is the right default.
        .config("spark.sql.codegen.cache.maxEntries", "10000")
        # PySpark's DataFrame-debugging hook (on by default) wraps
        # every DataFrame/Column API call to capture the Python call
        # site and push it to the JVM for richer error messages — 2-3
        # extra py4j round-trips per call, which is pure overhead on
        # the plan-construction-bound builders (measured: 12 worst
        # 0-job builders 2.9-3.5 s -> 2.2 s with it off; errors lose
        # only the Python-line origin decoration). A production driver
        # serving a large query surface wants plans cheap and can
        # re-enable this when debugging a specific failure.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # A fixed set of JIT compiler threads: with the dynamic number,
        # a compiler thread that exits folds its CPU into the process
        # total, so trace.BatchTrace's JIT share goes negative for
        # that trigger. Applies when this call starts the JVM.
        .config("spark.driver.extraJavaOptions", "-XX:-UseDynamicNumberOfCompilerThreads")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
