"""SparkSession factory.

Configured for the local[N] test harness but with settings chosen for
cluster scale: AQE on (runtime re-planning, skew-join splitting, partition
coalescing), shuffle partitions sized to cores locally (on a real cluster
you'd size to ~2-3x total cores or let AQE coalesce from a high initial
count), Arrow enabled for any pandas interchange.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "dbqt_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Honors ``SPARK_GRAFT_CPUS`` for local parallelism (harness contract).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("DBQT_SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # Parquet: keep predicate pushdown + vectorized reader explicit
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.enableVectorizedReader", "true")
        # Parquet timestamps without isAdjustedToUTC read as TIMESTAMP
        # (session tz, UTC above), not TIMESTAMP_NTZ: the engine's time
        # ops (unix_micros, watermarks, windows) take TIMESTAMP, and with
        # a UTC session the two types have identical values anyway.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # FAIR round-robins cores across concurrently submitted jobs, so
        # short queries aren't starved behind a long pipeline when callers
        # (bench.py, multi-tool CLIs, notebook users) share the session
        .config("spark.scheduler.mode", "FAIR")
        # The engine's hybrid operators gate on bounded limit-probes
        # (`limit(N + 1).collect()`: the bucket cap `dedup._cap_buckets`,
        # `dedup._cap_then_localize`, connected_components, the neardup
        # gate's greedy). executeTake's default ramp
        # (initialNumPartitions=1, x4 per step) turns each probe into
        # 3-4 SEQUENTIAL jobs whenever the result is under the limit —
        # which for these probes is the expected case, so the ramp
        # never saves work and always costs job round-trips (r16,
        # measured: the bucket-cap probe 4 jobs -> 1). Sized to the
        # shuffle-partition count (scale-adaptive, not a local
        # constant): probe stages are post-AQE aggregates with at most
        # that many partitions, so the first pass covers them all.
        .config("spark.sql.limit.initialNumPartitions", str(shuffle_partitions))
        # Dynamic-partition store writes (LSH/IVF bucket dirs, published
        # streaming batches) pay FileOutputCommitter v1's second rename
        # pass per partition directory — measured 2.3 -> 1.3 s on a
        # 256-dir write (r16). v2 commits task output directly; a
        # crashed job can leave partial files, which the engine's store
        # protocol already treats as orphans (generation-unique dirs,
        # manifest written LAST as the only commit point), so v1's
        # atomicity buys nothing here at any scale.
        .config(
            "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version",
            "2",
        )
    )
    # Pool definitions (default + a higher-weight `heavy` pool for
    # long sequential-chain queries); threads opt in via
    # sc.setLocalProperty("spark.scheduler.pool", "heavy"). Guarded on
    # existence: a missing file would fail SparkContext creation, and
    # FAIR without pools is a graceful fallback.
    alloc = os.path.join(os.path.dirname(__file__), "fairscheduler.xml")
    if os.path.exists(alloc):
        builder = builder.config("spark.scheduler.allocation.file", alloc)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
