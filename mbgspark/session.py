"""SparkSession factory.

Centralizes the engine's execution configuration so every entry point (tests,
bench, driver contract) runs with the same semantics:

- UTC session timezone (the reference mixes naive utcnow and ISO-aware
  datetimes; we normalize — SURVEY.md §7 risk register).
- AQE on: runtime coalescing, skew-join handling — the 100 TB path relies on
  it to re-plan shuffles from actual stats.
- Arrow on: every pandas UDF / mapInPandas stage ships columnar batches
  (replaces the reference's hand-rolled batch-of-50, utils.py:157).
- Shuffle partitions sized from the env (local[32] testbed → 32; a real
  cluster overrides via SPARK_GRAFT_SHUFFLE or spark-defaults).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "mbgspark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession with engine defaults and
    the pinned semantics of ``ensure_session_conf``, so every session the
    engine builds runs the same way whatever ran on it before."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    shuffle = shuffle_partitions or int(os.environ.get("SPARK_GRAFT_SHUFFLE", cpus))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Small dims (nation/region/locations ≤ 456 rows) must broadcast;
        # default 10 MB threshold covers them, stated here for visibility.
        .config("spark.sql.autoBroadcastJoinThreshold", "10m")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # The catalog compiles 130+ whole-stage-codegen plans into one JVM
        # (bench runs ~25 in sequence); the JIT's default ~240 MB reserved
        # code cache can fill, silently deoptimizing the hottest operators
        # mid-benchmark. Local-mode driver == executor, so one flag covers
        # both. Harmless headroom when unused.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_GRAFT_DRIVER_JAVA_OPTS", "-XX:ReservedCodeCacheSize=512m"
            ),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ensure_session_conf(spark)
    return spark


def ensure_session_conf(spark: SparkSession) -> None:
    """Pin the semantics the engine (and its DuckDB oracle parity) depends
    on, regardless of how the calling session was built — the driver runs
    queries with ITS OWN default session, so every engine entry point calls
    this rather than assuming get_spark() was used:

    - UTC timestamp<->date conversions;
    - non-ANSI (null-on-error) casts, matching DuckDB TRY_CAST;
    - TIMESTAMP(NANOS) parquet read (events.ts) via nanosAsLong, rebuilt to
      a µs timestamp in io.load_table;
    - parquet TIMESTAMP(isAdjustedToUTC=false) columns read as session-tz
      TIMESTAMP, not TIMESTAMP_NTZ (testdata round 3 switched events.ts /
      o_orderdate / l_shipdate to naive micros; NTZ breaks tz-typed
      functions like unix_micros and needlessly forks the type surface —
      with the session pinned UTC the instant values are identical)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    for k, v in (
        ("spark.sql.ansi.enabled", "false"),
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.parquet.inferTimestampNTZ.enabled", "false"),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-modifiable in exotic deployments


# Cluster sizing profiles: the conf deltas this engine needs at each scale
# tier, with the reasoning inline. Applied via get_spark(extra_conf=
# cluster_profile(...)) or merged into spark-defaults by the deployer.
def cluster_profile(
    executors: int = 1000,
    cores_per_executor: int = 4,
    target_partition_mb: int = 256,
    est_shuffle_tb: float | None = None,
) -> dict[str, str]:
    """Config recipe for running this engine on a real cluster — the
    concrete answer to "would this run at 1000 executors against 100 TB".

    - ``shuffle.partitions``: sized from data, not cores. With AQE ON,
      this is the UPPER bound before coalescing: set it so the LARGEST
      shuffle's partitions land near ``target_partition_mb`` (fits
      executor memory with headroom; 100-400 MB is the practical band).
      est_shuffle_tb=None falls back to 2x total cores — the floor that
      keeps every core busy; AQE coalesces small stages either way.
    - ``files.maxPartitionBytes``: scan-side split size; 256 MB halves
      task-scheduling overhead vs the 128 MB default on 100 TB scans
      (smaller only helps when per-row work is heavy, e.g. shingling).
    - ``adaptive.advisoryPartitionSizeInBytes``: what AQE coalesces
      TOWARD — aligned with the target so post-shuffle stages match the
      scan-side sizing.
    - skew-join thresholds stay at defaults: the engine's own skew
      levers (salting in operators/skew.py, the LSH bucket cap) handle
      semantic skew; AQE handles physical stragglers.
    """
    total_cores = executors * cores_per_executor
    if est_shuffle_tb is not None:
        parts = max(
            total_cores * 2,
            int(est_shuffle_tb * 1024 * 1024 / target_partition_mb),
        )
    else:
        parts = total_cores * 2
    return {
        "spark.sql.shuffle.partitions": str(parts),
        "spark.sql.files.maxPartitionBytes": str(target_partition_mb * 1024 * 1024),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(
            target_partition_mb * 1024 * 1024
        ),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
    }


def local_result_df(spark: SparkSession, rows: list, schema: str):
    """Single-slice local DataFrame for DRIVER-COMPUTED results (the
    union-find labels, the driver ngram-Jaccard pairs): plain
    ``createDataFrame(list)`` parallelizes to defaultParallelism slices,
    so every downstream stage — especially a presentational ``orderBy``,
    whose range sampler runs one job per slice wave — schedules 32 tasks
    to move a few dozen rows (measured at sf1: 0.77 s for a 30-row
    orderBy+collect, 0.2 s single-slice). One slice is semantically
    identical and right-sized by construction: these results are bounded
    by the same caps that legalized computing them on the driver."""
    if not rows:
        return spark.createDataFrame([], schema)
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema
    )
