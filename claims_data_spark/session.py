"""SparkSession factory with scale-oriented defaults.

The reference hand-tunes its MPP layout (HASH-distributed heap
staging tables, clustered indexes, TABLOCK bulk loads — see
SURVEY.md §4). On Spark the equivalents are AQE, broadcast
thresholds, and shuffle-partition sizing, which we centralize here
so every entry point (tests, bench, driver) gets the same plan
behavior.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "claims_data_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    Defaults target the test harness (local[N]) but every setting is
    the one you would also ship to a 1000-executor cluster:

    - AQE on (runtime shuffle coalescing, skew-join splitting) so a
      plan sized for 100 TB does not need hand-tuned partition counts;
      cached plans are coalesced too.
    - Broadcast threshold raised to 64 MB: every reference lookup
      (claim-type crosswalk, ICD master ~90k rows, value sets) is a
      dimension table that must never shuffle the fact side.
    - Arrow enabled for the few Pandas-UDF paths (similarity,
      multimodal) so Python crossings are batched, not per-row.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if str(cpus).isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE coalesce the shuffles inside a cached plan as it does
        # everywhere else (Spark 4.1 defaults this to false, so a cached
        # stage keeps all shuffle.partitions partitions). The pipelines
        # cache their stages, and without it the mcaid refresh wrote
        # each promoted table as 4 files on 4 cores: 34 files instead of
        # 10 and +46% bytes (774,531 -> 1,128,482). A reader that needs
        # the cached partitioning gets a shuffle added instead.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        # report the sortBy order of bucketed tables to the planner
        # (off by default since SPARK-28632): with write_bucketed's
        # one-file-per-bucket layout this erases BOTH SortMergeJoin
        # sorts on every co-bucketed join (measured at sf10 CCW:
        # 1.99 -> 1.57 s interleaved A/B). Safe under multi-file
        # buckets — Spark verifies <=1 file per bucket before
        # trusting the order, else it keeps the sorts.
        .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def spread(df, min_partitions: int | None = None):
    """Ensure a DataFrame has enough partitions for a CPU-heavy map
    stage.

    Small single-row-group parquet files scan as ONE task, which
    serializes expression-heavy stages (shingling, simhash bit math,
    cosine scoring) no matter how many cores exist. At 100 TB inputs
    arrive as thousands of splits and this is a no-op; on small or
    badly-laid-out inputs it round-robins rows across the default
    parallelism so the map stage actually uses the cluster. Only
    repartitions when the input has FEWER effective partitions than
    requested — never shrinks, never shuffles an already-parallel
    scan.

    EFFECTIVE partitions, not reported partitions (round 9): Spark
    targets ``defaultParallelism`` byte-range splits per scan
    (``spark.sql.files.minPartitionNum``), so a 55 MB single-row-
    group file reports 40+ partitions while only the ONE split
    containing the row-group start carries rows — the partition-count
    heuristic no-ops and the whole map stage runs on one core per
    scan branch (measured: the sf10 winnow fingerprint pass ran 3 of
    42 tasks, 39 cores idle). Parquet's parallelizable unit is the
    ROW GROUP, and footers are driver-readable metadata — so when the
    frame reads FEW files (a probe bounded at 16; real warehouse
    inputs have thousands of files and skip it), count their row
    groups and round-robin when the true unit count is below target.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    local = [
        f for f in files
        if f.endswith(".parquet")
        and (f.startswith("file:") or f.startswith("/"))
    ]
    if files and len(files) <= 16 and len(local) == len(files):
        try:
            import pyarrow.parquet as pq

            row_groups = sum(
                pq.ParquetFile(
                    f[len("file:"):] if f.startswith("file:") else f
                ).metadata.num_row_groups
                for f in local
            )
            if row_groups < target:
                return df.repartition(target)
        except Exception:
            pass
    return df
