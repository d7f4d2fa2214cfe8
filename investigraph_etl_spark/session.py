"""SparkSession factory tuned for the CDC engine.

Defaults follow the scale design notes in ``SURVEY.md §4``:
Arrow on (all Python crossings are vectorized), AQE on (runtime
re-planning incl. skew-join splitting), UTC session timezone (so the
DuckDB oracle compares timestamps byte-for-byte), shuffle partitions
sized to cores in local mode (overridable for cluster runs).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# knobs the engine relies on; anything not listed inherits Spark defaults
_ENGINE_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # parquet scans: keep splits big enough that sf0.1 doesn't fragment,
    # small enough that a 100 TB table still yields ~1e6 tasks, not 1e8
    "spark.sql.files.maxPartitionBytes": "134217728",
    # measured vs lz4/snappy/uncompressed on the merge write path:
    # within noise on time (≤8%), 24% smaller files — zstd wins at scale
    "spark.sql.parquet.compression.codec": "zstd",
    "spark.ui.enabled": "false",
    # ParallelGC: measured ~1.5× faster than G1 on the merge pipeline
    # (token-array payloads allocate heavily; throughput GC wins)
    "spark.driver.extraJavaOptions": "-Djava.net.preferIPv4Stack=true -XX:+UseParallelGC",
    # output-commit algorithm 2: task-side renames instead of a serial
    # driver-side rename loop at job commit — measured ~0.5s/commit on
    # the 8M bulk merge while its delta write ran 128 tasks (A/B: v1
    # [8.15, 7.81, 7.60] vs v2 [7.50, 7.08, 7.46]); the loop is per
    # task, so with the batch-sized write the saving is smaller but
    # still serial-path.  v2's weaker job-commit atomicity (a failed
    # job can leave partial files in the output dir) is already covered
    # one level up: the lake's manifest commit is what makes data files
    # visible, so un-manifested partials are unreadable and vacuum()
    # removes them.
    "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
    # the lake hands spark.read.parquet the exact data files its manifest
    # names; above this many paths (default 32) Spark lists them in a
    # distributed job with one task per path, which in local[N] runs in
    # the same JVM anyway.  Traced perfbench cdc run (seed 1, 32 buckets,
    # 3 change feeds whose from ∪ range scans name 64/96/128 files): the
    # feeds ran 318 Spark tasks at the default, 288 of them listing, and
    # 30 at 1024.  The listing job also broke the feed's "building
    # launches no job" shape.
    "spark.sql.sources.parallelPartitionDiscovery.threshold": "1024",
}


def default_master() -> str:
    """``local[$SPARK_GRAFT_CPUS]``, or ``local[<cores this process may
    run on>]`` when the variable is unset or empty."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    return f"local[{cpus}]"


def get_spark(
    app_name: str = "investigraph_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to :func:`default_master`.
    ``shuffle_partitions`` defaults to the local core count — on a real
    cluster pass ~2-3× total executor cores instead.
    """
    if master is None:
        master = default_master()
    if shuffle_partitions is None:
        # local[N] → N; local[*] → cpu count
        inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else "*"
        shuffle_partitions = os.cpu_count() or 8 if inner == "*" else int(inner)

    builder = SparkSession.builder.appName(app_name).master(master)
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    builder = builder.config("spark.default.parallelism", str(shuffle_partitions))
    for k, v in _ENGINE_CONF.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
