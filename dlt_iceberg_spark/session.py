"""SparkSession factory tuned for the lakehouse engine.

The reference configures PyIceberg catalogs from URI schemes
(destination_client.py:679-734).  Here the session itself is the engine: we
enable AQE (runtime re-planning, skew-join handling), Arrow transfers for the
Pandas-UDF operators, and UTC session time so timestamps round-trip parquet
identically to the DuckDB oracle.

Scale notes (targeting a 1000-executor cluster, tested on local[*]):
- ``spark.sql.adaptive.enabled`` + coalescePartitions: shuffle partition
  count self-tunes at runtime, so the static ``shuffle.partitions`` value is
  an upper bound, not a cliff.
- ``autoBroadcastJoinThreshold`` left at default (10 MB) — dimension tables
  (region/nation/customer/supplier/part at any SF where they fit) broadcast
  automatically; we additionally hint ``broadcast()`` in query code where we
  *know* the side is small regardless of stats.
- ``maxPartitionBytes`` 128 MB keeps scan tasks sized for executor memory at
  100 TB (≈800k tasks over 100 TB — fine for a 1000-executor cluster).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

#: Cluster-tier knobs (VERDICT r11 task 6), env-parameterized with
#: local-default values so the driver's bench stays comparable.  Neither
#: can be honestly tuned on local[32]/sf0.1 — gate-scale shuffles are
#: MB-sized and AQE-coalesced to a handful of tasks, so any local timing
#: delta is noise — but both have first-principles cluster arguments
#: (SCALE.md "Config tier"):
#:  - SPARK_GRAFT_SHUFFLE_CODEC: `zstd` trades ~10-20% more map-side CPU
#:    for a markedly better shuffle compression ratio (guide §2.3); at
#:    100 TB the shuffle is network/disk-bound, so fewer bytes wins.
#:    Default keeps Spark's `lz4` — at MB-scale local shuffles the codec
#:    never touches the critical path.
#:  - SPARK_GRAFT_ADVISORY_PARTITION_BYTES: AQE's coalesce target.  Spark's
#:    default 64m is sized for small clusters; guide §2.2 recommends
#:    100 MB-1 GB post-shuffle partitions at scale so the M×R block count
#:    (and per-block overhead) stays bounded.  Default keeps 64m locally.
DEFAULT_SHUFFLE_CODEC = os.environ.get("SPARK_GRAFT_SHUFFLE_CODEC", "lz4")
DEFAULT_ADVISORY_PARTITION_BYTES = os.environ.get(
    "SPARK_GRAFT_ADVISORY_PARTITION_BYTES", "64m"
)


def configure_session(builder: SparkSession.Builder, shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS) -> SparkSession.Builder:
    """Apply engine configuration to any SparkSession builder."""
    return (
        builder
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.io.compression.codec", DEFAULT_SHUFFLE_CODEC)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            DEFAULT_ADVISORY_PARTITION_BYTES,
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        # INT96 (Spark's legacy default) writes NO column statistics, which
        # would silence timestamp range pruning; micros is also what every
        # other engine (and Iceberg) writes
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Spark's default of 100 generated classes is less than one
        # mixed read/write/query round compiles, so the LRU evicted every
        # class before its query ran again and each round recompiled them
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
    )


def get_spark(app_name: str = "dlt_iceberg_spark", master: str | None = None) -> SparkSession:
    """Create (or fetch) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (all cores if the env
    var is unset) — on a real cluster the master comes from spark-submit and
    this argument is ignored by leaving it None.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master is None and not os.environ.get("SPARK_MASTER"):
        master = "local[*]"
    if master:
        builder = builder.master(master)
    return configure_session(builder).getOrCreate()
