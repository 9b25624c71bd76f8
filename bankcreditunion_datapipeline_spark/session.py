"""One SparkSession factory for the whole engine.

The reference builds an identical SparkSession in four modules
(pipeline1.py:14-34, bronzeLayer/BuildBronzeLayer.py:31-48,
silverLayer/BuildSilverLayer.py:35-52, goldLayer/BuildGoldLayer.py:27-44) and
relies on getOrCreate() dedup. Here there is exactly one factory, with
configs modernized for Spark 4.x and 100 TB posture:

- AQE on (coalesce shuffle partitions, skew-join splitting, dynamic
  broadcast) -- subsumes the reference's hand-set
  spark.sql.shuffle.partitions=10 (pipeline1.py:16).
- Arrow on for the pandas-UDF extension points (dedup/similarity/text ops).
- CORRECTED time parser policy pinned so the multi-format date parsing
  (SURVEY §2.8 F5-F7) has stable null-on-malformed semantics.
- Case-sensitive resolution kept from the reference (pipeline1.py:17) --
  NCUA bronze has mixed-case column names like `Acct_891`.
- Partition discovery on the driver: Spark lists a directory's children
  with a distributed job once there are more than
  spark.sql.sources.parallelPartitionDiscovery.threshold (default 32) of
  them, and the gold fact table has 54 `state=` directories under every
  `year=/quarter=` parent, so each pruned gold read fired one listing job
  per parent. Under `local[n]` that job runs in the driver JVM anyway: it
  adds scheduling round trips and no parallelism, so the threshold is
  raised above the engine's widest partition fan-out. (A cluster reading
  far wider partition levels from an object store can pass a lower value
  through `extra_conf`.) Nothing depends on it for correctness -- a plain
  session (the driver contract's) lists the same files, just with more
  jobs, and the testdata tables are unpartitioned.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "bankcreditunion-datapipeline-spark"
# Child directories one parent may have and still be listed on the driver;
# the engine's widest partition level is the gold fact table's 54 `state=`
# directories under each `year=/quarter=` parent.
DRIVER_LISTING_THRESHOLD = 1024


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8)))


def build_session(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    On a real cluster, pass ``master=None`` with an external cluster manager
    config; locally defaults to ``local[$SPARK_GRAFT_CPUS]``.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.caseSensitive", "true")
        # AQE: runtime re-planning (partition coalescing, skew-join split,
        # sort-merge->broadcast conversion) is the scale story for every
        # shuffle in this engine.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow batches for the pandas-UDF extension points.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Stable null-on-malformed date parsing (SURVEY §7.4).
        .config("spark.sql.legacy.timeParserPolicy", "CORRECTED")
        # Quiet progress bars in test/bench output.
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            str(DRIVER_LISTING_THRESHOLD),
        )
    )
    if master is None:
        master = os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    builder = builder.master(master)
    builder = builder.config(
        "spark.sql.shuffle.partitions", str(shuffle_partitions or cpus)
    )
    builder = builder.config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
