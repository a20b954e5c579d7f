"""SparkSession factory with scale-oriented defaults.

The reference pipeline hand-tuned parallelism with static config
(3 sink tasks, 2 topic partitions — cluster/configuration.json:5,
cluster/README.md:116). Here the equivalents are Spark conf: AQE for
runtime re-planning (partition coalescing, skew-join splitting),
shuffle-partition count sized to the local core count but overridable
for cluster runs, and UTC session time so results are engine-portable
(the DuckDB oracle compares naive/UTC timestamps).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "ingest_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    Defaults are chosen for the local test harness but every knob that
    matters at cluster scale is env-overridable:

    - ``spark.sql.adaptive.enabled`` + skew-join handling: at 100 TB the
      static plan is always wrong somewhere; AQE re-plans shuffles from
      observed sizes (coalesces small post-shuffle partitions, splits
      skewed ones).
    - ``spark.sql.shuffle.partitions``: local default = 2x cores; on a
      1000-executor cluster this should be ~2-3x total cores (set via
      ``SPARK_GRAFT_SHUFFLE_PARTITIONS``). AQE coalesces down, so err high.
    - Arrow enabled: all Pandas-UDF paths (multimodal decode, heavy NLP)
      move data in Arrow batches, never row-at-a-time.
    - ``maxPartitionBytes`` 128m: keeps scan partitions memory-friendly;
      at 100 TB that is ~800k scan tasks, which Spark handles and AQE
      coalesces after the first shuffle.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", max(2 * cpus, 8))
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 128m default (cluster posture: ~800k scan tasks at 100 TB,
        # AQE coalesces post-shuffle). Env-overridable (r16) because
        # below ~one split per table the SCAN stage caps parallelism
        # at 1 task regardless of core count — the c8-vs-c32 scaling
        # evidence runs set this smaller so compute can fan out; the
        # default, and therefore the driver's bench, is unchanged.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "134217728"),
        )
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
