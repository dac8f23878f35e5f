"""SparkSession builder tuned for the engine.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` (default 32 threads); the
same conf is what we would ship to a 1000-executor cluster — every knob
below is a scale decision, not a test convenience:

- AQE on (runtime coalescing + skew-join splitting) so shuffle partition
  counts self-tune as data grows 1000x.
- ``spark.sql.shuffle.partitions`` is only the AQE *upper bound* seed; at
  cluster scale you raise it to ~2-3x total cores and AQE coalesces down.
- Arrow enabled for the few Pandas-UDF extension paths (similarity /
  multimodal); the core uses none.
- Decimal ops keep full precision (the reference's correctness bar is
  exact-decimal compare, /root/reference/db_test.go:262-267).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(app_name: str = "hhek2sqlite_spark", *, shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) the tuned session.

    ``shuffle_partitions`` defaults to the local core count; on a real
    cluster pass ~2-3x total executor cores and let AQE coalesce.
    """
    cpus = DEFAULT_CPUS
    parts = shuffle_partitions if shuffle_partitions is not None else int(cpus) if cpus.isdigit() else 32
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(parts))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE coalesce/repartition stages that sit on top of a cached
        # plan (pagerank's edge persist(), neardup_clusters' loop caches,
        # the IVF index); without this a .cache() pins the pre-AQE
        # partition count for every consumer
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # runtime bloom-filter join pruning: a selective filter on one
        # join side builds a bloom filter that prunes the other side's
        # scan — at 100 TB this skips whole row groups of the fact table
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # events.parquet stores TIMESTAMP(NANOS) which Spark's reader
        # rejects; read as long and normalize in sources.parquet.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # no \r-progress bars in captured stdout/stderr — bench artifacts
        # embed the process tail and the bars are non-reproducible noise
        .config("spark.ui.showConsoleProgress", "false")
    )
    # layout-matched scan tuning, e.g. the multi-row-group fixture run
    # (scripts/make_multirg.py) lowers maxPartitionBytes/openCostInBytes
    # so a many-small-files layout actually yields one task per file:
    #   SPARK_GRAFT_EXTRA_CONF="spark.sql.files.maxPartitionBytes=1048576,..."
    extra = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    for kv in filter(None, extra.split(",")):
        k, _, v = kv.partition("=")
        builder = builder.config(k.strip(), v.strip())
    return builder.getOrCreate()


def tune_existing(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable subset of our conf to a session we did
    not build (the driver hands us one in ``__spark_entry__.entry``)."""
    try:
        cores = str(spark.sparkContext.defaultParallelism)
    except Exception:  # pragma: no cover
        cores = "32"
    for k, v in (
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
        ("spark.sql.adaptive.skewJoin.enabled", "true"),
        # a vanilla session defaults to 200 shuffle partitions; on the
        # driver's local session that is 200 tiny tasks per shuffle stage.
        # Seed with the core count — AQE still coalesces below it.
        ("spark.sql.shuffle.partitions", cores),
        ("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"),
        ("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)),
        ("spark.sql.optimizer.runtime.bloomFilter.enabled", "true"),
        ("spark.sql.parquet.filterPushdown", "true"),
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - conf may be static in some harnesses
            pass
    return spark
