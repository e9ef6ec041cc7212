"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]`` but every knob here is chosen for the
1000-executor / 100 TB design point and merely *also* behaves well
locally:

- AQE on (runtime coalesce, skew-join splitting) — at 100 TB the static
  shuffle-partition count is always wrong for some stage; AQE re-plans.
- Arrow on — every pandas UDF crossing is vectorized.
- UTC session timezone — replica semantics must not depend on the
  driver's locale (the reference normalizes timestamps to naive UTC,
  pgoutput.rs:220-234).
- shuffle partitions default to the local core count; on a real cluster
  AQE's coalescing makes the initial number mostly irrelevant as long as
  it is high enough.
- Python workers import pyspark from site-packages: the session runs
  them under ``clockpipe_worker_daemon`` (repo root), which drops
  Spark's pyspark/py4j/spark-core archives from the worker's
  ``sys.path`` when site-packages holds the same pyspark, so PySpark's
  per-task ``importlib.invalidate_caches()`` re-reads no archive
  (about 0.2 s per Python task on CPython 3.11). The module is
  top-level on purpose: inside ``clockpipe_spark`` its package
  ``__init__`` would import this module, and with it pyspark from the
  zip, before the path is cleaned. An unimportable daemon module fails
  every Python task, so the session puts the repo root on the workers'
  ``PYTHONPATH`` and sets neither conf when the module file is missing.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

WORKER_DAEMON = "clockpipe_worker_daemon"
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "clockpipe_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # bucketed-state reads pass hundreds of explicit bucket-dir paths;
        # the default threshold (32) launches a distributed listing JOB per
        # read, ~1.1 s of fixed cost per merge on local[32] where serial
        # driver-side listing is microseconds/dir. On real object storage
        # with 10k+ dirs per read, lower this again.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "2048")
        .config("spark.ui.enabled", "false")
        # InferFiltersFromGenerate synthesizes `size(arr) > 0` under
        # every non-outer explode and PushDownPredicates then inlines
        # the generator's whole expression tree below the staging
        # projections — for our staged HOF arrays (token hashes, gram
        # folds, shingles) that re-evaluates the pipeline once per
        # element_at reference (measured: contamination_bloom 522 s ->
        # 1.9 s at sf0.1 with the rule off) and for pandas-UDF-built
        # arrays (IVF cell assignment) it DOUBLE-INVOKES the UDF. The
        # rule's upside (skip empty arrays before Generate) is noise
        # for corpus-shaped data where arrays are rarely empty.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # events.parquet stores TIMESTAMP(NANOS) which Spark has no native
        # type for; read as long and convert (catalog.load_table) with the
        # same micros truncation DuckDB applies.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if os.path.isfile(os.path.join(_ROOT, f"{WORKER_DAEMON}.py")):
        builder = builder.config("spark.python.daemon.module", WORKER_DAEMON).config(
            "spark.executorEnv.PYTHONPATH", _ROOT
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
