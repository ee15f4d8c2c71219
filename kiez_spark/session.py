"""SparkSession factory tuned for the record-linkage workload.

Scale notes (100 TB / 1000-executor target):
- AQE on: runtime coalescing of the many small post-shuffle partitions at
  test scale, and skew-join splitting for hot blocking keys at full scale.
- Arrow on: every pandas-UDF kernel (distance batches, LSH signatures)
  transfers columnar batches, never rows.
- shuffle.partitions is a knob, not a constant: callers sizing a real
  cluster should set it to ~2-3x total cores; AQE coalesces the rest.
- JVM locale pinned to en_US on driver and executors: the default-on
  text kernels lowercase with Python ``str.lower()``, which matches
  Spark's ``lower()`` only under a locale without special case rules
  (a Turkish or Azeri default maps ``I`` differently). The pin rides
  ``defaultJavaOptions``, so callers that set ``extraJavaOptions``
  (heap, tmpdir, GC flags) keep it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_LOCALE_OPTS = "-Duser.language=en -Duser.country=US"


def get_spark(
    app_name: str = "kiez-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build a local SparkSession. ``cores=None`` uses all cores."""
    master = f"local[{cores}]" if cores else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.defaultJavaOptions", _LOCALE_OPTS)
        .config("spark.executor.defaultJavaOptions", _LOCALE_OPTS)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
