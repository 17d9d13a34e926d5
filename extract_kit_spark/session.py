"""SparkSession construction tuned for the extraction workload.

Key deviations from defaults, each load-bearing at 100 TB scale:

- ``spark.sql.execution.arrow.maxRecordsPerBatch`` — default 10k rows is
  wrong for MB-sized html payloads (SURVEY.md §4.1, the analogue of the
  reference's 20-page / 4-image micro-batch caps): 128 rows ≈ tens of MB
  per Arrow batch keeps Python-worker memory bounded.
- AQE on (+ skew-join): the north_star explicitly calls for
  "AQE + explicit partition sizing".
- ``local[N]`` master from env so bench can run the SAME code at two
  parallelism levels (the N vs 4N executor scaling evidence).

Python worker reuse (``spark.python.worker.reuse``) is left at Spark's
default, on: the package skips the per-task zip re-read of PySpark's
worker setup (``extract_kit_spark._stat_checked_zip_rereads``, ~0.3 s
per task) only in a worker that runs more than one task.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

ARROW_BATCH_ROWS = 128


def get_spark(master: str | None = None,
              app_name: str = "extract-kit-spark",
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") \
        or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus else 32
    builder = (
        SparkSession.builder.master(master).appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                str(ARROW_BATCH_ROWS))
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # byte-identical outputs must not depend on cluster-node TZ
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
