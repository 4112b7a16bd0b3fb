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
- ``spark.python.daemon.module`` — Python workers fork from
  ``extract_kit_spark.daemon``, which stops the per-task
  ``importlib.invalidate_caches()`` from re-reading pyspark.zip's
  directory on Python < 3.13 (about 0.2 s of every Python task, most of
  a small task's cost). The package root goes on the workers'
  PYTHONPATH so the daemon imports from any working directory.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

ARROW_BATCH_ROWS = 128
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


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
        .config("spark.python.daemon.module", "extract_kit_spark.daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
