"""SparkSession factory with the configs this engine assumes.

Local-mode testing stands in for a multi-executor cluster; every knob here is
cluster-meaningful (AQE, shuffle partitions, Arrow) rather than local-only.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    master: str | None = None,
    app_name: str = "blacklab_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    if shuffle_partitions is None:
        # match parallelism, not the 200 default (wrong at both tiny and huge scale)
        n = master.split("[")[-1].rstrip("]") if "[" in master else "32"
        shuffle_partitions = 32 if n == "*" else max(8, int(n))
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # size scan splits to the session's cores, not the 128MB default: a
        # few-GB local corpus otherwise yields ~12 input splits and the
        # tokenize stage can't occupy 32 cores (measured 2.8x instead of
        # ~3.9x thread-scaling). On a real cluster the input is TBs and the
        # default split count dwarfs the slot count, so this knob is
        # local-small-corpus sizing, not a cluster assumption.
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.files.openCostInBytes", "1m")
        # Python workers import blacklab_spark from where this module was
        # loaded (a checkout or the --py-files zip), whatever the working
        # directory; Spark puts this ahead of the workers' inherited PYTHONPATH
        .config(
            "spark.executorEnv.PYTHONPATH",
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
