"""SparkSession factory tuned for the KG-construction workload.

Local-mode knobs mirror what a 1000-executor cluster submit would set via
spark-submit conf: AQE on (runtime shuffle coalescing + skew-join
splitting), Arrow enabled for the sanctioned pandas-UDF stages, shuffle
partitions sized to the parallelism rather than the 200 default.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _parse_datatype_string


def _host_driver_memory() -> str:
    """A quarter of the host's RAM: local mode runs the executors inside
    the driver JVM, and the Python workers need the rest."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f
                  if line.startswith("MemTotal:"))
    return f"{max(1024, kb // 1024 // 4)}m"


def get_spark(
    app_name: str = "cspirit_kg_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS")
               or len(os.sched_getaffinity(0)))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # match parallelism; a real cluster would use ~2-3x total cores,
        # AQE coalesces the excess at runtime anyway
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "*"
        shuffle_partitions = cpus if n == "*" else int(n)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM")
                or _host_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_df(spark: SparkSession, rows, schema: str) -> DataFrame:
    """Constant rows (tuples) -> a DataFrame planned as LocalTableScan.

    ``createDataFrame(list_of_tuples)`` plans a Python-RDD scan (``Scan
    ExistingRDD``): every scan runs a Python task. Built from Arrow, the
    table is a local relation that the driver scans with no Python task.
    Broadcasting it still runs one Spark job per distinct broadcast
    (a noop write of range(1000) joined to one broadcast local_df runs 2
    jobs, 1 without the join, 3 with two different broadcasts)."""
    arrow_schema = to_arrow_schema(_parse_datatype_string(schema))
    cols = list(zip(*rows)) or [()] * len(arrow_schema)
    return spark.createDataFrame(pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema))
