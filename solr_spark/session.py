"""SparkSession factory with engine defaults.

Local-mode settings mirror what we'd set on a real cluster: AQE on (runtime
re-planning + skew-join handling), shuffle partitions sized to parallelism
(not the 200 default), Arrow enabled for pandas-UDF exchange, UTC session
timezone so results compare bit-for-bit against the DuckDB oracle. On
``local*`` masters Python workers start through ``solr_spark.worker_daemon``,
which imports PySpark from its package directory instead of ``pyspark.zip``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "solr_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    ``shuffle_partitions`` defaults to the local parallelism so that local
    runs don't over-partition; on a real cluster this would be sized to
    2-3x total executor cores.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] / local[*] → N-ish; fall back to cpus
        inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        shuffle_partitions = cpus if inner in ("", "*") else int(inner)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if master == "local" or master.startswith("local["):
        builder = builder.config("spark.python.daemon.module", "solr_spark.worker_daemon")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows, schema: str) -> DataFrame:
    """DataFrame over driver-side ``rows`` (tuples or Rows, in ``schema``
    column order) as a JVM ``LocalRelation``: the rows travel once as an
    Arrow table, so collecting the frame runs no Spark job and starts no
    Python worker. ``spark.createDataFrame(list)`` instead builds a Python
    RDD whose every collect is a job on a Python worker. For small,
    driver-made frames only (result windows, offset tables, broadcast
    maps): the table is held in the driver and shipped inside the plan.
    """
    import pyarrow as pa
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_type

    struct = T.StructType.fromDDL(schema)
    cols = list(zip(*rows)) if rows else [()] * len(struct.fields)
    table = pa.table(
        {
            f.name: pa.array(list(c), type=to_arrow_type(f.dataType))
            for f, c in zip(struct.fields, cols)
        }
    )
    return spark.createDataFrame(table, struct)
