"""SparkSession builder with the engine's standard local-mode settings."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def get_spark(app: str = "gsearch_spark", cores: int | None = None,
              shuffle_partitions: int | None = None,
              master: str | None = None,
              extra_conf: "dict[str, str] | None" = None) -> SparkSession:
    """``master`` overrides the default ``local[cores]`` — used by the
    scaling bench's multi-JVM arm (``local-cluster[n,cores,mem]``), which
    runs real separate executor JVMs communicating over the block
    transfer service, the closest single-host model of a multi-executor
    cluster.  ``extra_conf`` lets that arm ship the package to executor
    python workers (the spark-submit --py-files analog) — local mode
    inherits the driver's sys.path, separate executor JVMs do not."""
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle = shuffle_partitions or cores
    builder = SparkSession.builder
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    # under tools/submit.sh (real spark-submit), the master / deploy
    # mode / executor sizing come from the submit command line — setting
    # .master here would override them, so the launcher exports
    # SPARK_GRAFT_MASTER=from-submit to leave them alone
    m = master or os.environ.get("SPARK_GRAFT_MASTER") \
        or f"local[{cores}]"
    if m != "from-submit":
        builder = builder.master(m)
    spark = (
        builder
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # keep Arrow batches modest: rows carry multi-KB image payloads,
        # and 2048-row batches of 100 KB rows are ~200 MB per transfer;
        # smaller batches also keep per-batch numpy working sets closer to
        # cache-resident (this host's DRAM bandwidth saturates at ~8 busy
        # cores — measured 3.7x per-core slowdown at 32 for streaming ops)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                os.environ.get("SPARK_GRAFT_ARROW_BATCH", "512"))
        # split size governs scan parallelism: at 128 MB a few-GB input
        # yields fewer splits than cores; size so every core gets >=2 waves
        .config("spark.sql.files.maxPartitionBytes",
                os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES",
                               str(128 * 1024 * 1024)))
        # tmpfs-backed shuffle dirs (scaling bench) don't benefit from
        # compression: it spends scaling-neutral CPU to save RAM-speed IO
        .config("spark.shuffle.compress",
                os.environ.get("SPARK_GRAFT_SHUFFLE_COMPRESS", "true"))
        .config("spark.shuffle.spill.compress",
                os.environ.get("SPARK_GRAFT_SHUFFLE_COMPRESS", "true"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    # parallelism FLOOR on scans (guide §6: files.minPartitionNum).
    # Mid-size tables (a 45 MB bands checkpoint, a 130 MB signatures
    # checkpoint) otherwise pack into 1-4 splits and run whole stages on
    # a handful of cores.  The floor is the started context's
    # parallelism, not the requested core count: under from-submit the
    # cluster's executors decide it (``local[n]`` gives n either way)
    spark.conf.set("spark.sql.files.minPartitionNum",
                   os.environ.get("SPARK_GRAFT_MIN_PARTITION_NUM")
                   or str(spark.sparkContext.defaultParallelism))
    return spark


def local_frame(spark: SparkSession, rows,
                schema: "str | StructType") -> DataFrame:
    """Driver-side ``rows`` (tuples or Rows in schema order) as a JVM
    local relation — the one way the engine turns Python rows into a
    DataFrame.  ``spark.createDataFrame(<list>)`` plans as a scan over a
    pickled PythonRDD, so every plan reading it starts Python worker
    tasks; here the rows cross to the JVM once as an Arrow table and
    plan as a ``LocalTableScan`` with exact size statistics.  ``schema``
    is a DDL string or a StructType; names, types and nullability are
    kept as given."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)],
        schema=arrow)
    return spark.createDataFrame(table, schema=schema)
