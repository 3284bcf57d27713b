"""SparkSession factory tuned for the pipeline.

Local-mode defaults are sized for the sandbox (local[32], 128 GiB). On a
real cluster the same conf (AQE, Arrow, UTC) applies; the master/memory
settings come from spark-submit.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "grove_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with pipeline defaults.

    AQE is on so skewed shuffles re-plan at runtime; Arrow is on so every
    pandas UDF crosses the JVM<->Python boundary in columnar batches
    (the engine has no per-row Python anywhere — enforced by
    tests/test_plan_hygiene.py).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = cpus if cpus.isdigit() else "32"
        shuffle_partitions = max(int(n), 4)

    mem = os.environ.get("GROVE_SPARK_DRIVER_MEM", "6g")
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # pin Xms=Xmx: this sandbox faults fresh pages at ~15 MB/s, so a
        # growing heap serializes the job behind the hypervisor; a fixed
        # heap recycles warm pages (GC) and stays fast. On a real cluster
        # this is also the recommended executor setting.
        .config("spark.driver.extraJavaOptions", f"-Xms{mem}")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # modern parquet timestamps: INT96 (Spark's legacy default)
        # carries NO footer min/max statistics, which blinds file-level
        # pruning (sources/file_stats.py) and row-group skipping on
        # every timestamp pointer. Iceberg forbids INT96 outright.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # duplicate map keys keep the LAST value — matches Python dict
        # assignment order in the reference's zip_paths (zip_paths.py:100)
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # python DataSource connectors (sources/api_source.py) push the
        # watermark predicate into the API request / page index
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.driver.memory", mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # wide array columns make row-count-per-byte low; smaller splits
        # keep single-file scans parallel in local mode
        .config("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows, schema):
    """A small driver-side frame (dims, seen-hash state, union-find
    labels) whose plan leaf is a ``LocalRelation``.

    ``spark.createDataFrame(list, schema)`` yields a ``LogicalRDD`` over a
    Python RDD: every action or broadcast of it runs a Spark job that
    feeds pickled rows through Python workers — a JVM<->Python crossing
    paid per use for a few dozen rows. Built from a ``pyarrow.Table``
    the rows travel to the JVM once, at plan-build time, and a
    broadcast of the frame is a ``LocalTableScan``. ``schema`` is a
    ``StructType`` or a DDL string; it is applied exactly (no inference).
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def in_list(expr: str, values):
    """``<expr> IN (<values>)`` over string ``values``, built from ONE SQL
    string. ``Column.isin`` crosses to the JVM once per value (a literal
    and a Seq element each), so an IN list of fleet members or seen
    pointers costs plan-build time that grows with the list; parsed, the
    same ``In`` predicate costs one call. ``expr`` is SQL text (a column
    name, a cast); the values are quoted as SQL string literals. An
    empty list is ``false``."""
    from pyspark.sql import functions as F

    if not values:
        return F.lit(False)
    quoted = ", ".join(
        "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'" for v in values
    )
    return F.expr(f"{expr} IN ({quoted})")
