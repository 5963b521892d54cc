"""SparkSession factory tuned for the engine.

Local testing runs on ``local[N]``; the configuration is chosen so the same
logical plans scale to a multi-executor cluster: AQE handles runtime shuffle
coalescing and skew joins, broadcast threshold keeps dimension joins
shuffle-free, and Arrow makes the pandas-UDF surface viable.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def get_spark(
    app_name: str = "overseer-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime re-planning — shuffle coalescing, skew-join splitting,
        # dynamic broadcast conversion. Essential at 100 TB, harmless locally.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Dimension tables (region/nation/...) broadcast instead of shuffling.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Arrow for pandas_udf / applyInPandas / toPandas.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Deterministic timestamp semantics vs the DuckDB oracle.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


def configure_for_oracle(spark: SparkSession) -> SparkSession:
    """Runtime confs required for driver-provided sessions.

    The correctness driver may hand us a session we didn't build; these are
    all runtime-settable and required for value-hash parity with DuckDB
    (naive UTC timestamps) and for the pandas-UDF queries (Arrow).
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    # events.parquet carries TIMESTAMP(NANOS), which Spark has no native
    # type for; read as int64 ns and convert at the source (tables.py).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark


def local_frame(spark: SparkSession, rows, schema: T.StructType | str) -> DataFrame:
    """``rows`` (tuples or Rows in ``schema``'s column order, or dicts
    keyed by column name) as a JVM ``LocalRelation``.

    ``spark.createDataFrame(python_rows)`` parallelizes pickled Python
    data, so every later action on the frame starts Python workers. A
    ``pyarrow.Table`` is shipped to the JVM once, as Arrow batches, and
    the frame then needs no Python process at all; Catalyst can also
    fold it like any other local relation. ``schema`` is a ``StructType``
    or a DDL string. Timestamps go through the schema's own
    ``toInternal``, so naive datetimes mean what they mean to
    ``createDataFrame``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    rows = [
        tuple(r.get(n) for n in schema.names) if isinstance(r, dict) else r
        for r in rows
    ]
    columns = list(zip(*rows)) if rows else [()] * len(schema.fields)
    arrays = []
    for values, field, afield in zip(columns, schema.fields, arrow_schema):
        if isinstance(field.dataType, (T.TimestampType, T.TimestampNTZType)):
            values = [field.dataType.toInternal(v) for v in values]
        arrays.append(pa.array(values, type=afield.type))
    table = pa.Table.from_arrays(arrays, schema=arrow_schema)
    return spark.createDataFrame(table, schema=schema)
