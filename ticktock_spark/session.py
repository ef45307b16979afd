"""SparkSession factory with scale-minded defaults.

Defaults chosen for the local[32] test harness but expressed so the same
config is correct on a 1000-executor cluster: AQE on (runtime re-plan,
skew-join handling, partition coalescing), modest advisory partition sizes,
Arrow enabled for the (rare) Pandas-UDF paths.

``local_dataframe`` is the one way rows built on the driver enter Spark.
"""

from __future__ import annotations

import os
from collections.abc import Iterable
from typing import Any

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, _create_converter, _make_type_verifier


def get_spark(
    app_name: str = "ticktock-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # driver-generated testdata parquet has used TIMESTAMP(NANOS)
        # (vectorized reader rejects it → read as long ns, normalized in
        # schema.load_table) and TIMESTAMP(MICROS, isAdjustedToUTC=false)
        # (would infer as TIMESTAMP_NTZ → read as TIMESTAMP_LTZ instead so
        # unix_millis & friends apply; session tz UTC keeps the epoch value
        # identical to DuckDB's naive read)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # a query SERVER cycles through many distinct plans; the default
        # 100-entry generated-class cache thrashes once the working set
        # exceeds it, and every arrival then pays WholeStageCodegen
        # recompilation (measured: a 19-query round-robin doubled the
        # decimal-rollup queries, 0.37 s warm → 0.73 s evicted; static
        # conf, so it must be set at session build)
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_dataframe(
    spark: SparkSession, rows: Iterable[Any], schema: StructType | str
) -> DataFrame:
    """A DataFrame over driver-side rows, as an Arrow ``LocalRelation``.

    ``spark.createDataFrame(list, schema)`` parallelizes the list into a
    Python RDD, so every plan that reads it starts Python workers. An
    Arrow table enters as a ``LocalTableScan`` that the JVM runs alone
    (on 4 cores a 400-row write buffer's ``count()`` took 0.35-0.5 s
    that way and 0.12-0.15 s this way). ``schema`` is a ``StructType`` or a DDL string; rows are
    Rows, tuples or lists (matched by position) or dicts (by name) —
    what ``createDataFrame`` accepts.

    Each row passes Spark's own row verifier and converter first, the
    ones ``createDataFrame`` applies, so ``None`` in a non-nullable
    field or a value of the wrong type or range still raises. Columns
    are built straight into Arrow (no pandas), so NaN stays distinct
    from NULL.
    """
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    verify = _make_type_verifier(schema)
    convert = _create_converter(schema)
    tuples = []
    for row in rows:
        verify(row)
        tuples.append(convert(row))
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*tuples)) if tuples else [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)
