"""session.local_dataframe: driver-side rows enter Spark as an Arrow
LocalRelation. Pinned here: the rows read back exactly as the
row-by-row ``createDataFrame`` path gave them (the reference), Spark's
row checks still raise, the write buffer's plans run no Python RDD,
and no other list-based ``createDataFrame`` call creeps back into the
package."""

from __future__ import annotations

import ast
import datetime as dt
from pathlib import Path

import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

from ticktock_spark.session import local_dataframe

PACKAGE = Path(__file__).resolve().parent.parent / "ticktock_spark"

NAN, INF = float("nan"), float("inf")

PARITY_DDL = (
    "id long, x double, m map<string,string>, d date, aa array<array<double>>"
)
PARITY_STRUCT = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("x", T.DoubleType()),
        T.StructField("m", T.MapType(T.StringType(), T.StringType())),
        T.StructField("d", T.DateType()),
        T.StructField("aa", T.ArrayType(T.ArrayType(T.DoubleType()))),
    ]
)
PARITY_ROWS = [
    (1, NAN, {}, dt.date(2024, 1, 1), [[1.0, NAN], [], [-0.0, INF]]),
    (2, None, None, None, None),
    (3, INF, {"k": "v", "e": None}, dt.date(1969, 12, 31), [[-INF]]),
    (4, -INF, {"a": "b"}, dt.date(2000, 2, 29), [None, [None]]),
    (5, -0.0, {}, dt.date(1970, 1, 1), []),
    (6, 0.0, None, dt.date(9999, 12, 31), [[]]),
]


def _exact(rows) -> list[str]:
    # repr keeps what == loses: NaN equals itself, -0.0 differs from 0.0
    return sorted(repr(r) for r in rows)


@pytest.mark.parametrize(
    "schema",
    [PARITY_DDL, PARITY_STRUCT],
    ids=["ddl", "structtype"],
)
@pytest.mark.parametrize("n_rows", [len(PARITY_ROWS), 0], ids=["rows", "empty"])
def test_parity_with_row_path(spark, schema, n_rows):
    rows = PARITY_ROWS[:n_rows]
    got = local_dataframe(spark, rows, schema)
    ref = spark.createDataFrame(rows, schema)
    assert got.schema == ref.schema
    assert _exact(got.collect()) == _exact(ref.collect())
    if n_rows:
        # NaN is a value, not NULL, after the Arrow boundary
        assert got.filter("isnan(x)").count() == 1
        assert got.filter("x IS NULL").count() == 1


def test_rows_dicts_and_tuples_match_reference(spark):
    """Keyword Rows and tuples are positional, dicts match by name — the
    rules createDataFrame applies."""
    ddl = "a string, b double"
    rows = [Row(a="r", b=1.0), ("t", 2.0), {"b": 3.0, "a": "d"}]
    got = local_dataframe(spark, rows, ddl).collect()
    assert got == spark.createDataFrame(rows, ddl).collect()
    assert [r["a"] for r in got] == ["r", "t", "d"]


def test_row_checks_still_raise(spark):
    schema = T.StructType(
        [
            T.StructField("k", T.LongType(), False),
            T.StructField("v", T.DoubleType(), True),
        ]
    )
    with pytest.raises(ValueError, match="not nullable"):
        local_dataframe(spark, [(1, 1.0), (None, 2.0)], schema)
    with pytest.raises(TypeError):
        local_dataframe(spark, [(1.5, 1.0)], schema)  # 1.5 is no long
    with pytest.raises(TypeError):
        local_dataframe(spark, [(1, "x")], schema)
    with pytest.raises(ValueError):
        local_dataframe(spark, [(2**63, 1.0)], schema)  # out of long range


def _executed_plan(df) -> str:
    df.collect()  # the final adaptive plan
    return df._jdf.queryExecution().executedPlan().toString()


def test_write_buffer_plans_are_local_table_scans(spark, tmp_path):
    """With a non-empty write buffer, neither the datapoints view nor the
    series dimension runs a Python RDD (``ExistingRDD``): the buffer is a
    ``LocalTableScan`` beside the parquet base."""
    from ticktock_spark.api.http import TsdbStore
    from ticktock_spark.schema import DATAPOINTS_SCHEMA

    base = [
        Row(metric="m.base", ts=1704067200000 + i, value=float(i),
            tags={"host": "a"}, seq=i + 1, dt=dt.date(2024, 1, 1))
        for i in range(4)
    ]
    path = str(tmp_path / "dps")
    local_dataframe(spark, base, DATAPOINTS_SCHEMA).write.parquet(path)
    store = TsdbStore(spark, base=spark.read.parquet(path))
    store.add([
        {"metric": "m.buf", "ts": 1704067300000 + i, "value": float(i),
         "tags": {"host": "b"}}
        for i in range(3)
    ])
    for df, n in ((store.dataframe(), 7), (store.series_dim(), 2)):
        plan = _executed_plan(df)
        assert "LocalTableScan" in plan, plan
        assert "ExistingRDD" not in plan, plan
        assert df.count() == n


def _create_dataframe_calls(tree: ast.AST):
    """(line, enclosing function) of every ``*.createDataFrame(...)``."""
    found = []

    def walk(node, func):
        for child in ast.iter_child_nodes(node):
            name = func
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                name = child.name
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "createDataFrame"
            ):
                found.append((child.lineno, func))
            walk(child, name)

    walk(tree, None)
    return found


def test_no_create_dataframe_outside_helper():
    """Rows built on the driver enter Spark through local_dataframe only:
    a plain ``createDataFrame(list, ...)`` is a Python RDD whose every
    read starts Python workers."""
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        rel = path.relative_to(PACKAGE.parent)
        for line, func in _create_dataframe_calls(tree):
            if not (rel.as_posix() == "ticktock_spark/session.py"
                    and func == "local_dataframe"):
                offenders.append(f"{rel}:{line}")
    assert not offenders, f"createDataFrame outside local_dataframe: {offenders}"


def test_guard_sees_calls():
    src = "def f(spark):\n    return spark.createDataFrame([], 'a int')\n"
    assert _create_dataframe_calls(ast.parse(src)) == [(2, "f")]
