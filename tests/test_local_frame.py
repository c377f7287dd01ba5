"""``session.local_frame``: the one way the package builds a driver-side
literal frame. It must give what ``createDataFrame(<list>)`` gave (same
schema, same rows) for every row shape the package feeds it, be planned
as a ``LocalRelation`` (no Python worker), reject what the list path
rejects, and be the only ``createDataFrame`` call in the package."""

from __future__ import annotations

import ast
import datetime as dt
import os

import pyarrow as pa
import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

from mlb_data_pipeline_spark.operators.layout import _MANIFEST_SCHEMA
from mlb_data_pipeline_spark.session import local_frame
from tests.conftest import _ROOT

_CASES = {
    "string_long_int": (
        "file STRING, n BIGINT, k INT",
        [("a", 1, 2), ("b", 2**40, -3), (None, None, None)],
    ),
    # manifest rows: Python ints and None into nullable longs, floats
    # and None into nullable doubles
    "manifest": (
        _MANIFEST_SCHEMA,
        [("f1", 10, "k", 1.0, 9.5, 0), ("f2", 3, "k", None, None, 3), ("f3", 0, "v", -2.0, 2.0, None)],
    ),
    "array_double": (
        "list_id INT, centroid ARRAY<DOUBLE>",
        [(0, [0.5, -1.0]), (1, []), (2, None), (3, [None, 1.0])],
    ),
    "struct_schema": (
        StructType([StructField("id", LongType(), True), StructField("component", LongType(), True)]),
        [(3, 1), (1, 1), (7, 7)],
    ),
    "empty": ("file STRING, pos BIGINT", []),
    "empty_struct": (StructType([StructField("x", StringType(), True)]), []),
    # naive datetimes read as UTC wall-clock under the session's UTC zone
    "date_timestamp": (
        "d DATE, ts TIMESTAMP",
        [(dt.date(2024, 3, 1), dt.datetime(2024, 3, 1, 12, 30, 5, 123456)), (None, None)],
    ),
}


@pytest.mark.parametrize("case", sorted(_CASES))
def test_local_frame_matches_list_create(spark, case):
    schema, rows = _CASES[case]
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    leaf = got._jdf.queryExecution().optimizedPlan()
    assert leaf.getClass().getSimpleName() == "LocalRelation", leaf.toString()


def test_local_frame_widens_python_ints_into_doubles(spark):
    # the list path rejects an int in a DOUBLE field; Arrow converts it
    # exactly (as a literal 1 in SQL would), so a count or a bound can
    # feed a nullable double column without a float() at every site
    got = local_frame(spark, [("a", 1), ("b", None), ("c", 2.5)], "part STRING, n DOUBLE")
    want = spark.createDataFrame([("a", 1.0), ("b", None), ("c", 2.5)], "part STRING, n DOUBLE")
    assert got.schema == want.schema
    assert got.collect() == want.collect()


@pytest.mark.parametrize(
    "rows, schema",
    [
        ([("x",)], "n BIGINT"),  # string into a long
        ([(1.5,)], "n BIGINT"),  # float into a long: Arrow alone would truncate to 1
        ([(1, 2)], "n BIGINT"),  # row longer than the schema
        ([(None,)], StructType([StructField("n", LongType(), False)])),  # NULL, non-nullable
    ],
)
def test_local_frame_rejects_what_the_list_path_rejects(spark, rows, schema):
    with pytest.raises(Exception):
        spark.createDataFrame(rows, schema).collect()
    with pytest.raises((TypeError, ValueError, pa.ArrowException)):
        local_frame(spark, rows, schema).collect()


def test_no_create_dataframe_outside_local_frame():
    """Every ``createDataFrame(`` call in the package sits inside
    ``session.local_frame``; a list-fed one would bring back a Python
    worker job per call."""
    pkg = os.path.join(_ROOT, "mlb_data_pipeline_spark")
    allowed = os.path.join(pkg, "session.py")
    found = []
    for root, _dirs, files in os.walk(pkg):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            with open(path) as f:
                tree = ast.parse(f.read())
            inside = set()
            if path == allowed:
                for fn in tree.body:
                    if isinstance(fn, ast.FunctionDef) and fn.name == "local_frame":
                        inside = {id(n) for n in ast.walk(fn)}
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "createDataFrame"
                    and id(node) not in inside
                ):
                    found.append(f"{os.path.relpath(path, _ROOT)}:{node.lineno}")
    assert not found, found
