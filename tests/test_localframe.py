"""``local_frame``: driver rows reach the JVM as an Arrow table with
exactly the declared schema and exactly the values the pickled-list
``createDataFrame`` path produces — and it is the package's only way to
build a frame from driver rows."""

from __future__ import annotations

import ast
import math
import pathlib
import struct

import pytest

from clickhouse_build_spark.localframe import local_frame

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "clickhouse_build_spark"


def _exact(v):
    """A comparison key that tells -0.0 from 0.0 and matches NaN to NaN
    (bit patterns for doubles, recursively through arrays)."""
    if isinstance(v, float):
        return ("f", struct.pack("<d", v))
    if isinstance(v, (list, tuple)):
        return tuple(_exact(x) for x in v)
    return v


SCHEMA = "l long, i int, d double, s string, a array<double>"
ROWS = [
    (1, 7, -0.0, "x", [0.1, -0.0, float("nan")]),
    (-(2**62), -(2**31), float("nan"), "", []),
    (None, None, None, None, None),
    (3, 0, 0.0, "ünïcode", [None, math.inf, -math.inf, 1e-300]),
    (4, 1, 2.0**-1074, "tail", [5e-324]),
]


@pytest.mark.parametrize("rows", [ROWS, []], ids=["values", "empty"])
def test_local_frame_round_trips_like_the_list_path(spark, rows):
    listed = spark.createDataFrame(rows, SCHEMA)
    arrowed = local_frame(spark, rows, SCHEMA)
    assert arrowed.schema == listed.schema
    got = [_exact(tuple(r)) for r in arrowed.collect()]
    want = [_exact(tuple(r)) for r in listed.collect()]
    assert got == want
    assert len(got) == len(rows)
    # -0.0 keeps its sign and NaN stays NaN through Arrow
    if rows:
        first = arrowed.collect()[0]
        assert math.copysign(1.0, first["d"]) == -1.0
        assert math.isnan(first["a"][2])


def test_local_frame_takes_a_struct_type(spark):
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("m", T.MapType(T.StringType(), T.StringType())),
        ]
    )
    rows = [(1, {"a": "b"}), (2, None)]
    got = local_frame(spark, rows, schema)
    assert got.schema == schema
    assert [tuple(r) for r in got.collect()] == rows


def test_no_create_dataframe_outside_local_frame():
    """Every frame built from driver rows goes through ``local_frame``:
    a ``createDataFrame`` call anywhere else in the package would bring
    back the pickled-rows Python-worker stage."""
    offenders = []
    for src in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(src.read_text(), filename=str(src))
        allowed: set[int] = set()
        if src.name == "localframe.py":
            for fn in ast.walk(tree):
                if isinstance(fn, ast.FunctionDef) and fn.name == "local_frame":
                    allowed |= {id(n) for n in ast.walk(fn)}
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
                and id(node) not in allowed
            ):
                offenders.append(f"{src.relative_to(PACKAGE.parent)}:{node.lineno}")
    assert not offenders, offenders
