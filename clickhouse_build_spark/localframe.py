"""Driver-held rows → Spark DataFrame, shipped to the JVM as Arrow.

``spark.createDataFrame(<list of rows>)`` parallelizes pickled Python
rows: the first action on the frame runs a Python-worker stage that
unpickles and converts them (on a 4-vCPU host: 0.3-0.4 s wall and
0.6-0.7 s of worker CPU for a 44-row centroid frame warm, ~2 s for the
first one of a cold session). A ``pyarrow.Table`` built with the
declared schema becomes a local relation inside the JVM instead — no
worker, no job, and the values are the same (Arrow carries doubles,
-0.0 and NaN bit-for-bit).

Every frame the package builds from driver rows goes through
:func:`local_frame`; ``tests/test_localframe.py`` fails on any other
``createDataFrame`` call in the package sources.
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def local_frame(
    spark: SparkSession,
    rows: Iterable[Sequence],
    schema: T.StructType | str,
) -> DataFrame:
    """A DataFrame of ``rows`` (tuples in ``schema``'s field order) with
    exactly ``schema`` — a StructType or a DDL string such as
    ``"cell long, ce array<double>"``. Struct-typed fields take dicts."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if not isinstance(schema, T.StructType):
        schema = T._parse_datatype_string(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema)
