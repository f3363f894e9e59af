"""ClickHouse meta-statements over the engine catalog (SURVEY §3):
``SHOW TABLES [LIKE]``, ``DESCRIBE [TABLE]``, ``EXISTS [TABLE]``,
``SHOW CREATE TABLE``, ``EXPLAIN [AST|SYNTAX|PLAN|PIPELINE|ESTIMATE]``
— the client-tooling surface every CH user drives between queries
(clickhouse-client autocompletion, dashboards probing schemas).

Each statement resolves against the session catalog's registered views
and returns a DataFrame shaped like the CH result (column names
``name``/``type``/``statement``/``result``/``explain``), so the
reference's client code can consume the rows unchanged. ``EXPLAIN``
variants delegate to Spark's own EXPLAIN after dialect translation:
``SYNTAX`` returns the translated Spark SQL (the exact analogue of
CH's rewritten-query output), ``AST`` maps to EXTENDED and
``PLAN``/``PIPELINE`` to FORMATTED — the honest Spark-side
equivalents of CH's logical/physical views.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from clickhouse_build_spark.localframe import local_frame


def ch_type_name(dt: T.DataType, nullable: bool = False) -> str:
    """Spark type → ClickHouse type name (DESCRIBE/SHOW CREATE)."""
    if isinstance(dt, T.LongType):
        s = "Int64"
    elif isinstance(dt, T.IntegerType):
        s = "Int32"
    elif isinstance(dt, T.ShortType):
        s = "Int16"
    elif isinstance(dt, T.ByteType):
        s = "Int8"
    elif isinstance(dt, T.DoubleType):
        s = "Float64"
    elif isinstance(dt, T.FloatType):
        s = "Float32"
    elif isinstance(dt, T.StringType):
        s = "String"
    elif isinstance(dt, T.BooleanType):
        s = "Bool"
    elif isinstance(dt, T.DateType):
        s = "Date"
    elif isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        s = "DateTime64(6)"
    elif isinstance(dt, T.BinaryType):
        s = "String"
    elif isinstance(dt, T.DecimalType):
        s = f"Decimal({dt.precision}, {dt.scale})"
    elif isinstance(dt, T.ArrayType):
        # CH arrays hold non-Nullable elements by default
        s = f"Array({ch_type_name(dt.elementType)})"
    elif isinstance(dt, T.MapType):
        s = f"Map({ch_type_name(dt.keyType)}, {ch_type_name(dt.valueType)})"
    elif isinstance(dt, T.StructType):
        inner = ", ".join(
            f"{f.name} {ch_type_name(f.dataType)}" for f in dt.fields
        )
        s = f"Tuple({inner})"
    else:
        s = dt.simpleString()
    return f"Nullable({s})" if nullable and not isinstance(
        dt, (T.ArrayType, T.MapType, T.StructType)
    ) else s


def _like_to_regex(pat: str) -> str:
    out = []
    for c in pat:
        if c == "%":
            out.append(".*")
        elif c == "_":
            out.append(".")
        else:
            out.append(re.escape(c))
    return "^" + "".join(out) + "$"


_SHOW_TABLES = re.compile(
    r"^\s*SHOW\s+TABLES\s*(?:LIKE\s+'(?P<pat>[^']*)')?\s*;?\s*$", re.I
)
_DESCRIBE = re.compile(
    r"^\s*(?:DESCRIBE|DESC)\s+(?:TABLE\s+)?(?P<t>\w+)\s*;?\s*$", re.I
)
_EXISTS = re.compile(r"^\s*EXISTS\s+(?:TABLE\s+)?(?P<t>\w+)\s*;?\s*$", re.I)
_SHOW_CREATE = re.compile(
    r"^\s*SHOW\s+CREATE\s+(?:TABLE\s+)?(?P<t>\w+)\s*;?\s*$", re.I
)
_EXPLAIN = re.compile(
    r"^\s*EXPLAIN(?:\s+(?P<mode>AST|SYNTAX|PLAN|PIPELINE|ESTIMATE))?\s+"
    r"(?P<q>(?:SELECT|WITH)\b.*)$",
    re.I | re.S,
)


def _table_names(catalog) -> list[str]:
    import os

    from clickhouse_build_spark.catalog import TABLE_NAMES

    names = []
    for t in TABLE_NAMES:
        if os.path.exists(catalog.path(t)):
            names.append(catalog.table_mappings.get(t, t))
    return sorted(names)


def _schema_of(spark: SparkSession, catalog, name: str) -> T.StructType | None:
    if name not in _table_names(catalog):
        return None
    return spark.table(name).schema


def try_ch_meta(
    spark: SparkSession, catalog, text: str
) -> DataFrame | None:
    """Dispatch a CH meta-statement; None means "not a meta-statement"
    (the caller proceeds with normal dialect translation)."""
    m = _SHOW_TABLES.match(text)
    if m:
        names = _table_names(catalog)
        if m.group("pat") is not None:
            rx = re.compile(_like_to_regex(m.group("pat")))
            names = [n for n in names if rx.match(n)]
        return local_frame(
            spark,
            [(n,) for n in names],
            T.StructType([T.StructField("name", T.StringType())]),
        )
    m = _DESCRIBE.match(text)
    if m:
        schema = _schema_of(spark, catalog, m.group("t").lower())
        if schema is None:
            raise ValueError(f"DESCRIBE: unknown table {m.group('t')!r}")
        return local_frame(
            spark,
            [(f.name, ch_type_name(f.dataType, f.nullable)) for f in schema],
            T.StructType(
                [
                    T.StructField("name", T.StringType()),
                    T.StructField("type", T.StringType()),
                ]
            ),
        )
    m = _EXISTS.match(text)
    if m:
        present = m.group("t").lower() in _table_names(catalog)
        return local_frame(
            spark,
            [(1 if present else 0,)],
            T.StructType([T.StructField("result", T.IntegerType())]),
        )
    m = _SHOW_CREATE.match(text)
    if m:
        name = m.group("t").lower()
        schema = _schema_of(spark, catalog, name)
        if schema is None:
            raise ValueError(f"SHOW CREATE: unknown table {name!r}")
        cols = ",\n    ".join(
            f"{f.name} {ch_type_name(f.dataType, f.nullable)}" for f in schema
        )
        ddl = (
            f"CREATE TABLE {name}\n(\n    {cols}\n)\n"
            "ENGINE = MergeTree\nORDER BY tuple()"
        )
        return local_frame(
            spark,
            [(ddl,)],
            T.StructType([T.StructField("statement", T.StringType())]),
        )
    m = _EXPLAIN.match(text)
    if m:
        from clickhouse_build_spark.functions.chsql import translate_ch_sql

        inner = translate_ch_sql(m.group("q"))
        mode = (m.group("mode") or "PLAN").upper()
        if mode == "SYNTAX":
            rows = [(ln,) for ln in inner.splitlines() if ln.strip()]
            return local_frame(
                spark,
                rows,
                T.StructType([T.StructField("explain", T.StringType())]),
            )
        spark_mode = {
            "AST": "EXTENDED",
            "PLAN": "FORMATTED",
            "PIPELINE": "FORMATTED",
            "ESTIMATE": "COST",
        }[mode]
        return spark.sql(f"EXPLAIN {spark_mode} {inner}").withColumnRenamed(
            "plan", "explain"
        )
    return None
