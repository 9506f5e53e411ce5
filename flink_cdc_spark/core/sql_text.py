"""Spark SQL text for plans built as strings.

The per-epoch plan stages (wire decode, transform, coercion, the LSM
row-image select) are applied as one ``selectExpr`` / ``where`` each over
SQL text these helpers render: a plan built from text costs one
driver→JVM call per stage, where the same plan built from ``Column``
objects costs one or more per field and operator.
"""

from __future__ import annotations

from pyspark.sql import types as T


def quote(name: str) -> str:
    """``name`` as a backtick-quoted identifier (embedded backticks
    doubled): safe for spaces, dots and quotes."""
    return "`" + name.replace("`", "``") + "`"


def sql_string(s: str) -> str:
    """``s`` as a single-quoted SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_type(dt: T.DataType) -> str:
    """``dt`` as parseable DDL type text (a ``CAST`` target, a
    ``from_json`` schema). Nested field names are quoted and a non-null
    nested field keeps ``NOT NULL``; atomic types render as
    ``simpleString()``. DDL cannot state that an array's elements or a
    map's values are non-null, so those come back nullable."""
    if isinstance(dt, T.StructType):
        return "STRUCT<" + ", ".join(
            f"{quote(f.name)}: {sql_type(f.dataType)}"
            + ("" if f.nullable else " NOT NULL")
            for f in dt.fields
        ) + ">"
    if isinstance(dt, T.ArrayType):
        return f"ARRAY<{sql_type(dt.elementType)}>"
    if isinstance(dt, T.MapType):
        return f"MAP<{sql_type(dt.keyType)}, {sql_type(dt.valueType)}>"
    return dt.simpleString()
