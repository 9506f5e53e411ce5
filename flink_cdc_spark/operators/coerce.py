"""Envelope payload coercion to an evolved schema.

Spark rendition of SchemaDerivator.coerceDataRecord / SchemaMergingUtils
.coerceRow (runtime/operators/schema/common/SchemaDerivator.java:299,
common/utils/SchemaMergingUtils.java:267): project each image struct onto
the target column list, casting widened types and null-padding missing
columns. The two images are ``named_struct`` SQL text applied with one
``selectExpr``; a column whose type already matches is not cast. Pure
column expressions — stays in whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, types as T

from ..core.sql_text import quote, sql_string, sql_type
from ..sources.envelope import payload_struct, select_envelope


def coerce_envelope_payload(
    df: DataFrame, target_struct: T.StructType, source_names: dict = None
) -> DataFrame:
    """Align an envelope frame's before/after structs to target_struct.

    source_names maps target column name -> source column name for columns
    that were renamed between the frame's emission schema and the target
    (rename_map_through in pipeline/schema_coordinator.py)."""
    have = {f_.name: f_.dataType for f_ in payload_struct(df).fields}
    source_names = source_names or {}

    def image(name: str) -> str:
        fields = []
        for f_ in target_struct.fields:
            src = source_names.get(f_.name, f_.name)
            if src not in have:
                value = f"CAST(NULL AS {sql_type(f_.dataType)})"
            elif have[src] == f_.dataType:
                value = f"{quote(name)}.{quote(src)}"
            else:
                value = f"CAST({quote(name)}.{quote(src)} AS {sql_type(f_.dataType)})"
            fields.append(f"{sql_string(f_.name)}, {value}")
        return (f"CASE WHEN {quote(name)} IS NOT NULL "
                f"THEN named_struct({', '.join(fields)}) END")

    return select_envelope(df, {"before": image("before"), "after": image("after")})
