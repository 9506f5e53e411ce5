"""Envelope payload coercion to an evolved schema.

Spark rendition of SchemaDerivator.coerceDataRecord / SchemaMergingUtils
.coerceRow (runtime/operators/schema/common/SchemaDerivator.java:299,
common/utils/SchemaMergingUtils.java:267): project each image struct onto
the target column list, casting widened types and null-padding missing
columns. Pure column expressions — stays in whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, types as T

from ..sources.envelope import (
    ENVELOPE_META,
    ENVELOPE_OP,
    ENVELOPE_SEQ,
    ENVELOPE_TABLE_ID,
    payload_struct,
)


def coerce_envelope_payload(
    df: DataFrame, target_struct: T.StructType, source_names: dict = None
) -> DataFrame:
    """Align an envelope frame's before/after structs to target_struct.

    source_names maps target column name -> source column name for columns
    that were renamed between the frame's emission schema and the target
    (rename_map_through in pipeline/schema_coordinator.py)."""
    have = {f_.name for f_ in payload_struct(df).fields}
    source_names = source_names or {}

    def image(name: str):
        cols = []
        for f_ in target_struct.fields:
            src = source_names.get(f_.name, f_.name)
            if src in have:
                cols.append(F.col(f"{name}.{src}").cast(f_.dataType).alias(f_.name))
            else:
                cols.append(F.lit(None).cast(f_.dataType).alias(f_.name))
        return F.when(F.col(name).isNotNull(), F.struct(*cols)).otherwise(F.lit(None))

    return df.select(
        F.col(ENVELOPE_TABLE_ID),
        F.col(ENVELOPE_OP),
        image("before").alias("before"),
        image("after").alias("after"),
        F.col(ENVELOPE_META),
        F.col(ENVELOPE_SEQ),
    )
