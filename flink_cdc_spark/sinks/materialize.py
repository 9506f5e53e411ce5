"""Materializing sink: changelog envelope -> current table state.

Semantics match the reference's ValuesDatabase
(pipeline-connector-values/.../ValuesDatabase.java:248-431): apply events in
order by primary key — INSERT/REPLACE put, UPDATE put(after), DELETE remove;
final state is the map's contents. On Spark this is last-image-per-key:

    fast path  (insert-only changelog, unique keys): select after.* — a pure
               narrow projection, NO shuffle. At 100 TB this is the path the
               initial snapshot load takes, so it must not shuffle.
    general    one hash shuffle on the primary key: the highest __seq per
               key via ``first_per_key`` (sources/envelope.py), then drop
               keys whose last image is DELETE.

Without a primary key the changelog degenerates to append-only semantics
(deletes/updates need keys), matching the reference's non-PK behavior.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, functions as F

from ..sources.envelope import ENVELOPE_OP, ENVELOPE_SEQ, OP_DELETE, first_per_key


def materialize_changelog(
    df: DataFrame,
    primary_keys: Sequence[str],
    insert_only: bool = False,
) -> DataFrame:
    """Reduce an envelope frame (single table) to its final state."""
    if insert_only or not primary_keys:
        return df.where(F.col(ENVELOPE_OP) != OP_DELETE).select("after.*")

    keys = [F.coalesce(F.col(f"after.{k}"), F.col(f"before.{k}")) for k in primary_keys]
    latest = first_per_key(df, keys, F.col(ENVELOPE_SEQ).desc())
    return latest.where(F.col(ENVELOPE_OP) != OP_DELETE).select("after.*")
