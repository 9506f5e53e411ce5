"""Output check: an order-independent hash of a table, computed by DuckDB.

Both the program's output and the DuckDB reference go through the same
canonical form: columns in name order, every value cast to text, floating
point rounded to 4 decimals first. The digest is (row count, sum of row
hashes), so two tables match when they hold the same multiset of rows.
"""

from __future__ import annotations

_FLOATS = ("DOUBLE", "FLOAT", "REAL")


def digest(con, relation: str) -> tuple:
    """(column names, row count, hash sum) of a DuckDB relation or view."""
    cols = sorted(
        (name, typ) for name, typ, *_ in con.execute(f"DESCRIBE {relation}").fetchall()
    )
    parts = []
    for name, typ in cols:
        ref = f'"{name}"'
        if typ.upper() in _FLOATS or typ.upper().startswith("DECIMAL"):
            ref = f"CAST(round({ref}, 4) AS DECIMAL(38, 4))"
        parts.append(f"coalesce(CAST({ref} AS VARCHAR), '<null>')")
    n, h = con.execute(
        f"SELECT count(*), coalesce(sum(hash({', '.join(parts)})::HUGEINT), 0) "
        f"FROM {relation}"
    ).fetchone()
    return tuple(name for name, _ in cols), int(n), int(h)


def spark_digest(con, df) -> tuple:
    """Digest of a Spark DataFrame, collected through Arrow into DuckDB."""
    table = df.toArrow()
    con.register("spark_out", table)
    try:
        return digest(con, "spark_out")
    finally:
        con.unregister("spark_out")
