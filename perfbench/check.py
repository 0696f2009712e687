"""Result check: an order-insensitive digest over every column of a result.

The normalization follows the repository's oracle gate
(``tests/test_inventory_oracle.py``): columns sorted by name, floats rounded
to 9 places (NaN spelled out), every value stringified, rows sorted. Both
the Spark result and the DuckDB oracle result arrive as Arrow tables, so the
two sides stringify identical Python values.
"""

from __future__ import annotations

import hashlib
import math
import os

import pyarrow as pa


def _norm(v) -> str:
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else str(round(v, 9))
    return str(v)


def digest(tbl: pa.Table) -> str:
    cols = sorted(tbl.column_names)
    values = [[_norm(v) for v in tbl.column(c).to_pylist()] for c in cols]
    rows = sorted(zip(*values)) if values else []
    h = hashlib.sha256(repr(cols).encode())
    h.update(str(tbl.num_rows).encode())
    for r in rows:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def oracle_digests(
    sf_dir: str, oracle: dict[str, str], names, tables, threads: int
) -> dict[str, str]:
    """DuckDB-oracle digest of every entry in ``names`` that has oracle SQL,
    computed over the same parquet files the engine reads."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"SET threads TO {int(threads)}")
        for t in tables:
            path = os.path.join(sf_dir, f"{t}.parquet").replace("'", "''")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        return {
            n: digest(con.execute(oracle[n]).arrow())
            for n in names
            if oracle.get(n)
        }
    finally:
        con.close()
