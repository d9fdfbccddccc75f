"""Expected results from DuckDB, computed in a child process so that the
benchmark's own oracle work never shows in the measured process's
memory.

    rows = oracle.query({"t": "<parquet glob>"}, {"name": "SELECT ..."})

The child runs ``python3 oracle.py``: it reads the views and queries as
JSON on stdin and writes, per query, its rows in the comparison form of
``sorted_rows`` as JSON on stdout.
"""

from __future__ import annotations

import json
import math
import subprocess
import sys
from decimal import Decimal


def _norm(v):
    """Comparable form of one result value: Decimal and float compare as
    float, int stays int, containers normalise element-wise."""
    if isinstance(v, float):
        return ["f", "NaN" if math.isnan(v) else v]
    if isinstance(v, Decimal):
        return ["f", float(v)]
    if isinstance(v, bool):
        return ["b", v]
    if isinstance(v, int):
        return ["i", v]
    if isinstance(v, (list, tuple)):  # Spark rows and structs are tuples too
        return ["a", [_norm(x) for x in v]]
    return ["s", v if v is None else str(v)]


def sorted_rows(columns: list[str], rows) -> list[list]:
    """Rows with columns ordered by name, sorted: an order-insensitive
    comparison form shared by Spark and DuckDB results."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(([_norm(r[i]) for i in order] for r in rows), key=repr)


def query(views: dict[str, str], queries: dict[str, str]) -> dict[str, list[list]]:
    """Runs ``queries`` in a fresh DuckDB over ``views`` (name → parquet
    path or glob, read with hive partitioning); returns name → rows."""
    proc = subprocess.run(
        [sys.executable, __file__], input=json.dumps({"views": views, "queries": queries}),
        capture_output=True, text=True, check=False,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"DuckDB oracle failed:\n{proc.stderr}")
    return json.loads(proc.stdout)


def _main() -> None:
    import duckdb

    req = json.load(sys.stdin)
    con = duckdb.connect()
    for name, path in req["views"].items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet("
                    f"'{path}', hive_partitioning = true)")
    out = {}
    for name, sql in req["queries"].items():
        cur = con.execute(sql)
        out[name] = sorted_rows([d[0] for d in cur.description], cur.fetchall())
    json.dump(out, sys.stdout)


if __name__ == "__main__":
    _main()
