"""Correctness gates, run after the timed region.

The expected values come from the registry's DuckDB oracles over the
same fixture tables the feed was synthesised from:
``ref_pipeline_dual_audit`` (rows per dataset), ``ref_pipeline_cover``
and ``ref_pipeline_scheduleA2`` (every cell of those two datasets), and
the oracle of each query in the query mix.
"""

from __future__ import annotations

import json
import math
import os
from collections import Counter

import duckdb

from .feed import SF_DIR

def oracle_connection(sf_dir: str = SF_DIR) -> duckdb.DuckDBPyConnection:
    """DuckDB with one view per fixture table in ``sf_dir``."""
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for name in sorted(os.listdir(sf_dir)):
        table, ext = os.path.splitext(name)
        if ext == ".parquet":
            path = os.path.join(sf_dir, name)
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
    return con


def oracle_rows(con, name: str) -> list[dict]:
    from form700_etl_spark.registry import oracle_sqls

    cur = con.execute(oracle_sqls()[name])
    cols = [d[0] for d in cur.description]
    return [dict(zip(cols, row)) for row in cur.fetchall()]


def dual_audit_counts(con) -> dict[str, int]:
    return {r["dataset"]: int(r["n_rows"]) for r in oracle_rows(con, "ref_pipeline_dual_audit")}


def _cell(value) -> str:
    """One spelling per value across the sink's JSON text and DuckDB's
    Python values (dates are written with ``str`` by the sink)."""
    if value is None:
        return "<null>"
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, float):
        return "<null>" if math.isnan(value) else repr(value)
    return str(value)


def row_key(row: dict) -> tuple:
    return tuple(sorted((k, _cell(v)) for k, v in row.items()))


def rows_match(actual: list[dict], expected: list[dict]) -> tuple[bool, str]:
    """Order-insensitive multiset comparison of whole rows."""
    a, e = Counter(map(row_key, actual)), Counter(map(row_key, expected))
    if a == e:
        return True, ""
    missing, extra = e - a, a - e
    sample = next(iter(missing or extra))
    return False, (
        f"{sum(missing.values())} rows missing, {sum(extra.values())} unexpected; "
        f"e.g. {dict(sample)}"
    )


def read_chunk_dir(path: str) -> list[dict]:
    """Rows a ``LocalDirClient`` holds: every committed chunk file."""
    rows: list[dict] = []
    for name in sorted(os.listdir(path)):
        if name.endswith(".json") and not name.startswith(("_", ".")):
            with open(os.path.join(path, name)) as fh:
                rows.extend(json.load(fh))
    return rows
