"""The ``query_mix`` pass and its output check.

A pass runs each query in ``QUERIES`` once: build the DataFrame
through the registry, then collect it. Each result is checked against
the query's registered DuckDB oracle, run once per benchmark run over
the same generated tables, by an order-insensitive hash of its rows.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import os

QUERIES = (
    "q01_pricing_summary",
    "q18_cube_returns",
    "w08_sessionize_events",
    "ss04_cosine_topk_blas",
    "dd21_prefix_filter_join",
    "mm07_media_chunk_dedup",
    "st04_compacted_sketch_state",
)


def _canon(v):
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v


def rows_hash(columns: list[str], rows) -> str:
    """Order-insensitive hash of a result: each row's values in
    lower-cased column-name order, rows sorted by their repr."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    reprs = sorted(repr(tuple(_canon(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256()
    for r in reprs:
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


def oracle_hashes(data_dir: str, oracles: dict[str, str]) -> dict[str, str]:
    """Run each oracle SQL in DuckDB over the parquet tables in
    ``data_dir`` and hash its result."""
    import duckdb

    from datapipeline_template_spark.catalog import TABLES

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data_dir, t)}.parquet'")
        out = {}
        for name, sql in oracles.items():
            res = con.sql(sql)
            out[name] = rows_hash(res.columns, res.fetchall())
        return out
    finally:
        con.close()
