"""Seeded raw CDC folders for the ``cdc_update`` workload, and their check.

``generate`` writes four entities under ``<root>/<entity>/``, each
spread over several files with strictly increasing modification
times. Every key appears at most once per file and its versions are
in file order, so "latest" is the version in the highest-numbered
file whichever of the pipeline's order columns decides the tie
(``_ingested_at``, then file modification time, then path). Each row
carries a unique ``seq`` that identifies its raw version.

``cdc_batch`` writes one more file per entity that updates or
deletes existing keys, so silver keeps its size.

``check`` compares the pipeline's silver files and ``_active`` rows
with a DuckDB replay of the raw files alone: keep-latest by file
order, soft deletes kept in silver (``soft_deletes=Y``), expectations
applied after the dedup with DLT's null-is-failure rule, and
``op != 'D'`` for the views.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq


@dataclass(frozen=True)
class Entity:
    name: str
    fmt: str
    pk: tuple[str, ...]
    payload: str  # one passthrough column the output check compares
    rules: dict[str, str]  # expect_all_or_drop, Spark and DuckDB SQL alike


ENTITIES = (
    Entity("app_downloads", "parquet", ("id",), "downloads",
           {"has_timestamp": "created_at IS NOT NULL", "has_id": "id IS NOT NULL"}),
    Entity("users", "json", ("id",), "age", {"has_email": "email IS NOT NULL"}),
    Entity("receipts", "parquet", ("receipt_id", "store_id"), "amount",
           {"non_negative": "amount >= 0"}),
    Entity("locations", "parquet", ("id",), "lat", {"valid_lat": "lat BETWEEN -90 AND 90"}),
)

DUP_SHARE = 0.30  # share of rows that re-version an existing key
DELETE_SHARE = 0.05
NULL_OP_SHARE = 0.003  # `op != 'D'` drops these from the views too
VIOLATION_SHARE = 0.01
BASE_MTIME = 1_700_000_000  # file i gets mtime BASE_MTIME + i seconds


def write_config(path: str) -> None:
    """Write the pipeline's entity config for ``ENTITIES``."""
    doc = {
        e.name: {
            "raw_file_format": e.fmt,
            "unique_primary_key": list(e.pk),
            "clustering_cols": list(e.pk),
            "skipping_indexes": list(e.pk) + ["op"],
            "expect_all_or_drop": e.rules,
        }
        for e in ENTITIES
    }
    with open(path, "w") as f:
        json.dump(doc, f)


def _keys(e: Entity, ids: np.ndarray) -> dict[str, np.ndarray]:
    if len(e.pk) == 2:  # composite: (receipt_id, store_id) from one key index
        return {"receipt_id": ids // 64, "store_id": ids % 64}
    return {"id": ids}


def _frame(e: Entity, ids: np.ndarray, ops: np.ndarray, seq: np.ndarray,
           rng: np.random.Generator) -> pd.DataFrame:
    n = len(ids)
    bad = rng.random(n) < VIOLATION_SHARE
    cols = dict(_keys(e, ids))
    cols["op"] = ops
    cols["seq"] = seq
    if e.name == "app_downloads":
        ts = pd.Timestamp("2024-01-01") + pd.to_timedelta(rng.integers(0, 86400 * 90, n), "s")
        cols["business_id"] = rng.integers(0, 500, n)
        cols["created_at"] = pd.Series(ts).where(~bad, None)
        cols["platform"] = rng.choice(np.array(["ios", "android", "web"]), n)
        cols["downloads"] = rng.integers(0, 10_000, n).astype(np.int32)
    elif e.name == "users":
        cols["email"] = pd.Series([f"u{i}@example.com" for i in ids]).where(~bad, None)
        cols["age"] = rng.integers(13, 90, n).astype(np.int16)
        cols["signup_ts"] = (
            pd.Timestamp("2023-01-01") + pd.to_timedelta(rng.integers(0, 86400 * 365, n), "s")
        ).strftime("%Y-%m-%dT%H:%M:%S")
    elif e.name == "receipts":
        cents = rng.integers(1, 100_000, n)
        cols["amount"] = np.where(bad, -cents, cents) / 100.0
        cols["issued_at"] = pd.Timestamp("2024-01-01") + pd.to_timedelta(
            rng.integers(0, 86400 * 90, n), "s")
    else:
        lat = rng.integers(-8_900_000, 8_900_000, n) / 100_000.0
        cols["lat"] = np.where(bad, lat + 200.0, lat)
        cols["lon"] = rng.integers(-17_900_000, 17_900_000, n) / 100_000.0
        cols["name"] = [f"loc-{i}" for i in ids]
    return pd.DataFrame(cols)


def _write(e: Entity, df: pd.DataFrame, folder: str, file_idx: int) -> None:
    os.makedirs(folder, exist_ok=True)
    path = os.path.join(folder, f"part-{file_idx:05d}.{e.fmt}")
    if e.fmt == "json":
        df.to_json(path, orient="records", lines=True)
    else:
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path,
                       coerce_timestamps="us", allow_truncated_timestamps=True)
    os.utime(path, (BASE_MTIME + file_idx, BASE_MTIME + file_idx))


def _ops(n: int, first: np.ndarray, rng: np.random.Generator) -> np.ndarray:
    u = rng.random(n)
    ops = np.where(first, "I", "U").astype(object)
    ops[u < DELETE_SHARE] = "D"
    ops[(u >= DELETE_SHARE) & (u < DELETE_SHARE + NULL_OP_SHARE)] = None
    return ops


def generate(root: str, seed: int, n_keys: int, n_files: int) -> dict[str, np.ndarray]:
    """Write the initial raw folder: ``n_keys`` keys per entity and about
    ``n_keys / (1 - DUP_SHARE)`` rows over ``n_files`` files per entity.
    Returns each entity's key ids, the input of ``cdc_batch``."""
    keys = {}
    for ei, e in enumerate(ENTITIES):
        rng = np.random.default_rng([seed, ei])
        # versions per key: 1 plus a geometric-ish tail, mean ~1/(1-DUP_SHARE)
        extra = np.minimum(rng.geometric(1 - DUP_SHARE, n_keys) - 1, n_files - 1)
        versions = 1 + extra
        # distinct, ordered files per key: the first `versions` entries of
        # a random permutation of the files, sorted
        perm = np.argsort(rng.random((n_keys, n_files)), axis=1)
        take = np.arange(n_files)[None, :] < versions[:, None]
        key_idx = np.repeat(np.arange(n_keys), versions)
        ordered = np.sort(np.where(take, perm, n_files), axis=1)
        files = ordered[ordered < n_files]  # row-major: each key's files ascending
        first = np.ones(len(key_idx), dtype=bool)
        first[1:] = key_idx[1:] != key_idx[:-1]
        keys[e.name] = rng.permutation(n_keys * 4)[:n_keys]  # sparse key space
        ids = keys[e.name][key_idx]
        seq = np.arange(len(key_idx), dtype=np.int64) + ei * 10**9
        df = _frame(e, ids, _ops(len(ids), first, rng), seq, rng)
        for f in range(n_files):
            _write(e, df[files == f], os.path.join(root, e.name), f)
    return keys


def cdc_batch(root: str, seed: int, keys: dict[str, np.ndarray], file_idx: int,
              n_rows: int) -> None:
    """Land file ``file_idx`` for every entity: ``n_rows`` updates and
    deletes of distinct existing ``keys``."""
    for ei, e in enumerate(ENTITIES):
        rng = np.random.default_rng([seed, ei, file_idx])
        ids = rng.choice(keys[e.name], size=n_rows, replace=False)
        seq = np.arange(n_rows, dtype=np.int64) + ei * 10**9 + file_idx * 10**6
        df = _frame(e, ids, _ops(n_rows, np.zeros(n_rows, bool), rng), seq, rng)
        _write(e, df, os.path.join(root, e.name), file_idx)


def _cols(e: Entity) -> str:
    keys = ", ".join(f"CAST({k} AS BIGINT) AS {k}" for k in e.pk)
    return f"{keys}, CAST(seq AS BIGINT) AS seq, CAST(op AS VARCHAR) AS op, " \
           f"CAST({e.payload} AS DOUBLE) AS {e.payload}"


def expected_silver_sql(root: str, e: Entity) -> str:
    """DuckDB replay of one entity's silver table from its raw files."""
    glob = os.path.join(root, e.name, f"*.{e.fmt}")
    if e.fmt == "json":
        scan = f"read_json_auto('{glob}', format='newline_delimited', filename=true)"
    else:
        scan = f"read_parquet('{glob}', filename=true)"
    pk = ", ".join(e.pk)
    rules = " AND ".join(f"({r}) IS TRUE" for r in e.rules.values())
    return (
        f"SELECT {_cols(e)} FROM ("
        f" SELECT * FROM {scan}"
        f" QUALIFY row_number() OVER (PARTITION BY {pk}"
        f"  ORDER BY regexp_extract(filename, 'part-([0-9]+)', 1) DESC) = 1"
        f") WHERE {rules}"
    )


def _diff(con, actual: str, expected: str) -> int:
    """Rows in one multiset and not the other, both ways."""
    return con.sql(
        f"SELECT (SELECT count(*) FROM (({actual}) EXCEPT ALL ({expected})))"
        f" + (SELECT count(*) FROM (({expected}) EXCEPT ALL ({actual})))"
    ).fetchone()[0]


def check(con, root: str, silver_dirs: dict[str, str], active: dict) -> list[str]:
    """Compare each entity's silver files and its ``_active`` rows (a
    pyarrow table per entity, as the view read returned them) with the
    DuckDB replay of the raw files. Returns one message per mismatch."""
    bad = []
    for e in ENTITIES:
        expected = expected_silver_sql(root, e)
        silver = f"SELECT {_cols(e)} FROM read_parquet('{silver_dirs[e.name]}/*.parquet')"
        n = _diff(con, silver, expected)
        if n:
            bad.append(f"silver_{e.name}: {n} rows differ from the replay")
        con.register("_active_rows", active[e.name])
        n = _diff(con, f"SELECT {_cols(e)} FROM _active_rows",
                  f"SELECT * FROM ({expected}) WHERE op <> 'D'")
        con.unregister("_active_rows")
        if n:
            bad.append(f"silver_{e.name}_active: {n} rows differ from the replay")
    return bad
