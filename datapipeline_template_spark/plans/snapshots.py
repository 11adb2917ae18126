"""Snapshot-versioned parquet tables — the Delta-runtime analog.

The reference's tables are Delta: every write is a new table version,
readers can time-travel, OPTIMIZE compacts small files, and VACUUM
deletes unreferenced files after `delta.deletedFileRetentionDuration`
(`/root/reference/src/sdp_etl/transformations/01_bronze_ingestion.py:79-83`,
`02_silver_processing.py:85-92`, `databricks.yml:19-21`). Those runtime
behaviors were previously only *recorded* here as TBLPROPERTIES; this
module implements them on plain parquet with a log-structured manifest
— the same architecture as the open Delta/Iceberg protocols, sized
down to the single-writer pipeline the reference actually is.

Layout of a snapshot table rooted at ``path``::

    path/_log/00000000000000000000.json   one JSON manifest per commit
    path/_log/00000000000000000004.checkpoint.json   consolidated state
    path/data/<uuid>/part-*.parquet       immutable data files

Each manifest records {version, timestamp_ms, operation, add, remove,
schema}. The live file set of version V is replay(log[0..V]): adds
minus removes. Readers NEVER list the data directory — the log names
the exact files, which at cluster scale is the whole point: no
eventually-consistent S3 LIST, no partial-write visibility (files land
under a per-commit UUID dir and only become visible when the manifest
commits atomically), and file-level skipping metadata has a
natural home. A consolidated checkpoint is written every
``checkpoint_interval`` commits so replay cost is O(interval), not
O(versions) — the Delta `_last_checkpoint` pattern.

Concurrency: single-writer (the reference runs `max_concurrent_runs:
1` for exactly this reason — `sdp_job.job.yml:21`). The commit writes
the whole manifest to a temp file, then hard-links it to the next
version's name, which fails if that name exists: a concurrent second
writer fails loudly with SnapshotConflict instead of corrupting the
log, and a crash mid-write never leaves a torn version file —
optimistic concurrency, retry by re-reading state.

At 100 TB: manifests stay tiny (file names + counts, not data);
OPTIMIZE rewrites only the files it bin-packs, never the whole table;
VACUUM is a pure driver-side set difference over the log plus file
deletes. All data movement stays in Spark jobs.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

from ..streaming.store import write_json

__all__ = ["SnapshotTable", "SnapshotConflict", "parse_retention_interval"]

_LOG = "_log"
_DATA = "data"
_VERSION_DIGITS = 20


class SnapshotConflict(RuntimeError):
    """A concurrent writer committed the version this writer raced for."""


def parse_retention_interval(text: str) -> float:
    """Parse the reference's retention syntax (`"interval 14 days"`,
    `databricks.yml:19-21`) to seconds. Supports the units Delta's
    CalendarInterval accepts for retention."""
    parts = text.strip().lower().split()
    if parts and parts[0] == "interval":
        parts = parts[1:]
    if len(parts) != 2:
        raise ValueError(f"cannot parse retention interval {text!r}")
    n = float(parts[0])
    unit = parts[1].rstrip("s")
    seconds = {"second": 1, "minute": 60, "hour": 3600, "day": 86400, "week": 604800}
    if unit not in seconds:
        raise ValueError(f"unknown retention unit {unit!r} in {text!r}")
    return n * seconds[unit]


class SnapshotTable:
    """Versioned parquet table with time travel, OPTIMIZE and VACUUM."""

    def __init__(self, spark: SparkSession, path: str, checkpoint_interval: int = 10):
        self.spark = spark
        self.path = path
        self.log_dir = os.path.join(path, _LOG)
        self.checkpoint_interval = max(int(checkpoint_interval), 1)

    # -- log plumbing ------------------------------------------------------

    def _version_path(self, v: int) -> str:
        return os.path.join(self.log_dir, f"{v:0{_VERSION_DIGITS}d}.json")

    def _checkpoint_path(self, v: int) -> str:
        return os.path.join(self.log_dir, f"{v:0{_VERSION_DIGITS}d}.checkpoint.json")

    def versions(self) -> list[int]:
        if not os.path.isdir(self.log_dir):
            return []
        return sorted(
            int(f.split(".")[0])
            for f in os.listdir(self.log_dir)
            if f.endswith(".json") and not f.endswith(".checkpoint.json")
        )

    def latest_version(self) -> int:
        vs = self.versions()
        if not vs:
            raise FileNotFoundError(f"no snapshot table at {self.path}")
        return vs[-1]

    def _read_manifest(self, v: int) -> dict:
        with open(self._version_path(v)) as f:
            return json.load(f)

    def _state_at(self, version: int) -> dict:
        """Replay the log (from the nearest checkpoint ≤ version) to the
        live state {files, schema, timestamp_ms} of ``version``."""
        start, files, schema = 0, set(), None
        if os.path.isdir(self.log_dir):
            ckpts = sorted(
                int(f.split(".")[0])
                for f in os.listdir(self.log_dir)
                if f.endswith(".checkpoint.json")
            )
            usable = [c for c in ckpts if c <= version]
            if usable:
                with open(self._checkpoint_path(usable[-1])) as f:
                    snap = json.load(f)
                start, files, schema = usable[-1] + 1, set(snap["files"]), snap["schema"]
        ts = None
        for v in range(start, version + 1):
            m = self._read_manifest(v)
            files -= set(m.get("remove", []))
            files |= set(m.get("add", []))
            if m.get("schema"):
                schema = m["schema"]
            ts = m["timestamp_ms"]
        return {"files": sorted(files), "schema": schema, "timestamp_ms": ts}

    def _commit(self, manifest: dict, version: int) -> int:
        """Commit ``manifest`` as exactly ``version`` — the version the
        caller derived from the state it READ. Re-listing here instead
        would let a racer's commit silently shift us to the next slot
        (lost update); with the version pinned, the exclusive link turns
        any intervening commit into a loud SnapshotConflict."""
        os.makedirs(self.log_dir, exist_ok=True)
        manifest = {"version": version, "timestamp_ms": int(time.time() * 1000), **manifest}
        # The complete manifest goes to a private temp file first (its
        # name does not end in .json, so versions() never lists it); a
        # crash mid-dump leaves at most that stray file, never a torn
        # version file.
        tmp = os.path.join(self.log_dir, f".{version}.{uuid.uuid4().hex}.tmp")
        try:
            with open(tmp, "w") as f:
                json.dump(manifest, f)
            # link() never replaces an existing name: exactly one writer
            # wins a version — the loser gets a clean conflict instead
            # of a clobbered log.
            os.link(tmp, self._version_path(version))
        except FileExistsError:
            raise SnapshotConflict(
                f"version {version} of {self.path} was committed concurrently"
            ) from None
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)
        if version % self.checkpoint_interval == 0 and version > 0:
            state = self._state_at(version)
            write_json(self._checkpoint_path(version), {"version": version, **state})
        return version

    # -- writes ------------------------------------------------------------

    def _write_files(self, df: DataFrame) -> tuple[list[str], str]:
        """Materialize ``df`` under an immutable per-commit UUID dir and
        return (relative file names, schema json). Files are invisible
        to readers until the manifest commits."""
        commit_dir = uuid.uuid4().hex
        out = os.path.join(self.path, _DATA, commit_dir)
        df.write.mode("errorifexists").parquet(out)
        rel = [
            f"{_DATA}/{commit_dir}/{f}"
            for f in os.listdir(out)
            if f.endswith(".parquet")
        ]
        return sorted(rel), df.schema.json()

    def write(self, df: DataFrame, mode: str = "append") -> int:
        """Commit ``df`` as a new table version.

        append    — adds files; new columns widen the table schema
                    (addNewColumns evolution, R4 — old files read NULL).
        overwrite — adds files, removes every currently-live file
                    (logically instant; bytes stay for time travel
                    until VACUUM).
        """
        if mode not in ("append", "overwrite"):
            raise ValueError(f"mode must be 'append'|'overwrite', got {mode!r}")
        vs = self.versions()
        if mode == "append" and vs:
            cur = self._state_at(vs[-1])
            table_cols = {f["name"] for f in json.loads(cur["schema"])["fields"]}
            merged_cols = list(json.loads(cur["schema"])["fields"])
            for fld in json.loads(df.schema.json())["fields"]:
                if fld["name"] not in table_cols:
                    merged_cols.append(fld)
            files, _ = self._write_files(df)
            schema = json.dumps({"type": "struct", "fields": merged_cols})
            return self._commit(
                {"operation": "append", "add": files, "remove": [], "schema": schema},
                version=vs[-1] + 1,
            )
        files, schema = self._write_files(df)
        remove = self._state_at(vs[-1])["files"] if vs else []
        return self._commit(
            {"operation": "overwrite" if vs else "create", "add": files,
             "remove": remove, "schema": schema},
            version=(vs[-1] + 1) if vs else 0,
        )

    # -- reads -------------------------------------------------------------

    def read(self, version: int | None = None, as_of_timestamp_ms: int | None = None) -> DataFrame:
        """Current snapshot, or time travel by version / timestamp
        (latest version committed at-or-before the timestamp — Delta's
        `TIMESTAMP AS OF` rule)."""
        if version is not None and as_of_timestamp_ms is not None:
            raise ValueError("pass version or as_of_timestamp_ms, not both")
        if as_of_timestamp_ms is not None:
            cands = [
                v for v in self.versions()
                if self._read_manifest(v)["timestamp_ms"] <= as_of_timestamp_ms
            ]
            if not cands:
                raise ValueError(
                    f"no version of {self.path} at or before timestamp {as_of_timestamp_ms}"
                )
            version = cands[-1]
        if version is None:
            version = self.latest_version()
        elif version not in self.versions():
            raise ValueError(f"version {version} does not exist for {self.path}")
        state = self._state_at(version)
        from pyspark.sql.types import StructType

        schema = StructType.fromJson(json.loads(state["schema"]))
        if not state["files"]:
            return self.spark.createDataFrame([], schema)
        paths = [os.path.join(self.path, f) for f in state["files"]]
        missing = [p for p in paths if not os.path.exists(p)]
        if missing:
            raise FileNotFoundError(
                f"version {version} of {self.path} references vacuumed files "
                f"(e.g. {missing[0]}); time travel past the retention window"
            )
        # Explicit schema (not inference) so appended-column evolution
        # reads NULL from pre-evolution files instead of failing.
        return self.spark.read.schema(schema).parquet(*paths)

    def history(self) -> list[dict]:
        """DESCRIBE HISTORY analog: one row per commit, newest first."""
        return [
            {
                k: m.get(k)
                for k in ("version", "timestamp_ms", "operation")
            } | {"num_added": len(m.get("add", [])), "num_removed": len(m.get("remove", []))}
            for m in (self._read_manifest(v) for v in reversed(self.versions()))
        ]

    # -- maintenance -------------------------------------------------------

    def optimize(
        self,
        target_file_bytes: int = 128 * 1024 * 1024,
        min_files: int = 2,
        zorder_by: list[str] | None = None,
    ) -> int | None:
        """Bin-pack small files into ~target-size files (OPTIMIZE /
        autoCompact analog). Only files below target size are rewritten;
        already-right-sized files are left untouched, so repeated
        OPTIMIZE is idempotent and the rewrite cost is proportional to
        the small-file backlog, not the table. Returns the new version,
        or None if there was nothing to compact.

        ``zorder_by`` is the OPTIMIZE ZORDER BY analog: the rewritten
        rows are Morton-clustered (`operators.layout.zorder_for_layout`)
        so every output file covers a small hyper-rectangle of the
        named columns and parquet footer min/max prune on ANY of them.
        With ``zorder_by``, ALL live files are rewritten (reclustering
        is global by definition), so it is not idempotent-cheap — run
        it on the maintenance cadence, not per commit."""
        cur_version = self.latest_version()
        state = self._state_at(cur_version)
        if zorder_by:
            rewrite = list(state["files"])
        else:
            rewrite = [
                f for f in state["files"]
                if os.path.getsize(os.path.join(self.path, f)) < target_file_bytes
            ]
        if len(rewrite) < min_files:
            return None
        total = sum(os.path.getsize(os.path.join(self.path, f)) for f in rewrite)
        n_out = max(1, round(total / target_file_bytes) or 1)
        from pyspark.sql.types import StructType

        schema = StructType.fromJson(json.loads(state["schema"]))
        df = self.spark.read.schema(schema).parquet(
            *[os.path.join(self.path, f) for f in rewrite]
        )
        if zorder_by:
            from ..operators.layout import zorder_for_layout

            out = zorder_for_layout(df, zorder_by, num_files=n_out)
        else:
            out = df.coalesce(n_out)
        files, _ = self._write_files(out)
        return self._commit(
            {"operation": "optimize", "add": files, "remove": rewrite, "schema": None},
            version=cur_version + 1,
        )

    def vacuum(self, retention: str | float = "interval 14 days", now_ms: int | None = None) -> list[str]:
        """Delete data files no longer referenced by the CURRENT version
        whose tombstone (the commit that removed them) is older than the
        retention window — `delta.deletedFileRetentionDuration` semantics
        (reference default `interval 14 days`, `databricks.yml:19-21`).
        Time travel to versions needing those files stops working, same
        as Delta. Returns the deleted file names."""
        retention_s = (
            parse_retention_interval(retention) if isinstance(retention, str) else float(retention)
        )
        now_ms = now_ms if now_ms is not None else int(time.time() * 1000)
        cutoff_ms = now_ms - retention_s * 1000
        live = set(self._state_at(self.latest_version())["files"])
        deletable: list[str] = []
        for v in self.versions():
            m = self._read_manifest(v)
            if m["timestamp_ms"] > cutoff_ms:
                continue
            deletable += [f for f in m.get("remove", []) if f not in live]
        deleted = []
        for f in sorted(set(deletable)):
            p = os.path.join(self.path, f)
            if os.path.exists(p):
                os.remove(p)
                deleted.append(f)
        # Drop now-empty per-commit dirs so the data dir doesn't grow
        # an unbounded husk of empty UUIDs.
        data_root = os.path.join(self.path, _DATA)
        if os.path.isdir(data_root):
            for d in os.listdir(data_root):
                full = os.path.join(data_root, d)
                if os.path.isdir(full) and not any(
                    n.endswith(".parquet") for n in os.listdir(full)
                ):
                    shutil.rmtree(full)
        return deleted

    # -- convenience -------------------------------------------------------

    def to_df(self) -> DataFrame:
        return self.read()

    def row_count_by_version(self) -> dict[int, int]:
        """Tiny helper for tests/inspection: rows at every version still
        fully readable (skips versions whose files were vacuumed)."""
        out = {}
        for v in self.versions():
            try:
                out[v] = self.read(version=v).count()
            except FileNotFoundError:
                continue
        return out
