"""Streaming-store compaction — folds the per-drain ``_batch=N``
partitions every incremental family accumulates into ONE base
partition, idempotently and crash-safely.

Why this exists: every maintainer in this package lands one
``_batch=<id>`` directory partition per drained micro-batch and never
touches it again (the replay-idempotence discipline). That is correct
but unbounded — at 100 TB with hourly drains a year-old store carries
thousands of small partitions and files, and every read pays an
O(history) listing + open cost for state whose MERGED size is bounded
(sketches, counts, survivor sets). This module is the engine-side
analog of the auto-compaction the reference configures on its tables
(`01_bronze_ingestion.py:79-83` ``delta.autoOptimize.*``), applied to
the engine's own maintained state.

Semantics contract: compaction is valid for exactly the datasets the
families write — ``_batch``-partitioned parquet whose read side treats
partitions as a BAG (drops ``_batch`` and merges). Folding committed
partitions into one ``_batch=-1`` base partition is then
read-invariant by construction (equivalence-tested per family).
Datasets partitioned by anything else or not partitioned at all are
intentionally invisible to discovery — they maintain bounded layouts
already.

Replay safety: the commit markers (``streaming/store.py``) are NEVER
removed, so a ``foreachBatch`` replay of a folded batch still
short-circuits at the marker — compaction cannot reintroduce the
at-least-once double-land.
UNCOMMITTED partitions (crash-after-write-before-marker remnants) are
excluded from the fold and carried over unchanged: their replay will
dynamic-overwrite them with identical rows exactly as before.

Crash safety: a per-dataset journal makes the swap a two-phase
commit on the local filesystem —

  A. write folded rows to ``<ds>.__compacting`` (new base partition)
  B. journal ``{fold: [...]}``            <- the commit point
  C. move each non-folded ``_batch=*`` dir into the staged copy
  D. ``<ds>`` -> ``<ds>.__old``
  E. ``<ds>.__compacting`` -> ``<ds>``
  F. delete ``<ds>.__old`` + journal

``recover_dataset`` finishes (post-B) or discards (pre-B) an
interrupted run; every phase is re-runnable because renames are
atomic per directory and the staged copy is complete before B. The
fault-injection hook ``crash_after=`` exists for the crash-window
tests only. Single-writer discipline: like ``process_batch`` itself,
compaction assumes no concurrent drain of the same store (the
maintenance step runs between triggers).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .store import COMMITS_DIR, read_json, write_json

__all__ = [
    "BASE_BATCH",
    "compact_store",
    "compact_dataset",
    "recover_store",
    "recover_dataset",
    "discover_stores",
    "discover_datasets",
    "dataset_present",
    "set_auto_compact_policy",
    "get_auto_compact_policy",
    "auto_compact_due",
    "maybe_auto_compact",
]

# Reserved base-partition id. Real drains use non-negative
# StreamingQuery batch ids, so -1 can never collide with a marker.
BASE_BATCH = -1

_STAGE_SUFFIX = ".__compacting"
_OLD_SUFFIX = ".__old"
_JOURNAL_SUFFIX = ".__compact_journal.json"


def _batch_dirs(ds: str) -> dict[int, str]:
    """Map of batch id -> partition dir name under a dataset dir."""
    out: dict[int, str] = {}
    if not os.path.isdir(ds):
        return out
    for name in os.listdir(ds):
        if name.startswith("_batch=") and os.path.isdir(os.path.join(ds, name)):
            out[int(name.split("=", 1)[1])] = name
    return out


def _committed_ids(store_root: str) -> set[int]:
    commits = os.path.join(store_root, COMMITS_DIR)
    if not os.path.isdir(commits):
        return set()
    return {int(n) for n in os.listdir(commits) if n.lstrip("-").isdigit()}


def discover_stores(path: str) -> list[str]:
    """Every directory under ``path`` (inclusive) holding a commit
    marker dir — one entry per (possibly nested)
    maintainer, so a composite store (StreamingCuration) compacts its
    members in one call."""
    roots = []
    for dirpath, dirnames, _ in os.walk(path):
        if COMMITS_DIR in dirnames:
            roots.append(dirpath)
        # Never descend into staging/backup dirs mid-recovery.
        dirnames[:] = [
            d
            for d in dirnames
            if not d.endswith((_STAGE_SUFFIX, _OLD_SUFFIX))
        ]
    return sorted(roots)


def discover_datasets(store_root: str) -> list[str]:
    """Direct child dirs of a store root that are ``_batch``-partitioned
    parquet datasets. Anything partitioned otherwise (or unpartitioned
    artifacts like weights tables) is not compaction's business."""
    out = []
    for name in sorted(os.listdir(store_root)):
        if name == COMMITS_DIR or name.endswith((_STAGE_SUFFIX, _OLD_SUFFIX)):
            continue
        child = os.path.join(store_root, name)
        if os.path.isdir(child) and _batch_dirs(child):
            out.append(child)
    return out


def _journal_path(ds: str) -> str:
    return ds.rstrip("/") + _JOURNAL_SUFFIX


def _read_journal(ds: str) -> dict | None:
    jp = _journal_path(ds)
    if not os.path.exists(jp):
        return None
    return read_json(jp)


def _finish_swap(ds: str, fold_ids: set[int], stop_after: str | None = None) -> None:
    """Phases C-F, re-runnable from any interruption point.
    ``stop_after`` ('moved' | 'renamed_old') is the test-only
    fault-injection hook — the crash tests exercise THIS protocol, not
    a parallel copy of it."""
    stage, old = ds + _STAGE_SUFFIX, ds + _OLD_SUFFIX
    if os.path.isdir(ds) and os.path.isdir(stage):
        for bid, name in _batch_dirs(ds).items():
            if bid not in fold_ids and not os.path.isdir(
                os.path.join(stage, name)
            ):
                os.rename(os.path.join(ds, name), os.path.join(stage, name))
        if stop_after == "moved":
            return
        os.rename(ds, old)
        if stop_after == "renamed_old":
            return
    if os.path.isdir(stage):
        os.rename(stage, ds)
    if os.path.isdir(old):
        shutil.rmtree(old)
    os.remove(_journal_path(ds))


def recover_dataset(ds: str) -> None:
    """Finish (journaled) or discard (pre-journal) an interrupted
    compaction of one dataset. Safe to call any time the writer owns
    the store; a no-op on a clean dataset."""
    journal = _read_journal(ds)
    stage = ds + _STAGE_SUFFIX
    if journal is None:
        # Crash before the commit point: the staged copy (if any) was
        # never made authoritative — discard it; nothing was moved.
        if os.path.isdir(stage):
            shutil.rmtree(stage)
        return
    _finish_swap(ds, set(journal["fold"]))


def dataset_present(ds: str) -> bool:
    """Read-side guard every store read helper calls before treating a
    missing dataset dir as legitimately-empty state.

    Between swap phases D and E the dataset dir does not exist at all
    (it is ``<ds>.__old`` while the stage waits to be renamed in), and
    during phase C it exists but is missing the partitions already
    moved to the stage. A reader that only checks ``isdir`` would
    silently serve an EMPTY (or partial) store in that crash window
    until someone explicitly ran recovery. The fix is to finish the
    interrupted swap here: if a journal, stage, or backup sibling
    exists, run ``recover_dataset`` (cheap local renames — the staged
    copy is complete once the journal exists) and only then answer
    whether the dataset is present. On a clean dataset this costs two
    ``os.path`` probes.
    """
    if (
        os.path.exists(_journal_path(ds))
        or os.path.isdir(ds + _STAGE_SUFFIX)
        or os.path.isdir(ds + _OLD_SUFFIX)
    ):
        recover_dataset(ds)
    return os.path.isdir(ds)


def recover_store(store_path: str) -> None:
    for root in discover_stores(store_path):
        for ds in discover_datasets(root):
            recover_dataset(ds)
        # A dataset renamed away mid-swap (between D and E) has no ds
        # dir for discovery to find — look for orphan journals too.
        for name in os.listdir(root):
            if name.endswith(_JOURNAL_SUFFIX):
                recover_dataset(
                    os.path.join(root, name[: -len(_JOURNAL_SUFFIX)])
                )


# Base-partition sizing: one output file per this many bytes of
# folded input (parquet-compressed on disk). 128 MB matches the scan
# split size, so a compacted base reads with full parallelism instead
# of funneling a year of history through one task and one file.
_TARGET_FILE_BYTES = 128 * 1024 * 1024


def _fold_bytes(ds: str, fold_ids: set[int], names: dict[int, str]) -> int:
    total = 0
    for bid in fold_ids:
        part = os.path.join(ds, names[bid])
        for dirpath, _, files in os.walk(part):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(dirpath, f))
                except OSError:
                    pass
    return total


def compact_dataset(
    spark: SparkSession,
    ds: str,
    committed: set[int],
    fold=None,
    target_files: int | None = None,
    crash_after: str | None = None,
) -> bool:
    """Fold the committed ``_batch`` partitions of one dataset (plus
    any existing base) into a fresh ``_batch=-1`` base partition.
    Returns True if a fold happened. ``fold`` optionally reduces the
    folded rows (e.g. one merged sketch row per group) — it must
    preserve the dataset's schema and its read-side merge semantics;
    identity (pure re-bagging) is always valid. ``target_files``
    defaults to SIZE-AWARE: one file per ~128 MB of folded input
    (sketch stores compact to one file; a large identity-folded store
    keeps scan parallelism instead of funneling through one task).
    ``crash_after`` is the test-only fault-injection hook
    ('stage' | 'journal' | 'moved' | 'renamed_old')."""
    recover_dataset(ds)
    present = _batch_dirs(ds)
    fold_ids = {b for b in present if b in committed or b == BASE_BATCH}
    # Nothing to gain: zero or one foldable partition and no pending
    # history means the dataset is already in base form.
    if len(fold_ids) <= 1:
        return False

    stage = ds + _STAGE_SUFFIX
    if os.path.isdir(stage):
        shutil.rmtree(stage)

    if target_files is None:
        target_files = 1 + _fold_bytes(ds, fold_ids, present) // _TARGET_FILE_BYTES

    folded = (
        spark.read.parquet(ds)
        .where(F.col("_batch").isin([int(b) for b in fold_ids]))
        .drop("_batch")
    )
    if fold is not None:
        in_schema = [(f.name, f.dataType) for f in folded.schema.fields]
        folded = fold(folded)
        out_schema = [(f.name, f.dataType) for f in folded.schema.fields]
        if out_schema != in_schema:
            # compact_store keys folds by dataset BASENAME; a composite
            # store with two same-named datasets of different schemas
            # would silently get the wrong fold applied to one of them.
            # A fold must preserve the dataset's schema (it only merges
            # rows), so a mismatch here means the mapping mis-keyed —
            # fail loudly before anything is staged. (Nullability is
            # intentionally ignored: aggregates legitimately flip it.)
            raise ValueError(
                f"compaction fold for {ds} changed the schema: "
                f"{in_schema} -> {out_schema} — folds must preserve "
                "the dataset schema; check the folds= mapping keys"
            )
    (
        folded.coalesce(max(1, int(target_files)))
        .withColumn("_batch", F.lit(BASE_BATCH).cast("int"))
        .write.mode("overwrite")
        .partitionBy("_batch")
        .parquet(stage)
    )
    if crash_after == "stage":
        return True
    # Atomic journal land: a torn write must read as "no journal"
    # (pre-commit), never as a corrupt commit record.
    write_json(_journal_path(ds), {"fold": sorted(int(b) for b in fold_ids)})
    if crash_after == "journal":
        return True
    # Phases C..F — one protocol; crash points injected into it.
    _finish_swap(ds, fold_ids, stop_after=crash_after)
    return True


def compact_store(
    spark: SparkSession,
    store_path: str,
    folds: dict[str, object] | None = None,
    target_files: int | None = None,
) -> dict[str, bool]:
    """Compact every ``_batch``-partitioned dataset of every maintainer
    under ``store_path`` (composites recurse). ``folds`` optionally
    maps dataset BASENAMES (e.g. ``"partials"``) to reduce functions.
    Returns {dataset path: folded?} for observability."""
    recover_store(store_path)
    report: dict[str, bool] = {}
    for root in discover_stores(store_path):
        committed = _committed_ids(root)
        for ds in discover_datasets(root):
            fold = (folds or {}).get(os.path.basename(ds))
            report[ds] = compact_dataset(
                spark, ds, committed, fold=fold, target_files=target_files
            )
    return report


# -- auto-compaction policy ---------------------------------------------------
#
# The reference expresses compaction as a *policy*, not a manual call
# (`delta.autoOptimize.autoCompact`, `01_bronze_ingestion.py:80-81`);
# until round 13 the engine's compact() only fired when a caller
# invoked it. The policy lives in ONE sidecar file at the store root
# (never inside the families' frozen parameter meta — policy is
# tunable, sketch parameters are not), and every maintainer checks it
# at the end of ``process_batch`` via ``maybe_auto_compact``. The check
# is cheap by construction: one os.path.exists on policy-less stores
# (the default), and a directory listing + file-size walk only when a
# policy is set.

_POLICY_FILE = "auto_compact.json"


def _policy_path(store_path: str) -> str:
    return os.path.join(store_path, _POLICY_FILE)


def get_auto_compact_policy(store_path: str) -> dict | None:
    p = _policy_path(store_path)
    if not os.path.exists(p):
        return None
    return read_json(p)


def set_auto_compact_policy(
    store_path: str,
    max_batches: int | None = None,
    max_ratio_milli: int | None = None,
) -> None:
    """Install (or, with both knobs None, remove) the store's
    auto-compaction policy. ``max_batches``: compact when any dataset
    holds at least this many committed non-base ``_batch`` partitions.
    ``max_ratio_milli``: compact when a dataset's committed batch-
    partition bytes reach this many thousandths of its base-partition
    bytes (1000 = batch history as large as the base; a store with no
    base yet trips this knob as soon as two foldable partitions
    exist). Either knob alone is valid; both set means OR."""
    p = _policy_path(store_path)
    if max_batches is None and max_ratio_milli is None:
        if os.path.exists(p):
            os.remove(p)
        return
    if max_batches is not None and int(max_batches) < 2:
        raise ValueError("max_batches must be >= 2 (a single committed "
                         "partition has nothing to fold)")
    if max_ratio_milli is not None and int(max_ratio_milli) < 1:
        raise ValueError("max_ratio_milli must be >= 1")
    prev = get_auto_compact_policy(store_path) or {}
    pol = {
        "max_batches": None if max_batches is None else int(max_batches),
        "max_ratio_milli": (
            None if max_ratio_milli is None else int(max_ratio_milli)
        ),
        "n_compactions": int(prev.get("n_compactions", 0)),
    }
    os.makedirs(store_path, exist_ok=True)
    write_json(p, pol)


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


def auto_compact_due(store_path: str) -> bool:
    """True when the store's policy says it is time to compact: any
    ``_batch``-partitioned dataset of any nested maintainer trips the
    partition-count or size-ratio knob. No policy file → False at the
    cost of one ``os.path.exists``."""
    pol = get_auto_compact_policy(store_path)
    if pol is None:
        return False
    max_batches = pol.get("max_batches")
    max_ratio = pol.get("max_ratio_milli")
    for root in discover_stores(store_path):
        committed = _committed_ids(root)
        for ds in discover_datasets(root):
            parts = _batch_dirs(ds)
            foldable = [
                b for b in parts if b in committed and b != BASE_BATCH
            ]
            # compact_dataset needs >= 2 fold members to act; with no
            # base, two committed batches are the minimum fold.
            n_members = len(foldable) + (1 if BASE_BATCH in parts else 0)
            if n_members < 2 or not foldable:
                continue
            if max_batches is not None and len(foldable) >= max_batches:
                return True
            if max_ratio is not None:
                base_b = (
                    _dir_bytes(os.path.join(ds, parts[BASE_BATCH]))
                    if BASE_BATCH in parts
                    else 0
                )
                batch_b = sum(
                    _dir_bytes(os.path.join(ds, parts[b])) for b in foldable
                )
                if batch_b > 0 and batch_b * 1000 >= max_ratio * base_b:
                    return True
    return False


def maybe_auto_compact(store_path: str, compact_fn) -> bool:
    """The ``process_batch``-tail hook every maintainer calls:
    ``compact_fn`` is the family's own ``compact()`` bound with its
    folds, invoked only when the policy is due. Replayed (already-
    committed) batches never reach this hook — they short-circuit at
    the marker — so replays stay no-ops regardless of policy. The
    policy file's ``n_compactions`` counter is advisory
    observability (single-writer, bumped after the compaction
    lands)."""
    if not auto_compact_due(store_path):
        return False
    compact_fn()
    _bump_compaction_counter(store_path)
    return True


def _bump_compaction_counter(store_path: str) -> None:
    pol = get_auto_compact_policy(store_path)
    if pol is not None:
        pol["n_compactions"] = int(pol.get("n_compactions", 0)) + 1
        write_json(_policy_path(store_path), pol)
