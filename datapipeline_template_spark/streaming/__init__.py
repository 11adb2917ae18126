"""Streaming: event-time windows and the exactly-once incremental
maintainers (MinHash-LSH pairs, k-means assignment, SemDeDup marks,
the curation funnel, the IVF-PQ index and KMV sketches).

Every maintainer keeps its state under one ``store_path`` and builds
on ``store.BatchStore``, which fixes the store contract in one place:

- **Marker.** A batch is committed when an empty file named for its
  id exists in the store's marker directory (``store.COMMITS_DIR``).
  Creating it is the atomic commit point, and compaction never
  removes it.
- **``_batch`` layout.** Each dataset is a parquet directory with one
  ``_batch=<id>`` partition per batch, written by dynamic-partition
  overwrite. A replay of a batch rewrites its own partition instead
  of appending a duplicate, so a crash between the data write and the
  marker is repaired by the replay.
- **Parameter pin.** Parameters that decide what a batch lands are
  recorded once in a JSON file at the store root; a maintainer
  constructed with different values refuses the store. JSON state is
  written to a temp file and renamed into place, so a crash mid-write
  never leaves a truncated file.
- **Replay short-circuit.** ``process_batch`` returns at once for a
  committed batch, so at-least-once ``foreachBatch`` delivery folds
  each batch in exactly once; ``run_available_now`` drains pending
  input through it.
- **Reads.** A dataset that is absent reads as a typed empty frame;
  a dataset that is present but corrupt raises.
"""
