"""``BatchStore``: the one base every incremental maintainer in this
package builds on. It owns the store layout and replay discipline the
package docstring describes — commit markers, the ``_batch=<id>``
dataset write, the write-once parameter pin, the AvailableNow drive
and the typed reads — so a family only says what a batch lands and
how its reads merge.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = ["BatchStore", "COMMITS_DIR", "read_json", "write_json"]

# Committed-batch markers: an empty file at <store>/_commits/<batch id>.
COMMITS_DIR = "_commits"

_BATCH = T.StructField("_batch", T.IntegerType())


def read_json(path: str):
    with open(path) as f:
        return json.load(f)


def write_json(path: str, obj) -> None:
    """Dump ``obj`` to a sibling temp file, then ``os.replace`` it over
    ``path``: a crash mid-dump leaves a stray ``.tmp``, never a
    truncated file that would refuse every later reader."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def _short(value) -> str:
    text = repr(value)
    return text if len(text) <= 200 else text[:200] + "..."


class BatchStore:
    """Base of the streaming maintainers. Subclasses set
    ``self.store_path`` and implement ``_land``; ``process_batch`` and
    ``run_available_now`` are the public drive."""

    store_path: str

    # -- commit markers ----------------------------------------------------

    def _marker(self, batch_id: int) -> str:
        return os.path.join(self.store_path, COMMITS_DIR, str(batch_id))

    def _committed(self, batch_id: int) -> bool:
        return os.path.exists(self._marker(batch_id))

    def _commit(self, batch_id: int) -> None:
        # Creating the empty marker is the atomic commit point.
        marker = self._marker(batch_id)
        os.makedirs(os.path.dirname(marker), exist_ok=True)
        open(marker, "w").close()

    # -- foreachBatch body and drive ---------------------------------------

    def process_batch(self, batch: DataFrame, batch_id: int = 0) -> None:
        """The ``foreachBatch`` body: a committed batch is a no-op;
        otherwise land it, commit its marker, then run the
        post-commit hook (which a replay therefore never reaches)."""
        if self._committed(batch_id):
            return
        self._land(batch, int(batch_id))
        self._commit(batch_id)
        self._after_commit(batch.sparkSession)

    def _land(self, batch: DataFrame, batch_id: int) -> None:
        raise NotImplementedError

    def _after_commit(self, spark: SparkSession) -> None:
        """Post-commit hook; the auto-compacting families check their
        compaction policy here."""

    def run_available_now(self, stream_df: DataFrame, checkpoint: str) -> None:
        """Drain all pending input (AvailableNow, R21) through
        ``process_batch``."""
        q = (
            stream_df.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # -- JSON state and the parameter pin ----------------------------------

    def _load_json(self, name: str):
        return read_json(os.path.join(self.store_path, name))

    def _dump_json(self, name: str, obj) -> None:
        os.makedirs(self.store_path, exist_ok=True)
        write_json(os.path.join(self.store_path, name), obj)

    def _pin(self, name: str, params, why: str) -> None:
        """Record ``params`` in ``name`` on first use of the store; later
        maintainers must present the same values or refuse. A dict pin
        compares only its own keys, so a family may add fields to the
        file later (the bucketed silver's column list)."""
        if not os.path.exists(os.path.join(self.store_path, name)):
            self._dump_json(name, params)
            return
        stored = self._load_json(name)
        seen = (
            {k: stored.get(k) for k in params}
            if isinstance(params, dict)
            else stored
        )
        if seen != params:
            raise ValueError(
                f"store at {self.store_path} was built with {_short(stored)}; "
                f"got {_short(params)} — {why}"
            )

    # -- datasets ----------------------------------------------------------

    def _path(self, name: str) -> str:
        return os.path.join(self.store_path, name)

    @staticmethod
    def _write(df: DataFrame, ds: str, batch_id: int) -> None:
        """Land ``df`` as the ``_batch=<id>`` partition of dataset
        ``ds`` by dynamic-partition overwrite: a replay rewrites the
        same partition instead of appending a duplicate."""
        df.withColumn("_batch", F.lit(int(batch_id))).write.mode(
            "overwrite"
        ).option("partitionOverwriteMode", "dynamic").partitionBy(
            "_batch"
        ).parquet(ds)

    @staticmethod
    def _read_batches(
        spark: SparkSession, ds: str, schema: T.StructType | str | None = None
    ) -> DataFrame:
        """Every landed row of dataset ``ds``. With a schema, an absent
        dataset (per ``compaction.dataset_present``, which first
        finishes any interrupted compaction swap) reads as a typed
        empty frame; any other read error, such as a corrupt file,
        raises. ``_batch`` is dropped unless the schema names it.
        Without a schema the store's own types are inferred, so an
        absent dataset raises too."""
        from .compaction import dataset_present

        present = dataset_present(ds)
        if schema is None:
            return spark.read.parquet(ds).drop("_batch")
        if isinstance(schema, str):
            schema = T._parse_datatype_string(schema)
        if not present:
            return spark.createDataFrame([], schema)
        if "_batch" in schema.fieldNames():
            return spark.read.schema(schema).parquet(ds)
        return (
            spark.read.schema(T.StructType(schema.fields + [_BATCH]))
            .parquet(ds)
            .drop("_batch")
        )

    @classmethod
    def _read_prior(
        cls, spark: SparkSession, ds: str, batch_id: int, schema: T.StructType
    ) -> DataFrame:
        """Rows every OTHER batch landed in ``ds``: a crash-after-write
        replay must not treat its own half-committed rows as corpus."""
        return (
            cls._read_batches(spark, ds, T.StructType(schema.fields + [_BATCH]))
            .where(F.col("_batch") != F.lit(int(batch_id)))
            .drop("_batch")
        )

    @staticmethod
    def _has_files(ds: str) -> bool:
        """True when ``ds`` holds at least one parquet file — the gate
        for reads that infer the store's own types (a caller-chosen id
        type). An empty batch's overwrite leaves a directory with no
        files, which schema inference cannot read."""
        from .compaction import dataset_present

        if not dataset_present(ds):
            return False
        return any(
            f.endswith(".parquet") for _, _, files in os.walk(ds) for f in files
        )
