"""Streaming maintenance of BUCKETED silver tables — the incremental
form of q52's join-locality layout (operators/layout.py
write_bucketed / bucketed_fact_join), the 23rd incremental family.

The point of bucketed silver is that every downstream equi-join on the
bucket key runs with ZERO Exchange; the point of THIS maintainer is
that the property survives a growing corpus without ever rewriting the
table. Each drained batch lands in its own ``_batch`` directory
partition of ONE catalog table whose bucket spec (key, n_buckets) is
fixed at creation — Spark's bucketing is table-level, so a
multi-partition bucketed table still reports hash-partitioned output
and the sort-merge join over two maintained tables stays shuffle-free
at ANY drain point (test-pinned by plan inspection). Appends cost one
batch-sized bucket-clustered write; the corpus is never touched.

Batches write via static ``INSERT OVERWRITE … PARTITION (_batch=N)``
— the catalog-table form of the ``_batch`` overwrite — so a replay of
the same batch REWRITES the same partition with identical rows, even
without the marker.

Parameter guard: (key, n_buckets, columns) pinned in store metadata —
two tables joined shuffle-free must share bucket count and key
hashing, and a drifted batch schema must refuse rather than corrupt
the layout.

Catalog note: the table lives in the session catalog (Derby metastore
in cwd + spark-warehouse), like q52's tables. The parquet data and
the metastore both persist across processes started from the same
working directory; a FRESH metastore pointed at an existing warehouse
cannot adopt the orphaned table — re-bootstrap the store in that case
(the write_bucketed stale-location rule applies to CREATION only,
never to a maintained table's data).

Reference anchor: the reference's Liquid-Clustering layout story
(`02_silver_processing.py:148`) maintained by its streaming runtime;
this family is that maintenance re-expressed for OSS bucket layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .store import BatchStore

__all__ = ["IncrementalBucketedSilver"]


class IncrementalBucketedSilver(BatchStore):
    """Maintains one hash-bucketed, batch-partitioned silver table;
    shuffle-free joins against any co-bucketed peer on demand."""

    def __init__(
        self,
        store_path: str,
        table_name: str,
        key_col: str,
        n_buckets: int = 8,
    ) -> None:
        if n_buckets < 1:
            raise ValueError("n_buckets must be >= 1")
        if not table_name.replace("_", "").isalnum():
            raise ValueError(f"unsafe table name {table_name!r}")
        self.store_path = store_path
        self.table_name = table_name
        self.key_col = key_col
        self.n_buckets = n_buckets
        self._pin(
            "bucketed_meta.json",
            {"table_name": table_name, "key_col": key_col, "n_buckets": n_buckets},
            "a bucketed table's key and bucket count are fixed at creation "
            "(shuffle-free joins depend on them); rebuild into a fresh "
            "store to change the layout",
        )

    def _land(self, batch: DataFrame, batch_id: int) -> None:
        """Land the batch in its own ``_batch`` partition of the
        bucketed table. First batch creates the table (pinning the
        column set in meta); later batches static-partition-overwrite
        their slot."""
        if self.key_col not in batch.columns:
            raise ValueError(
                f"batch lacks bucket key {self.key_col!r}: {batch.columns}"
            )
        spark = batch.sparkSession
        meta = self._load_json("bucketed_meta.json")
        cols = meta.get("columns")
        if cols is None:
            meta["columns"] = cols = list(batch.columns)
            self._dump_json("bucketed_meta.json", meta)
        elif list(batch.columns) != cols:
            raise ValueError(
                f"batch columns {batch.columns} != table columns {cols} — "
                "schema drift would corrupt the bucketed layout; migrate "
                "into a fresh store"
            )
        # One batch-sized cluster shuffle keeps one file per bucket per
        # batch partition (the write_bucketed rule).
        clustered = batch.repartition(self.n_buckets, F.col(self.key_col))
        if not spark.catalog.tableExists(self.table_name):
            (
                clustered.withColumn("_batch", F.lit(int(batch_id)))
                .write.mode("overwrite")
                .format("parquet")
                .partitionBy("_batch")
                .bucketBy(self.n_buckets, self.key_col)
                .sortBy(self.key_col)
                .saveAsTable(self.table_name)
            )
        else:
            view = f"_ibs_{self.table_name}_{int(batch_id)}"
            clustered.createOrReplaceTempView(view)
            col_list = ", ".join(f"`{c}`" for c in cols)
            spark.sql(
                f"INSERT OVERWRITE TABLE {self.table_name} "
                f"PARTITION (_batch={int(batch_id)}) "
                f"SELECT {col_list} FROM {view}"
            )
            spark.catalog.dropTempView(view)

    def _after_commit(self, spark: SparkSession) -> None:
        # Auto-compaction policy hook. The silver's partitions live in
        # the warehouse, not under store_path, so the due-check is the
        # catalog's own partition listing (a driver-side metastore op,
        # bounded by partition count) gated behind the policy-file
        # existence probe; only the partition-count knob applies to
        # catalog tables.
        from .compaction import get_auto_compact_policy

        pol = get_auto_compact_policy(self.store_path)
        if pol is not None and pol.get("max_batches") is not None:
            n_parts = sum(
                1
                for r in spark.sql(
                    f"SHOW PARTITIONS {self.table_name}"
                ).collect()
                if not r[0].endswith("=-1")
            )
            if n_parts >= pol["max_batches"]:
                from .compaction import _bump_compaction_counter

                self.compact(spark)
                _bump_compaction_counter(self.store_path)

    # -- reads -------------------------------------------------------------

    def compact(self, spark: SparkSession) -> bool:
        """Fold all committed ``_batch`` partitions into the
        ``_batch=-1`` base partition of the SAME catalog table —
        table-level bucket spec (and with it the shuffle-free join)
        survives by construction. See
        streaming/compaction.py compact_bucketed_silver."""
        from .compaction import compact_bucketed_silver

        return compact_bucketed_silver(spark, self)

    def table(self, spark: SparkSession) -> DataFrame:
        """The maintained silver as a DataFrame (``_batch`` dropped) —
        scan output is hash-partitioned on the bucket key, so joins
        against a co-bucketed peer need no Exchange.

        Serves reads only after finishing any compaction a crash left
        mid-protocol: the post-insert/pre-drop window would otherwise
        silently expose every folded row twice until the next explicit
        ``compact()`` (one ``os.path.exists`` on the clean path)."""
        from .compaction import resume_bucketed_compaction

        resume_bucketed_compaction(spark, self)
        return spark.table(self.table_name).drop("_batch")

    def join(
        self, spark: SparkSession, other: "IncrementalBucketedSilver"
    ) -> DataFrame:
        """Sort-merge join of two maintained tables on their bucket
        keys — shuffle-free by layout (plan-pinned in tests). Refuses
        mismatched bucket counts up front: co-partitioning is only
        real when both sides hash into the same grid."""
        if other.n_buckets != self.n_buckets:
            raise ValueError(
                f"bucket counts differ ({self.n_buckets} vs "
                f"{other.n_buckets}) — the join would re-shuffle"
            )
        # Qualified key references: two silvers bucketed on the same
        # column name (the natural co-bucketed case) would otherwise
        # make the unqualified condition ambiguous.
        return (
            self.table(spark)
            .alias("l")
            .hint("merge")
            .join(
                other.table(spark).alias("r"),
                F.col(f"l.{self.key_col}") == F.col(f"r.{other.key_col}"),
            )
        )
