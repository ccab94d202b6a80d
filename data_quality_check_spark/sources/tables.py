"""Table IO layer — Iceberg-first with a layout-compatible Parquet fallback.

The north-star job reads and writes Iceberg tables partitioned by
`bucket(B, image_id)`. The sandbox has no Iceberg runtime jar, so `TableIO`
exposes ONE api with two backends:

  * Iceberg (when `session.iceberg_available()`): `df.writeTo(cat.name)
    .partitionedBy(bucket(B, col))` — real hidden partitioning, snapshot
    commits, partition-pruned reads.
  * Parquet fallback: an explicit `_bucket = pmod(hash(col), B)` column +
    `partitionBy("_bucket")` directory layout — the same physical data layout
    (hash-bucketed files) minus the catalog metadata, so every partition-
    pruning and resume test exercises the identical pruning behavior.

Either way, readers of a bucketed table can prune to a bucket list before any
scan work, which is what checkpoint-resume needs.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, functions as F

from data_quality_check_spark.session import iceberg_available


class TableIO:
    """Read/write named tables with explicit (bucket) partitioning."""

    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        catalog: str = "local",
        backend: str = "auto",
    ) -> None:
        """`backend="auto"` uses Iceberg when the session has it, else the
        parquet layout. Pass `backend="parquet"` to FORCE the path-based
        layout even when Iceberg is available: the Iceberg catalog's
        warehouse is fixed at session build, so a TableIO whose `warehouse`
        is a caller-chosen path (per-fingerprint scratch, mktemp test dirs)
        must not silently route through the shared catalog — names would
        collide across fingerprints and `warehouse` would never be read."""
        if backend not in ("auto", "parquet"):
            raise ValueError(f"unknown TableIO backend: {backend!r}")
        self.spark = spark
        self.warehouse = warehouse
        self.catalog = catalog
        self.use_iceberg = backend == "auto" and iceberg_available()

    # ---------- naming ----------

    def _ident(self, name: str) -> str:
        return f"{self.catalog}.{name}"

    def _path(self, name: str) -> str:
        return os.path.join(self.warehouse, *name.split("."))

    # ---------- writes ----------

    def write_bucketed(
        self,
        df: DataFrame,
        name: str,
        bucket_col: str,
        num_buckets: int,
        mode: str = "overwrite",
    ) -> None:
        """Write `df` partitioned into `num_buckets` hash buckets of `bucket_col`."""
        if self.use_iceberg:
            writer = df.writeTo(self._ident(name)).partitionedBy(
                F.bucket(num_buckets, F.col(bucket_col))
            )
            if mode == "overwrite":
                writer.createOrReplace()
            else:
                writer.append()
            return
        out = df.withColumn(
            "_bucket", F.pmod(F.xxhash64(F.col(bucket_col)), F.lit(num_buckets)).cast("int")
        )
        w = out.repartition(F.col("_bucket")).write.mode(mode).partitionBy("_bucket")
        if mode == "overwrite":
            # whole-TABLE replace, not a partition patch: under a session
            # whose partitionOverwriteMode is dynamic, a plain overwrite
            # would keep buckets absent from `df` — e.g. a compaction
            # that absorbed a bucket's every row would leave its stale files
            w = w.option("partitionOverwriteMode", "static")
        w.parquet(self._path(name))

    def append(
        self,
        df: DataFrame,
        name: str,
        bucket_col: str | None = None,
        num_buckets: int | None = None,
        partition_by: list[str] | None = None,
    ) -> None:
        """Append rows. On Iceberg the table's partition spec applies to
        appends automatically (hidden partitioning). The parquet fallback has
        no spec to consult, so appending into a bucketed layout REQUIRES
        (bucket_col, num_buckets), and appending into a column-partitioned
        layout (written via `overwrite(partition_by=...)`) requires the same
        `partition_by`: without them the new files would land unpartitioned in
        the table root — partition discovery then either fails or reads the
        rows with NULL keys, and every pruned read would silently exclude
        them."""
        if partition_by and (bucket_col or num_buckets):
            raise ValueError("pass either partition_by or bucket args, not both")
        if self.use_iceberg:
            df.writeTo(self._ident(name)).append()
            return
        if partition_by:
            df.write.mode("append").partitionBy(*partition_by).parquet(
                self._path(name)
            )
            return
        path = self._path(name)
        bucketed_layout = os.path.isdir(path) and any(
            e.startswith("_bucket=") for e in os.listdir(path)
        )
        if bucketed_layout:
            if bucket_col is None or num_buckets is None:
                raise ValueError(
                    f"table '{name}' has a bucketed layout; pass bucket_col and "
                    "num_buckets so appended rows land in their partitions"
                )
            out = df.withColumn(
                "_bucket",
                F.pmod(F.xxhash64(F.col(bucket_col)), F.lit(num_buckets)).cast("int"),
            )
            out.write.mode("append").partitionBy("_bucket").parquet(path)
            return
        df.write.mode("append").parquet(path)

    def overwrite(self, df: DataFrame, name: str, partition_by: list[str] | None = None) -> None:
        if self.use_iceberg:
            w = df.writeTo(self._ident(name))
            if partition_by:
                w = w.partitionedBy(*[F.col(c) for c in partition_by])
            w.createOrReplace()
            return
        w = df.write.mode("overwrite")
        if partition_by:
            # whole-table replace (see write_bucketed): never let the session's
            # dynamic partitionOverwriteMode turn this into a partition patch
            w = w.partitionBy(*partition_by).option("partitionOverwriteMode", "static")
        w.parquet(self._path(name))

    # ---------- reads ----------

    def read(self, name: str) -> DataFrame:
        if self.use_iceberg:
            return self.spark.table(self._ident(name))
        return self.spark.read.parquet(self._path(name))

    def read_buckets(
        self, name: str, bucket_col: str, num_buckets: int, buckets: list[int]
    ) -> DataFrame:
        """Scan restricted to a bucket list — partition pruning on both backends.

        Iceberg: the predicate is the catalog-registered `system.bucket`
        FUNCTION (the same murmur3 transform the table was partitioned by), so
        the planner maps it onto the hidden bucket partitions and prunes
        before any scan work. A Spark-side hash expression (the previous
        xxhash64 construction) would be doubly wrong here: xxhash64 is not
        Iceberg's bucket function, and an opaque expression can never prune —
        each call would full-scan the table.

        Parquet fallback: prunes `_bucket=` directories from the pushed-down
        isin filter (visible as PartitionFilters in `.explain`).
        """
        df = self.read(name)
        if self.use_iceberg:
            col = bucket_col.replace("`", "``")
            pred = F.expr(
                f"{self.catalog}.system.bucket({int(num_buckets)}, `{col}`)"
            ).isin(buckets)
            return df.filter(pred)
        return df.filter(F.col("_bucket").isin(buckets))

    # ---------- table-group commit marker (see sources/commit.py) ----------

    def _group_marker(self, group: str) -> str:
        # under `warehouse` on both backends; the leading `_` keeps dataset
        # readers of the warehouse from listing it
        return os.path.join(self.warehouse, f"_{group}.writing")

    @contextmanager
    def writing_group(self, group: str):
        """Mark the table group `group` in progress for the duration of the
        block. The mark is cleared only when the block completes, so a writer
        that dies between two of the group's table writes leaves it behind."""
        os.makedirs(self.warehouse, exist_ok=True)
        open(self._group_marker(group), "w").close()
        yield
        os.remove(self._group_marker(group))

    def group_torn(self, group: str) -> bool:
        """True iff a `writing_group(group)` block began and never finished:
        the group's tables may mix old and new state, and readers refuse it."""
        return os.path.exists(self._group_marker(group))

    def exists(self, name: str) -> bool:
        if self.use_iceberg:
            return self.spark.catalog.tableExists(self._ident(name))
        p = self._path(name)
        return os.path.exists(p) and bool(os.listdir(p))
