"""Upsert lake sink — Hudi Copy-on-Write emulation on plain parquet.

The reference writes enriched streams to Hudi COW tables
(``multi_source_streaming_processor.py:260-292``): upsert keyed by a
record key, conflict resolution by a precombine field (latest wins),
partitioned by ``processing_date``, with small-file compaction and a
bounded version retention. This module reproduces those semantics
with ``foreachBatch`` + partition-scoped parquet rewrites — no Hudi
jar required; a real Hudi/Delta writer can be swapped in behind the
same interface by injecting its session extension.

Scale design:

* upserts rewrite only the **partitions touched by the micro-batch**
  (partition pruning on both read and overwrite via dynamic partition
  overwrite) — a batch that touches one day never rewrites the table.
* merge = unionByName + row_number over (key, precombine desc) —
  one shuffle keyed by the record key within touched partitions.
* compaction = per-partition coalesce rewrite, the COW analogue of
  Hudi's inline compaction (MSP:279-280).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery


def path_has_data(spark: SparkSession, path: str) -> bool:
    """True if ``path`` holds at least one visible (non-``_``/``.``)
    entry on its filesystem.

    Probing a missing table with ``spark.read.parquet`` makes Spark's
    streaming-sink metadata check log a full FileNotFoundException
    stack before the reader raises, and the probe costs a collect job
    per call. The Hadoop FS check is silent and job-free, and treats a
    directory holding only commit markers (``_rollup_commits`` etc.)
    as empty — parquet readers ignore hidden entries the same way.
    """
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return False
    for status in fs.listStatus(jpath):
        name = status.getPath().getName()
        # same visibility rule as Spark's file index: _/. prefixes are
        # hidden EXCEPT partition directories like ``_bucket=3``
        if "=" in name or not (
            name.startswith("_") or name.startswith(".")
        ):
            return True
    return False


@dataclass
class LakeTable:
    """A partitioned upsert table (Hudi-COW-shaped, MSP:263-281)."""

    path: str
    record_key: str = "id"
    precombine_field: str = "processing_timestamp"
    partition_field: str = "processing_date"
    # optional clustering column: compaction range-sorts files on it so
    # parquet min/max footers enable data skipping (Hudi clustering /
    # z-order-lite analogue)
    cluster_key: str | None = None

    def exists(self, spark: SparkSession) -> bool:
        return path_has_data(spark, self.path)

    def read(self, spark: SparkSession) -> DataFrame:
        """Live rows only — tombstones filtered out."""
        raw = self._read_raw(spark)
        if "_del" in raw.columns:
            raw = raw.filter(
                ~F.coalesce(F.col("_del"), F.lit(False))
            ).drop("_del")
        return raw

    def _read_raw(self, spark: SparkSession) -> DataFrame:
        # mergeSchema: partitions written before a schema evolution
        # lack the newer columns — without it the first footer's
        # schema wins and evolved columns silently disappear
        return spark.read.option("mergeSchema", "true").parquet(self.path)

    # -- core upsert ----------------------------------------------------

    def _distribute(self, df: DataFrame) -> DataFrame:
        """Hash-distribute on (partition, record-key salt) before a
        partitioned write (optimization guide §6, the Iceberg
        write.distribution-mode=hash analogue): without it every
        input task writes one file into every date partition it
        touches — n_tasks × n_partitions small files per upsert. The
        record-key salt keeps one hot date from collapsing to a
        single writer."""
        # Keyed repartition WITHOUT an explicit count (ADVICE r8): a
        # fixed repartition(defaultParallelism, ...) capped upsert
        # write parallelism at core count and sized files as data/par
        # for arbitrarily large merged frames. Keying on (partition,
        # record-key salt) under spark.sql.shuffle.partitions + AQE
        # coalescing sizes writer tasks by advisoryPartitionSizeInBytes
        # instead — the Iceberg write.distribution-mode=hash shape
        # (guide §6). The salt modulus is a constant well above any
        # shuffle-partition count so hash collisions spread evenly
        # (guide §2.5: 20-100x more distinct keys than partitions).
        return df.repartition(
            F.col(self.partition_field),
            F.pmod(F.xxhash64(F.col(self.record_key)), F.lit(4096)),
        )

    def _dedupe(self, df: DataFrame) -> DataFrame:
        """Keep the newest row per record key (precombine desc) —
        Hudi's precombine semantics (MSP:265-266). The default
        precombine field is the batch's processing time, so versions
        of one key inside one micro-batch tie on it; a CDC frame's
        ``event_timestamp`` breaks the tie, so the latest change wins."""
        order = [F.col(self.precombine_field).desc()]
        if "event_timestamp" in df.columns:
            order.append(F.col("event_timestamp").desc())
        w = Window.partitionBy(self.record_key).orderBy(*order)
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    def upsert_batch(
        self,
        batch: DataFrame,
        spark: SparkSession,
        delete_col: str | None = None,
    ) -> None:
        """Merge a micro-batch into the table, rewriting only the
        partitions the batch touches.

        ``delete_col`` names a boolean column marking CDC tombstones
        (``op = 'd'`` rows decoded from their ``before`` image — the
        reference silently dropped these, ``MSP:119``): the delete
        competes in precombine order with other versions of its key.
        A winning tombstone PERSISTS as a hidden marker row (``_del``,
        filtered by :meth:`read`) so an out-of-order or replayed older
        insert cannot resurrect the key — the Hudi/Delta delete-log
        discipline; ``compact`` purges markers. Like Hudi's default
        non-global index, keys are unique within a partition, not
        across partitions."""
        if len(batch.take(1)) == 0:
            return
        if delete_col is not None:
            incoming = batch.withColumn(
                "_del", F.coalesce(F.col(delete_col), F.lit(False))
            ).drop(delete_col)
        else:
            incoming = batch.withColumn("_del", F.lit(False))
        incoming = self._dedupe(incoming)

        if not self.exists(spark):
            (
                self._distribute(incoming)
                .write.partitionBy(self.partition_field)
                .mode("overwrite")
                .parquet(self.path)
            )
            return

        # partition pruning: list the touched partitions, read ONLY them
        touched = [
            r[0]
            for r in incoming.select(self.partition_field).distinct().collect()
        ]
        existing = self._read_raw(spark).filter(
            F.col(self.partition_field).isin(touched)
        )
        if "_del" not in existing.columns:
            existing = existing.withColumn("_del", F.lit(False))
        merged = self._dedupe(
            existing.unionByName(incoming, allowMissingColumns=True)
        )
        # dynamic partition overwrite: replaces only `touched` partitions
        with _partition_overwrite_dynamic(spark):
            (
                self._distribute(merged)
                .write.partitionBy(self.partition_field)
                .mode("overwrite")
                .parquet(self.path)
            )

    # -- maintenance ----------------------------------------------------

    def compact(self, spark: SparkSession, target_files_per_partition: int = 1) -> None:
        """Small-file compaction, the COW analogue of Hudi inline
        compaction (MSP:279-280): rewrite each partition into N files.

        With ``cluster_key`` set, the rewrite range-partitions and
        sorts on (partition, cluster_key): files within a partition
        carry pairwise-disjoint cluster-key ranges, so a selective
        read skips whole files on parquet min/max footers — the
        storage-layout half of predicate pushdown that matters once a
        partition holds thousands of files."""
        df = self.read(spark)
        if self.cluster_key:
            n_part = df.select(self.partition_field).distinct().count()
            clustered = df.repartitionByRange(
                max(n_part * target_files_per_partition, 1),
                F.col(self.partition_field),
                F.col(self.cluster_key),
            ).sortWithinPartitions(self.partition_field, self.cluster_key)
        else:
            clustered = df.repartition(
                target_files_per_partition, F.col(self.partition_field)
            )
        with _partition_overwrite_dynamic(spark):
            (
                clustered.write.partitionBy(self.partition_field)
                .mode("overwrite")
                .parquet(self.path)
            )


    def purge_keys(self, spark: SparkSession, keys: list) -> int:
        """GDPR right-to-be-forgotten: physically erase EVERY stored
        version of the given record keys — live rows, superseded
        versions, and tombstone markers alike (a tombstone still
        carries the key, which is exactly what erasure must remove).

        Only partitions actually containing a target key are
        rewritten; a partition left empty by the purge has its
        directory deleted outright (dynamic partition overwrite
        cannot replace a partition with zero rows). Returns the
        number of physical rows removed. Unlike :meth:`upsert_batch`
        tombstones, purge is administrative erasure: a later replay
        of old data WILL re-insert the key — run purges after
        upstream retention has stopped replaying it, or follow with
        a tombstone if logical deletion must also persist.
        """
        if not self.exists(spark):
            return 0
        raw = self._read_raw(spark)
        key_col = F.col(self.record_key)
        hit_parts = [
            r[0]
            for r in raw.filter(key_col.isin(keys))
            .select(self.partition_field)
            .distinct()
            .collect()
        ]
        if not hit_parts:
            return 0
        scoped = raw.filter(F.col(self.partition_field).isin(hit_parts)).cache()
        try:
            kept = scoped.filter(~key_col.isin(keys))
            removed = scoped.count() - kept.count()
            kept_parts = {
                r[0] for r in kept.select(self.partition_field).distinct().collect()
            }
            with _partition_overwrite_dynamic(spark):
                (
                    kept.write.partitionBy(self.partition_field)
                    .mode("overwrite")
                    .parquet(self.path)
                )
            for p in hit_parts:
                if p not in kept_parts:
                    self._drop_partition_dir(spark, p)
        finally:
            scoped.unpersist()
        return removed

    def expire_partitions(self, spark: SparkSession, keep_from) -> list:
        """Retention sweep: drop every partition strictly older than
        ``keep_from`` (compared as the partition value, e.g. a date).

        This is a METADATA-ONLY operation — whole partition
        directories are removed via the filesystem, no data is read
        or rewritten; at 100 TB expiring a year of daily partitions
        costs one directory listing plus #expired deletes, the same
        operation a lake format performs by dropping manifest
        entries. Returns the expired partition values."""
        jvm = spark._jvm
        root = jvm.org.apache.hadoop.fs.Path(self.path)
        fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
        if not fs.exists(root):
            return []
        expired = []
        prefix = f"{self.partition_field}="
        for status in fs.listStatus(root):
            name = status.getPath().getName()
            if not name.startswith(prefix):
                continue
            value = name[len(prefix):]
            if value < str(keep_from):
                fs.delete(status.getPath(), True)
                expired.append(value)
        return sorted(expired)

    def _drop_partition_dir(self, spark: SparkSession, value) -> None:
        jvm = spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(
            os.path.join(self.path, f"{self.partition_field}={value}")
        )
        fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
        if fs.exists(p):
            fs.delete(p, True)


class _partition_overwrite_dynamic:
    """Scoped ``spark.sql.sources.partitionOverwriteMode=dynamic``."""

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def __enter__(self):
        self.prev = self.spark.conf.get(
            "spark.sql.sources.partitionOverwriteMode", "static"
        )
        self.spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.sources.partitionOverwriteMode", self.prev)
        return False


def write_stream_to_lake(
    df: DataFrame,
    table: LakeTable,
    checkpoint_root: str,
    processing_time: str | None = "2 minutes",
    available_now: bool = False,
    compact_every_n_batches: int = 5,
    output_mode: str = "append",
    delete_col: str | None = None,
) -> StreamingQuery:
    """Stream → upsert lake via foreachBatch (MSP:260-292 semantics).

    Compaction runs inline every N micro-batches, mirroring Hudi's
    "5 delta commits" cadence (MSP:280). ``delete_col`` marks CDC
    tombstone rows (``decode_cdc(keep_deletes=True)`` + an
    ``op = 'd'`` flag) that remove their key instead of upserting.
    """
    spark = df.sparkSession

    def sink(batch: DataFrame, batch_id: int) -> None:
        table.upsert_batch(batch, spark, delete_col=delete_col)
        if compact_every_n_batches and batch_id > 0 and (
            batch_id % compact_every_n_batches == 0
        ):
            table.compact(spark)

    writer = (
        df.writeStream.foreachBatch(sink)
        .option(
            "checkpointLocation",
            os.path.join(checkpoint_root, f"lake-{os.path.basename(table.path)}"),
        )
        .outputMode(output_mode)
        .queryName(f"lake-{os.path.basename(table.path)}")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()
