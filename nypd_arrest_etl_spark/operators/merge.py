"""Upsert merge: insert-if-absent, first-writer-wins per key (K4).

Reference semantics (/root/reference/scripts/load.py:112-159 +
setup_db.py:35): ``INSERT ... ON CONFLICT (arrest_key) DO NOTHING``.
Two observable guarantees:
  1. duplicate keys *within* the incoming batch collapse to the first
     occurrence;
  2. keys already in the target are discarded (target wins).

Spark-first realization: ``dropDuplicates`` (map-side partial dedup,
one shuffle on the key) + ``left_anti`` join against the target.
At scale the anti-join shuffles both sides on arrest_key; when the
incoming batch is small relative to the target (the incremental case),
AQE turns it into a broadcast anti-join. Without a transactional table
format (Delta/Iceberg jars are not in this image) the append itself is
directory-append Parquet; the merge stays idempotent because re-running
the same batch anti-joins to zero rows.

Two physical merge strategies:

- ``merge_into_parquet`` — directory-append; the anti-join's target
  side scans the key column of the WHOLE table. Simplest, but
  appended batches accumulate small files.
- ``merge_overwrite_partitions`` — dynamic partition overwrite; the
  anti-join's target side is PRUNED to the partitions the batch
  actually touches, and only those partitions are rewritten (read
  amplification = touched partitions, not the table). This is the
  100 TB incremental shape; on a real deployment the same logic is one
  Delta ``MERGE INTO ... WHEN NOT MATCHED THEN INSERT`` (SURVEY §2b
  K4), which adds concurrent-writer atomicity via the transaction log
  — swap the writer, keep the dedup/anti-join plan.

Both strategies assume a single writer. For concurrent writers,
``sinks/manifest.py:merge_insert_if_absent_txn`` implements the same
insert-if-absent semantics over a versioned-manifest table (atomic
commit claim + optimistic retry — the Delta/Iceberg protocol), making
first-writer-wins serializable without external jars.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def dedup_first_writer_wins(df: DataFrame, key: str = "arrest_key", order_col: str | None = None) -> DataFrame:
    """Collapse duplicate keys within a batch.

    With ``order_col``, "first" is defined by ascending order of that
    column (deterministic); without it, an arbitrary row wins — same
    contract as the reference's COPY-order-dependent PK conflict.
    """
    if order_col is None:
        return df.dropDuplicates([key])
    from pyspark.sql import Window

    w = Window.partitionBy(key).orderBy(F.col(order_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def merge_insert_if_absent(incoming: DataFrame, target: DataFrame | None, key: str = "arrest_key") -> DataFrame:
    """Rows of `incoming` (deduped) whose key is absent from `target`."""
    fresh = dedup_first_writer_wins(incoming, key)
    if target is None:
        return fresh
    return fresh.join(target.select(key), on=key, how="left_anti")


YEAR_COL = "arrest_year"


def _with_partition_col(incoming: DataFrame, partition_by: str | None, partition_source: str) -> DataFrame:
    """Derive the year directory-partition column when absent (shared by
    both physical merge strategies so their semantics cannot drift)."""
    if partition_by == YEAR_COL and YEAR_COL not in incoming.columns:
        return incoming.withColumn(YEAR_COL, F.year(partition_source))
    return incoming


def merge_into_parquet(
    spark: SparkSession,
    incoming: DataFrame,
    table_path: str,
    key: str = "arrest_key",
    partition_by: str | None = None,
    partition_source: str = "arrest_date",
) -> int:
    """Append-only upsert into a Parquet-backed table.

    Returns inserted rowcount (parity with the reference's merge
    metrics, load.py:151-155). ``partition_by=YEAR_COL`` gives the
    100 TB layout — a derived year(arrest_date) directory partition,
    so incremental reads and the high-watermark probe prune to the
    newest partitions instead of scanning history, and the anti-join's
    target side reads only partition footers for recent years.
    """
    incoming = _with_partition_col(incoming, partition_by, partition_source)
    target = None
    if os.path.exists(table_path):
        # Only the key column, typed from the batch: a given schema runs
        # no schema-inference job. An unreadable target fails the write
        # (nothing is committed) — it never degrades to a plain append,
        # which could land keys the target already holds.
        key_schema = T.StructType([incoming.schema[key]])
        target = spark.read.schema(key_schema).parquet(table_path)
    fresh = merge_insert_if_absent(incoming, target, key)
    # Single-pass write: the inserted rowcount rides the write action
    # as an Observation instead of a persist + count + write (which
    # materializes the whole batch into cache memory and runs two
    # actions — at 100 TB the cache either evicts or spills the batch
    # twice).
    from pyspark.sql import Observation

    obs = Observation("merge.inserted")
    fresh = fresh.observe(obs, F.count(F.lit(1)).alias("n"))
    writer = fresh.write.mode("append")
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer.parquet(table_path)
    n = obs.get["n"]
    if n == 0:
        # Empty tasks still emit schema-only part files; drop every
        # zero-row part file so idempotent re-runs leave the table
        # byte-identical. Only this rare path pays the table listing —
        # the hot n>0 path never walks the target (at cluster scale a
        # driver-side walk of a year-partitioned table is not free).
        # Prior successful merges never leave zero-row files, so
        # row-count==0 exactly identifies this run's debris. Local-fs
        # only (like the walk itself); on object stores the leftover
        # empty files are harmless to readers. Single-writer contract —
        # the reference is a weekly cron (etl.yml:5-7).
        import pyarrow.parquet as pq

        for root, _dirs, files in os.walk(table_path):
            for fname in files:
                if fname.startswith("_") or not fname.endswith(".parquet"):
                    continue
                path = os.path.join(root, fname)
                try:
                    if pq.ParquetFile(path).metadata.num_rows == 0:
                        os.remove(path)
                except OSError:
                    pass
    return n


def merge_overwrite_partitions(
    spark: SparkSession,
    incoming: DataFrame,
    table_path: str,
    key: str = "arrest_key",
    partition_by: str = YEAR_COL,
    partition_source: str = "arrest_date",
    key_local_to_partition: bool = False,
) -> int:
    """Insert-if-absent upsert that REWRITES only the partitions the
    batch touches (dynamic partition overwrite) instead of appending.

    Why this exists next to ``merge_into_parquet``: the append variant
    accumulates one small file set per batch. Here only the batch's own
    partitions are REWRITTEN — compacting them as a side effect — and
    untouched partitions are never written
    (``partitionOverwriteMode=dynamic`` replaces only partitions
    present in the written frame).

    The K4 guarantee ("keys already ANYWHERE in the target are
    discarded") is kept by default: the anti-join's right side is the
    full target's KEY COLUMN (column-pruned scan — footers + one
    column, not the table), so a key re-sent with a corrected date
    that maps to a different partition is still rejected.
    ``key_local_to_partition=True`` opts into the cheaper pruned
    anti-join (right side = touched partitions only) for deployments
    where the key->partition mapping is immutable — with a mutable
    mapping it would re-insert such keys into their new partition.

    The merged frame is materialized via ``localCheckpoint`` before
    the write: Spark (correctly) refuses to overwrite a path that is
    also a live input of the same plan, and the checkpoint both lifts
    that and makes the read-then-replace safe. That bounds this
    variant by executor storage for the TOUCHED partitions only. On a
    production deployment the same dedup + pruned-anti-join plan feeds
    Delta ``MERGE INTO`` (or an Iceberg ``overwritePartitions``),
    whose transaction log gives concurrent-writer atomicity and
    snapshot isolation that bare Parquet directories cannot.

    Returns the inserted rowcount, like ``merge_into_parquet``.
    """
    incoming = _with_partition_col(incoming, partition_by, partition_source)
    # The dedup shuffle feeds TWO actions (the distinct-partition collect
    # and the checkpointed write) — persist it once instead of recomputing.
    deduped = dedup_first_writer_wins(incoming, key).persist()
    fresh = deduped
    target_touched = None
    try:
        if os.path.exists(table_path):
            # No read-failure fallback here, deliberately: this writer
            # REPLACES partitions. If the target exists but cannot be
            # read (corrupt footer from a crashed prior overwrite,
            # transient FS error), silently treating it as absent would
            # overwrite touched partitions with batch-only rows — losing
            # every pre-existing row in them. Fail loudly instead.
            target = spark.read.parquet(table_path)
            # One tiny collect: the batch's distinct partition values
            # (bounded by the partition domain — years, not rows). A
            # NULL partition value (unparseable arrest_date) is itself
            # a touched partition: dropping it here would let null-year
            # keys bypass the anti-join and duplicate across batches.
            vals = [r[0] for r in fresh.select(partition_by).distinct().collect()]
            cond = F.col(partition_by).isin([v for v in vals if v is not None])
            if any(v is None for v in vals):
                cond = cond | F.col(partition_by).isNull()
            target_touched = target.filter(cond)
            anti_side = (
                target_touched.select(key)
                if key_local_to_partition
                else target.select(key)
            )
            fresh = fresh.join(anti_side, on=key, how="left_anti")

        from pyspark.sql import Observation

        obs = Observation("merge.inserted")
        fresh = fresh.observe(obs, F.count(F.lit(1)).alias("n"))
        out = (
            target_touched.unionByName(fresh) if target_touched is not None else fresh
        )
        out = out.localCheckpoint(eager=True)
    finally:
        deduped.unpersist()

    mode_key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(mode_key, "static")
    spark.conf.set(mode_key, "dynamic")
    try:
        out.write.mode("overwrite").partitionBy(partition_by).parquet(table_path)
    finally:
        spark.conf.set(mode_key, prev)
    return obs.get["n"]
