"""Incremental keyed upsert sink: MERGE INTO for parquet tables.

Each micro-batch merges into a partitioned table by key: existing rows
for the batch's keys are replaced, other rows survive, new keys append.
The honest unit of rewrite is the PARTITION: the sink reads ONLY the
partitions the batch touches, unions the batch in, keeps the winning
row per key, and rewrites just those partitions. Untouched partitions
are never read or written — at 100 TB the cost per batch is O(touched
partitions), not O(table).

Two storage backends share the merge logic:

- :func:`upsert_batch` — plain parquet dir with Spark's dynamic
  partition overwrite. Simple, but the overwrite briefly deletes the
  partitions being replaced (no reader isolation).
- :func:`upsert_batch_txn` — a :class:`~data_pipeline_mlops_spark.
  sources.txn.ManifestTable`: winners are staged as immutable files
  and a manifest commit atomically re-points the touched partitions.
  Concurrent readers keep their snapshot; a crash leaves only an
  orphan staging dir (invisible, vacuumable). This is the shape Delta/
  Iceberg provide, built on the public parquet reader (their JVM
  packages aren't in this container).

Winner per key = highest (order_col, batch precedence): a batch row
beats an equal-order existing row, so replays converge (idempotent —
required for at-least-once foreachBatch delivery).

Constraint: ``partition_col`` must be a pure function of the key
(e.g. a hash bucket or an immutable attribute). If a key could move
between partitions, its old row would survive in a partition the
batch doesn't touch — the standard contract for partition-scoped
MERGE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_pipeline_mlops_spark.materialize import materialize
from data_pipeline_mlops_spark.sources.txn import ManifestTable


def _touched_partitions(batch: DataFrame, partition_col: str) -> list:
    return [r[0] for r in batch.select(partition_col).distinct().collect()]


def _merge_winners(
    existing: DataFrame | None,
    batch: DataFrame,
    *,
    key_cols: list[str],
    order_col: str,
) -> DataFrame:
    """One winning row per key from existing ∪ batch (batch wins ties).

    Final tiebreak: two rows with the same key AND equal (order_col,
    __src) — e.g. duplicate keys within one batch — would otherwise
    tie completely and row_number would pick a nondeterministic
    winner, so replaying the same batch need not converge. A stable
    hash of the full payload makes the choice a pure function of row
    content. Hash via to_json(struct(...)): xxhash64 directly on
    columns is prohibited for MapType (DATATYPE_MISMATCH.
    HASH_MAP_TYPE), and a map-typed payload column is a perfectly
    normal upsert table; JSON serialization is deterministic for a
    replayed batch (the same computation rebuilds the same map order).
    """
    batch = batch.withColumn("__src", F.lit(1))
    merged = (
        batch
        if existing is None
        else existing.withColumn("__src", F.lit(0)).unionByName(batch)
    )
    payload_cols = [c for c in merged.columns if c != "__src"]
    merged = merged.withColumn(
        "__tb", F.xxhash64(F.to_json(F.struct(*payload_cols)))
    )
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(order_col).desc(), F.col("__src").desc(), F.col("__tb").desc()
    )
    return (
        merged.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn", "__src", "__tb")
    )


def upsert_batch(
    batch_df: DataFrame,
    *,
    path: str,
    key_cols: list[str],
    order_col: str,
    partition_col: str,
) -> None:
    spark = batch_df.sparkSession
    touched = _touched_partitions(batch_df, partition_col)
    if not touched:
        return
    from pyspark.errors import AnalysisException

    try:
        existing = spark.read.parquet(path).where(
            F.col(partition_col).isin(touched)
        )
        existing.schema  # force analysis inside the try
    except AnalysisException as ex:
        # ONLY the first-batch case (table not created yet) may fall
        # through to a plain write; any other analysis error (schema
        # drift, corrupt footer) must fail the batch — swallowing it
        # would silently drop the table's history from the merge.
        if "PATH_NOT_FOUND" not in str(ex) and "Path does not exist" not in str(ex):
            raise
        existing = None
    winners = _merge_winners(
        existing, batch_df, key_cols=key_cols, order_col=order_col
    )
    # the window repartitions by key; the eager cut pins the winners
    # BEFORE the overwrite starts deleting the very partitions the plan
    # still needs to read (a reliable checkpoint under a checkpoint dir,
    # so a lost executor cannot take the only copy with it)
    (
        materialize(winners, eager=True)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path)
    )


def upsert_batch_txn(
    batch_df: DataFrame,
    *,
    table: ManifestTable,
    key_cols: list[str],
    order_col: str,
    partition_col: str,
) -> int | None:
    """Transactional upsert: merge + manifest commit; returns the
    committed version (None for an empty batch).

    No lineage cut needed: staged files are NEW paths, so the plan
    reading old files and the write creating new ones never collide —
    readers of the previous version stay consistent throughout."""
    spark = batch_df.sparkSession
    touched = _touched_partitions(batch_df, partition_col)
    if not touched:
        return None
    existing = None
    if table.latest_version() is not None:
        existing = table.read(spark, partitions=touched)
    winners = _merge_winners(
        existing, batch_df, key_cols=key_cols, order_col=order_col
    )
    return table.commit(
        winners, partition_col=partition_col, mode="replace_partitions"
    )


def upsert_foreach_batch(
    *, path: str, key_cols: list[str], order_col: str, partition_col: str
):
    """foreachBatch adapter: `stream.writeStream.foreachBatch(this)`."""

    def body(batch_df: DataFrame, batch_id: int) -> None:
        upsert_batch(
            batch_df,
            path=path,
            key_cols=key_cols,
            order_col=order_col,
            partition_col=partition_col,
        )

    return body


def upsert_foreach_batch_txn(
    *, path: str, key_cols: list[str], order_col: str, partition_col: str
):
    """foreachBatch adapter over a ManifestTable at ``path``."""
    table = ManifestTable(path)

    def body(batch_df: DataFrame, batch_id: int) -> None:
        upsert_batch_txn(
            batch_df,
            table=table,
            key_cols=key_cols,
            order_col=order_col,
            partition_col=partition_col,
        )

    return body
