"""Physical file-layout operators: range-sorted writes (data skipping)
and small-file compaction.

At 100 TB the dominant cost of most queries is the SCAN, and the scan
cost is set by file layout, not query code:

- **Range-sorted writes**: `repartitionByRange(key)` + in-partition
  sort before writing gives every parquet file a narrow, disjoint
  min/max range on the key. A pushed-down point/range predicate then
  skips whole files/row-groups from the FOOTER alone — the poor
  man's z-order, and the single biggest lever for selective queries.
  (The keyed variant of what Delta's OPTIMIZE ZORDER does; one sort
  shuffle at write time, amortized over every later read.)

- **Compaction**: streaming/incremental sinks accumulate small files;
  every one costs a footer read + task schedule on EVERY query.
  `compact_partition` rewrites a partition directory to
  size-targeted files. Rewrite is atomic-enough for parquet-on-dir
  semantics: write to a temp dir, swap. (True transactional swap
  needs a table format — documented limit, same stance as
  streaming/upsert_sink.)

Reference: the reference repo writes unsorted single-shot parquet
(`dags/daily_pipeline.py` batch writes); layout management is part of
the at-scale extension surface.
"""

from __future__ import annotations

import math
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_range_sorted(
    df: DataFrame,
    *,
    path: str,
    sort_col: str,
    num_files: int,
    mode: str = "overwrite",
) -> None:
    """Write `df` as `num_files` parquet files with disjoint
    `sort_col` ranges (range-partitioned, sorted within each file)."""
    (
        df.repartitionByRange(num_files, F.col(sort_col))
        .sortWithinPartitions(sort_col)
        .write.mode(mode)
        .parquet(path)
    )


def compact_partition(
    spark: SparkSession,
    *,
    path: str,
    target_rows_per_file: int,
    sort_col: str | None = None,
) -> int:
    """Rewrite the parquet directory at `path` into
    ceil(rows / target_rows_per_file) files; returns the new file
    count. Optionally range-sorts by `sort_col` while rewriting (free
    data-skipping from a rewrite you were doing anyway)."""
    # Crash recovery: a crash BETWEEN the two renames below leaves the
    # live path missing with the data parked in the __compacting_old
    # aside — restore it before reading, or every subsequent run would
    # fail at the scan and recovery would be manual.
    old = path.rstrip("/") + "__compacting_old"
    if not os.path.exists(path) and os.path.exists(old):
        os.rename(old, path)
    df = spark.read.parquet(path)
    n_rows = df.count()
    n_files = max(1, math.ceil(n_rows / target_rows_per_file))
    tmp = path.rstrip("/") + "__compacting"
    if sort_col is not None:
        write_range_sorted(
            df, path=tmp, sort_col=sort_col, num_files=n_files
        )
    else:
        df.repartition(n_files).write.mode("overwrite").parquet(tmp)
    # Swap via rename-aside, not rmtree-then-rename: a crash mid-swap
    # leaves BOTH copies on disk (old aside, new in tmp) instead of a
    # window where the live path is simply gone. Both renames are
    # same-directory metadata ops (tmp/old are siblings of path), so
    # no cross-filesystem rename and the no-data window shrinks to the
    # instant between the two renames (recovered on the next run by the
    # entry check above). True transactional swap with concurrent
    # readers is compact_table below, over sources/txn.py's manifest
    # commit.
    if os.path.exists(old):
        shutil.rmtree(old)  # leftover from a previous crashed swap
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return n_files


def compact_table(
    table,
    spark: SparkSession,
    *,
    target_rows_per_file: int,
    sort_col: str | None = None,
    partition_col: str | None = None,
) -> int:
    """Transactional compaction over a
    :class:`~data_pipeline_mlops_spark.sources.txn.ManifestTable`:
    rewrite the snapshot into size-targeted (optionally range-sorted)
    files and commit them as a new version. Concurrent readers keep
    the old snapshot — its files stay on disk until ``vacuum`` — so
    there is no swap window at all, unlike :func:`compact_partition`'s
    rename dance. Returns the committed version."""
    df = table.read(spark)
    n_rows = df.count()
    n_files = max(1, math.ceil(n_rows / target_rows_per_file))
    if sort_col is not None:
        df = df.repartitionByRange(
            n_files, F.col(sort_col)
        ).sortWithinPartitions(sort_col)
    else:
        df = df.repartition(n_files)
    return table.commit(df, partition_col=partition_col, mode="replace_all")


def compact_if_fragmented(
    table,
    spark: SparkSession,
    *,
    max_txn_dirs: int = 16,
    target_rows_per_file: int,
    sort_col: str | None = None,
    partition_col: str | None = None,
) -> int | None:
    """Auto-compaction heuristic for ManifestTables: every committed
    upsert batch adds one staging dir, and the read path unions one
    scan per dir — after hundreds of micro-batches the snapshot is
    wide and slow. Call this from a maintenance cadence (or every N
    foreachBatch commits): when the latest snapshot references more
    than ``max_txn_dirs`` staging dirs, rewrite it via
    :func:`compact_table`. Returns the committed version, or None when
    no compaction was needed. The same background-OPTIMIZE shape Delta
    runs; readers are never blocked (snapshot isolation)."""
    if table.fragmentation() <= max_txn_dirs:
        return None
    return compact_table(
        table,
        spark,
        target_rows_per_file=target_rows_per_file,
        sort_col=sort_col,
        partition_col=partition_col,
    )


def zorder_key_n(
    cols: list[F.Column],
    *,
    mins: list,
    maxs: list,
    bits: list[int] | None = None,
) -> F.Column:
    """Morton (z-order) key for N numeric columns: each value is
    normalized to a ``2**bits[j]`` grid over its [min, max] range and
    the grid bits are interleaved round-robin, most-significant first.
    Locality in the key preserves locality in EVERY dimension, so
    files cut from a z-sorted layout carry narrow min/max footer
    ranges on ANY of the columns — multi-column data skipping from
    one sort, the property Delta's OPTIMIZE ZORDER sells.

    ``bits`` is the per-column bit budget (default: an equal split of
    60 bits capped at 16 each — at 16 bits a dimension distinguishes
    65k grid cells, far finer than any file count cuts). Columns with
    larger budgets keep their extra LOW bits at the key's tail, so
    unequal budgets bias fine-grained ordering toward the bigger
    budget — the standard way to favor a higher-cardinality column.
    Pure integer expressions (shift/and/or), stays inside whole-stage
    codegen; ranges are caller-supplied scalars (one tiny agg,
    amortized over the write)."""
    n = len(cols)
    if not (len(mins) == len(maxs) == n):
        raise ValueError("cols/mins/maxs length mismatch")
    if bits is None:
        bits = [min(16, 60 // n)] * n
    if len(bits) != n or min(bits) < 1:
        raise ValueError("bits must give every column >= 1 bit")
    if sum(bits) > 63:
        raise ValueError(f"total bit budget {sum(bits)} exceeds 63")
    grids = []
    for c, lo, hi, b in zip(cols, mins, maxs, bits):
        span = float(hi - lo) or 1.0
        m = (1 << b) - 1
        q = (c.cast("double") - F.lit(float(lo))) / F.lit(span)
        grids.append(
            F.least(
                F.greatest(F.round(q * m).cast("long"), F.lit(0)),
                F.lit(m),
            )
        )
    key = F.lit(0).cast("long")
    for level in range(max(bits)):
        for j in range(n):
            if bits[j] > level:
                bit = F.shiftright(grids[j], bits[j] - 1 - level).bitwiseAND(
                    F.lit(1)
                )
                key = F.shiftleft(key, 1).bitwiseOR(bit)
    return key


def write_zordered(
    df: DataFrame,
    *,
    path: str,
    cols: list[str] | None = None,
    col_a: str | None = None,
    col_b: str | None = None,
    num_files: int,
    mode: str = "overwrite",
    bits: list[int] | None = None,
) -> None:
    """Write `df` z-ordered on ``cols`` (or legacy ``col_a``/``col_b``):
    range-partition + in-file sort by the Morton key, so every file
    covers a compact N-D tile and footer min/max prunes on ANY of the
    z-columns. The N-D sibling of write_range_sorted (which optimizes
    exactly one column at every other's expense)."""
    if cols is None:
        if col_a is None or col_b is None:
            raise ValueError("pass cols=[...] or both col_a/col_b")
        cols = [col_a, col_b]
    stats = df.agg(
        *[f(c) for c in cols for f in (F.min, F.max)]
    ).collect()[0]
    key = zorder_key_n(
        [F.col(c) for c in cols],
        mins=[stats[2 * i] for i in range(len(cols))],
        maxs=[stats[2 * i + 1] for i in range(len(cols))],
        bits=bits,
    )
    (
        df.withColumn("__z", key)
        .repartitionByRange(num_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )
