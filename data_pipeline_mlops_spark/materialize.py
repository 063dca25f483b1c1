"""Materialization policy for multiply-referenced subtrees.

Several operators compute a heavy projection once and have the rest of
the plan read the materialized bytes (crawl extraction, shingle bases,
MinHash signatures, CC labels, dHash fingerprints, the registry's
shared interaction frames): without a lineage cut, Catalyst re-expands
the shared subtree per reference (guide §1.2 step 1) — the
recommendations plan computed its interactions ~20x, and cutting it
measured a 2x end-to-end win. Values are unchanged; this is a
plan-shape optimization only.

`localCheckpoint` is the zero-config tool for that, but it has two
100 TB liabilities (guide §5, VERDICT r13 #5):

1. **No fault tolerance.** Local checkpoints delete lineage and keep
   blocks only on the computing executors — on a real cluster one lost
   executor makes the job unrecoverable rather than recomputable. (In
   `local[N]` mode there is no executor-loss failure mode distinct
   from driver loss, so this liability is strictly a cluster concern.)
2. **Storage-pool pressure.** The blocks live in executor storage
   memory; in a long-lived multi-pipeline driver they crowd the pool
   and later heavy queries spill (measured: recommendations_capped
   40.6 s in a fresh JVM vs ~100 s crowded, at 10x — SCALING_r5
   annotation).

Policy, applied by :func:`materialize` — the one place in the package
that cuts lineage, so this choice is made once:

- ``SPARK_GRAFT_CHECKPOINT_DIR`` set (or the session already has a
  checkpoint dir): RELIABLE ``checkpoint`` — same values, same lineage
  cut, survives executor loss, zero storage-memory footprint. The
  recommended cluster deployment shape, where a long-lived driver is
  the norm.
- default: ``localCheckpoint`` — the zero-config shape for ad-hoc
  sessions, and the one every committed bench line was measured under.

Eager or lazy is the caller's choice, not the policy's. A lazy cut
(the default) is filled by the first action over it, so the subtree
runs inside that action's job instead of a job of its own; use it
whenever the cut is read by a plan the caller runs anyway. An eager
cut runs its subtree at once, and is needed where the bytes must be
fixed BEFORE the caller's next side effect: the dedup and crawl
verdicts are pinned before the index they were judged against is
appended to, and the upsert winners are pinned before the overwrite
deletes the partitions their plan reads. Elsewhere eager is a choice,
not a need (the connected-components edges and first labels, the dedup
signatures and bands, the corpus survivors): a lazy cut there would
fold its jobs into the first consumer's.

Neither form registers with the session CacheManager (``persist``
would: a later query whose plan contains the same subtree would then
silently read bytes an earlier query computed), so each query
invocation recomputes its own plan and per-query timings stay clean.
Both forms also fix the bytes once: ``operators/skew.rangepart_rank``
relies on that, because a lineage recompute would re-sample its range
boundaries and shift the partition ids its offsets were computed from.

Release: a loop that cuts once per round frees the previous round's
cut with :func:`release` once the next round is materialized, so a run
holds one round's bytes, not all of them (local blocks are unpersisted,
reliable checkpoint dirs deleted).

A harness that times queries one after another in one session calls
:func:`release_storage` between timings: lazy checkpoints otherwise
accumulate, and later heavy queries spill every pass (the 40.6 s vs
~100 s above), so the timing measures cache pressure, not the plan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def materialize(df: DataFrame, *, eager: bool = False) -> DataFrame:
    """Cut/reuse the plan above ``df`` per the policy above; ``eager``
    runs the subtree now instead of in the first action over the cut.
    Values are always unchanged; this only controls WHEN the bytes are
    computed, WHERE they live and whether they survive executor loss."""
    sc = df.sparkSession.sparkContext
    ckpt_dir = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if ckpt_dir and sc.getCheckpointDir() is None:
        sc.setCheckpointDir(ckpt_dir)
    if sc.getCheckpointDir() is not None:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def _fs_path(sc, uri: str):
    """Hadoop (FileSystem, Path) for a checkpoint URI such as file:/..."""
    path = sc._jvm.org.apache.hadoop.fs.Path(uri)
    return path.getFileSystem(sc._jsc.hadoopConfiguration()), path


def release(df: DataFrame) -> None:
    """Free the bytes of one cut: ``df`` must be a DataFrame that
    :func:`materialize` returned, already filled by an action. A local
    cut's blocks are unpersisted; a reliable cut's checkpoint dir is
    deleted. Nothing may read ``df`` afterwards."""
    sc = df.sparkSession.sparkContext
    rdd = df._jdf.queryExecution().analyzed().rdd()
    ckpt = rdd.getCheckpointFile()
    if ckpt.isDefined():
        fs, path = _fs_path(sc, ckpt.get())
        fs.delete(path, True)
    else:
        rdd.unpersist(True)


def release_storage(spark: SparkSession) -> None:
    """Free what earlier :func:`materialize` calls left behind: unpersist
    every persistent RDD (local checkpoints included) and, when the
    session has a checkpoint dir, delete its finished reliable-checkpoint
    dirs. Only safe between queries: a DataFrame built before the call
    may still read a checkpoint it deletes."""
    sc = spark.sparkContext
    it = sc._jsc.sc().getPersistentRDDs().values().iterator()
    while it.hasNext():
        it.next().unpersist(True)
    ckpt = sc.getCheckpointDir()  # a URI such as file:/..., not a path
    if ckpt:
        fs, path = _fs_path(sc, ckpt)
        if fs.exists(path):
            for st in fs.listStatus(path):
                fs.delete(st.getPath(), True)
