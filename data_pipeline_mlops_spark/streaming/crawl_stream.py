"""Streaming crawl ingest: the micro-batch twin of
plans/crawl.py::crawl_to_corpus for a crawl that never stops arriving.

Per batch: extraction + quality/link gating are the same map-side
stages as the batch pipeline (plans/crawl.py::extract_and_gate);
dedup runs against a PERSISTED exact-text-hash index instead of a
corpus-wide window, so per-batch cost tracks (batch size + one hash
anti-join against the index) — not history size. This is the exact
tier next to streaming/dedup_stream.py's near-dup MinHash index; run
both when the corpus needs semantic dedup too.

State is three manifest-committed tables (crash mid-batch leaves
orphan staging dirs, never a torn index):

- ``seen``   (text_hash, doc_id, batch_id) — hashes of accepted docs;
- ``corpus`` accepted extracted documents (the product);
- ``audit``  per-doc decisions per batch (accepted / rejected_gate /
  dup_in_batch / dup_history) — the C4-style accounting a corpus card
  needs, committed LAST as the batch's applied marker.

Exactly-once: a redelivered batch whose marker exists in ``audit`` is
a no-op (recorded decisions are returned). For a crash anywhere
earlier, the commit ORDER carries the proof — ``seen`` first, then
``corpus``, then the ``audit`` marker:

- crash before the ``seen`` commit: nothing referenced by any
  manifest; plain replay.
- crash after ``seen``, before ``corpus``: the replay classifies the
  batch's own accepted docs as SELF-REPLAYS (their hash row in
  ``seen`` carries this doc_id AND this batch_id — no other writer
  can produce that pair) and reconciles ``corpus`` by inserting
  exactly the self-replayed docs whose doc_id is absent from it.
  This is the window the r8 ordering (corpus first) got wrong: a
  replayed batch found its hashes absent from ``seen``, re-accepted,
  and APPENDED DUPLICATE corpus rows.
- crash after ``corpus``, before ``audit``: self-replays reconcile to
  zero missing docs; both tables already converged; only the marker
  is re-committed.

Because self-replays are detected (not re-classified as
``dup_history``), the audit labels stay faithful across replays. The
corpus-membership probe runs ONLY when a self-replay is present —
i.e. only while redelivering a crashed batch — so the steady-state
per-batch cost is unchanged (one anti-join against the compact hash
index).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_pipeline_mlops_spark.materialize import materialize
from data_pipeline_mlops_spark.plans.crawl import extract_and_gate
from data_pipeline_mlops_spark.sources.txn import ManifestTable

AUDIT_COLS = ("doc_id", "status", "text_hash", "batch_id")


@dataclass
class CrawlStore:
    """Persisted streaming-crawl state under one root."""

    seen: ManifestTable
    corpus: ManifestTable
    audit: ManifestTable

    @classmethod
    def at(cls, root: str) -> "CrawlStore":
        return cls(
            seen=ManifestTable(f"{root}/seen"),
            corpus=ManifestTable(f"{root}/corpus"),
            audit=ManifestTable(f"{root}/audit"),
        )


def crawl_ingest_batch(
    pages: DataFrame,
    store: CrawlStore,
    *,
    batch_id: int,
    id_col: str = "doc_id",
    html_col: str = "html",
    min_quality: float = 0.3,
    max_link_share: float = 0.5,
) -> DataFrame:
    """Ingest one micro-batch of (id, html) pages; returns this
    batch's decisions (AUDIT_COLS). Mutates nothing on a full
    redelivery of an already-applied batch."""
    spark = pages.sparkSession
    if store.audit.latest_version() is not None:
        # manifest-side partition pruning: the redelivery probe opens
        # ONLY this batch's partition dir — a full audit scan here
        # grew with corpus lifetime (audit holds one row per page
        # ever), the same growth term the late-audit gate fixed.
        # Migration fallback: a store written by the pre-partitioned
        # revision holds markers under the root manifest key (either
        # partition_col is still None, or — after the first partitioned
        # commit — the manifest is mixed and pruning cannot see the
        # legacy dirs). Those stores take one full audit scan per
        # probe until compacted; without the fallback a pre-upgrade
        # batch redelivered after upgrade would re-ingest.
        if (
            store.audit.partition_col() == "batch_id"
            and not store.audit.has_unpartitioned_fragments()
        ):
            prev = store.audit.read(
                spark, partitions=[int(batch_id)]
            ).withColumn(
                # hive dir names re-infer the partition column as int;
                # restore the table's declared long
                "batch_id", F.col("batch_id").cast("long")
            )
        else:
            prev = store.audit.read(spark).where(
                F.col("batch_id") == F.lit(int(batch_id)).cast("long")
            )
        if not prev.isEmpty():
            return prev.select(*AUDIT_COLS)

    roster = pages.select(F.col(id_col).alias("doc_id"))
    gated = extract_and_gate(
        pages,
        id_col=id_col,
        html_col=html_col,
        min_quality=min_quality,
        max_link_share=max_link_share,
    ).withColumn("text_hash", F.md5(F.col("text")))

    # in-batch exact dedup: lowest id per hash wins
    w = Window.partitionBy("text_hash").orderBy(F.col(id_col))
    ranked = gated.withColumn("__rk", F.row_number().over(w))
    # history dedup: anti-join accepted hashes. Carry the index row's
    # (doc_id, batch_id) so a redelivered batch can recognize its OWN
    # prior accepts (self-replays) — the key to the crash-window
    # contract in the module docstring.
    if store.seen.latest_version() is not None:
        hist = store.seen.read(spark).select(
            "text_hash",
            F.col("doc_id").alias("__seen_doc"),
            F.col("batch_id").alias("__seen_batch"),
        )
        ranked = ranked.join(hist, "text_hash", "left")
    else:
        ranked = ranked.withColumn(
            "__seen_doc", F.lit(None).cast("string")
        ).withColumn("__seen_batch", F.lit(None).cast("long"))
    self_replay = (
        (F.col("__seen_doc") == F.col(id_col))
        & (F.col("__seen_batch") == F.lit(int(batch_id)))
    )
    status = (
        F.when(self_replay, F.lit("accepted"))
        # crashed-batch replay: the first attempt committed this
        # batch's winner to the seen index, so the in-batch losers
        # (__rk > 1) now JOIN that row. Their seen hit comes from this
        # same batch_id, not from history — keep the dup_in_batch
        # label the first attempt would have given them (batch_ids are
        # unique per stream, so __seen_batch == batch_id only on
        # replay of this batch).
        .when(
            (F.col("__seen_batch") == F.lit(int(batch_id)))
            & (F.col("__seen_doc") != F.col(id_col)),
            F.lit("dup_in_batch"),
        )
        .when(F.col("__seen_doc").isNotNull(), F.lit("dup_history"))
        .when(F.col("__rk") > 1, F.lit("dup_in_batch"))
        .otherwise(F.lit("accepted"))
    )
    classified = materialize(  # pin before the index mutates beneath it
        ranked.select(
            F.col(id_col).alias("doc_id"),
            "text", "predicted_lang", "quality_score", "n_chars",
            "link_text_share", "text_hash",
            status.alias("status"),
            F.coalesce(self_replay, F.lit(False)).alias("__replayed"),
        ),
        eager=True,
    )

    accepted = classified.where(F.col("status") == "accepted")
    fresh = accepted.where(~F.col("__replayed"))
    replayed = accepted.where(F.col("__replayed"))
    # seen commits FIRST: the index is the at-least-once side of the
    # pair, and replay reconciles corpus from it (see docstring).
    if not fresh.isEmpty():
        store.seen.commit(
            fresh.select(
                "text_hash", "doc_id", F.lit(batch_id).alias("batch_id")
            ),
            mode="append",
        )
    corpus_rows = fresh
    if not replayed.isEmpty():
        # crashed-batch redelivery: insert only the self-replayed docs
        # the previous attempt did not reach the corpus commit for
        if store.corpus.latest_version() is not None:
            existing = store.corpus.read(spark).select("doc_id")
            missing = replayed.join(existing, "doc_id", "left_anti")
        else:
            missing = replayed
        corpus_rows = fresh.unionByName(missing)
    if not corpus_rows.isEmpty():
        store.corpus.commit(
            corpus_rows.select(
                "doc_id", "text", "predicted_lang", "quality_score",
                "n_chars", "link_text_share",
            ),
            mode="append",
        )
    decisions = materialize(
        roster.join(
            classified.select("doc_id", "status", "text_hash"),
            "doc_id",
            "left",
        ).select(
            "doc_id",
            F.coalesce(F.col("status"), F.lit("rejected_gate")).alias(
                "status"
            ),
            "text_hash",
            F.lit(batch_id).alias("batch_id"),
        ),
        eager=True,
    )
    # the applied marker — partitioned by batch_id so the redelivery
    # probe prunes manifest-side, and replace_partitions makes a
    # re-committed marker idempotent rather than doubled
    store.audit.commit(
        decisions, partition_col="batch_id", mode="replace_partitions"
    )
    return decisions


def crawl_foreach_batch(
    *,
    store_root: str,
    id_col: str = "doc_id",
    html_col: str = "html",
    min_quality: float = 0.3,
    max_link_share: float = 0.5,
    maintain_every: int = 32,
):
    """foreachBatch adapter: ``stream.writeStream.foreachBatch(this)``.
    Every ``maintain_every`` batches the seen-hash index self-compacts
    (0 disables) — each accepted batch appends one staging dir and the
    anti-join unions one scan per dir."""
    store = CrawlStore.at(store_root)

    def body(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        crawl_ingest_batch(
            batch_df, store,
            batch_id=batch_id, id_col=id_col, html_col=html_col,
            min_quality=min_quality, max_link_share=max_link_share,
        )
        if maintain_every and batch_id > 0 and batch_id % maintain_every == 0:
            from data_pipeline_mlops_spark.sources.layout import (
                compact_if_fragmented,
            )

            compact_if_fragmented(
                store.seen,
                batch_df.sparkSession,
                target_rows_per_file=4_000_000,
            )
            # retention maintenance for the append-mostly tables:
            # reclaim superseded manifests / orphan dirs behind a
            # one-hour horizon (product tables may have snapshot
            # readers); data stays fully readable from the latest
            # snapshot
            for t in (store.corpus, store.audit):
                t.vacuum(keep_versions=64, retention_seconds=3600.0)

    return body
