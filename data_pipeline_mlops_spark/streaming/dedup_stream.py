"""Incremental corpus dedup: new documents against a PERSISTED MinHash
index, one micro-batch at a time.

The batch dedup tiers (functions/dedup_text.py) assume the whole corpus
is in one DataFrame. A living training corpus doesn't work that way:
documents arrive continuously, and each arrival must be checked against
everything already ACCEPTED — without recomputing signatures for the
history. This module keeps three append-only ManifestTables under one
root:

- ``bands``:     (doc_id, band, band_hash)  — the LSH join index
- ``sigs``:      (doc_id, signature)        — for Jaccard verification
- ``decisions``: per-batch verdict history

Per batch: sign + band the new docs (one signature pass over new text
only), candidate-join new bands against historical + within-batch
bands (per-bucket join, never all-pairs — the property that holds at
100 TB), verify candidates by signature agreement (slot-equality
fraction estimates Jaccard — the estimator the oracled
``minhash_jaccard_estimate`` row validates), then apply the SAME
greedy rule as the batch tier (dedup_text.dedup_decisions): a doc is a
duplicate if it verified-matches any indexed (historical) doc or any
smaller-id doc in its own batch. Survivors' bands + signatures are
appended to the index via manifest commits.

Replay semantics under at-least-once foreachBatch delivery: decisions
are a pure function of (index state, batch content), and a replayed
batch's docs match their own already-indexed copies exactly
(agreement = 1.0 >= any threshold), so replays re-flag them as
duplicates instead of double-inserting — the index converges to one
copy per content. Decisions are append-only history keyed by
(doc_id, batch_id).

Scale notes: the candidate join shuffles on (band, band_hash); at
100 TB the historical band table would be bucketed on band_hash so
only the new side shuffles. Signatures are num_hashes longs per doc
(512 bytes at the default 64) — three orders smaller than text, which
never enters the index.

Reference: the reference has no incremental dedup (its pipeline is
batch pandas); this extends the training-data surface alongside the
batch tiers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_pipeline_mlops_spark.functions import dedup_text
from data_pipeline_mlops_spark.schemas import nullable
from data_pipeline_mlops_spark.sources.txn import ManifestTable


class DedupIndex:
    """The persisted state: band index + signatures + decision history,
    each manifest-committed (crash mid-batch leaves orphan staging dirs,
    never a torn index)."""

    def __init__(self, root: str):
        self.bands = ManifestTable(f"{root}/bands")
        self.sigs = ManifestTable(f"{root}/sigs")
        self.decisions = ManifestTable(f"{root}/decisions")

    def has_state(self) -> bool:
        return self.bands.latest_version() is not None

    def maintain(
        self,
        spark,
        *,
        max_txn_dirs: int = 16,
        target_rows_per_file: int = 4_000_000,
    ) -> None:
        """Compact the index when fragmented: every accepted batch
        appends one staging dir to bands and sigs, and the read path
        unions one scan per dir — without maintenance a long-lived
        stream degrades its own candidate join. Snapshot isolation
        means in-flight readers are untouched."""
        from data_pipeline_mlops_spark.sources.layout import (
            compact_if_fragmented,
        )

        for t in (self.bands, self.sigs):
            compact_if_fragmented(
                t, spark,
                max_txn_dirs=max_txn_dirs,
                target_rows_per_file=target_rows_per_file,
            )


def bulk_seed(
    docs: DataFrame,
    index: DedupIndex,
    *,
    id_col: str,
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    hash_method: str = "xxhash64",
) -> None:
    """Bootstrap the index from an EXISTING corpus, indexing every
    document unconditionally (no dedup decisions): the operation that
    turns a historical corpus into a live index before the stream
    starts. One signature pass + two manifest commits; use
    ``dedup_batch`` afterwards for arriving batches. (Seeding through
    dedup_batch instead would drop any near-dups already inside the
    historical corpus — correct for a CLEANED corpus, but a bootstrap
    must represent what is actually there.)"""
    rows_per_band = num_hashes // bands
    sigs = dedup_text.minhash_signatures(
        docs, id_col=id_col, text_col=text_col,
        num_hashes=num_hashes, shingle_n=shingle_n,
        hash_method=hash_method,
    ).localCheckpoint()
    banded = dedup_text.banded_signatures(
        sigs, id_col=id_col, bands=bands,
        rows_per_band=rows_per_band, hash_method=hash_method,
    )
    index.bands.commit(banded, mode="append")
    index.sigs.commit(sigs, mode="append")


def dedup_batch(
    batch_df: DataFrame,
    index: DedupIndex,
    *,
    id_col: str,
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    min_agreement: float = 0.5,
    hash_method: str = "xxhash64",
    batch_id: int = 0,
) -> DataFrame:
    """Dedup one batch against the index, commit survivors, and return
    this batch's decisions: (id, is_duplicate, matched_id,
    est_jaccard, batch_id). ``min_agreement`` is the signature-
    agreement threshold (~ Jaccard threshold)."""
    spark = batch_df.sparkSession
    rows_per_band = num_hashes // bands
    new_sigs = dedup_text.minhash_signatures(
        batch_df, id_col=id_col, text_col=text_col,
        num_hashes=num_hashes, shingle_n=shingle_n,
        hash_method=hash_method,
    ).localCheckpoint()  # one signature pass over new text only
    new_bands = dedup_text.banded_signatures(
        new_sigs, id_col=id_col, bands=bands,
        rows_per_band=rows_per_band, hash_method=hash_method,
    ).localCheckpoint()

    nb = new_bands.select(F.col(id_col).alias("__new"), "band", "band_hash")
    cands = (
        nb.join(
            new_bands.select(
                F.col(id_col).alias("__old"), "band", "band_hash"
            ),
            ["band", "band_hash"],
        )
        .where(F.col("__old") < F.col("__new"))  # within-batch: lower id wins
        .select("__new", "__old")
    )
    old_sigs = new_sigs
    if index.has_state():
        # the index holds what earlier batches committed from frames
        # built exactly like these, so their read-back schema is known
        # and the footer-reading inference jobs are skipped
        hist = (
            nb.join(
                index.bands.read(
                    spark, schema=nullable(new_bands.schema)
                ).select(
                    F.col(id_col).alias("__old"), "band", "band_hash"
                ),
                ["band", "band_hash"],
            )
            .select("__new", "__old")
        )
        cands = cands.unionByName(hist)
        old_sigs = new_sigs.unionByName(
            index.sigs.read(spark, schema=nullable(new_sigs.schema))
        )
    cands = cands.distinct()

    agreement = F.round(
        F.aggregate(
            F.zip_with(
                "__sig_new", "__sig_old",
                lambda a, b: F.when(a == b, 1).otherwise(0),
            ),
            F.lit(0),
            lambda acc, x: acc + x,
        )
        / F.lit(float(num_hashes)),
        6,
    )
    matches = (
        cands.join(
            new_sigs.select(
                F.col(id_col).alias("__new"),
                F.col("signature").alias("__sig_new"),
            ),
            "__new",
        )
        .join(
            old_sigs.select(
                F.col(id_col).alias("__old"),
                F.col("signature").alias("__sig_old"),
            ),
            "__old",
        )
        .select("__new", "__old", agreement.alias("est_jaccard"))
        .where(F.col("est_jaccard") >= min_agreement)
    )

    # Greedy rule, identical to dedup_text.dedup_decisions: any doc
    # with a verified match (historical, or smaller-id in batch) drops;
    # chains collapse the same way the batch tier collapses them.
    best = matches.groupBy("__new").agg(
        F.max(F.struct("est_jaccard", F.col("__old"))).alias("__m")
    )
    # Roster is the BATCH, not the signature table: a doc too short to
    # shingle has no signature row but still needs a (survivor) verdict.
    decisions = (
        batch_df.select(F.col(id_col))
        .join(best.withColumnRenamed("__new", id_col), id_col, "left")
        .select(
            id_col,
            F.col("__m").isNotNull().alias("is_duplicate"),
            F.col("__m.__old").alias("matched_id"),
            F.col("__m.est_jaccard").alias("est_jaccard"),
            F.lit(batch_id).alias("batch_id"),
        )
        .localCheckpoint()  # pin before the index mutates beneath it
    )
    keep = decisions.where(~F.col("is_duplicate")).select(id_col)
    # All-duplicate batches skip the index commits entirely: an empty
    # append still stages a dir and bumps the version, and a dup-heavy
    # stream would fragment its own index with garbage.
    if not keep.isEmpty():
        index.bands.commit(new_bands.join(keep, id_col), mode="append")
        index.sigs.commit(new_sigs.join(keep, id_col), mode="append")
    index.decisions.commit(decisions, mode="append")
    return decisions


def dedup_foreach_batch(
    *,
    index_root: str,
    id_col: str,
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    min_agreement: float = 0.5,
    hash_method: str = "xxhash64",
    maintain_every: int = 32,
):
    """foreachBatch adapter: `stream.writeStream.foreachBatch(this)`.
    Every ``maintain_every`` batches the index self-compacts (0
    disables)."""
    index = DedupIndex(index_root)

    def body(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        dedup_batch(
            batch_df, index,
            id_col=id_col, text_col=text_col,
            num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
            min_agreement=min_agreement, hash_method=hash_method,
            batch_id=batch_id,
        )
        if maintain_every and batch_id > 0 and batch_id % maintain_every == 0:
            index.maintain(batch_df.sparkSession)

    return body
