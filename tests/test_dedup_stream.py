"""Incremental streaming dedup (streaming/dedup_stream.py): new docs
verified against the persisted MinHash index, batch-tier-consistent
greedy decisions, replay convergence, end-to-end foreachBatch."""

from __future__ import annotations

import pytest

from data_pipeline_mlops_spark.streaming.dedup_stream import (
    DedupIndex,
    dedup_batch,
    dedup_foreach_batch,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat "
    "watches from the warm stone wall near the old garden gate "
    "and the birds sing in the tall green trees above the pond"
)
OTHER = (
    "completely different content about distributed query engines "
    "shuffle partitions broadcast joins and adaptive execution on "
    "columnar parquet storage with vectorized readers and codegen"
)
THIRD = (
    "a third unrelated document discussing tokenizer vocabularies "
    "byte pair encodings context windows and curriculum ordering "
    "for large scale language model training data preparation"
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture()
def index(tmp_path):
    return DedupIndex(str(tmp_path / "idx"))


def _decide(spark, index, rows, batch_id):
    return {
        r.doc_id: (r.is_duplicate, r.matched_id)
        for r in dedup_batch(
            _docs(spark, rows), index, id_col="doc_id", batch_id=batch_id
        ).collect()
    }


def test_incremental_dedup_across_batches(spark, index):
    d1 = _decide(spark, index, [(1, BASE), (2, OTHER)], 1)
    assert d1 == {1: (False, None), 2: (False, None)}
    assert index.has_state()

    # batch 2: doc 3 duplicates indexed doc 1; doc 4 is new
    d2 = _decide(spark, index, [(3, BASE), (4, THIRD)], 2)
    assert d2[3] == (True, 1)
    assert d2[4] == (False, None)
    # index holds exactly the survivors
    kept = {r.doc_id for r in index.sigs.read(spark).collect()}
    assert kept == {1, 2, 4}


def test_within_batch_lower_id_wins(spark, index):
    d = _decide(spark, index, [(11, BASE), (10, BASE), (12, OTHER)], 1)
    assert d[10] == (False, None)
    assert d[11] == (True, 10)
    assert d[12] == (False, None)


def test_replay_converges_without_double_insert(spark, index):
    rows = [(1, BASE), (2, OTHER)]
    _decide(spark, index, rows, 1)
    n_sigs = index.sigs.read(spark).count()
    # replayed delivery of the same batch: docs match their own indexed
    # copies (agreement 1.0) -> flagged duplicates, nothing re-inserted
    d = _decide(spark, index, rows, 1)
    assert d[1] == (True, 1)
    assert d[2] == (True, 2)
    assert index.sigs.read(spark).count() == n_sigs
    # decision history keeps both batch entries
    assert index.decisions.read(spark).count() == 4


def test_dedup_stream_end_to_end(spark, tmp_path):
    import json
    import os

    src = tmp_path / "src"
    os.makedirs(src)
    with open(src / "b1.json", "w") as fh:
        for rec in [
            {"doc_id": 1, "text": BASE},
            {"doc_id": 2, "text": OTHER},
        ]:
            fh.write(json.dumps(rec) + "\n")
    with open(src / "b2.json", "w") as fh:
        for rec in [
            {"doc_id": 3, "text": BASE},
            {"doc_id": 4, "text": THIRD},
        ]:
            fh.write(json.dumps(rec) + "\n")

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    root = str(tmp_path / "idx")
    q = (
        stream.writeStream.foreachBatch(
            dedup_foreach_batch(index_root=root, id_col="doc_id")
        )
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)

    index = DedupIndex(root)
    kept = {r.doc_id for r in index.sigs.read(spark).collect()}
    assert kept == {1, 2, 4}
    dec = {
        (r.doc_id, r.batch_id): r.is_duplicate
        for r in index.decisions.read(spark).collect()
    }
    assert sum(1 for v in dec.values() if v) == 1  # only doc 3 dropped


def test_index_maintain_compacts_fragmentation(spark, index):
    for b, txt in enumerate([BASE, OTHER, THIRD], start=1):
        _decide(spark, index, [(b * 10, txt)], b)
    assert index.bands.fragmentation() == 3
    index.maintain(spark, max_txn_dirs=2)
    assert index.bands.fragmentation() == 1
    assert index.sigs.fragmentation() == 1
    # contents survive compaction
    assert {r.doc_id for r in index.sigs.read(spark).collect()} == {
        10, 20, 30
    }


def test_bulk_seed_indexes_everything_including_near_dups(spark, index):
    """Bootstrap must represent the corpus AS IS: near-identical docs
    all land in the index (unlike dedup_batch seeding, which would
    collapse them and silently shrink the index — the failure mode
    the r5 scaling sweep exposed)."""
    from data_pipeline_mlops_spark.streaming.dedup_stream import bulk_seed

    rows = [
        (1, BASE),
        (2, BASE + " tiny suffix"),  # near-dup of 1: still indexed
        (3, OTHER),
    ]
    bulk_seed(_docs(spark, rows), index, id_col="doc_id")
    indexed = {
        r.doc_id for r in index.sigs.read(spark).select("doc_id").collect()
    }
    assert indexed == {1, 2, 3}
    # the seeded index then drives normal batch decisions
    verdicts = _decide(spark, index, [(10, BASE), (11, THIRD)], batch_id=1)
    assert verdicts[10][0] and verdicts[10][1] in (1, 2)
    assert not verdicts[11][0]


def test_supplied_index_schema_equals_inferred(spark, index):
    """dedup_batch reads the index with the nullable schema of the
    frames it builds instead of inferring it; that schema must equal
    the inferred one, nullability included, over 1 and 2 commits."""
    from data_pipeline_mlops_spark.functions import dedup_text
    from data_pipeline_mlops_spark.schemas import nullable

    sigs = dedup_text.minhash_signatures(
        _docs(spark, [(1, BASE)]), id_col="doc_id"
    )
    bands = dedup_text.banded_signatures(sigs, id_col="doc_id")
    for batch_id, rows in [(1, [(1, BASE)]), (2, [(2, OTHER), (3, THIRD)])]:
        _decide(spark, index, rows, batch_id)
        for table, built in [(index.bands, bands), (index.sigs, sigs)]:
            inferred = table.read(spark)
            supplied = table.read(spark, schema=nullable(built.schema))
            assert supplied.schema == inferred.schema
            assert sorted(supplied.collect()) == sorted(inferred.collect())
    assert index.sigs.read(spark).count() == 3
