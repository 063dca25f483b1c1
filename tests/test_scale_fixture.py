"""scaling_sweep.build_fixture: a 2x replica of sf0.001 keeps every
per-replica statistic the scale series relies on."""

from __future__ import annotations

import os

import numpy as np
import pytest

from scaling_sweep import REPLICATED, VERBATIM, build_fixture
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def fixture2x(spark, tmp_path_factory):
    dst = str(tmp_path_factory.mktemp("scale") / "sf0.001_x2")
    build_fixture(spark, SF_SMALL, dst, 2)
    return dst


def _read(spark, root, t):
    return spark.read.parquet(f"{root}/{t}.parquet")


def test_row_counts_and_verbatim_tables(spark, fixture2x):
    for t in REPLICATED:
        assert _read(spark, fixture2x, t).count() == 2 * _read(spark, SF_SMALL, t).count(), t
    for t in VERBATIM:
        src, out = _read(spark, SF_SMALL, t), _read(spark, fixture2x, t)
        assert out.schema == src.schema, t
        assert out.count() == src.count(), t
        assert out.exceptAll(src).count() == 0, t


def test_ids_disjoint_and_catalog_fixed(spark, fixture2x):
    for t, (offsets, _, _) in REPLICATED.items():
        for c, off in offsets.items():
            src = [r[0] for r in _read(spark, SF_SMALL, t).select(c).collect()]
            out = [r[0] for r in _read(spark, fixture2x, t).select(c).collect()]
            assert max(src) < off, (t, c)
            assert sorted(out) == sorted(src + [x + off for x in src]), (t, c)
    src = sorted(r[0] for r in _read(spark, SF_SMALL, "lineitem").select("l_partkey").collect())
    out = sorted(r[0] for r in _read(spark, fixture2x, "lineitem").select("l_partkey").collect())
    assert out == sorted(src + src)


def test_replica_documents_are_word_suffixed(spark, fixture2x):
    off = REPLICATED["documents"][0]["doc_id"]
    src = {r.doc_id: r.text for r in _read(spark, SF_SMALL, "documents").collect()}
    rep = {
        r.doc_id - off: (r.text, r.n_chars)
        for r in _read(spark, fixture2x, "documents").where(f"doc_id >= {off}").collect()
    }
    assert rep.keys() == src.keys()
    for doc_id, text in src.items():
        words = text.split(" ")
        got, n_chars = rep[doc_id]
        assert got.split(" ") == [w + "1" for w in words]
        assert n_chars == len(got)


def test_replica_embeddings_keep_norms_and_cosines(spark, fixture2x):
    off = REPLICATED["embeddings"][0]["vec_id"]

    def matrix(df):
        rows = sorted((r.vec_id, r.embedding) for r in df.collect())
        return [i for i, _ in rows], np.array([e for _, e in rows], dtype=np.float64)

    ids, a = matrix(_read(spark, SF_SMALL, "embeddings"))
    rep_ids, b = matrix(
        _read(spark, fixture2x, "embeddings").where(f"vec_id >= {off}")
    )
    assert rep_ids == [i + off for i in ids]
    assert not np.allclose(a, b)  # the sign pattern did flip something
    np.testing.assert_allclose(
        np.linalg.norm(b, axis=1), np.linalg.norm(a, axis=1), rtol=1e-6
    )
    np.testing.assert_allclose(b @ b.T, a @ a.T, rtol=1e-5, atol=1e-5)


@pytest.mark.parametrize(
    "table,col,planted",
    [("customer", "c_custkey", 100_000), ("embeddings", "vec_id", 9_900_000)],
)
def test_offset_collision_raises(spark, tmp_path, table, col, planted):
    from pyspark.sql import functions as F

    src = tmp_path / "src"
    src.mkdir()
    for name in os.listdir(SF_SMALL):
        if name != f"{table}.parquet":
            os.symlink(os.path.join(SF_SMALL, name), src / name)
    df = _read(spark, SF_SMALL, table)
    df.limit(1).withColumn(col, F.lit(planted).cast(df.schema[col].dataType)).unionByName(
        df
    ).write.parquet(str(src / f"{table}.parquet"))
    dst = tmp_path / "dst"
    with pytest.raises(ValueError, match=f"{table}.{col}"):
        build_fixture(spark, str(src), str(dst), 2)
    assert not dst.exists() and not (tmp_path / "dst.tmp").exists()


def test_cpu_scaling_probe_caps_rows(spark, fixture2x, monkeypatch):
    """bench.py's CPU probe reads at most ``CPU_PROBE_ROWS`` lineitem
    rows, counted from the footers of a multi-file fixture; at or
    below the cap its plan has no limit."""
    import bench

    monkeypatch.setattr(bench, "CPU_PROBE_ROWS", 6000)

    def plan(sf_dir):
        df = bench._cpu_scaling_probe(spark, sf_dir)
        return df._jdf.queryExecution().optimizedPlan().toString()

    assert "GlobalLimit 6000" in plan(fixture2x)
    assert "Limit" not in plan(SF_SMALL)
