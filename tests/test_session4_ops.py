"""Behavioral tests for round-5 session-4 operators (the hash-level
oracle parity lives in test_oracle_parity.py)."""

from __future__ import annotations

import math


def test_bm25_matches_hand_computation(spark):
    from data_pipeline_mlops_spark.functions.retrieval import bm25_topk

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a c"), (3, "b b b")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_terms_matched, r.score, r.rank)
        for r in bm25_topk(
            docs, ["a", "b"], k=3, k1=1.2, b=0.75
        ).collect()
    }

    def idf(df, n=3):
        return math.log(1.0 + ((float(n) - df) + 0.5) / (df + 0.5))

    def part(tf, dl, df, avgdl=8.0 / 3.0, k1=1.2, b=0.75):
        return idf(df) * (
            tf * (k1 + 1.0) / (tf + k1 * ((1.0 - b) + (b * dl) / avgdl))
        )

    exp = {
        1: round(0.0 + part(2.0, 3.0, 2) + part(1.0, 3.0, 2), 6),
        2: round(0.0 + part(1.0, 2.0, 2), 6),
        3: round(0.0 + part(3.0, 3.0, 2), 6),
    }
    assert got[1][1] == exp[1]
    assert got[2][1] == exp[2]
    assert got[3][1] == exp[3]
    # doc 1 matches both terms; ranks follow score desc
    assert got[1][0] == 2 and got[2][0] == 1 and got[3][0] == 1
    order = sorted(got, key=lambda d: got[d][2])
    assert [got[d][1] for d in order] == sorted(
        (got[d][1] for d in order), reverse=True
    )


def test_bm25_term_filter_limits_relation(spark):
    """Docs with no query term never reach the scored relation."""
    from data_pipeline_mlops_spark.functions.retrieval import bm25_topk

    docs = spark.createDataFrame(
        [(1, "x y z"), (2, "a b"), (3, "q r s")],
        "doc_id long, text string",
    )
    out = bm25_topk(docs, ["a"], k=10).collect()
    assert [r.doc_id for r in out] == [2]


def test_pps_sample_exact_total_picks_and_heavy_row(spark):
    from data_pipeline_mlops_spark.operators.sample import (
        systematic_pps_sample,
    )

    rows = [(i, (i % 7) + 1) for i in range(1, 200)] + [(999, 500)]
    df = spark.createDataFrame(rows, "id long, w long")
    out = systematic_pps_sample(
        df, id_col="id", weight_col="w", k=25
    ).collect()
    # systematic PPS draws exactly k picks in total
    assert sum(r.n_picks for r in out) == 25
    # the heavy row (w=500 > total/k ~ 52) must be selected
    heavy = [r for r in out if r.id == 999]
    assert heavy and heavy[0].n_picks >= 1


def test_pps_sample_partition_invariant(spark):
    from data_pipeline_mlops_spark.operators.sample import (
        systematic_pps_sample,
    )

    rows = [(i, (i * 13) % 29 + 1) for i in range(1, 400)]
    df1 = spark.createDataFrame(rows, "id long, w long").repartition(1)
    df7 = spark.createDataFrame(rows, "id long, w long").repartition(7)
    pick = lambda df: sorted(
        (r.id, r.cum_weight, r.n_picks)
        for r in systematic_pps_sample(
            df, id_col="id", weight_col="w", k=40
        ).collect()
    )
    assert pick(df1) == pick(df7)


def test_pps_sample_drops_nonpositive_weights(spark):
    from data_pipeline_mlops_spark.operators.sample import (
        systematic_pps_sample,
    )

    df = spark.createDataFrame(
        [(1, 10), (2, 0), (3, -5), (4, 10)], "id long, w long"
    )
    out = systematic_pps_sample(df, id_col="id", weight_col="w", k=2)
    assert {r.id for r in out.collect()} <= {1, 4}


def test_dsir_prefers_target_like_text(spark):
    from pyspark.sql import functions as F

    from data_pipeline_mlops_spark.functions.text import (
        dsir_importance_rank,
    )

    # target docs are pure 'ababab...'; doc 10 mimics them, doc 11 is
    # made of bigrams the target corpus never contains
    rows = [(i, "ab" * 50, True) for i in range(5)]
    rows += [(10, "ab" * 40 + "xy", False), (11, "zq" * 50, False)]
    df = spark.createDataFrame(rows, "doc_id long, text string, t boolean")
    out = {
        r.doc_id: r.rank
        for r in dsir_importance_rank(
            df, target_pred=F.col("t"), k=10
        ).collect()
    }
    assert out[10] < out[11]
    # zq doc has zero target mass -> ranked last
    assert out[11] == max(out.values())


def test_winnowing_shared_run_guarantee(spark):
    """Any shared run of >= k + window - 1 tokens must contribute at
    least one identical fingerprint to both docs (the winnowing
    theorem, k=4 w=5 -> runs of 8+)."""
    from data_pipeline_mlops_spark.functions.dedup_text import (
        winnowing_fingerprints,
    )

    shared = "one two three four five six seven eight"  # 8 tokens
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta {shared} gamma delta"),
            (2, f"zeta eta theta {shared} iota"),
            (3, "totally different words with no overlap at all here"),
        ],
        "doc_id long, text string",
    )
    fps = winnowing_fingerprints(docs, k=4, window=5).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add(r.fingerprint)
    assert by_doc[1] & by_doc[2], "shared 8-token run must collide"
    assert not (by_doc[1] & by_doc.get(3, set()))


def test_winnowing_short_docs(spark):
    from data_pipeline_mlops_spark.functions.dedup_text import (
        winnowing_fingerprints,
    )

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c d"), (3, "a b c d e")],
        "doc_id long, text string",
    )
    got = {}
    for r in winnowing_fingerprints(docs, k=4, window=5).collect():
        got.setdefault(r.doc_id, []).append(r.fingerprint)
    assert 1 not in got          # < k tokens: no k-grams
    assert len(got[2]) == 1      # one k-gram -> one fingerprint
    assert len(got[3]) == 1      # two k-grams, one window -> min only


def test_funnel_requires_strict_order(spark):
    from pyspark.sql import functions as F

    from data_pipeline_mlops_spark.operators.aggregate import funnel_counts

    rows = [
        # user 1: proper view -> click -> purchase
        (1, "view", 100), (1, "click", 200), (1, "purchase", 300),
        # user 2: purchase BEFORE click -> stops at stage 2
        (2, "view", 100), (2, "purchase", 150), (2, "click", 200),
        # user 3: only views
        (3, "view", 100),
    ]
    ev = spark.createDataFrame(rows, "user_id long, et string, t long")
    out = {
        r.stage: r.n_users
        for r in funnel_counts(
            ev,
            stages=[
                ("view", F.col("et") == "view"),
                ("click", F.col("et") == "click"),
                ("purchase", F.col("et") == "purchase"),
            ],
            user_col="user_id",
            ts_col=F.col("t"),
        ).collect()
    }
    assert out == {"1_view": 3, "2_click": 2, "3_purchase": 1}


def test_contrastive_pairs_labels_and_invariance(spark):
    import numpy as np
    from pyspark.sql import functions as F

    from data_pipeline_mlops_spark.functions.similarity import (
        contrastive_pairs,
    )

    rng = np.random.RandomState(3)
    rows = []
    for i in range(40):
        v = rng.randn(8).astype(float)
        rows.append((i, [float(x) for x in v]))
        if i % 10 == 0:  # planted near-dup twin
            rows.append((1000 + i, [float(x) + 0.001 for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = contrastive_pairs(
        df, id_col="vec_id", vec_col="embedding", threshold=0.99,
        method="exact",
    )
    pos = {(r.id_a, r.id_b) for r in out.where(F.col("label") == 1).collect()}
    negs = {(r.id_a, r.id_b) for r in out.where(F.col("label") == 0).collect()}
    # every planted twin is a positive
    for i in (0, 10, 20, 30):
        assert (i, 1000 + i) in pos
    # no pair is both
    assert not (pos & negs)
    # partitioning invariance of the whole labeled set
    out7 = contrastive_pairs(
        df.repartition(7), id_col="vec_id", vec_col="embedding",
        threshold=0.99, method="exact",
    )
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, out7.collect())
    )


def test_label_propagation_finds_two_cliques(spark):
    from data_pipeline_mlops_spark.functions.graph import label_propagation

    # two 4-cliques {1..4}, {10..13} joined by a single bridge 4-10
    def clique(ns):
        return [(a, b) for a in ns for b in ns if a != b]

    edges = clique([1, 2, 3, 4]) + clique([10, 11, 12, 13]) + [
        (4, 10), (10, 4)
    ]
    e = spark.createDataFrame(edges, "src long, dst long")
    v = spark.createDataFrame(
        [(x,) for x in [1, 2, 3, 4, 10, 11, 12, 13]], "id long"
    )
    out = {
        r.v: r.label
        for r in label_propagation(
            v, e, vertex_col="id", src_col="src", dst_col="dst", iters=3
        ).collect()
    }
    # each clique converges to one label; the two labels differ
    assert len({out[1], out[2], out[3]}) == 1
    assert len({out[11], out[12], out[13]}) == 1
    assert out[1] != out[11]


def test_skeleton_key_collapses_homoglyphs(spark):
    from pyspark.sql import functions as F

    from data_pipeline_mlops_spark.functions.text import skeleton_key

    rows = [
        (1, "Cheap pills here"),
        (2, "Cheаp pills herе"),       # Cyrillic а, е
        (3, "​Cheap  pills   here"),        # zero-width + spacing
        (4, "cheap pills there"),                # genuinely different
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    keys = {
        r.id: r.k
        for r in df.select("id", skeleton_key("text").alias("k")).collect()
    }
    assert keys[1] == keys[2] == keys[3]
    assert keys[4] != keys[1]


def test_image_dimensions_parses_real_headers(spark):
    import struct as pystruct

    from data_pipeline_mlops_spark.functions.multimodal import (
        image_dimensions,
    )

    png = (
        bytes.fromhex("89504E470D0A1A0A")
        + pystruct.pack(">I", 13) + b"IHDR"
        + pystruct.pack(">II", 640, 480) + bytes.fromhex("0806000000")
    )
    # JPEG with an EXIF (FFE1) segment BEFORE the SOF0 frame header —
    # the variable-offset case the marker walk exists for
    exif = b"\xff\xe1" + pystruct.pack(">H", 10) + b"Exif\x00\x00\x01\x02"
    sof = b"\xff\xc0" + pystruct.pack(">H", 17) + b"\x08" + pystruct.pack(
        ">HH", 480, 640
    ) + b"\x03" + b"\x01\x11\x00\x02\x11\x01\x03\x11\x01"
    jpeg = b"\xff\xd8" + exif + sof + b"\xff\xd9"
    truncated = b"\xff\xd8\xff\xe0"
    rows = [(1, png), (2, jpeg), (3, truncated), (4, b"GIF89a??")]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    got = {
        r.media_id: (r.fmt, r.width, r.height)
        for r in image_dimensions(df).collect()
    }
    assert got[1] == ("png", 640, 480)
    assert got[2] == ("jpeg", 640, 480)
    assert got[3] == ("jpeg", None, None)   # truncated: null, no error
    assert got[4] == ("unknown", None, None)


def test_jpeg_fill_bytes_and_standalone_markers(spark):
    """Spec-valid JPEGs can carry 0xFF FILL byte runs before a marker
    id, and standalone markers (TEM 0x01, RSTn 0xD0-0xD7) have NO
    length field — treating their payload bytes as a segment length
    misread seg_len and broke the SOF walk."""
    import struct as pystruct

    from data_pipeline_mlops_spark.functions.multimodal import (
        image_dimensions,
    )

    sof = b"\xff\xc0" + pystruct.pack(">H", 17) + b"\x08" + pystruct.pack(
        ">HH", 120, 160
    ) + b"\x03" + b"\x01\x11\x00\x02\x11\x01\x03\x11\x01"
    app0 = b"\xff\xe0" + pystruct.pack(">H", 4) + b"\x00\x00"
    fill = b"\xff\xff\xff"          # fill-byte run, then marker id
    tem = b"\xff\x01"                # standalone, no length
    rst = b"\xff\xd3"                # standalone RST3, no length
    cases = [
        (1, b"\xff\xd8" + fill + sof),
        (2, b"\xff\xd8" + tem + app0 + sof),
        (3, b"\xff\xd8" + rst + sof),
        (4, b"\xff\xd8" + fill[:1] * 0 + app0 + fill + tem + sof),
    ]
    df = spark.createDataFrame(cases, "media_id long, content binary")
    got = {
        r.media_id: (r.width, r.height)
        for r in image_dimensions(df).collect()
    }
    assert got == {i: (160, 120) for i in (1, 2, 3, 4)}


def test_wav_metadata_parses_real_header(spark):
    import struct as pystruct

    from data_pipeline_mlops_spark.functions.multimodal import wav_metadata

    def wav(rate, ch, bits, data_bytes):
        return (
            b"RIFF" + pystruct.pack("<I", data_bytes + 36) + b"WAVE"
            + b"fmt " + pystruct.pack("<IHHIIHH", 16, 1, ch, rate,
                                      rate * ch * bits // 8,
                                      ch * bits // 8, bits)
            + b"data" + pystruct.pack("<I", data_bytes)
        )

    rows = [
        (1, wav(44100, 2, 16, 176400)),   # exactly 1000 ms
        (2, wav(8000, 1, 8, 4000)),       # 500 ms
        (3, b"not audio at all"),
    ]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    got = {
        r.media_id: (r.sample_rate, r.channels, r.bits_per_sample,
                     r.duration_ms)
        for r in wav_metadata(df).collect()
    }
    assert got[1] == (44100, 2, 16, 1000)
    assert got[2] == (8000, 1, 8, 500)
    assert got[3] == (None, None, None, None)


def test_mp4_metadata_walks_real_boxes(spark):
    import struct as pystruct

    from pyspark.sql import functions as F

    from data_pipeline_mlops_spark.functions.multimodal import (
        mp4_metadata_udf,
    )

    def box(typ, payload):
        return pystruct.pack(">I", 8 + len(payload)) + typ + payload

    mvhd = box(
        b"mvhd",
        b"\x00\x00\x00\x00" + b"\x00" * 8
        + pystruct.pack(">II", 90000, 270000) + b"\x00" * 80,
    )
    # an extra leading child (udta) before mvhd exercises the walk
    moov = box(b"moov", box(b"udta", b"\x00" * 12) + mvhd)
    mp4 = box(b"ftyp", b"isom\x00\x00\x02\x00") + moov
    rows = [(1, mp4), (2, b"RIFFxxxxWAVE")]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    got = {
        r.media_id: (r.meta.timescale, r.meta.duration_ms)
        for r in df.withColumn(
            "meta", mp4_metadata_udf()(F.col("content"))
        ).collect()
    }
    assert got[1] == (90000, 3000)       # 270000 / 90000 = 3 s
    assert got[2] == (None, None)


def test_canonicalize_url_variants_collapse(spark):
    from data_pipeline_mlops_spark.functions.url import (
        canonicalize_url,
        registered_domain,
    )

    variants = [
        "https://example.com/a/b?id=1",
        "HTTPS://EXAMPLE.com/a/b?id=1",
        "https://www.example.com/a/b?id=1",
        "https://example.com:443/a/b?id=1",
        "https://example.com/a/b?utm_source=x&id=1",
        "https://example.com/a/b?utm_source=x&utm_campaign=y&id=1",
        "https://example.com/a/b?id=1#section",
    ]
    df = spark.createDataFrame([(u,) for u in variants], "url string")
    got = {
        r.c for r in df.select(canonicalize_url("url").alias("c")).collect()
    }
    assert got == {"https://example.com/a/b?id=1"}
    doms = {
        r.d
        for r in df.select(registered_domain("url").alias("d")).collect()
    }
    assert doms == {"example.com"}


def test_canonicalize_preserves_path_case_and_real_params(spark):
    from data_pipeline_mlops_spark.functions.url import canonicalize_url

    df = spark.createDataFrame(
        [("https://Example.com/CaseSensitive/Path?q=Hello&page=2",)],
        "url string",
    )
    out = df.select(canonicalize_url("url").alias("c")).collect()[0].c
    assert out == "https://example.com/CaseSensitive/Path?q=Hello&page=2"


def test_profile_counts_nulls_and_distincts(spark):
    from data_pipeline_mlops_spark.operators.profile import profile

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a"), (None, "b")],
        "k long, s string",
    )
    got = {
        r.column_name: (r.n_rows, r.n_non_null, r.n_null, r.n_distinct,
                        r.min_value, r.max_value)
        for r in profile(df, ["k", "s"]).collect()
    }
    assert got["k"] == (4, 3, 1, 3, "1", "3")
    assert got["s"] == (4, 3, 1, 2, "a", "b")
    # the approx variant still covers every column with sane bounds
    approx = {
        r.column_name: r.n_distinct
        for r in profile(df, ["k", "s"], exact_distinct=False).collect()
    }
    assert set(approx) == {"k", "s"} and all(v >= 1 for v in approx.values())


def test_negative_samples_never_owned(spark):
    import os

    from data_pipeline_mlops_spark.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    negs = QUERIES["cf_negative_samples"].spark(spark, sf)
    from data_pipeline_mlops_spark.registry import _interactions

    inter = {
        (r.customer_id, r.product_id)
        for r in _interactions(spark, sf).collect()
    }
    rows = negs.collect()
    assert rows, "sampler should produce negatives"
    for r in rows:
        assert (r.customer_id, r.neg_item) not in inter
        assert r.neg_item != r.pos_item or (r.customer_id, r.pos_item) not in inter


def test_triangle_counting_known_graph(spark):
    """K4 contains exactly 4 triangles; each vertex is in 3."""
    from data_pipeline_mlops_spark.registry import QUERIES  # noqa: F401
    from pyspark.sql import functions as F

    # emulate the query's core on a hand graph via the same pattern:
    # K4 on {1,2,3,4} plus a pendant edge 4-5
    edges = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    edges.append((4, 5))
    und = spark.createDataFrame(edges, "u long, v long")
    deg = (
        und.select(F.col("u").alias("x"))
        .unionAll(und.select(F.col("v").alias("x")))
        .groupBy("x").agg(F.count(F.lit(1)).alias("d"))
    )
    e = (
        und.join(deg.withColumnRenamed("x", "u").withColumnRenamed("d", "du"), "u")
        .join(deg.withColumnRenamed("x", "v").withColumnRenamed("d", "dv"), "v")
        .selectExpr(
            "CASE WHEN du < dv OR (du = dv AND u < v) THEN u ELSE v END AS s",
            "CASE WHEN du < dv OR (du = dv AND u < v) THEN v ELSE u END AS t",
        )
    )
    wedge = (
        e.alias("e1").join(e.alias("e2"), F.col("e1.s") == F.col("e2.s"))
        .where(F.col("e1.t") < F.col("e2.t"))
        .select(F.col("e1.s").alias("a"), F.col("e1.t").alias("b"),
                F.col("e2.t").alias("c"))
    )
    closer = e.select(F.col("s").alias("b"), F.col("t").alias("c"))
    tri = wedge.join(closer, ["b", "c"])
    assert tri.count() == 4  # C(4,3) triangles in K4, pendant adds none
    per = (
        tri.selectExpr("a AS item").unionAll(tri.selectExpr("b AS item"))
        .unionAll(tri.selectExpr("c AS item"))
        .groupBy("item").count().collect()
    )
    assert {r.item: r["count"] for r in per} == {1: 3, 2: 3, 3: 3, 4: 3}


def test_materialize_reliable_checkpoint_switch(
    spark, tmp_path, monkeypatch, restore_checkpoint_dir
):
    """SPARK_GRAFT_CHECKPOINT_DIR flips materialize from executor-
    memory localCheckpoint to reliable storage checkpoints: identical
    values, checkpoint files actually land on disk. Inputs: a query
    built on lazy cuts, and the eager pins of a dedup batch (and its
    replay), an upsert batch and a crawl batch."""
    import glob

    from data_pipeline_mlops_spark.registry import QUERIES
    from data_pipeline_mlops_spark.streaming.crawl_stream import (
        CrawlStore,
        crawl_ingest_batch,
    )
    from data_pipeline_mlops_spark.streaming.dedup_stream import (
        DedupIndex,
        dedup_batch,
    )
    from data_pipeline_mlops_spark.streaming.upsert_sink import upsert_batch
    from tests.conftest import SF_SMALL

    text = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm stone wall near the old garden gate"
    )
    other = (
        "distributed query engines shuffle partitions broadcast joins "
        "and adaptive execution on columnar parquet storage readers"
    )

    def recommendations(root):
        return QUERIES["recommendations_capped"].spark(
            spark, SF_SMALL
        ).collect()

    def dedup(root):
        index = DedupIndex(str(root / "idx"))
        docs = spark.createDataFrame(
            [(1, text), (2, text + " again"), (3, other)],
            "doc_id long, text string",
        )
        first = dedup_batch(docs, index, id_col="doc_id", batch_id=1)
        replay = dedup_batch(docs, index, id_col="doc_id", batch_id=1)
        return first.collect() + replay.collect()

    def upsert(root):
        kw = dict(
            path=str(root / "tbl"), key_cols=["k"], order_col="v",
            partition_col="p",
        )
        schema = "k long, v long, p string"
        upsert_batch(
            spark.createDataFrame([(1, 10, "a"), (2, 20, "b")], schema), **kw
        )
        upsert_batch(
            spark.createDataFrame([(1, 11, "a"), (3, 30, "a")], schema), **kw
        )
        return spark.read.parquet(kw["path"]).collect()

    def crawl(root):
        page = "<html><body><h1>t</h1><p>{}</p></body></html>"
        batch = spark.createDataFrame(
            [(1, page.format(text)), (2, page.format(text)),
             (3, page.format(other))],
            "doc_id long, html string",
        )
        store = CrawlStore.at(str(root / "crawl"))
        return crawl_ingest_batch(batch, store, batch_id=1).collect()

    cases = {
        "recommendations_capped": recommendations,
        "dedup_batch": dedup,
        "upsert_batch": upsert,
        "crawl_ingest_batch": crawl,
    }

    def bag(rows):
        return sorted(map(tuple, rows), key=repr)

    baseline = {
        name: bag(fn(tmp_path / "local" / name)) for name, fn in cases.items()
    }
    ckpt = tmp_path / "ckpt"
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(ckpt))
    for name, fn in cases.items():
        before = len(glob.glob(f"{ckpt}/*/rdd-*"))
        assert bag(fn(tmp_path / "reliable" / name)) == baseline[name], name
        assert len(glob.glob(f"{ckpt}/*/rdd-*")) > before, (
            f"{name}: reliable checkpoint files should exist on disk"
        )


def test_rrf_fuse_hand_computed(spark):
    """RRF on two tiny ranked lists: overlap doc scores on both legs,
    leg-exclusive docs get the single reciprocal, ordering ties break
    on doc_id, top_k truncates."""
    from pyspark.sql import functions as F

    from data_pipeline_mlops_spark.functions.retrieval import rrf_fuse

    sparse = spark.createDataFrame(
        [(1, 1), (2, 2), (3, 3)], "doc_id long, bm25_rank int"
    )
    dense = spark.createDataFrame(
        [(2, 1), (4, 2)], "doc_id long, vec_rank int"
    )
    rows = {r["doc_id"]: r for r in rrf_fuse(
        sparse, dense, top_k=3
    ).collect()}
    # doc 2 is on both legs: 1/62 + 1/61
    assert rows[2]["rrf_score"] == round(1 / 62 + 1 / 61, 6)
    assert rows[2]["rank"] == 1
    # doc 1 (sparse only, rank 1) beats doc 4 (dense only, rank 2)
    assert rows[1]["rrf_score"] == round(1 / 61, 6)
    assert rows[1]["rank"] == 2
    assert rows[4]["rank"] == 3 and rows[4]["bm25_rank"] is None
    # top_k=3 truncated doc 3
    assert 3 not in rows
