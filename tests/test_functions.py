"""Text analysis, dedup tiers, similarity search, multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_pipeline_mlops_spark.functions import (
    dedup_text,
    multimodal,
    similarity,
    text,
)

DOCS = [
    (1, "the cat sat on the mat"),
    (2, "the cat sat on the mat"),  # exact dup of 1
    (3, "the cat sat on the red mat"),  # near dup of 1
    (4, "completely different words entirely here now"),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup(spark):
    groups = dedup_text.exact_dup_groups(
        _docs(spark), id_col="doc_id"
    ).collect()
    by_n = sorted((g["n_docs"], g["keep_id"]) for g in groups)
    assert by_n == [(1, 3), (1, 4), (2, 1)]  # dup group keeps min id


def test_ngram_jaccard_near_dups(spark):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup_text.ngram_jaccard_pairs(
            _docs(spark), id_col="doc_id", n=3, threshold=0.1
        ).collect()
    }
    assert pairs[(1, 2)] == 1.0  # identical docs
    assert (1, 3) in pairs and 0.1 <= pairs[(1, 3)] < 1.0  # near dup
    assert not any(4 in p for p in pairs)  # unrelated doc pairs with none


# "lorem ipsum dolor" is boilerplate in 4 docs, above the cap of 3;
# "mu nu xi" is in exactly 3, so it stays. 10-11 share only the
# boilerplate; 10-12 share it plus 3 more trigrams.
CAPPED_DOCS = [
    (10, "lorem ipsum dolor alpha beta gamma"),
    (11, "lorem ipsum dolor delta epsilon zeta"),
    (12, "lorem ipsum dolor alpha beta gamma eta"),
    (13, "lorem ipsum dolor theta iota kappa"),
    (14, "mu nu xi omicron"),
    (15, "mu nu xi omicron pi"),
    (16, "mu nu xi rho"),
]


def _reference_overlaps(docs, cap):
    """Plain-Python (id_a, id_b) -> (inter, sz_a, sz_b): intersections
    over the shingles kept by the cap, set sizes over all shingles."""
    from collections import Counter
    from itertools import combinations

    sh = {}
    for doc_id, body in docs:
        toks = body.split()
        sh[doc_id] = {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
    freq = Counter(s for ss in sh.values() for s in ss)
    kept = {
        d: {s for s in ss if cap is None or freq[s] <= cap}
        for d, ss in sh.items()
    }
    out = {}
    for a, b in combinations(sorted(sh), 2):
        inter = len(kept[a] & kept[b])
        if inter:
            out[(a, b)] = (inter, len(sh[a]), len(sh[b]))
    return out


def test_stop_shingle_cap_drops_boilerplate_pairs(spark):
    docs = spark.createDataFrame(CAPPED_DOCS, "doc_id long, text string")
    for cap in (3, None):
        ref = _reference_overlaps(CAPPED_DOCS, cap)
        jaccard = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in dedup_text.ngram_jaccard_pairs(
                docs, id_col="doc_id", n=3, threshold=0.0,
                max_shingle_freq=cap,
            ).collect()
        }
        assert jaccard == {
            p: round(i / (sa + sb - i), 6) for p, (i, sa, sb) in ref.items()
        }
        contained = {
            (r["id_a"], r["id_b"]): (r["inter"], r["sz_a"], r["sz_b"])
            for r in dedup_text.containment_pairs(
                docs, id_col="doc_id", n=3, threshold_pct=0,
                max_shingle_freq=cap,
            ).collect()
        }
        assert contained == ref
        if cap is None:
            assert jaccard[(10, 11)] == round(1 / 7, 6)
            assert jaccard[(10, 12)] == 0.8
        else:
            # joined only by the boilerplate trigram: gone under the cap
            assert (10, 11) not in jaccard and (10, 11) not in contained
            # kept-shingle intersection (3) over full set sizes (4, 5)
            assert jaccard[(10, 12)] == 0.5
            # a trigram exactly at the cap is kept
            assert jaccard[(14, 16)] == round(1 / 3, 6)


def test_minhash_lsh_finds_exact_and_near_dups(spark):
    cands = {
        (r["id_a"], r["id_b"])
        for r in dedup_text.minhash_dedup(
            _docs(spark), id_col="doc_id", verify_threshold=0.1
        ).collect()
    }
    assert (1, 2) in cands  # identical must collide in every band
    assert not any(4 in p for p in cands)


def test_simhash_identical_docs_equal_fingerprints(spark):
    fp = {
        r["doc_id"]: r["simhash"]
        for r in dedup_text.simhash(_docs(spark), id_col="doc_id").collect()
    }
    assert fp[1] == fp[2]
    assert fp[1] != fp[4]


def test_token_stats_and_quality(spark):
    stats = {
        r["doc_id"]: r
        for r in text.with_token_stats(_docs(spark)).collect()
    }
    assert stats[1]["n_tokens"] == 6
    assert stats[4]["n_tokens"] == 6
    q = {
        r["doc_id"]: r for r in text.with_quality_score(_docs(spark)).collect()
    }
    # doc4 has 6 distinct tokens/6 -> ttr 1.0 > doc1 (the repeats)
    assert q[4]["type_token_ratio"] == 1.0
    assert q[1]["type_token_ratio"] < 1.0
    assert q[1]["stopword_ratio"] > q[4]["stopword_ratio"]


def test_lang_id_predicts_en_on_stopworded_text(spark):
    out = {
        r["doc_id"]: r["predicted_lang"]
        for r in text.with_lang_id(_docs(spark)).collect()
    }
    assert out[1] == "en"  # 'the' marker hits
    assert out[4] == "unknown"  # no markers at all


def test_fingerprints_bag_vs_exact(spark):
    rows = {
        r["doc_id"]: r for r in text.with_fingerprints(_docs(spark)).collect()
    }
    assert rows[1]["exact_fingerprint"] == rows[2]["exact_fingerprint"]
    assert rows[1]["bag_fingerprint"] == rows[2]["bag_fingerprint"]
    assert rows[1]["exact_fingerprint"] != rows[3]["exact_fingerprint"]


VECS = [
    (1, [1.0, 0.0, 0.0]),
    (2, [0.9, 0.1, 0.0]),  # near v1
    (3, [0.0, 1.0, 0.0]),  # orthogonal to v1
    (4, [-1.0, 0.0, 0.0]),  # opposite of v1
]


def _vecs(spark):
    return spark.createDataFrame(VECS, "vec_id long, embedding array<float>")


def test_brute_force_topk_ordering(spark):
    emb = _vecs(spark)
    out = similarity.brute_force_topk(
        emb.where(F.col("vec_id") == 1), emb, id_col="vec_id",
        vec_col="embedding", k=3,
    ).collect()
    order = [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert order == [2, 3, 4]  # by cosine: 0.993, 0.0, -1.0
    assert out[0]["query_id"] == 1


def test_lsh_buckets_group_similar_vectors(spark):
    b = {
        r["vec_id"]: r["bucket"]
        for r in similarity.hyperplane_buckets_all_tables(
            _vecs(spark), id_col="vec_id", vec_col="embedding",
            num_planes=8, num_tables=1, dim=3,
        ).collect()
    }
    assert b[1] == b[2]  # near vectors share all sign bits w.h.p.
    assert b[1] != b[4]  # opposite vectors flip every plane


def test_multimodal_feature_extraction_deterministic(spark):
    media = spark.createDataFrame(
        [(1, "image", b"abc"), (2, "audio", b"abc"), (3, "image", b"xyz")],
        "media_id long, media_type string, content binary",
    )
    f1 = {
        r["media_id"]: r["features"]
        for r in multimodal.extract_features(media).collect()
    }
    f2 = {
        r["media_id"]: r["features"]
        for r in multimodal.extract_features(media.repartition(3)).collect()
    }
    assert f1 == f2  # partitioning-invariant
    assert f1[1] == f1[2]  # same bytes -> same features
    assert f1[1] != f1[3]
    assert all(len(v) == multimodal.FEATURE_DIM for v in f1.values())


def test_real_decode_path_is_stubbed():
    import pytest

    with pytest.raises(NotImplementedError):
        multimodal.decode_media(b"...", "image")


def test_rolling_hash_order_sensitive(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma beta alpha"), (3, "alpha beta gamma")],
        "doc_id long, text string",
    )
    fp = {
        r["doc_id"]: r["rolling_hash"]
        for r in text.with_rolling_fingerprint(docs).collect()
    }
    assert fp[1] == fp[3]  # identical order -> identical hash
    assert fp[1] != fp[2]  # same bag, different order -> different hash
    # but bag fingerprints collide for 1 and 2
    bag = {
        r["doc_id"]: r["bag_fingerprint"]
        for r in text.with_fingerprints(docs).collect()
    }
    assert bag[1] == bag[2]


def test_ivf_ann_recall_against_exact(spark):
    """IVF with enough probes must recover most exact neighbors."""
    from data_pipeline_mlops_spark.ml.ivf import build_ivf_index, ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 5)
    exact = similarity.brute_force_topk(
        queries, emb, id_col="vec_id", vec_col="embedding", k=5
    )
    centroids, assigned = build_ivf_index(
        emb, id_col="vec_id", vec_col="embedding", n_clusters=4
    )
    approx = ivf_topk(
        queries, centroids, assigned,
        id_col="vec_id", vec_col="embedding", k=5, n_probe=4,
    )
    # n_probe == n_clusters => searches everything => equals exact
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    assert e == a


def test_salted_sum_matches_plain(spark):
    from data_pipeline_mlops_spark.operators.skew import salted_join, salted_sum

    df = spark.createDataFrame(
        [("hot", float(i), i) for i in range(500)]
        + [("cold", 1.0, 1), ("cold", 2.0, 2)],
        "k string, v double, n int",
    )
    plain = {
        r["k"]: (r["s"], r["c"])
        for r in df.groupBy("k")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("c"))
        .collect()
    }
    salted = {
        r["k"]: (r["s"], r["c"])
        for r in salted_sum(
            df, ["k"], {"s": F.sum("v"), "c": F.count(F.lit(1))}, n_salts=8
        ).collect()
    }
    assert plain == salted
    dim = spark.createDataFrame([("hot", "H"), ("cold", "C")], "k string, label string")
    joined = salted_join(df, dim, "k", n_salts=4)
    assert joined.count() == df.count()
    assert joined.where(F.col("label").isNull()).count() == 0


def test_dedup_decisions_greedy_keep_lowest(spark):
    docs = _docs(spark)  # 1 and 2 identical, 3 near-dup of 1, 4 distinct
    pairs = dedup_text.ngram_jaccard_pairs(
        docs, id_col="doc_id", n=3, threshold=0.1
    )
    out = {
        r["doc_id"]: r["keep"]
        for r in dedup_text.dedup_decisions(docs, pairs, id_col="doc_id").collect()
    }
    assert out == {1: True, 2: False, 3: False, 4: True}
    # every doc gets exactly one decision
    assert len(out) == 4


def test_connected_components_hand_graph(spark):
    """Chain 1-2-3-4 collapses to component 1 (multi-hop transitivity —
    what the greedy pair decision can't see), triangle 10-11-12 to 10,
    isolated 99 labels itself."""
    from data_pipeline_mlops_spark.functions.graph import (
        connected_components,
    )

    vertices = spark.createDataFrame(
        [(v,) for v in [1, 2, 3, 4, 10, 11, 12, 99]], "doc_id long"
    )
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12)],
        "id_a long, id_b long",
    )
    got = {
        r.doc_id: r.component
        for r in connected_components(
            vertices, edges, vertex_col="doc_id",
            src_col="id_a", dst_col="id_b",
        ).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 99: 99}


def test_connected_components_foreign_edge_endpoints_ignored(spark):
    """Round-13 internals change (labels iterate only over edge-touched
    vertices): an edge naming a vertex OUTSIDE ``vertices`` must behave
    exactly as before the change — the foreign endpoint neither appears
    in the output nor donates its label to a real vertex, and isolated
    vertices still label themselves."""
    from data_pipeline_mlops_spark.functions.graph import (
        connected_components,
    )

    vertices = spark.createDataFrame(
        [(v,) for v in [5, 6, 99]], "doc_id long"
    )
    # 1 is NOT a vertex: without the left_semi guard it would win the
    # hash-min and relabel 5/6 to component 1
    edges = spark.createDataFrame(
        [(1, 5), (5, 6)], "id_a long, id_b long"
    )
    got = {
        r.doc_id: r.component
        for r in connected_components(
            vertices, edges, vertex_col="doc_id",
            src_col="id_a", dst_col="id_b",
        ).collect()
    }
    assert got == {5: 5, 6: 5, 99: 99}


def test_ivf_index_persists_and_reloads_through_registry(spark, tmp_path):
    """The IVF index is two plain DataFrames, so the train-once /
    serve-many path runs through the model registry: persist
    centroids + assignments as a model version, reload, and search —
    results identical to searching the fresh index (the amortization
    story for the expensive KMeans fit at corpus scale)."""
    from data_pipeline_mlops_spark.ml.ivf import build_ivf_index, ivf_topk
    from data_pipeline_mlops_spark.ml.model_registry import (
        load_production,
        save_version,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 5)
    centroids, assigned = build_ivf_index(
        emb, id_col="vec_id", vec_col="embedding", n_clusters=4
    )
    reg = str(tmp_path / "registry")
    save_version(
        spark, registry_path=reg, version="v1",
        tables={"ivf_centroids": centroids, "ivf_assigned": assigned},
        metrics={"overall_coverage": 1.0}, promote=True,
    )
    c2 = load_production(spark, registry_path=reg, name="ivf_centroids")
    a2 = load_production(spark, registry_path=reg, name="ivf_assigned")

    kw = dict(id_col="vec_id", vec_col="embedding", k=5, n_probe=2)
    fresh = {(r.query_id, r.neighbor_id, r.rank) for r in ivf_topk(
        queries, centroids, assigned, **kw).collect()}
    reloaded = {(r.query_id, r.neighbor_id, r.rank) for r in ivf_topk(
        queries, c2, a2, **kw).collect()}
    assert reloaded == fresh and len(fresh) > 0


def test_simhash_banded_pairs_equal_brute_force(spark):
    """The pigeonhole banded join must find EXACTLY the brute-force
    Hamming pairs — no candidate the bands miss, none the verify
    keeps wrongly (xxhash64 production path, 63-bit fingerprints)."""
    from data_pipeline_mlops_spark.functions.dedup_text import (
        simhash,
        simhash_near_dups,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_near_dups(
            docs, id_col="doc_id", max_hamming=8, hash_method="xxhash64"
        ).collect()
    }
    fp = simhash(docs, id_col="doc_id", hash_method="xxhash64")
    a = fp.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("fa"))
    b = fp.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("fb"))
    want = {
        (r.id_a, r.id_b, r.h)
        for r in a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))).alias("h"),
        )
        .where(F.col("h") <= 8)
        .collect()
    }
    assert got == want and len(want) > 0


def test_quantize_embeddings_error_bound(spark):
    """Codes stay in [-127, 127]; for in-range components the
    reconstruction error is bounded by half a quantization step."""
    from data_pipeline_mlops_spark.functions.similarity import (
        quantize_embeddings,
    )

    df = spark.createDataFrame(
        [(1, [0.0, 0.5, -0.5, 1.0, -1.0, 0.123456]),
         (2, [2.0, -3.0])],  # out of range: clipped to +/-1
        "vec_id long, embedding array<double>",
    )
    got = {r.vec_id: r for r in quantize_embeddings(
        df, id_col="vec_id", vec_col="embedding").collect()}
    codes1 = [int(c) for c in got[1].codes_csv.split(",")]
    assert all(-127 <= c <= 127 for c in codes1)
    assert got[1].max_abs_err <= 0.5 / 127 + 1e-8  # half-step bound
    # (+1e-8 absorbs the 8-dp rounding of the reported stat)
    assert got[2].codes_csv == "127,-127"  # clipped
    assert got[2].max_abs_err >= 1.0  # clip loss is reported, not hidden


def test_quantized_topk_recall_against_exact(spark):
    """Searching on int8 codes must recover most exact-cosine top-5
    neighbors (quantization step 1/127 vs O(0.1) similarity gaps)."""
    from data_pipeline_mlops_spark.functions.similarity import (
        brute_force_topk,
        quantized_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 10)
    kw = dict(id_col="vec_id", vec_col="embedding", k=5)
    exact = {(r.query_id, r.neighbor_id)
             for r in brute_force_topk(queries, emb, **kw).collect()}
    quant = {(r.query_id, r.neighbor_id)
             for r in quantized_topk(queries, emb, **kw).collect()}
    recall = len(exact & quant) / len(exact)
    assert recall >= 0.8, recall


def test_resize_media_contract(spark):
    """Resize plumbing: binary-in/binary-out through Arrow batches,
    exact per-row output size, deterministic and partition-invariant
    (the pixel kernel itself is the stubbed/fake path)."""
    from data_pipeline_mlops_spark.functions import multimodal

    media = spark.createDataFrame(
        [(1, "image", bytes(range(200))), (2, "image", b"ab"),
         (3, "image", b"")],
        "media_id long, media_type string, content binary",
    )
    out = {r.media_id: r for r in multimodal.resize_media(
        media, target_w=8, target_h=4).collect()}
    assert all(len(r.content) == 32 and (r.width, r.height) == (8, 4)
               for r in out.values())
    assert out[2].content.startswith(b"ab\x00")  # zero-padded
    assert out[3].content == b"\x00" * 32
    again = {r.media_id: r.content for r in multimodal.resize_media(
        media.repartition(3), target_w=8, target_h=4).collect()}
    assert {k: v.content for k, v in out.items()} == again


def test_connected_components_raises_when_not_converged(spark):
    """A chain longer than max_iters hops cannot converge within the
    bound; silently returning partially-propagated labels would give
    wrong components (and wrong dedup survivorship downstream), so the
    operator must raise instead."""
    import pytest

    from data_pipeline_mlops_spark.functions.graph import (
        connected_components,
    )

    n = 8  # chain 0-1-...-7: diameter 7, needs ~7 hash-min rounds
    vertices = spark.createDataFrame([(v,) for v in range(n)], "v long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "a long, b long"
    )
    kw = dict(vertex_col="v", src_col="a", dst_col="b")

    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(vertices, edges, max_iters=2, **kw)

    got = {
        r.v: r.component
        for r in connected_components(
            vertices, edges, max_iters=20, **kw
        ).collect()
    }
    assert got == {v: 0 for v in range(n)}


def test_connected_components_releases_previous_round_cut(
    spark, tmp_path, monkeypatch, restore_checkpoint_dir
):
    """Under reliable checkpoints, each round frees the previous
    round's label cut: a 16-round chain leaves the edge cut and at most
    one label cut on disk, not one per round, and its labels are the
    exact components."""
    import glob

    from data_pipeline_mlops_spark.functions.graph import (
        connected_components,
    )

    ckpt = tmp_path / "ckpt"
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(ckpt))
    chain = [(i, i + 1) for i in range(15)]  # 0-...-15: 15+ rounds
    edges = spark.createDataFrame(
        chain + [(100, 101), (101, 102)], "a long, b long"
    )
    verts = [*range(16), 100, 101, 102, 200]
    vertices = spark.createDataFrame([(v,) for v in verts], "v long")
    got = {
        r.v: r.component
        for r in connected_components(
            vertices, edges, vertex_col="v", src_col="a", dst_col="b"
        ).collect()
    }
    assert got == {
        **{v: 0 for v in range(16)}, 100: 100, 101: 100, 102: 100,
        200: 200,
    }
    assert len(glob.glob(f"{ckpt}/*/rdd-*")) <= 2


def test_normalize_text_unifies_case_punct_and_unicode_form(spark):
    """Mixed-case + punctuation + NFD/NFC variants of the same words
    must normalize to one canonical string, so exact dedup on the
    normalized column groups them."""
    from data_pipeline_mlops_spark.functions import dedup_text, text

    docs = spark.createDataFrame(
        [
            (1, "Héllo,   World!!"),   # NFD e + combining accent
            (2, "héllo world"),          # NFC precomposed
            (3, "HELLO -- WORLD"),            # no accent: different doc
        ],
        "doc_id long, text string",
    )
    norm = docs.select(
        "doc_id", text.normalize_text("text").alias("text")
    )
    vals = {r.doc_id: r.text for r in norm.collect()}
    assert vals[1] == vals[2] == "héllo world"
    assert vals[3] == "hello world"
    groups = dedup_text.exact_dup_groups(
        norm, id_col="doc_id", text_col="text"
    )
    by_n = sorted(r.n_docs for r in groups.collect())
    assert by_n == [1, 2]


def test_percentile_approx_within_error_of_exact(spark):
    """percentile_approx (GK sketch, the at-scale path) must land
    within its accuracy envelope of the exact interpolated percentile
    the oracled event_value_percentiles row checks."""
    from pyspark.sql import functions as F

    from data_pipeline_mlops_spark.sources.tables import load_table
    from tests.conftest import SF_SMALL

    ev = load_table(spark, SF_SMALL, "events")
    got = (
        ev.groupBy("event_type")
        .agg(
            F.percentile_approx("value", F.lit(0.9), F.lit(10000)).alias(
                "approx"
            ),
            F.sort_array(F.collect_list("value")).alias("vals"),
        )
        .collect()
    )
    assert got
    for r in got:
        # GK guarantees a RANK bound (|rank(approx) - 0.9n| <= n/acc),
        # not a value bound — a heavy tail can put neighboring ranks
        # far apart in value space. Check the rank of the returned
        # value directly, with one extra rank of slack for boundary
        # rounding.
        n = len(r.vals)
        target = 0.9 * (n - 1)
        lo = sum(1 for v in r.vals if v < r.approx)
        hi = sum(1 for v in r.vals if v <= r.approx) - 1
        tol = n / 10000 + 1
        assert lo - tol <= target <= hi + tol, (r.event_type, n, r.approx)


def test_redact_pii_all_classes(spark):
    from pyspark.sql import functions as F

    from data_pipeline_mlops_spark.functions import text

    s = (
        "mail a.user+tag@sub.example.org call +1 (555) 123-4567 "
        "host 192.168.1.7 ssn 123-45-6789 done"
    )
    df = spark.createDataFrame([(s,)], "t string")
    out = df.select(
        text.redact_pii("t").alias("r"), *text.pii_counts("t")
    ).collect()[0]
    assert "<EMAIL>" in out.r and "<PHONE>" in out.r
    assert "<IP>" in out.r and "<SSN>" in out.r
    assert "example.org" not in out.r and "6789" not in out.r
    assert (out.n_email, out.n_phone, out.n_ipv4, out.n_ssn) == (1, 1, 1, 1)


def test_char_entropy_known_values(spark):
    import math

    from data_pipeline_mlops_spark.functions import text

    df = spark.createDataFrame(
        [(1, "aaaaaaaa"), (2, "abababab"), (3, "abcdefgh"), (4, "")],
        "i long, t string",
    )
    got = {
        r.i: r.e
        for r in df.select(
            "i", text.char_entropy("t").alias("e")
        ).collect()
    }
    assert got[1] == 0.0          # single symbol: zero entropy
    assert abs(got[2] - 1.0) < 1e-9   # two equiprobable symbols: 1 bit
    assert abs(got[3] - 3.0) < 1e-9   # eight equiprobable symbols: 3 bits
    assert got[4] == 0.0 or got[4] == -0.0
    assert math.isfinite(got[4])


def test_auto_lsh_params_rule():
    """The corpus-scaled LSH knob: integer-exact smallest-b rule with
    2^b * 8 >= n, clamped to [4, 24], tables = planes — and MONOTONE
    in n (a bigger corpus never gets fewer planes). The SQL twin in
    registry.ORACLE_NEAR_DUP_LSH_PARAMS replays the identical rule, so
    this pins the contract both engines share."""
    from data_pipeline_mlops_spark.functions.similarity import (
        auto_lsh_params,
    )

    # clamp floor: tiny corpora stay at 4 planes / 4 tables
    assert auto_lsh_params(0) == (4, 4)
    assert auto_lsh_params(128) == (4, 4)  # 16*8 = 128 exactly
    assert auto_lsh_params(129) == (5, 5)
    # the fixture corpora (550 / 2200 / 11000 / 55000)
    assert auto_lsh_params(550) == (7, 7)
    assert auto_lsh_params(2200) == (9, 9)
    assert auto_lsh_params(11000) == (11, 11)
    assert auto_lsh_params(55000) == (13, 13)
    # clamp ceiling
    assert auto_lsh_params(10**12) == (24, 24)
    # monotone, occupancy bounded while unclamped
    prev = 0
    for e in range(0, 40):
        b, t = auto_lsh_params(2**e)
        assert b == t and b >= prev
        prev = b
        if 4 < b < 24:
            assert (1 << b) * 8 >= 2**e > (1 << (b - 1)) * 8


def test_auto_lsh_params_matches_sql_twin(spark):
    """The DuckDB params CTE and the Python rule agree for every n in
    a sweep crossing several clamp/step boundaries."""
    import duckdb

    from data_pipeline_mlops_spark.functions.similarity import (
        auto_lsh_params,
    )

    con = duckdb.connect()
    for n in [0, 1, 63, 64, 128, 129, 550, 1024, 1025, 2200, 4096,
              11000, 55000, 10**6, 10**9, 2**30 * 64]:
        (nb,) = con.execute(
            """
            SELECT COALESCE(MIN(b), 24)
            FROM (SELECT unnest(range(4, 25)) AS b) bs
            WHERE (CAST(1 AS BIGINT) << b) * 8 >= ?
            """,
            [n],
        ).fetchone()
        assert (nb, nb) == auto_lsh_params(n), n


def test_all_tables_buckets_match_python_recomputation(spark):
    """hyperplane_buckets_all_tables equals a plain-Python replay of
    the bucket rule on the sf0.001 embeddings (3 tables x 5 planes):
    bit p of table t's bucket is set iff that plane's projection is
    > 0.

    - md5: exact integers — each component quantized to
      floor(x*1e6+0.5), each plane component the
      _md5_component("t,p,i") integer the DuckDB oracles derive.
    - seeded: float components _md5_component("x,seed+7919t,p,i")/1000
      over the unquantized vector.

    Real embeddings almost never project near 0, so the md5 leg
    also plants one vector per (table, plane) whose quantized
    projection on that plane is EXACTLY 0 (bit clear) while any other
    rounding of the same floats leaves it nonzero: x_i = (c_j - 0.4)/1e6
    and x_j = (-c_i - 0.4)/1e6 quantize to c_j and -c_i, so
    c_j*c_i - c_i*c_j = 0; truncating instead of rounding, or not
    quantizing at all, moves it to -(c_i+c_j) or a multiple of it,
    which the choice c_i + c_j < 0 makes positive."""
    import math

    from data_pipeline_mlops_spark.functions.similarity import (
        _md5_component,
        hyperplane_buckets_all_tables,
    )
    from tests.conftest import SF_SMALL

    planes, tables, dim, seed = 5, 3, 64, 42
    real = [
        (r["vec_id"], list(r["embedding"]))
        for r in spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
        .select("vec_id", "embedding")
        .collect()
    ]
    planted = []
    for t in range(tables):
        for p in range(planes):
            c = [_md5_component(f"{t},{p},{i}") for i in range(dim)]
            i, j = next(
                (i, j)
                for i in range(dim)
                for j in range(i + 1, dim)
                if c[i] and c[j] and c[i] + c[j] < 0
            )
            v = [0.0] * dim
            v[i], v[j] = (c[j] - 0.4) / 1e6, (-c[i] - 0.4) / 1e6
            planted.append((10**6 + t * planes + p, v))
    emb = spark.createDataFrame(
        real + planted, "vec_id long, embedding array<float>"
    )
    vecs = [(r["vec_id"], r["embedding"]) for r in emb.collect()]

    def replay(component, value):
        out = {}
        for vid, vec in vecs:
            x = [value(e) for e in vec]
            for t in range(tables):
                out[(vid, t)] = sum(
                    1 << p
                    for p in range(planes)
                    if sum(e * component(t, p, i) for i, e in enumerate(x))
                    > 0
                )
        return out

    def spark_buckets(method):
        return {
            (r["vec_id"], r["table"]): r["bucket"]
            for r in hyperplane_buckets_all_tables(
                emb, id_col="vec_id", vec_col="embedding",
                num_planes=planes, num_tables=tables, dim=dim,
                method=method, seed=seed,
            ).collect()
        }

    md5 = replay(
        lambda t, p, i: _md5_component(f"{t},{p},{i}"),
        lambda e: math.floor(e * 1000000.0 + 0.5),
    )
    for k, (vid, _) in enumerate(planted):
        t, p = divmod(k, planes)
        assert not md5[(vid, t)] >> p & 1  # the planted zero projection
    assert spark_buckets("md5") == md5
    assert spark_buckets("seeded") == replay(
        lambda t, p, i: _md5_component(f"x,{seed + 7919 * t},{p},{i}")
        / 1000.0,
        float,
    )


@pytest.mark.parametrize("width", [63, 65])
def test_all_tables_buckets_reject_wrong_width(spark, width):
    """Vectors whose width is not ``dim`` raise instead of bucketing
    against a truncated or padded plane table."""
    from pyspark.errors import PythonException

    emb = spark.createDataFrame(
        [(1, [0.5] * width), (2, [-0.5] * width)],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(PythonException, match="mismatch"):
        similarity.hyperplane_buckets_all_tables(
            emb, id_col="vec_id", vec_col="embedding",
            num_planes=4, num_tables=2, dim=64,
        ).collect()


def test_skewfree_rank_matches_direct_window(spark):
    """skewfree_rank must equal row_number over (part | order, id) —
    including tie groups, single-row partitions, and the cumsum form
    used by the token-budget selection."""
    from pyspark.sql import Window

    from data_pipeline_mlops_spark.operators.skew import skewfree_rank

    rows = []
    # heavy stratum with many ties, light stratum, singleton stratum
    for i in range(200):
        rows.append(("en", float(i % 7), i))
    for i in range(200, 230):
        rows.append(("de", float(i % 3), i))
    rows.append(("xx", 5.0, 999))
    df = spark.createDataFrame(rows, "lang string, score double, doc_id long")

    for desc in (False, True):
        order = F.col("score").desc() if desc else F.col("score").asc()
        w = Window.partitionBy("lang").orderBy(order, F.col("doc_id").asc())
        direct = {
            (r["lang"], r["doc_id"]): r["rk"]
            for r in df.withColumn("rk", F.row_number().over(w)).collect()
        }
        out = skewfree_rank(
            df, part_col="lang", order_col="score", id_col="doc_id",
            descending=desc,
        ).collect()
        got = {(r["lang"], r["doc_id"]): r["__rank"] for r in out}
        assert got == direct, f"descending={desc}"
        npart = {r["lang"]: r["__n_part"] for r in out}
        assert npart == {"en": 200, "de": 30, "xx": 1}

    # cumsum form: integer order column, descending (token budget shape)
    di = df.withColumn("n_tok", (F.col("score") * 3 + 1).cast("long"))
    w = Window.partitionBy("lang").orderBy(
        F.col("n_tok").desc(), F.col("doc_id").asc()
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    direct = {
        (r["lang"], r["doc_id"]): r["cum"]
        for r in di.withColumn("cum", F.sum("n_tok").over(w)).collect()
    }
    got = {
        (r["lang"], r["doc_id"]): r["__cum"]
        for r in skewfree_rank(
            di, part_col="lang", order_col="n_tok", id_col="doc_id",
            descending=True, with_cumsum=True,
        ).collect()
    }
    assert got == direct


def test_skewfree_rank_tie_bucket_matches_direct_window(spark):
    """The degenerate-tie guard (VERDICT r13 #4): an integral id
    splits each tie group into 2^20-id buckets, so tie sorts stay
    bounded while rank/cumsum stay bit-identical to the direct window —
    with a planted one-score-dominates stratum whose ids straddle ten
    bucket boundaries, and the cumsum form. A string id gets no
    bucket."""
    from pyspark.sql import Window

    from data_pipeline_mlops_spark.operators.skew import (
        TIE_BUCKET_BITS,
        skewfree_rank,
    )

    # ids b * 2^20 - 15 .. b * 2^20 + 14 for b = 1..10: every block
    # of 30 straddles one bucket boundary
    ids = [
        (b << TIE_BUCKET_BITS) + off
        for b in range(1, 11) for off in range(-15, 15)
    ]
    rows = []
    # degenerate stratum: 90% of rows share ONE score value
    for i, doc_id in enumerate(ids):
        rows.append(("en", 1.0 if i < 270 else float(i % 5 + 2), doc_id))
    for i in range(40):
        rows.append(("de", float(i % 3), (11 << TIE_BUCKET_BITS) + i - 20))
    rows.append(("xx", 5.0, 999))
    df = spark.createDataFrame(rows, "lang string, score double, doc_id long")

    def direct(frame, desc):
        order = F.col("score").desc() if desc else F.col("score").asc()
        w = Window.partitionBy("lang").orderBy(order, F.col("doc_id").asc())
        return {
            (r["lang"], r["doc_id"]): r["rk"]
            for r in frame.withColumn("rk", F.row_number().over(w)).collect()
        }

    for desc in (False, True):
        out = skewfree_rank(
            df, part_col="lang", order_col="score", id_col="doc_id",
            descending=desc,
        )
        got = {(r["lang"], r["doc_id"]): r["__rank"] for r in out.collect()}
        assert got == direct(df, desc), f"descending={desc}"
        assert "__tb" not in out.columns  # helper column dropped
        assert "shiftright" in out._jdf.queryExecution().analyzed().toString()

    # cumsum form under the guard
    di = df.withColumn("n_tok", (F.col("score") * 3 + 1).cast("long"))
    w = Window.partitionBy("lang").orderBy(
        F.col("n_tok").desc(), F.col("doc_id").asc()
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    want = {
        (r["lang"], r["doc_id"]): r["cum"]
        for r in di.withColumn("cum", F.sum("n_tok").over(w)).collect()
    }
    got = {
        (r["lang"], r["doc_id"]): r["__cum"]
        for r in skewfree_rank(
            di, part_col="lang", order_col="n_tok", id_col="doc_id",
            descending=True, with_cumsum=True,
        ).collect()
    }
    assert got == want

    # a string id: no bucket, same ranks as the direct window
    ds = df.withColumn(
        "doc_id", F.lpad(F.col("doc_id").cast("string"), 8, "0")
    )
    out = skewfree_rank(
        ds, part_col="lang", order_col="score", id_col="doc_id"
    )
    got = {(r["lang"], r["doc_id"]): r["__rank"] for r in out.collect()}
    assert got == direct(ds, False)
    assert "shiftright" not in out._jdf.queryExecution().analyzed().toString()


# Reference builders: the column-by-column construction the SQL-string
# builders in dedup_text replaced. Kept here so the equivalence tests
# below pin the string-built plans to the same values and schema.
def _ref_minhash_signatures(df, *, id_col, num_hashes, hash_method):
    sh = dedup_text.shingle_rows(df, id_col=id_col, text_col="text", n=3)
    if hash_method == "md5":
        sh = sh.select(
            "__id",
            (dedup_text._md5_60(F.col("shingle")) % dedup_text.MINHASH_P)
            .alias("__base"),
        )
        slots = [
            F.min(
                (F.lit(a) * F.col("__base") + F.lit(b)) % dedup_text.MINHASH_P
            )
            for a, b in dedup_text.minhash_coeffs(num_hashes)
        ]
    else:
        slots = [
            F.min(F.xxhash64(F.col("shingle"), F.lit(i)))
            for i in range(num_hashes)
        ]
    mins = sh.groupBy("__id").agg(
        *[s.alias(f"mh_{i}") for i, s in enumerate(slots)]
    )
    return mins.select(
        F.col("__id").alias(id_col),
        F.array(*[f"mh_{i}" for i in range(num_hashes)]).alias("signature"),
    )


def _ref_banded_signatures(sigs, *, id_col, bands, rows_per_band, hash_method):
    def band_key(b):
        elems = [
            F.element_at("signature", b * rows_per_band + r + 1)
            for r in range(rows_per_band)
        ]
        if hash_method == "md5":
            return F.concat_ws(",", *[e.cast("string") for e in elems])
        return F.xxhash64(F.lit(b), *elems).cast("string")

    return sigs.select(
        F.col(id_col),
        F.posexplode(
            F.array(*[band_key(b) for b in range(bands)])
        ).alias("band", "band_hash"),
    )


def _ref_simhash(df, *, id_col, hash_method):
    nbits = 60 if hash_method == "md5" else 63
    tok = df.select(
        F.col(id_col).alias("__id"),
        F.explode(text.tokens("text")).alias("tok"),
    ).withColumn(
        "h",
        dedup_text._md5_60(F.col("tok"))
        if hash_method == "md5"
        else F.xxhash64("tok"),
    )
    balances = tok.groupBy("__id").agg(
        *[
            F.sum(
                F.when(F.shiftright("h", b).bitwiseAND(F.lit(1)) == 1, 1)
                .otherwise(-1)
            ).alias(f"b_{b}")
            for b in range(nbits)
        ]
    )
    fp = balances.select(
        "__id",
        sum(
            [
                F.when(F.col(f"b_{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
                for b in range(nbits)
            ]
        ).cast("long").alias("simhash"),
    )
    return fp.select(F.col("__id").alias(id_col), "simhash")


_EQUIV_DOCS = [
    *DOCS,  # docs 1 and 2 are identical
    (5, "too short"),  # fewer than 3 tokens: no shingle, no signature
    (6, "the quick brown fox jumps over the lazy dog again and again"),
]


def _equiv_docs(spark):
    # a hyphenated id column must be quoted in the SQL-string builders
    return spark.createDataFrame(_EQUIV_DOCS, "`doc-id` long, text string")


def _rows(df):
    return df.schema, sorted(df.collect())


@pytest.mark.parametrize("hash_method", ["xxhash64", "md5"])
@pytest.mark.parametrize("num_hashes,bands", [(4, 1), (64, 1), (64, 16)])
def test_minhash_builders_equal_column_built_reference(
    spark, hash_method, num_hashes, bands
):
    docs = _equiv_docs(spark)
    kw = dict(id_col="doc-id", num_hashes=num_hashes, hash_method=hash_method)
    sigs = dedup_text.minhash_signatures(docs, **kw)
    ref_sigs = _ref_minhash_signatures(docs, **kw)
    schema, rows = _rows(sigs)
    assert (schema, rows) == _rows(ref_sigs)
    assert len(rows) == len(_EQUIV_DOCS) - 1  # the short doc has none
    assert rows[0]["signature"] == rows[1]["signature"]  # docs 1 and 2

    bkw = dict(
        id_col="doc-id", bands=bands, rows_per_band=num_hashes // bands,
        hash_method=hash_method,
    )
    banded = _rows(dedup_text.banded_signatures(sigs, **bkw))
    assert banded == _rows(_ref_banded_signatures(ref_sigs, **bkw))
    assert len(banded[1]) == bands * len(rows)


@pytest.mark.parametrize("hash_method", ["xxhash64", "md5"])
def test_simhash_equals_column_built_reference(spark, hash_method):
    docs = _equiv_docs(spark)
    kw = dict(id_col="doc-id", hash_method=hash_method)
    got = _rows(dedup_text.simhash(docs, **kw))
    assert got == _rows(_ref_simhash(docs, **kw))
    fp = {r["doc-id"]: r["simhash"] for r in got[1]}
    assert fp[1] == fp[2] and len(fp) == len(_EQUIV_DOCS)
