"""Tests for the LLM training-data operators added in round 2:
sequence packing, decontamination, stratified sampling."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

common = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)


def naive_pack(tokens_in_id_order: list[int], capacity: int):
    """Reference greedy fold (first-fit sequential, clip to capacity)."""
    out, bin_no, running = [], 0, 0
    for tok in tokens_in_id_order:
        tok = min(tok, capacity)
        if running + tok > capacity and running > 0:
            bin_no += 1
            running = 0
        running += tok
        out.append((bin_no, running))
    return out


@given(
    toks=st.lists(st.integers(1, 120), min_size=1, max_size=40),
    groups=st.integers(1, 4),
)
@common
def test_pack_greedy_equals_naive(spark, toks, groups):
    from data_pipeline_mlops_spark.functions.packing import pack_greedy

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(toks)], "doc_id long, n_tokens long"
    )
    got = {
        r.doc_id: (r.pack_group, r.pack_bin, r.bin_fill)
        for r in pack_greedy(
            df, id_col="doc_id", tokens_col="n_tokens",
            capacity=100, num_groups=groups,
        ).collect()
    }
    assert len(got) == len(toks)
    for g in range(groups):
        ids = [i for i in range(len(toks)) if i % groups == g]
        want = naive_pack([toks[i] for i in ids], 100)
        for i, (wbin, wfill) in zip(ids, want):
            assert got[i] == (g, wbin, wfill), (i, got[i], (g, wbin, wfill))


def test_pack_greedy_respects_capacity_and_is_stable(spark):
    from data_pipeline_mlops_spark.functions.packing import pack_greedy

    df = spark.range(200).select(
        F.col("id").alias("doc_id"),
        (F.pmod(F.col("id") * 37, F.lit(300)) + 1).alias("n_tokens"),
    )
    kw = dict(id_col="doc_id", tokens_col="n_tokens",
              capacity=256, num_groups=8)
    packed = pack_greedy(df, **kw).collect()
    fills = {}
    for r in packed:
        assert r.tokens <= 256  # clipped
        fills[(r.pack_group, r.pack_bin)] = max(
            fills.get((r.pack_group, r.pack_bin), 0), r.bin_fill
        )
    assert all(f <= 256 for f in fills.values())
    # deterministic under repartitioning — packing is a function of ids
    again = pack_greedy(df.repartition(13), **kw).collect()
    assert sorted(map(tuple, packed)) == sorted(map(tuple, again))


def test_pack_ffd_wastes_no_more_than_id_order(spark):
    """On this fixed workload, longest-first packing produces no more
    bins / waste than arrival order (the point of the heuristic; not a
    per-instance theorem, so this pins a deterministic dataset), and
    both orders pack every doc exactly once."""
    from data_pipeline_mlops_spark.functions.packing import (
        pack_greedy,
        pack_stats,
    )

    df = spark.range(500).select(
        F.col("id").alias("doc_id"),
        (F.pmod(F.xxhash64("id"), F.lit(250)) + 8).alias("n_tokens"),
    )
    kw = dict(id_col="doc_id", tokens_col="n_tokens",
              capacity=256, num_groups=4)
    rows = {
        o: pack_greedy(df, order=o, **kw).collect()
        for o in ("id", "length_desc")
    }
    assert all(len(r) == 500 for r in rows.values())
    stats = {
        o: pack_stats(
            pack_greedy(df, order=o, **kw), capacity=256
        ).collect()[0]
        for o in ("id", "length_desc")
    }
    assert stats["length_desc"].n_bins <= stats["id"].n_bins
    assert stats["length_desc"].wasted_tokens <= stats["id"].wasted_tokens


def test_stratified_sample_deterministic_and_rate(spark):
    from data_pipeline_mlops_spark.operators.sample import stratified_sample

    df = spark.range(2000).select(
        F.col("id"),
        F.when(F.col("id") % 4 < 3, "en").otherwise("zh").alias("lang"),
    )
    kw = dict(id_col="id", strata_col="lang",
              rates={"en": 0.3}, default_rate=1.0, seed=7)
    kept = stratified_sample(df, **kw)
    counts = {r.lang: r.n for r in
              kept.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert counts["zh"] == 500  # default rate 1.0 keeps everything
    assert 0.2 * 1500 < counts["en"] < 0.4 * 1500  # ~30% expected
    # stable under repartitioning (df.sample would not be)
    a = sorted(r.id for r in kept.collect())
    b = sorted(r.id for r in stratified_sample(
        df.repartition(17), **kw).collect())
    assert a == b
    # xxhash64 production path: same invariants, different sample
    x = stratified_sample(df, method="xxhash64", **kw)
    xc = {r.lang: r.n for r in
          x.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert xc["zh"] == 500
    assert 0.2 * 1500 < xc["en"] < 0.4 * 1500


def test_ngram_overlap_matches_naive(spark):
    from data_pipeline_mlops_spark.functions.decontaminate import (
        ngram_overlap,
        split_flag,
    )

    texts = [
        (i, " ".join(f"w{(i * 7 + j) % 23}" for j in range(12)))
        for i in range(40)
    ] + [(100, "a b c"), (101, "x " * 6)]  # short docs: no 5-gram
    df = spark.createDataFrame(texts, "doc_id long, text string")

    flags = {r.doc_id: r.is_eval for r in
             split_flag(df, id_col="doc_id", eval_frac=0.4).collect()}
    assert any(flags.values()) and not all(flags.values())

    def grams(text):
        toks = text.split()
        return {" ".join(toks[i:i + 5]) for i in range(len(toks) - 4)}

    train_sh = set().union(
        *(grams(t) for i, t in texts if not flags[i]), set()
    )
    got = {r.doc_id: r for r in ngram_overlap(
        df, id_col="doc_id", n=5, eval_frac=0.4, seed=42).collect()}
    assert set(got) == {i for i, f in flags.items() if f}
    for i, t in texts:
        if not flags[i]:
            continue
        g = grams(t)
        r = got[i]
        assert r.n_shingles == len(g)
        assert r.n_shared == len(g & train_sh)
        assert r.contaminated == (len(g & train_sh) > 0)


def test_repetition_signals_hand_fixture(spark):
    from data_pipeline_mlops_spark.functions.text import with_repetition

    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam"),      # one bigram 4x
            (2, "a b c d e f"),                   # all bigrams unique
            (3, "x"),                             # too short: zeros
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in with_repetition(
        df, id_col="doc_id", n=2).collect()}
    # doc 1: 4 bigrams, 1 distinct -> dup 3/4, top share 4/4
    assert got[1].dup_ngram_ratio == 0.75
    assert got[1].top_ngram_share == 1.0
    assert got[2].dup_ngram_ratio == 0.0
    assert got[2].top_ngram_share == 0.2  # 1 of 5 bigrams
    assert got[3].dup_ngram_ratio == 0.0
    assert got[3].top_ngram_share == 0.0


def test_operators_tolerate_empty_inputs(spark):
    """Empty-corpus smoke: every round-2 operator returns an empty
    (or well-defined) result instead of raising — the behavior a
    pipeline hits on an empty partition or a fresh day."""
    from data_pipeline_mlops_spark.functions.dedup_text import (
        simhash_near_dups,
    )
    from data_pipeline_mlops_spark.functions.decontaminate import ngram_overlap
    from data_pipeline_mlops_spark.functions.packing import (
        pack_greedy,
        pack_stats,
    )
    from data_pipeline_mlops_spark.functions.text import with_repetition
    from data_pipeline_mlops_spark.operators.aggregate import cascade_rollup
    from data_pipeline_mlops_spark.operators.sample import stratified_sample

    docs = spark.createDataFrame([], "doc_id long, text string, lang string")
    events = spark.createDataFrame(
        [], "ts timestamp, event_type string, value double"
    )
    toks = spark.createDataFrame([], "doc_id long, n_tokens long")

    assert ngram_overlap(docs, id_col="doc_id").count() == 0
    assert simhash_near_dups(docs, id_col="doc_id").count() == 0
    assert with_repetition(docs, id_col="doc_id").count() == 0
    assert stratified_sample(
        docs, id_col="doc_id", strata_col="lang", rates={"en": 0.5}
    ).count() == 0
    assert cascade_rollup(
        events, ts_col="ts", keys=["event_type"], value_col="value"
    ).count() == 0
    packed = pack_greedy(
        toks, id_col="doc_id", tokens_col="n_tokens", capacity=10
    )
    assert packed.count() == 0
    assert pack_stats(packed, capacity=10).count() == 1  # global agg row


def test_prepare_corpus_invariants(spark):
    """Composed pipeline sanity at sf0.001: survivors are a strict,
    duplicate-free subset of the corpus; packing respects capacity."""
    from data_pipeline_mlops_spark.plans.corpus import prepare_corpus

    sf = "/root/testdata/sf0.001"
    out = prepare_corpus(spark, sf).collect()
    total = spark.read.parquet(f"{sf}/documents.parquet").count()
    ids = [r.doc_id for r in out]
    assert 0 < len(ids) < total
    assert len(set(ids)) == len(ids)
    all_ids = {
        r.doc_id
        for r in spark.read.parquet(f"{sf}/documents.parquet")
        .select("doc_id").collect()
    }
    assert set(ids) <= all_ids
    assert all(r.bin_fill <= 256 and r.tokens <= 256 for r in out)


def test_prepare_corpus_deterministic_rerun(spark):
    """The composed pipeline is a pure function of the data: two
    independent runs produce identical packed assignments — the
    property that makes its end-to-end oracle (and any cross-cluster
    rerun diff) possible."""
    from data_pipeline_mlops_spark.plans.corpus import prepare_corpus

    sf = "/root/testdata/sf0.001"
    a = sorted(map(tuple, prepare_corpus(spark, sf).collect()))
    b = sorted(map(tuple, prepare_corpus(spark, sf).collect()))
    assert a == b


def test_stratified_fixed_sample_exact_counts(spark):
    from data_pipeline_mlops_spark.operators.sample import (
        stratified_fixed_sample,
    )

    df = spark.range(100).select(
        F.col("id"),
        F.when(F.col("id") < 90, "big").otherwise("small").alias("g"),
    )
    out = stratified_fixed_sample(
        df, id_col="id", strata_col="g", n_per_stratum=15
    )
    counts = {r.g: r.n for r in
              out.groupBy("g").agg(F.count("*").alias("n")).collect()}
    assert counts == {"big": 15, "small": 10}  # min(n, stratum size)
    # deterministic across reruns and repartitionings
    a = sorted(r.id for r in out.collect())
    b = sorted(r.id for r in stratified_fixed_sample(
        df.repartition(7), id_col="id", strata_col="g", n_per_stratum=15
    ).collect())
    assert a == b


def test_embedding_near_dup_lsh_recall_vs_exact(spark):
    """The bucketed near-dup tier (both the md5 oracle twin and the
    float "seeded" planes) must find exactly the pairs the exact
    all-pairs tier finds on the planted corpus: at near-dup angles
    (cosine ~0.99) the 6x8 OR-construction's miss probability is
    ~(1-0.95^6)^8 ~ 3e-5 per pair, so full recall here is the expected
    outcome, not luck — a drop below full recall means the bucketing
    broke, not the corpus."""
    from data_pipeline_mlops_spark.functions import similarity
    from data_pipeline_mlops_spark.registry import _near_dup_corpus

    corpus = _near_dup_corpus(spark, "/root/testdata/sf0.001").cache()
    try:
        def pairs(method):
            df = similarity.cosine_near_dup_pairs(
                corpus, id_col="vec_id", vec_col="embedding",
                threshold=0.98, method=method,
            )
            return {
                (r["id_a"], r["id_b"], r["cosine_sim"])
                for r in df.collect()
            }

        exact = pairs("exact")
        assert len(exact) == 50  # every planted copy, nothing else
        assert pairs("md5") == exact
        assert pairs("seeded") == exact
    finally:
        corpus.unpersist()


def test_char_bigram_lm_flags_gibberish(spark):
    """The corpus-frequency LM score must rank natural prose above
    gibberish: mojibake is built from bigrams the rest of the corpus
    never uses, so its mean bigram frequency lands far below prose
    drawn from the corpus's own phrasing. Also pins the short-doc
    guard (len<2 docs drop out instead of exploding a descending
    sequence)."""
    from data_pipeline_mlops_spark.functions.text import (
        char_bigram_lm_score,
    )

    prose = (
        "the quick brown fox jumps over the lazy dog and then "
        "the dog chases the fox over the hill and back again"
    )
    rows = [
        (1, prose),
        (2, "the dog and the fox run over the hill and the field"),
        (3, "zqxvjkqzvxkjzwqvxkqzjxwvqzkwxjqzvkxqwjzx"),  # gibberish
        (4, "x"),  # too short for any bigram
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["n_bigrams"], r["freq_sum"])
        for r in char_bigram_lm_score(df).collect()
    }
    assert 4 not in out  # no bigrams, no row
    mean = {k: v[1] / v[0] for k, v in out.items()}
    assert mean[1] > 2 * mean[3]
    assert mean[2] > 2 * mean[3]


def test_trim_lines_drops_boilerplate_and_short_lines(spark):
    """C4/FineWeb line filter: boilerplate-marked lines and lines
    under the token floor vanish; everything else survives byte-exact
    and in order."""
    from data_pipeline_mlops_spark.functions.text import trim_lines

    doc = "\n".join(
        [
            "::nav:: home login signup",       # boilerplate marker
            "the quick brown fox jumps here",  # kept
            "too short",                       # < 4 tokens
            "another perfectly fine body line",
            "::footer:: copyright",            # boilerplate marker
        ]
    )
    rows = [(1, doc), (2, "single good line of body text")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in trim_lines(df).collect()}
    assert out[1]["n_lines"] == 5 and out[1]["n_kept"] == 2
    assert out[1]["trimmed_text"] == (
        "the quick brown fox jumps here\n"
        "another perfectly fine body line"
    )
    assert out[2]["n_kept"] == 1
    assert out[2]["trimmed_text"] == "single good line of body text"


def test_remove_repeated_passages_exact_spans(spark):
    """Lee-et-al-style substring dedup: a 10-token passage shared by
    two docs vanishes from both (exactly the 10 planted tokens — the
    straddling shingles are unique per doc, so body text survives);
    unique docs and sub-n docs are untouched byte-exact."""
    from data_pipeline_mlops_spark.functions.dedup_text import (
        remove_repeated_passages,
    )

    passage = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, passage + " unique body one with extra words here now"),
        (2, passage + " another different body text for second doc"),
        (3, "totally distinct document body with no shared passage at all"),
        (4, "short doc"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in remove_repeated_passages(df, id_col="doc_id").collect()
    }
    assert out[1]["n_removed"] == 10
    assert out[1]["cleaned_text"] == "unique body one with extra words here now"
    assert out[2]["n_removed"] == 10
    assert out[2]["cleaned_text"] == (
        "another different body text for second doc"
    )
    assert out[3]["n_removed"] == 0
    assert out[4]["n_removed"] == 0 and out[4]["cleaned_text"] == "short doc"


def test_training_shards_deterministic_and_complete(spark, tmp_path):
    """Shard export: every doc lands in exactly one shard, within-shard
    order is gapless from 0 and identical across reruns, and the
    written layout reads back with the same (shard, pos) assignment."""
    from data_pipeline_mlops_spark.sources.shards import (
        assign_shards,
        write_training_shards,
    )

    df = spark.range(0, 200).select(
        F.col("id").alias("doc_id"),
        (F.col("id") * 7 % 13).alias("payload"),
    )
    a1 = assign_shards(df, id_col="doc_id", n_shards=4).collect()
    a2 = assign_shards(df, id_col="doc_id", n_shards=4).collect()
    key = lambda rows: sorted((r["doc_id"], r["shard"], r["pos"]) for r in rows)  # noqa: E731
    assert key(a1) == key(a2)
    assert len({r["doc_id"] for r in a1}) == 200
    by_shard = {}
    for r in a1:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(len(poss))), shard

    path = str(tmp_path / "shards")
    write_training_shards(df, path, id_col="doc_id", n_shards=4)
    back = spark.read.parquet(path).collect()
    assert key(back) == key(a1)
    import os
    assert sorted(os.listdir(path) )[0].startswith("shard=") or any(
        d.startswith("shard=") for d in os.listdir(path)
    )


def test_gopher_full_line_rules_follow_planting(spark):
    """The line-based Gopher rules fire exactly where the derived
    line structure plants them: doc_id%10==3 bullets every line (must
    fail the 90% bullet rule), ==7 ellipsis-ends ~50% of lines (must
    fail the 30% rule); the untouched residue classes (%10 in
    {0,1,2,4,6,8}) must pass both; and keep == r_content AND r_bullet
    AND r_ellipsis row-by-row."""
    from data_pipeline_mlops_spark.registry import QUERIES

    rows = QUERIES["doc_gopher_rules_full"].spark(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    for r in rows:
        m = r["doc_id"] % 10
        if m == 3:
            # every line bulleted -> bullet fraction 1.0 > 0.9
            assert r["bullet_lines"] == r["n_lines"]
            assert not r["r_bullet"]
        elif m == 7:
            # even lines end with '...' -> fraction >= 0.5 > 0.3
            assert not r["r_ellipsis"]
        elif m in (0, 1, 2, 4, 6, 8):
            assert r["r_bullet"] and r["r_ellipsis"], r
            assert r["bullet_lines"] == 0
        assert r["keep"] == (
            r["r_content"] and r["r_bullet"] and r["r_ellipsis"]
        )
    # the planted structure is discriminative in BOTH directions
    assert any(not r["r_bullet"] for r in rows)
    assert any(not r["r_ellipsis"] for r in rows)
    assert any(
        r["keep"] for r in rows
    ) and any(not r["keep"] for r in rows)
