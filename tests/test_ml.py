"""CF correctness on a hand-checked fixture (FIXTURES.md §5) +
split/dedup invariants (SURVEY.md §7 hard parts 1-3)."""

from __future__ import annotations

import math
import random
from decimal import Decimal

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from data_pipeline_mlops_spark.ml import cf, evaluate, interactions

# 4 users × 4 items with known co-purchase structure:
#   u1: A B      u2: A B C     u3: B C     u4: C D
# counts: A=2 B=3 C=3 D=1
# cooc:  (A,B)=2 (A,C)=1 (B,C)=2 (C,D)=1
FIXTURE = [
    ("u1", "A"), ("u1", "B"),
    ("u2", "A"), ("u2", "B"), ("u2", "C"),
    ("u3", "B"), ("u3", "C"),
    ("u4", "C"), ("u4", "D"),
]


def _inter(spark):
    return spark.createDataFrame(FIXTURE, "user string, item string")


def test_item_similarity_matches_hand_computation(spark):
    sim = {
        (r["item_a"], r["item_b"]): (r["cooccurrence"], r["cosine_sim"])
        for r in cf.item_similarity(
            _inter(spark), user_col="user", item_col="item"
        ).collect()
    }
    expect = {
        ("A", "B"): (2, 2 / math.sqrt(2 * 3)),
        ("A", "C"): (1, 1 / math.sqrt(2 * 3)),
        ("B", "C"): (2, 2 / math.sqrt(3 * 3)),
        ("C", "D"): (1, 1 / math.sqrt(3 * 1)),
    }
    assert set(sim) == set(expect)
    for k, (co, s) in expect.items():
        assert sim[k][0] == co
        assert abs(sim[k][1] - round(s, 6)) < 1e-9


def test_similarity_equals_dense_cosine(spark):
    """The co-occurrence formula IS cosine on binary vectors — verify
    against a numpy dense computation (the reference's method,
    dags/daily_pipeline.py:391-398)."""
    import numpy as np

    users = sorted({u for u, _ in FIXTURE})
    items = sorted({i for _, i in FIXTURE})
    m = np.zeros((len(users), len(items)))
    for u, i in FIXTURE:
        m[users.index(u), items.index(i)] = 1.0
    norms = np.linalg.norm(m, axis=0)
    dense = (m.T @ m) / np.outer(norms, norms)
    got = cf.item_similarity(
        _inter(spark), user_col="user", item_col="item"
    ).collect()
    for r in got:
        ia, ib = items.index(r["item_a"]), items.index(r["item_b"])
        assert abs(r["cosine_sim"] - dense[ia, ib]) < 1e-6


def test_recommend_masks_purchases_and_ranks(spark):
    inter = _inter(spark)
    sim = cf.item_similarity(inter, user_col="user", item_col="item")
    recs = cf.recommend(
        inter, sim, user_col="user", item_col="item", top_n=10
    ).collect()
    by_user = {}
    for r in recs:
        by_user.setdefault(r["user"], []).append(r)
    owned = {}
    for u, i in FIXTURE:
        owned.setdefault(u, set()).add(i)
    for u, rows in by_user.items():
        cands = [r["item"] for r in rows]
        assert not (set(cands) & owned[u])  # purchased items masked
        scores = [r["score"] for r in rows]
        assert scores == sorted(scores, reverse=True)  # ranked desc
    # u1 owns {A,B}: candidates C (sim B-C + sim A-C) and nothing else >0
    u1 = {r["item"]: r["score"] for r in by_user["u1"]}
    expect_c = round(1 / math.sqrt(6), 6) + round(2 / 3, 6)
    assert set(u1) == {"C"}
    assert abs(u1["C"] - expect_c) < 1e-9


def test_split_deterministic_and_partition_invariant(spark):
    inter = _interactions_large(spark)
    t1, e1 = interactions.split_train_eval(
        inter, user_col="user", item_col="item", seed=42
    )
    t2, e2 = interactions.split_train_eval(
        inter.repartition(7), user_col="user", item_col="item", seed=42
    )
    # same membership regardless of partitioning
    assert sorted(map(tuple, t1.collect())) == sorted(map(tuple, t2.collect()))
    # partition: union == all, intersection == empty
    n_all = inter.count()
    assert t1.count() + e1.count() == n_all
    assert t1.intersect(e1).count() == 0
    # fraction roughly respected
    frac = e1.count() / n_all
    assert 0.1 < frac < 0.3


def _interactions_large(spark):
    rows = [(f"u{i % 50}", f"i{(i * 7) % 200}") for i in range(1000)]
    return spark.createDataFrame(
        rows, "user string, item string"
    ).dropDuplicates()


def test_accumulate_eval_keeps_latest(spark):
    day1 = spark.createDataFrame(
        [("u1", "A", "2024-01-01"), ("u2", "B", "2024-01-01")],
        "user string, item string, d string",
    )
    day2 = spark.createDataFrame(
        [("u1", "A", "2024-01-02"), ("u3", "C", "2024-01-02")],
        "user string, item string, d string",
    )
    out = interactions.accumulate_eval(
        [day1, day2], user_col="user", item_col="item", order_col="d"
    ).collect()
    got = {(r["user"], r["item"]): r["d"] for r in out}
    assert got == {
        ("u1", "A"): "2024-01-02",  # latest wins
        ("u2", "B"): "2024-01-01",
        ("u3", "C"): "2024-01-02",
    }


def test_coverage_and_precision(spark):
    # null keys on either side never count as covered
    train = spark.createDataFrame(
        [("u1", "A"), ("u2", "B"), (None, "A"), ("u1", None)],
        "user string, item string",
    )
    ev = spark.createDataFrame(
        [
            ("u1", "B"), ("u2", "C"), ("u9", "A"), ("u9", "Z"),
            (None, "A"), ("u1", None),
        ],
        "user string, item string",
    )
    cov = evaluate.coverage(
        train, ev, user_col="user", item_col="item"
    ).collect()[0]
    assert cov["eval_rows"] == 6
    # train users {u1, u2}: rows (u1,B), (u2,C), (u1,None) -> 3/6
    assert cov["user_coverage"] == 0.5
    # train items {A, B}: rows (u1,B), (u9,A), (None,A) -> 3/6
    assert cov["item_coverage"] == 0.5
    # both: only (u1,B) -> 1/6
    assert cov["overall_coverage"] == round(1 / 6, 6)
    recs = spark.createDataFrame(
        [("u1", "B", 1), ("u1", "C", 2), ("u2", "C", 1), ("u2", "A", 2)],
        "user string, item string, rank int",
    )
    prec = evaluate.precision_at_k(
        recs, ev, user_col="user", item_col="item", k=2
    ).collect()[0]
    # u1: hits {B} -> 1/2 ; u2: hits {C} -> 1/2 ; avg = 0.5
    assert prec["evaluated_users"] == 2
    assert abs(prec["precision_at_k"] - 0.5) < 1e-9


def _three_action_metrics(train, ev, sim, *, k):
    """The reference for ``evaluate.daily_metrics``: the daily metrics
    as three actions over plans built the older way. Coverage comes
    from left joins to the distinct train keys, recommendations from a
    scoring aggregation masked by a two-key ``left_anti`` join, and
    precision from distinct eval pairs semi-joined to the users with
    recommendations."""
    users = train.select("user", F.lit(True).alias("__u")).distinct()
    items = train.select("item", F.lit(True).alias("__i")).distinct()
    total, user_cov, item_cov, both_cov = (
        ev.join(users, "user", "left")
        .join(items, "item", "left")
        .agg(
            F.count(F.lit(1)),
            F.count("__u"),
            F.count("__i"),
            F.count(F.when(F.col("__u") & F.col("__i"), True)),
        )
        .collect()[0]
    )
    recs = _three_action_recommend(train, sim, k=k)
    pairs = ev.distinct()
    hits = (
        recs.join(pairs, ["user", "item"])
        .groupBy("user")
        .agg(F.count(F.lit(1)).alias("h"))
    )
    evaluated, prec = (
        recs.select("user")
        .distinct()
        .join(pairs.select("user").distinct(), "user", "left_semi")
        .join(hits, "user", "left")
        .agg(
            F.count(F.lit(1)),
            F.round(F.avg(F.coalesce("h", F.lit(0)) / F.lit(k)), 6),
        )
        .collect()[0]
    )
    denom = max(total, 1)
    return {
        "eval_rows": float(total),
        "user_coverage": round(user_cov / denom, 6),
        "item_coverage": round(item_cov / denom, 6),
        "overall_coverage": round(both_cov / denom, 6),
        "evaluated_users": float(evaluated),
        "precision_at_k": prec or 0.0,
    }


def _three_action_recommend(train, sim, *, k):
    scored = (
        train.select("user", F.col("item").alias("item_a"))
        .join(cf.symmetrize(sim), "item_a")
        .groupBy("user", F.col("item_b").alias("item"))
        .agg(F.sum(F.col("cosine_sim").cast(cf.SIM_DECIMAL)).alias("s"))
    )
    w = Window.partitionBy("user").orderBy(F.col("s").desc(), F.col("item"))
    return (
        scored.join(train, ["user", "item"], "left_anti")
        .where(F.col("s") > 0)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("user", "item", F.col("s").cast("double").alias("score"), "rank")
    )


# Planted evaluation case, k = 2. Similarity upper triangle: A's three
# neighbours tie at 0.5, E-F is negative and F-G is zero.
PLANTED_SIM = [
    ("A", "B", 0.5), ("A", "C", 0.5), ("A", "D", 0.5),
    ("B", "E", 0.3), ("E", "F", -0.2), ("F", "G", 0.0), ("G", "H", 0.4),
]
PLANTED_TRAIN = [
    ("u1", "A"),  # B, C and D tie at rank k: B and C win on item order
    ("u1", None),  # a null item: u1 is still a train user
    ("u4", "G"), ("u4", "H"),  # every positive candidate is owned
    ("u6", "E"),  # B at 0.3; F is negative
    ("u7", "F"),  # E is negative and G zero: no recommendation
    ("u8", "A"),  # recommendations but no eval rows
    (None, "A"), (None, "B"),  # a null user
]
PLANTED_EVAL = [
    ("u1", "B"), ("u1", "B"),  # a duplicate eval row is one hit
    ("u1", "D"),  # D lost the tie to C
    ("u1", None),
    ("u3", "A"),  # no train rows, so no recommendations
    ("u4", "G"),  # owned, so never recommended
    ("u6", "F"), ("u6", "B"),
    ("u7", "G"),
    (None, "C"), (None, "B"),
]


def _planted_case(spark):
    schema = "user string, item string"
    return (
        spark.createDataFrame(PLANTED_TRAIN, schema),
        spark.createDataFrame(PLANTED_EVAL, schema),
        spark.createDataFrame(
            PLANTED_SIM, "item_a string, item_b string, cosine_sim double"
        ),
    )


def _random_case(spark, seed):
    """Skewed random interactions with null users and items and
    duplicate eval rows; the model is trained on the train rows."""
    rng = random.Random(seed)

    def row():
        u = None if rng.random() < 0.04 else f"u{rng.randrange(30)}"
        i = None if rng.random() < 0.04 else f"i{min(rng.randrange(25), rng.randrange(25))}"
        return u, i

    train_rows = [row() for _ in range(300)]
    eval_rows = [row() for _ in range(80)]
    eval_rows += eval_rows[:10]
    schema = "user string, item string"
    train = spark.createDataFrame(train_rows, schema)
    return (
        train,
        spark.createDataFrame(eval_rows, schema),
        cf.item_similarity(train, user_col="user", item_col="item"),
    )


@pytest.mark.parametrize("case", ["planted", "random1", "random2"])
def test_daily_metrics_equal_three_action_reference(spark, case):
    """The one-action metrics, and ``coverage`` and ``precision_at_k``
    each on its own, equal the three-action composition: precision to
    1e-6 (a mean of doubles), the rest exactly."""
    k = 2 if case == "planted" else 3
    if case == "planted":
        train, ev, sim = _planted_case(spark)
    else:
        train, ev, sim = _random_case(spark, int(case[-1]))
    want = _three_action_metrics(train, ev, sim, k=k)
    recs = cf.recommend(train, sim, user_col="user", item_col="item", top_n=k)
    got = evaluate.daily_metrics(
        train, ev, recs, user_col="user", item_col="item", k=k
    )
    cov = evaluate.coverage(train, ev, user_col="user", item_col="item")
    prec = evaluate.precision_at_k(
        recs, ev, user_col="user", item_col="item", k=k
    )
    (cov,), (prec,) = cov.collect(), prec.collect()
    alone = {
        **{c: float(v) if c == "eval_rows" else v for c, v in cov.asDict().items()},
        "evaluated_users": float(prec["evaluated_users"]),
        "precision_at_k": prec["precision_at_k"] or 0.0,
    }
    for out in (got, alone):
        assert out["precision_at_k"] == pytest.approx(
            want["precision_at_k"], abs=1e-6
        )
        assert {c: v for c, v in out.items() if c != "precision_at_k"} == {
            c: v for c, v in want.items() if c != "precision_at_k"
        }
    if case == "planted":
        # u1 hits B of {B, C}; u6 hits B of {B}; nobody else is evaluated
        assert got["evaluated_users"] == 2.0
        assert got["precision_at_k"] == 0.5
        # 11 rows; u1 x4, u4, u6 x2 and u7 are train users
        assert got["user_coverage"] == round(8 / 11, 6)


@pytest.mark.parametrize("case", ["planted", "random1", "random2"])
def test_recommend_equal_three_action_reference(spark, case):
    """``cf.recommend`` with its ownership mask folded into the score
    aggregation returns the rows of a ``left_anti``-masked plan, with
    or without ``small_user_band``. The null user is left out: the
    anti-join never matches a null key, so it did not mask that
    group's own items."""
    if case == "planted":
        train, _, sim = _planted_case(spark)
    else:
        train, _, sim = _random_case(spark, int(case[-1]))
    want = sorted(
        map(tuple, _three_action_recommend(train, sim, k=2)
            .where(F.col("user").isNotNull()).collect())
    )
    for band in (False, True):
        got = cf.recommend(
            train, sim, user_col="user", item_col="item", top_n=2,
            small_user_band=band,
        )
        assert sorted(map(tuple, got.where(F.col("user").isNotNull()).collect())) == want
    null_recs = cf.recommend(
        train, sim, user_col="user", item_col="item", top_n=10
    ).where(F.col("user").isNull()).collect()
    owned = {i for u, i in (tuple(r) for r in train.collect()) if u is None}
    assert null_recs and not {r["item"] for r in null_recs} & owned


def test_best_model_cas():
    new = {"overall_coverage": 0.8, "precision_at_k": 0.2}
    assert evaluate.is_better_model(new, None)
    assert evaluate.is_better_model(
        new, {"overall_coverage": 0.7, "precision_at_k": 0.9}
    )
    assert evaluate.is_better_model(
        new, {"overall_coverage": 0.795, "precision_at_k": 0.1}
    )
    assert not evaluate.is_better_model(
        new, {"overall_coverage": 0.795, "precision_at_k": 0.3}
    )
    assert not evaluate.is_better_model(
        new, {"overall_coverage": 0.9, "precision_at_k": 0.1}
    )


def test_model_registry_promote_and_load(spark, tmp_path):
    from data_pipeline_mlops_spark.ml import model_registry as reg

    path = str(tmp_path / "registry")
    sim_v1 = spark.createDataFrame(
        [("A", "B", 2, 0.5)], "item_a string, item_b string, cooccurrence long, cosine_sim double"
    )
    m1 = {"overall_coverage": 0.5, "precision_at_k": 0.1}
    assert reg.save_version(
        spark, registry_path=path, version="v1", tables={"item_similarity": sim_v1},
        metrics=m1, now=1.0,
    )  # first model always promotes
    assert reg.production_version(spark, path) == "v1"

    # worse model: stored but NOT promoted
    m2 = {"overall_coverage": 0.3, "precision_at_k": 0.05}
    assert not reg.save_version(
        spark, registry_path=path, version="v2", tables={"item_similarity": sim_v1},
        metrics=m2, now=2.0,
    )
    assert reg.production_version(spark, path) == "v1"

    # better model: promoted, production pointer moves
    sim_v3 = spark.createDataFrame(
        [("A", "C", 3, 0.9)], "item_a string, item_b string, cooccurrence long, cosine_sim double"
    )
    m3 = {"overall_coverage": 0.8, "precision_at_k": 0.2}
    assert reg.save_version(
        spark, registry_path=path, version="v3", tables={"item_similarity": sim_v3},
        metrics=m3, now=3.0,
    )
    assert reg.production_version(spark, path) == "v3"
    loaded = reg.load_production(
        spark, registry_path=path, name="item_similarity"
    ).collect()
    assert loaded[0]["item_b"] == "C"


def test_model_registry_unreadable_metadata_raises(spark, tmp_path):
    """Only a registry that does not exist reads as empty. A metadata
    table that exists but cannot be read must raise: read as "no
    production model", it would make save_version's compare-and-swap
    promote whatever version comes next."""
    import pytest

    from data_pipeline_mlops_spark.ml import model_registry as reg

    missing = str(tmp_path / "no_registry")
    assert reg.production_version(spark, missing) is None
    assert reg.production_metrics(spark, missing) is None

    path = tmp_path / "registry"
    (path / "metadata").mkdir(parents=True)
    planted = path / "metadata" / "part-00000.snappy.parquet"
    planted.write_bytes(b"not a parquet file")
    with pytest.raises(Exception, match="part-00000"):
        reg.production_version(spark, str(path))
    sim = spark.createDataFrame(
        [("A", "B", 2, 0.5)],
        "item_a string, item_b string, cooccurrence long, cosine_sim double",
    )
    with pytest.raises(Exception, match="part-00000"):
        reg.save_version(
            spark, registry_path=str(path), version="v1",
            tables={"item_similarity": sim},
            metrics={"overall_coverage": 0.5, "precision_at_k": 0.1},
        )
    # no metadata row was appended, so nothing was promoted
    assert [f.name for f in (path / "metadata").iterdir()] == [planted.name]


def test_model_registry_missing_path_is_not_read(spark, tmp_path, monkeypatch):
    """A registry that does not exist yet is detected before any read,
    so Spark never logs a FileNotFoundException trace for it."""
    from pyspark.sql import DataFrameReader

    from data_pipeline_mlops_spark.ml import model_registry as reg

    reads = []
    real = DataFrameReader.parquet

    def spy(self, *paths, **kw):
        reads.append(paths)
        return real(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    missing = str(tmp_path / "no_registry")
    assert reg.production_version(spark, missing) is None
    assert reg.production_metrics(spark, missing) is None
    assert reads == []

    path = str(tmp_path / "registry")
    sim = spark.createDataFrame(
        [("A", "B", 2, 0.5)],
        "item_a string, item_b string, cooccurrence long, cosine_sim double",
    )
    m = {"overall_coverage": 0.5, "precision_at_k": 0.1}
    assert reg.save_version(
        spark, registry_path=path, version="v1",
        tables={"item_similarity": sim}, metrics=m, now=1.0,
    )
    assert reads == []  # the CAS found no metadata without reading
    assert reg.production_metrics(spark, path) == m
    assert reads == [(f"{path}/metadata",)]


def test_pq_adc_equals_exact_dot_on_clustered_data(spark):
    """Product quantization sanity: when every subvector is exactly a
    codebook centroid (corpus drawn from 8 prototypes, k=8 per
    segment), quantization error is zero and ADC top-k must equal the
    exact dot-product top-k, rank for rank."""
    import random

    from pyspark.sql import functions as F

    from data_pipeline_mlops_spark.ml.pq import (
        build_pq_codebooks,
        pq_encode,
        pq_topk,
    )

    rng = random.Random(7)
    protos = [[rng.uniform(-1, 1) for _ in range(16)] for _ in range(8)]
    corpus_rows = [(i, protos[i % 8]) for i in range(60)]
    df = spark.createDataFrame(
        corpus_rows, "vec_id long, embedding array<double>"
    )
    queries = df.where(F.col("vec_id") < 3)

    books = build_pq_codebooks(df, vec_col="embedding", dim=16, m=4, k=8)
    codes = pq_encode(
        df, books, id_col="vec_id", vec_col="embedding", dim=16, m=4
    )
    got = {
        (r.query_id, r.rank): r.neighbor_id
        for r in pq_topk(
            queries, books, codes,
            id_col="vec_id", vec_col="embedding", dim=16, k=5, m=4,
        ).collect()
    }

    def dot(a, b):
        return sum(x * y for x, y in zip(a, b))

    for qid in range(3):
        scored = sorted(
            (
                (round(dot(corpus_rows[qid][1], v), 6), -i)
                for i, v in corpus_rows
                if i != qid
            ),
            reverse=True,
        )
        want = [-neg_i for _, neg_i in scored[:5]]
        assert [got[(qid, r)] for r in range(1, 6)] == want, qid


def test_ivf_pq_full_probe_equals_pq(spark):
    """IVF-PQ with n_probe == n_clusters searches everything, so it
    must return exactly the plain PQ ADC ranking — pinning that the
    cell pruning composes with ADC scoring without changing scores."""
    import random

    from pyspark.sql import functions as F

    from data_pipeline_mlops_spark.ml.ivf import build_ivf_index
    from data_pipeline_mlops_spark.ml.pq import (
        build_pq_codebooks,
        ivf_pq_topk,
        pq_encode,
        pq_topk,
    )

    rng = random.Random(11)
    protos = [[rng.uniform(-1, 1) for _ in range(16)] for _ in range(8)]
    df = spark.createDataFrame(
        [(i, protos[i % 8]) for i in range(48)],
        "vec_id long, embedding array<double>",
    )
    queries = df.where(F.col("vec_id") < 3)
    kw = dict(id_col="vec_id", vec_col="embedding")

    books = build_pq_codebooks(df, vec_col="embedding", dim=16, m=4, k=8)
    codes = pq_encode(df, books, dim=16, m=4, **kw)
    centroids, assigned = build_ivf_index(df, n_clusters=4, **kw)

    plain = {(r.query_id, r.rank): (r.neighbor_id, r.adc_dot)
             for r in pq_topk(queries, books, codes, dim=16, k=5, m=4,
                              **kw)
             .collect()}
    ivfpq = {(r.query_id, r.rank): (r.neighbor_id, r.adc_dot)
             for r in ivf_pq_topk(
                 queries, centroids, assigned, books, codes,
                 dim=16, k=5, m=4, n_probe=4, **kw).collect()}
    assert ivfpq == plain and len(plain) == 15


def test_pq_rejects_indivisible_dim(spark):
    """dim % m != 0 must raise instead of silently dropping the
    trailing dimensions from codebooks, codes, and ADC scores."""
    import pytest

    from data_pipeline_mlops_spark.ml.pq import pq_encode

    df = spark.createDataFrame(
        [(0, [1.0] * 10)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="divisible"):
        pq_encode(
            df, df, id_col="vec_id", vec_col="embedding", dim=10, m=4
        )


def test_pq_encode_rejects_wrong_width_vectors(spark):
    """A declared dim smaller than the real vector width silently
    truncates every vector via F.slice — must raise at execution."""
    import pytest

    from data_pipeline_mlops_spark.ml import pq

    vecs = spark.createDataFrame(
        [(0, [1.0] * 16)], "vec_id long, embedding array<double>"
    )
    books = spark.createDataFrame(
        [(s, c, [0.0, 0.0]) for s in range(4) for c in range(2)],
        "segment int, code int, centroid array<double>",
    )
    enc = pq.pq_encode(
        vecs, books, id_col="vec_id", vec_col="embedding", dim=8, m=4
    )
    with pytest.raises(Exception, match="declared dim"):
        enc.collect()


def test_lloyd_training_reduces_quantization_error(spark):
    """Two Lloyd iterations must not increase total squared
    quantization error vs the seed codebooks (k-means monotonicity),
    and on clustered data should strictly reduce it."""
    import numpy as np
    from pyspark.sql import functions as F

    from data_pipeline_mlops_spark.ml import pq

    rng = np.random.default_rng(11)
    centers = rng.normal(size=(4, 16)) * 3.0
    rows = [
        (int(i), (centers[i % 4] + rng.normal(size=16) * 0.4).tolist())
        for i in range(80)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    v = F.col("embedding")
    seeds = (
        emb.where(F.col("vec_id") < 8)
        .select(
            F.col("vec_id").cast("int").alias("code"),
            F.posexplode(
                F.array(*[F.slice(v, i * 8 + 1, 8) for i in range(2)])
            ).alias("segment", "centroid"),
        )
        .select("segment", "code", "centroid")
    )

    def total_err(cb):
        sub = emb.select(
            "vec_id",
            F.posexplode(
                F.array(*[F.slice(v, i * 8 + 1, 8) for i in range(2)])
            ).alias("segment", "sv"),
        )
        d2 = F.aggregate(
            F.zip_with("sv", "centroid", lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        per = sub.join(cb, "segment").groupBy("vec_id", "segment").agg(
            F.min(d2).alias("d")
        )
        return per.agg(F.sum("d")).collect()[0][0]

    trained = pq.lloyd_codebooks(
        emb, seeds, id_col="vec_id", vec_col="embedding",
        dim=16, m=2, iters=2,
    )
    e0, e2 = total_err(seeds), total_err(trained)
    assert e2 < e0 * 0.9  # strict improvement on clustered data


def test_cap_basket_size_bounds_mega_basket(spark):
    """A planted 10k-item bot basket is truncated to the cap; normal
    baskets pass through untouched; the truncation is deterministic
    (same survivors regardless of input partitioning)."""
    from pyspark.sql import functions as F

    from data_pipeline_mlops_spark.ml.cf import cap_basket_size

    bot = [(999, i) for i in range(10_000)]
    normal = [(1, 10), (1, 11), (2, 20)]
    df = spark.createDataFrame(bot + normal, "u long, item long")
    capped = cap_basket_size(df, basket_col="u", item_col="item", max_items=20)
    sizes = {
        r.u: r.n
        for r in capped.groupBy("u").agg(F.count("*").alias("n")).collect()
    }
    assert sizes == {999: 20, 1: 2, 2: 1}
    survivors = {(r.u, r.item) for r in capped.collect()}
    survivors_repart = {
        (r.u, r.item)
        for r in cap_basket_size(
            df.repartition(13, "item"), basket_col="u", item_col="item",
            max_items=20,
        ).collect()
    }
    assert survivors == survivors_repart
    assert survivors >= {(1, 10), (1, 11), (2, 20)}


def test_item_similarity_max_basket_size_bounded_pairs(spark):
    """With the cap, the mega-basket contributes at most cap*(cap-1)/2
    upper-triangle pairs; without it, basket²/2."""
    from data_pipeline_mlops_spark.ml.cf import item_similarity

    bot = [(999, i) for i in range(200)]
    df = spark.createDataFrame(bot, "u long, item long")
    capped = item_similarity(
        df, user_col="u", item_col="item", max_basket_size=10
    )
    assert capped.count() == 10 * 9 // 2


def test_item_similarity_pack_pair_keys_identical(spark):
    """`pack_pair_keys` shuffles one packed int64 instead of two id
    columns — a pure key-encoding change, so every output row (ids,
    cooccurrence, cosine) and the schema must be bit-identical to the
    unpacked build; out-of-range ids must raise, not collide."""
    from data_pipeline_mlops_spark.ml.cf import item_similarity

    rows = [
        ("u1", 1), ("u1", 2), ("u1", 3),
        ("u2", 1), ("u2", 2), ("u2", 2**32 - 1),
        ("u3", 2), ("u3", 3), ("u3", 0),
    ]
    df = spark.createDataFrame(rows, "u string, item long")
    plain = item_similarity(df, user_col="u", item_col="item")
    packed = item_similarity(
        df, user_col="u", item_col="item", pack_pair_keys=True
    )
    assert packed.schema == plain.schema
    key = lambda r: (r["item_a"], r["item_b"])  # noqa: E731
    assert sorted(packed.collect(), key=key) == sorted(
        plain.collect(), key=key
    )

    # ids at/above 2^32 must fail loudly instead of silently colliding
    import pytest

    bad = spark.createDataFrame(
        [("u1", 2**32), ("u1", 5)], "u string, item long"
    )
    with pytest.raises(Exception, match="pack_pair_keys"):
        item_similarity(
            bad, user_col="u", item_col="item", pack_pair_keys=True
        ).collect()

    # non-integral ids would truncate through cast("long") (1.5 -> 1,
    # '007' -> 7): refused when the plan is built, before any job runs
    for ids, dtype in (
        ((1.5, 1.0), "double"),
        ((Decimal("1.50"), Decimal("2.00")), "decimal(10,2)"),
        (("007", "7"), "string"),
    ):
        frac = spark.createDataFrame(
            [("u1", i) for i in ids], f"u string, item {dtype}"
        )
        with pytest.raises(ValueError, match="pack_pair_keys.*integral"):
            item_similarity(
                frac, user_col="u", item_col="item", pack_pair_keys=True
            )


def test_item_similarity_touching_items_is_pure_pruning(spark):
    """The round-13 pair-build prune: with ``touching_items`` the
    surviving rows must be BIT-IDENTICAL to the full build filtered
    post-hoc to pairs touching the set — counts and cosines are
    per-pair quantities, so pre-aggregation pruning may drop rows but
    never change one."""
    from data_pipeline_mlops_spark.ml.cf import item_similarity

    inter = _inter(spark)
    touch = spark.createDataFrame([("A",)], "item string")
    pruned = {
        (r["item_a"], r["item_b"]): (r["cooccurrence"], r["cosine_sim"])
        for r in item_similarity(
            inter, user_col="user", item_col="item",
            touching_items=touch,
        ).collect()
    }
    full = {
        (r["item_a"], r["item_b"]): (r["cooccurrence"], r["cosine_sim"])
        for r in item_similarity(
            inter, user_col="user", item_col="item"
        ).collect()
        if r["item_a"] == "A" or r["item_b"] == "A"
    }
    assert pruned == full
    # and the untouched pair (B,C), (C,D) really are pruned
    assert ("B", "C") not in pruned and ("C", "D") not in pruned


def test_recommend_equal_with_touching_items_pruned_sim(spark):
    """End-to-end equivalence behind registry `recommendations`/
    `recommendations_capped`: scoring a bounded user band against the
    anchor-pruned similarity build must produce the exact rows the
    full build produces — capped and uncapped."""
    from data_pipeline_mlops_spark.ml.cf import item_similarity, recommend

    inter = _inter(spark)
    band = inter.where(F.col("user") == "u1")
    anchors = band.select("item")
    for cap in (None, 1):
        full = recommend(
            band,
            item_similarity(inter, user_col="user", item_col="item"),
            user_col="user", item_col="item",
            top_n=5, max_neighbors=cap, small_user_band=True,
        ).collect()
        pruned = recommend(
            band,
            item_similarity(
                inter, user_col="user", item_col="item",
                touching_items=anchors,
            ),
            user_col="user", item_col="item",
            top_n=5, max_neighbors=cap, small_user_band=True,
        ).collect()
        assert sorted(map(tuple, full)) == sorted(map(tuple, pruned))


def test_als_quality_band(spark, tmp_path):
    """Eval harness for the factorization twin (registry
    `recommendations_als` is rows/schema-checked — ALS is not
    bit-stable across partitionings, so its VALUE gate lives here):
    on the deterministic md5 train/eval split of the sf0.001
    interactions, the Spark ML Pipeline ALS tier must serve every
    train user exactly top-n unowned items and land precision@10
    within a pinned band of the item-item cosine tier (measured
    0.0373 vs 0.0367 at pin time — comparable families on the same
    binary matrix)."""
    from data_pipeline_mlops_spark.ml.als import recommend_als, train_als
    from data_pipeline_mlops_spark.registry import _interactions
    from tests.conftest import SF_SMALL

    inter = _interactions(spark, SF_SMALL).localCheckpoint()
    train, ev = interactions.split_train_eval(
        inter, user_col="customer_id", item_col="product_id", method="md5"
    )
    train = train.localCheckpoint()
    ev = ev.localCheckpoint()

    model = train_als(
        train, user_col="customer_id", item_col="product_id",
        rank=16, max_iter=10, seed=42,
    )
    als_recs = recommend_als(
        model, train, user_col="customer_id", item_col="product_id",
        top_n=10,
    ).localCheckpoint()

    # contract invariants: exactly 10 unowned recs for every train user
    assert als_recs.join(train, ["customer_id", "product_id"]).count() == 0
    counts = (
        als_recs.groupBy("customer_id")
        .count()
        .agg(F.min("count").alias("lo"), F.max("count").alias("hi"))
        .collect()[0]
    )
    assert (counts["lo"], counts["hi"]) == (10, 10)
    n_users = train.select("customer_id").distinct().count()
    assert als_recs.select("customer_id").distinct().count() == n_users

    # quality band vs the item-item tier on the same split
    sim = cf.item_similarity(
        train, user_col="customer_id", item_col="product_id",
        min_cooccurrence=1,
    )
    ii_recs = cf.recommend(
        train, sim, user_col="customer_id", item_col="product_id", top_n=10
    )
    p_als = evaluate.precision_at_k(
        als_recs, ev, user_col="customer_id", item_col="product_id", k=10
    ).collect()[0]
    p_ii = evaluate.precision_at_k(
        ii_recs, ev, user_col="customer_id", item_col="product_id", k=10
    ).collect()[0]
    assert p_als["evaluated_users"] == p_ii["evaluated_users"] == n_users
    # ALS must reach at least 60% of the cosine tier's precision (and
    # not exceed a sanity ceiling that would indicate eval leakage)
    assert p_als["precision_at_k"] >= 0.6 * p_ii["precision_at_k"]
    assert p_als["precision_at_k"] <= 1.0

    # the fitted artifact is a real PipelineModel: save/load roundtrip
    # serves identical recommendations (factors are frozen at fit time)
    from pyspark.ml import PipelineModel

    path = str(tmp_path / "als_model")
    model.save(path)
    reloaded = PipelineModel.load(path)
    re_recs = recommend_als(
        reloaded, train, user_col="customer_id", item_col="product_id",
        top_n=10,
    )
    assert sorted(
        (r["customer_id"], r["product_id"], r["rank"])
        for r in re_recs.collect()
    ) == sorted(
        (r["customer_id"], r["product_id"], r["rank"])
        for r in als_recs.collect()
    )


def test_pca_ann_quality(spark, tmp_path):
    """Value gate for the rows-only `ann_pca_topk` registry entry: on
    the sf0.001 embeddings (near-isotropic — explained variance at
    k=32/64 measured 0.65, which BOUNDS any linear reduction's
    recall), PCA-space top-5 recall vs the exact full-dim top-5 must
    hold the pinned floor, the projector must serve exactly 5
    neighbors per query, and a PCAModel save/load roundtrip serves
    identical rows."""
    from data_pipeline_mlops_spark.functions.similarity import (
        brute_force_topk,
    )
    from data_pipeline_mlops_spark.ml.pca import fit_pca, pca_project
    from data_pipeline_mlops_spark.registry import QUERIES
    from data_pipeline_mlops_spark.sources.tables import load_table
    from tests.conftest import SF_SMALL

    emb = load_table(spark, SF_SMALL, "embeddings")
    model = fit_pca(emb, vec_col="embedding", k=32)
    ev = sum(model.explainedVariance.toArray())
    assert 0.5 <= ev <= 0.85, ev  # the isotropy bound, data-derived

    proj = pca_project(
        model, emb, id_col="vec_id", vec_col="embedding"
    ).localCheckpoint()
    topk = brute_force_topk(
        proj.where(F.col("vec_id") < 10), proj,
        id_col="vec_id", vec_col="pvec", k=5,
    ).localCheckpoint()
    rows = topk.collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert len(per_q) == 10 and all(len(v) == 5 for v in per_q.values())

    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in QUERIES["ann_cosine_topk"].spark(spark, SF_SMALL).collect()
    }
    got = {(r["query_id"], r["neighbor_id"]) for r in rows}
    recall = len(got & exact) / len(exact)
    assert recall >= 0.35, recall  # measured 0.46 at pin time

    from pyspark.ml.feature import PCAModel

    path = str(tmp_path / "pca_model")
    model.save(path)
    reloaded = PCAModel.load(path)
    re_rows = brute_force_topk(
        pca_project(
            reloaded, emb, id_col="vec_id", vec_col="embedding"
        ).where(F.col("vec_id") < 10),
        pca_project(reloaded, emb, id_col="vec_id", vec_col="embedding"),
        id_col="vec_id", vec_col="pvec", k=5,
    ).collect()
    assert sorted((r["query_id"], r["neighbor_id"], r["rank"]) for r in re_rows) == sorted(
        (r["query_id"], r["neighbor_id"], r["rank"]) for r in rows
    )


def test_similar_items_als(spark):
    """Contract gates for the rows-only `similar_items_als` entry:
    exactly top-n neighbors, anchor excluded, cosine in [-1, 1] and
    descending with rank, names mapped back to original ids, and an
    unknown anchor raises."""
    import pytest as _pytest

    from data_pipeline_mlops_spark.ml.als import (
        similar_items_als,
        train_als,
    )
    from data_pipeline_mlops_spark.registry import _interactions
    from tests.conftest import SF_SMALL

    inter = _interactions(spark, SF_SMALL).localCheckpoint()
    model = train_als(
        inter, user_col="customer_id", item_col="product_id",
        rank=8, max_iter=5, seed=42,
    )
    rows = similar_items_als(
        model, item_col="product_id", item=1, top_n=10,
        item_type="long",
    ).orderBy("rank").collect()
    assert len(rows) == 10
    assert all(r["item"] == 1 for r in rows)
    assert all(r["similar_item"] != 1 for r in rows)
    sims = [r["cosine_sim"] for r in rows]
    assert all(-1.0001 <= s <= 1.0001 for s in sims)
    assert sims == sorted(sims, reverse=True)
    valid = {
        r["product_id"] for r in inter.select("product_id").distinct().collect()
    }
    assert {r["similar_item"] for r in rows} <= valid

    with _pytest.raises(ValueError):
        similar_items_als(model, item_col="product_id", item=-999)


def test_train_als_index_false_serving_contract(spark):
    """VERDICT r11 #3: the `index=False` escape hatch (skip the
    driver-side StringIndexers, feed ALS native int ids — the path
    for id spaces too large for driver-held label arrays) must serve
    the SAME contract as the indexed path: exactly top-n rows per
    user, no owned items, every train user covered, native id types
    in the output."""
    from data_pipeline_mlops_spark.ml.als import recommend_als, train_als
    from data_pipeline_mlops_spark.registry import _interactions
    from tests.conftest import SF_SMALL

    inter = _interactions(spark, SF_SMALL).localCheckpoint()
    model = train_als(
        inter, user_col="customer_id", item_col="product_id",
        rank=8, max_iter=5, seed=42, index=False,
    )
    # bare ALSModel, not a PipelineModel
    assert not hasattr(model, "stages")
    recs = recommend_als(
        model, inter, user_col="customer_id", item_col="product_id",
        top_n=10,
    ).localCheckpoint()
    assert recs.columns == ["customer_id", "product_id", "score", "rank"]
    # native id types preserved (no double-indexed residue)
    in_types = dict(
        (f.name, f.dataType.simpleString()) for f in inter.schema.fields
    )
    out_types = dict(
        (f.name, f.dataType.simpleString()) for f in recs.schema.fields
    )
    assert out_types["customer_id"] == in_types["customer_id"]
    assert out_types["product_id"] == in_types["product_id"]
    # exactly 10 unowned recs for every train user
    assert recs.join(inter, ["customer_id", "product_id"]).count() == 0
    counts = (
        recs.groupBy("customer_id")
        .count()
        .agg(F.min("count").alias("lo"), F.max("count").alias("hi"))
        .collect()[0]
    )
    assert (counts["lo"], counts["hi"]) == (10, 10)
    n_users = inter.select("customer_id").distinct().count()
    assert recs.select("customer_id").distinct().count() == n_users
    # recommended items come from the training catalog
    catalog = {
        r["product_id"]
        for r in inter.select("product_id").distinct().collect()
    }
    assert {
        r["product_id"] for r in recs.select("product_id").distinct().collect()
    } <= catalog


def test_similar_items_als_quality_band(spark):
    """VERDICT r11 #6: value band for the rows-only
    `similar_items_als` entry (the contract test checks shape only).
    ALS factor-cosine neighbors must AGREE with the co-occurrence
    cosine tier well above chance on the fixture: across the 5 most
    frequent anchor items, total neighbor-overlap@10 >= 5 with at
    least 3 anchors overlapping (measured [2,3,2,1,3] = 11 total at
    pin time; random chance is ~0.5 per anchor on the ~200-item
    catalog)."""
    from data_pipeline_mlops_spark.ml.als import similar_items_als, train_als
    from data_pipeline_mlops_spark.registry import _interactions
    from tests.conftest import SF_SMALL

    inter = _interactions(spark, SF_SMALL).localCheckpoint()
    model = train_als(
        inter, user_col="customer_id", item_col="product_id",
        rank=8, max_iter=5, seed=42,
    )
    sim = cf.item_similarity(
        inter, user_col="customer_id", item_col="product_id",
        min_cooccurrence=1,
    ).localCheckpoint()
    anchors = [
        r["product_id"]
        for r in inter.groupBy("product_id")
        .count()
        .orderBy(F.desc("count"), "product_id")
        .limit(5)
        .collect()
    ]
    overlaps = []
    for a in anchors:
        als_n = {
            r["similar_item"]
            for r in similar_items_als(
                model, item_col="product_id", item=a, top_n=10,
                item_type="long",
            ).collect()
        }
        cos_n = {
            r["similar_item"]
            for r in cf.similar_items(sim, item=a, top_n=10).collect()
        }
        assert len(als_n) == 10 and len(cos_n) == 10
        overlaps.append(len(als_n & cos_n))
    assert sum(overlaps) >= 5, overlaps
    assert sum(1 for o in overlaps if o >= 1) >= 3, overlaps
