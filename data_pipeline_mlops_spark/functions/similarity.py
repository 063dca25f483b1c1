"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the exact baseline: queries × corpus
cross-join with the small side broadcast, dot products via zip_with /
aggregate (JVM-side higher-order functions — no Python in the loop),
TakeOrdered per query. The scale path is LSH bucketing (random
hyperplane signs), which turns the cross-join into a bucket join —
same shape as MinHash dedup.

Float arrays are cast element-wise to double BEFORE any arithmetic and
dot products fold left-to-right, so results are bit-identical to a
sequential oracle.
"""

from __future__ import annotations

import pandas as pd  # noqa: TC002 — pandas_udf resolves 'pd.Series'
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_pipeline_mlops_spark.materialize import materialize

COS_SCALE = 4  # rank on rounded cosine + id tiebreak => deterministic


def _to_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot_d(a: Column, b: Column) -> Column:
    """Dot product over ALREADY-double arrays, left-to-right fold."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm_d(a: Column | str) -> Column:
    c = F.col(a) if isinstance(a, str) else a
    return F.sqrt(dot_d(c, c))


def dot(a: Column, b: Column) -> Column:
    """Left-to-right double dot product (deterministic fold order)."""
    return dot_d(_to_double(a), _to_double(b))


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(_to_double(a), lambda x: x * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k per query (self-match excluded).

    Broadcast the query side — at scale the corpus streams past a small
    broadcast query set, one pass, no shuffle of the corpus.
    Output: query_id, neighbor_id, cosine_sim, rank.
    """
    from pyspark.sql import Window

    # materialize the double-cast vector and its norm once per row —
    # computing cosine() per pair would re-derive both norms per pair
    # (and HOF expressions run interpreted; aliasing stops re-evaluation)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _to_double(F.col(vec_col)).alias("__qv"),
    ).withColumn("__qn", l2_norm_d("__qv"))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _to_double(F.col(vec_col)).alias("__cv"),
    ).withColumn("__cn", l2_norm_d("__cv"))
    pairs = c.crossJoin(F.broadcast(q)).where(
        F.col("neighbor_id") != F.col("query_id")
    )
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.round(
            dot_d(F.col("__qv"), F.col("__cv"))
            / (F.col("__qn") * F.col("__cn")),
            COS_SCALE,
        ).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def auto_lsh_params(
    n: int,
    *,
    target_occupancy: int = 8,
    min_planes: int = 4,
    max_planes: int = 24,
) -> tuple[int, int]:
    """Corpus-scaled hyperplane-LSH knob: (num_planes, num_tables) for
    a corpus of ``n`` vectors, sized so EXPECTED bucket occupancy stays
    ~constant as the corpus grows — planes = the smallest ``b`` with
    ``2^b * target_occupancy >= n`` (clamped to [min_planes,
    max_planes]), tables = planes.

    Why this exists (SCALING_r12.json): at FIXED planes, per-bucket
    population grows linearly with the corpus and the per-bucket pair
    join grows quadratically — the two fixed-knob tiers measured the
    largest 5x-step exponents in the repo (doc_semdedup_fast 0.66,
    embedding_near_dups_fast 0.77) while everything else sat <= 0.40.
    With occupancy pinned, candidate pairs grow ~n * occupancy *
    tables ~ n log n instead of n^2 / 2^b. The default occupancy 8 is
    deliberately tight: hyperplane_buckets_all_tables computes every
    plane of every table in one Arrow matmul, so extra planes are
    nearly free, and candidate volume — which the exact-cosine rescore
    pays for — is the real cost (measured at the 25x fixture: occupancy
    64 produced 18.5M candidates for 5k true pairs).

    Why tables = planes keeps recall flat: a pair at collision
    probability p per plane is missed with probability
    (1 - p^b)^L. For near-dup thresholds (cosine >= 0.95 => p >= 0.90)
    the miss probability at L = b stays below ~0.5% across the whole
    clamp range — for the registered 0.98 threshold (p = 0.9362):
    b=4 -> 0.0029, b=6 -> 0.0012, b=8 -> 0.0008, b=12 -> 0.0007,
    b=16 -> 0.0011, b=24 -> 0.0040. Looser thresholds (p < 0.9) decay
    faster than L = b compensates — callers there should pass explicit
    table counts instead.

    INTEGER-EXACT on purpose: the rule is a pure function of ``n``
    using only shifts and comparisons, so the DuckDB oracle replays it
    bit-for-bit with no cross-engine log2/pow ulp risk (the SQL twin
    is ``COALESCE(MIN(b), max) .. WHERE (1::BIGINT << b) * occ >= n``
    over ``range(min, max+1)``)."""
    b = min_planes
    while b < max_planes and (1 << b) * target_occupancy < n:
        b += 1
    return b, b


def _md5_component(key: str) -> int:
    """One hyperplane component in [-1000, 1000] from md5 — the EXACT
    integer any engine derives from the same key string:
    int(md5_hex[:15], 16) % 2001 - 1000 equals DuckDB's
    (('0x'||substring(md5(key),1,15))::BIGINT % 2001) - 1000
    (60-bit value, never negative, so % == pmod)."""
    import hashlib

    return int(hashlib.md5(key.encode()).hexdigest()[:15], 16) % 2001 - 1000


def hyperplane_buckets_all_tables(
    df: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    num_planes: int,
    num_tables: int,
    dim: int,
    method: str = "md5",
    seed: int = 42,
) -> DataFrame:
    """Random-hyperplane LSH: bucket = sign bits of ``num_planes``
    projections, for each of ``num_tables`` independent plane sets.
    Near vectors collide with high probability, so ANN search and
    near-dup detection join on (table, bucket) instead of
    cross-joining. ALL tables' buckets come out of ONE Arrow-vectorized
    pass: a pandas UDF computes the (rows x dim) @ (dim x
    planes*tables) projection matmul in numpy and packs sign bits per
    table; posexplode emits (id, table, bucket).

    Every vector must be ``dim`` wide: the plane components are
    computed ONCE on the driver (a few KB at any realistic planes x
    dim) and the matmul raises on any other width.

    Why a UDF here, in a repo that bans hot-path UDFs: the per-plane
    fold is a genuine matmul, which no built-in vectorized expression
    can express — the zip_with/aggregate HOF form is INTERPRETED per
    row, and at the 25x scale leg planes*tables*dim interpreted fold
    steps per vector were the single largest cost of the near-dup
    tier (11.3 s of a 20 s run; this pass measures <1 s). Arrow
    batching + numpy is the sanctioned fast path for exactly this
    shape.

    ORACLE-EXACT for method="md5": vectors quantize to int64
    (floor(x*1e6+0.5) — float32->float64 cast, multiply, +0.5, floor
    are the identical IEEE ops the oracle's SQL performs) and
    the projection is an int64 matmul — integer addition is
    associative, so numpy's summation order CANNOT change the result:
    DuckDB replays the same buckets bit-for-bit. The components are
    the same _md5_component("t,p,i") integers the SQL derives.
    method="seeded" uses float64 projections (sign flips from
    summation-order ulps are measure-zero and this path is not
    oracle-replayed; it is deterministic for a fixed Spark/numpy)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    if method == "md5":
        comps = np.array(
            [
                [
                    _md5_component(f"{t},{p},{i}")
                    for p in range(num_planes)
                    for i in range(dim)
                ]
                for t in range(num_tables)
            ],
            dtype=np.int64,
        ).reshape(num_tables * num_planes, dim)
    else:
        comps = (
            np.array(
                [
                    [
                        _md5_component(f"x,{seed + 7919 * t},{p},{i}")
                        for p in range(num_planes)
                        for i in range(dim)
                    ]
                    for t in range(num_tables)
                ],
                dtype=np.float64,
            ).reshape(num_tables * num_planes, dim)
            / 1000.0
        )
    weights = 1 << np.arange(num_planes, dtype=np.int64)
    quantize = method == "md5"

    @pandas_udf("array<bigint>")
    def _buckets(emb: pd.Series) -> pd.Series:
        v = np.stack(emb.to_numpy()).astype(np.float64)
        x = (
            np.floor(v * 1000000.0 + 0.5).astype(np.int64)
            if quantize
            else v
        )
        proj = x @ comps.T  # (rows, tables*planes)
        bits = (proj > 0).reshape(len(v), num_tables, num_planes)
        buckets = (bits * weights).sum(axis=2, dtype=np.int64)
        return pd.Series(list(buckets))

    return df.select(
        F.col(id_col), _buckets(F.col(vec_col)).alias("__bkts")
    ).select(
        id_col,
        F.posexplode("__bkts").alias("table", "bucket"),
    )


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    k: int = 5,
    num_planes: int = 12,
    num_tables: int = 1,
    dim: int = 64,
) -> DataFrame:
    """ANN top-k: bucket both sides on the md5 hyperplanes
    (hyperplane_buckets_all_tables, so DuckDB replays the buckets),
    join on bucket, exact-rescore the candidates, dedupe across tables.
    ``dim`` is the vector width.

    Standard (k planes, L tables) OR-construction: a pair is a
    candidate if it collides in ANY of `num_tables` independent
    bucketings — per-table recall p^k becomes 1-(1-p^k)^L. More tables
    = more candidates to rescore; on clustered real embeddings a few
    tables suffice, on uniform random data recall is intrinsically
    expensive (no structure to hash).

    Plan shape (round-13 rebuild, same treatment as
    cosine_near_dup_pairs): both sides bucket in ONE Arrow matmul pass
    and the bucket join + cross-table dedup move BARE (query_id,
    neighbor_id) pairs — the corpus vectors never ride the candidate
    shuffle; they re-join once per distinct candidate for the exact
    rescore. At corpus scale the old shape shipped num_tables
    full-vector copies of the corpus through the join."""
    from pyspark.sql import Window

    def bucketed(df: DataFrame, out_id: str) -> DataFrame:
        return hyperplane_buckets_all_tables(
            df, id_col=id_col, vec_col=vec_col,
            num_planes=num_planes, num_tables=num_tables, dim=dim,
        ).select(F.col(id_col).alias(out_id), "table", "bucket")

    qb = bucketed(queries, "query_id")
    cb = bucketed(corpus, "neighbor_id")
    cands = (
        cb.join(F.broadcast(qb), ["table", "bucket"])
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    # vectors + norms join AFTER the dedup, once per distinct
    # candidate (queries side broadcast-sized by construction)
    qv = queries.select(
        F.col(id_col).alias("query_id"),
        _to_double(F.col(vec_col)).alias("__qd"),
    ).select("query_id", "__qd", l2_norm_d("__qd").alias("__qn"))
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _to_double(F.col(vec_col)).alias("__cd"),
    ).select("neighbor_id", "__cd", l2_norm_d("__cd").alias("__cn"))
    withvecs = cands.join(F.broadcast(qv), "query_id").join(
        cv, "neighbor_id"
    )
    scored = withvecs.select(
        "query_id",
        "neighbor_id",
        F.round(
            dot_d(F.col("__qd"), F.col("__cd"))
            / (F.col("__qn") * F.col("__cn")),
            COS_SCALE,
        ).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def quantize_embeddings(
    df: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    bits_range: float = 1.0,
) -> DataFrame:
    """Scalar int8 quantization of an embedding column — the memory
    lever for ANN at corpus scale (4x smaller than float32, 8x than
    float64; distance on codes is then a cheap int kernel).

    Each component is clipped to [-bits_range, bits_range], scaled to
    [-127, 127] and rounded; the output carries the code vector
    serialized as CSV (engine-portable scalar, per the determinism
    rules) plus per-vector reconstruction-error stats so a pipeline can
    gate quantization on measured quality loss. Pure column
    expressions; streams at scan speed.
    """
    x = _to_double(F.col(vec_col))
    clip = lambda v: F.greatest(  # noqa: E731
        F.least(v, F.lit(bits_range)), F.lit(-bits_range)
    )
    codes = F.transform(
        x, lambda v: F.round(clip(v) * (127.0 / bits_range)).cast("int")
    )
    errs = F.zip_with(
        x,
        codes,
        lambda v, q: F.abs(v - q.cast("double") * (bits_range / 127.0)),
    )
    return df.select(
        F.col(id_col),
        F.concat_ws(",", F.transform(codes, lambda q: q.cast("string"))).alias(
            "codes_csv"
        ),
        F.round(F.array_max(errs), 8).alias("max_abs_err"),
        F.round(
            F.aggregate(
                errs, F.lit(0.0), lambda acc, e: acc + e
            )
            / F.size(errs),
            8,
        ).alias("mean_abs_err"),
    )


def quantized_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    k: int = 5,
    bits_range: float = 1.0,
) -> DataFrame:
    """Cosine top-k computed ON int8 codes — the search kernel that
    makes quantize_embeddings pay off: the corpus held in memory is 4x
    smaller and every dot product is exact int64 arithmetic (codes are
    |q| <= 127, so a 4096-dim dot stays < 2^26 — overflow-free), which
    also makes the ranking engine-portable without any float-sum
    ordering concerns. Same broadcast-query / streamed-corpus shape as
    brute_force_topk. Output: query_id, neighbor_id, qcosine_sim, rank.
    """
    from pyspark.sql import Window

    scale = 127.0 / bits_range
    clip = lambda v: F.greatest(  # noqa: E731
        F.least(v, F.lit(bits_range)), F.lit(-bits_range)
    )

    def codes(col):
        return F.transform(
            _to_double(col), lambda v: F.round(clip(v) * scale).cast("long")
        )

    def int_dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    q = queries.select(
        F.col(id_col).alias("query_id"), codes(F.col(vec_col)).alias("__qc")
    ).withColumn("__qn2", int_dot(F.col("__qc"), F.col("__qc")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        codes(F.col(vec_col)).alias("__cc"),
    ).withColumn("__cn2", int_dot(F.col("__cc"), F.col("__cc")))
    pairs = c.crossJoin(F.broadcast(q)).where(
        (F.col("neighbor_id") != F.col("query_id"))
        & (F.col("__qn2") > 0)
        & (F.col("__cn2") > 0)
    )
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.round(
            int_dot(F.col("__qc"), F.col("__cc"))
            / F.sqrt(F.col("__qn2").cast("double") * F.col("__cn2")),
            COS_SCALE,
        ).alias("qcosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("qcosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def cosine_near_dup_pairs(
    corpus: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    threshold: float,
    method: str = "exact",
    num_planes: int = 6,
    num_tables: int = 8,
    seed: int = 42,
    dim: int = 64,
) -> DataFrame:
    """Embedding-cosine near-duplicate detection (the SemDeDup-style
    dedup tier): every unordered pair (id_a < id_b) whose cosine
    similarity rounds to >= ``threshold``. Output: id_a, id_b,
    cosine_sim.

    ``method``:
    - ``"exact"``  — all-pairs verification tier. O(n^2); correct at
      any n but only affordable on a bounded corpus slice (it is the
      oracle the bucketed tiers are checked against).
    - ``"md5"``    — hyperplane-LSH candidates from the integer md5
      planes of hyperplane_buckets_all_tables (deterministic
      approximation, DuckDB-replayable — same move as lsh_topk), then
      exact cosine verify.
    - ``"seeded"`` — same shape on float planes seeded by ``seed``
      (not oracle-replayed). On the sf0.1 near-dup corpus the md5
      planes find the same 200 pairs from 6% more candidates (54,225
      vs 51,079), each of which the exact-cosine verify pays for, so
      the float planes stay the bench headliners' path.

    Both LSH methods draw candidates from an OR-construction over
    ``num_tables`` bucketings of ``dim``-wide vectors, so the pair
    join runs per bucket — never all-pairs — and near pairs are missed
    only when they collide in NO table (probability (1-p^k)^L,
    vanishing for near-dup angles).
    """
    if method == "exact":
        a = corpus.select(
            F.col(id_col).alias("id_a"),
            _to_double(F.col(vec_col)).alias("__va"),
        ).select("id_a", "__va", l2_norm_d("__va").alias("__na"))
        b = corpus.select(
            F.col(id_col).alias("id_b"),
            _to_double(F.col(vec_col)).alias("__vb"),
        ).select("id_b", "__vb", l2_norm_d("__vb").alias("__nb"))
        pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    else:
        # candidate generation on BARE IDS: the bucket self-join and
        # the cross-table dedup shuffle move 16-byte pair rows, not
        # the vectors — at 25x fixture scale the old shape (vectors
        # carried through join + dropDuplicates) shuffled ~15 GB of
        # float arrays and dominated the whole tier (SCALING_r13
        # profiling); vectors re-join AFTER dedup, exactly the shape
        # the DuckDB oracle replays (cand -> JOIN e av -> JOIN e bv)
        bucketed = hyperplane_buckets_all_tables(
            corpus, id_col=id_col, vec_col=vec_col,
            num_planes=num_planes, num_tables=num_tables,
            dim=dim, method=method, seed=seed,
        )
        # the bare (id, table, bucket) relation feeds BOTH sides of
        # the self-join: lazily checkpoint it so the bucketing
        # (planes x tables projections per vector) computes once, not
        # twice — rows are ~24 bytes, so the block is tiny even at
        # corpus scale (same materialize discipline as registry.py)
        bucketed = bucketed.transform(materialize)
        left = bucketed.select(
            F.col(id_col).alias("id_a"), "table", "bucket"
        )
        right = bucketed.select(
            F.col(id_col).alias("id_b"), "table", "bucket"
        )
        cand = (
            left.join(right, ["table", "bucket"])
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .dropDuplicates(["id_a", "id_b"])
        )
        e = corpus.select(
            F.col(id_col).alias("__id"),
            _to_double(F.col(vec_col)).alias("__v"),
        ).select("__id", "__v", l2_norm_d("__v").alias("__n"))
        ea, eb = e.alias("__ea"), e.alias("__eb")
        pairs = (
            cand.join(ea, F.col("id_a") == F.col("__ea.__id"))
            .join(eb, F.col("id_b") == F.col("__eb.__id"))
            .select(
                "id_a",
                "id_b",
                F.col("__ea.__v").alias("__va"),
                F.col("__eb.__v").alias("__vb"),
                F.col("__ea.__n").alias("__na"),
                F.col("__eb.__n").alias("__nb"),
            )
        )
    scored = pairs.select(
        "id_a",
        "id_b",
        F.round(
            dot_d(F.col("__va"), F.col("__vb"))
            / (F.col("__na") * F.col("__nb")),
            COS_SCALE,
        ).alias("cosine_sim"),
    )
    return scored.where(F.col("cosine_sim") >= F.lit(threshold))


def contrastive_pairs(
    corpus: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    threshold: float,
    method: str = "md5",
    num_planes: int = 6,
    num_tables: int = 8,
    neg_seed: int = 7,
) -> DataFrame:
    """Contrastive training-pair mining for embedding models: positives
    are the near-duplicate pairs (the SemDeDup tier reused as a
    LABELER), negatives are deterministic pseudo-random non-dup pairs
    — each vector paired with its successor in a hashed ordering, with
    any accidental positive anti-joined out. Output:
    (id_a, id_b, label) with label 1 = near-dup positive, 0 = negative.

    The negative sampler is partitioning-invariant: successor-in-hash-
    order is a property of the data (same discipline as the sampling
    operators), and the window is PARTITIONED by the hash's top bits
    (256 ranges) so no global-order window exists; boundary rows
    (~n_buckets of them) simply contribute no negative, which is noise
    at corpus scale. Scale: positives come from the bucketed LSH tier
    (never all-pairs); negatives cost one narrow window + one
    anti-join on (id_a, id_b).
    """
    from pyspark.sql import Window

    from data_pipeline_mlops_spark.functions.dedup_text import _md5_60

    pos = cosine_near_dup_pairs(
        corpus,
        id_col=id_col,
        vec_col=vec_col,
        threshold=threshold,
        method=method,
        num_planes=num_planes,
        num_tables=num_tables,
    ).select("id_a", "id_b")

    h = _md5_60(
        F.concat_ws(
            "|", F.col(id_col).cast("string"), F.lit(str(neg_seed))
        )
    )
    ids = corpus.select(
        F.col(id_col).alias("__id"), h.alias("__h")
    ).withColumn("__b", F.shiftright(F.col("__h"), 52))
    w = Window.partitionBy("__b").orderBy(
        F.col("__h").asc(), F.col("__id").asc()
    )
    nx = ids.withColumn("__nb", F.lead("__id").over(w)).where(
        F.col("__nb").isNotNull()
    )
    negs = nx.select(
        F.least("__id", "__nb").alias("id_a"),
        F.greatest("__id", "__nb").alias("id_b"),
    ).join(pos, ["id_a", "id_b"], "left_anti")

    return pos.withColumn("label", F.lit(1).cast("int")).unionByName(
        negs.withColumn("label", F.lit(0).cast("int"))
    )


def cluster_semantic_dedup(
    clustered: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "cluster",
    threshold: float = 0.98,
    scale: int = 4,
) -> DataFrame:
    """SemDeDup keep rule (Abbas et al. 2023, arXiv:2303.09540) over a
    pre-clustered corpus: within each cluster, any vector with a
    LOWER-id neighbor whose rounded cosine >= threshold is dropped —
    deterministic greedy keep-lowest, so a transitive chain keeps only
    its minimum id. Returns (id, cluster, dup_of, keep) where dup_of
    is the lowest qualifying lower id (NULL for keepers).

    Scale shape: the pairwise join is equi-keyed on the cluster id, so
    cost is Σ|cluster|² — the cluster granularity is the knob (the
    paper uses k ~ sqrt(N); a hyperplane-LSH bucket id works as the
    cluster key too, giving the bounded-occupancy production tier)."""
    e = clustered.select(
        F.col(id_col).alias("__id"),
        F.col(cluster_col).alias("__c"),
        _to_double(F.col(vec_col)).alias("__v"),
    )
    a, b = e.alias("a"), e.alias("b")
    cos = F.round(
        dot_d(F.col("a.__v"), F.col("b.__v"))
        / (l2_norm_d(F.col("a.__v")) * l2_norm_d(F.col("b.__v"))),
        scale,
    )
    lowest = (
        a.join(
            b,
            (F.col("a.__c") == F.col("b.__c"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .where(cos >= threshold)
        .groupBy(F.col("b.__id").alias("__id"))
        .agg(F.min(F.col("a.__id")).alias("dup_of"))
    )
    return (
        clustered.select(id_col, cluster_col)
        .join(
            lowest,
            F.col(id_col) == lowest["__id"],
            "left",
        )
        .select(
            id_col,
            cluster_col,
            F.col("dup_of"),
            F.col("dup_of").isNull().alias("keep"),
        )
    )
