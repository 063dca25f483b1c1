"""Document deduplication at corpus scale.

Four tiers, cheapest first — the standard LLM-training-data stack:

1. exact: hash-groupBy on md5(text) — one shuffle on the hash.
2. n-gram Jaccard: shingle -> explode -> self-join on shingle ->
   pair intersection counts. Exact, but pair fan-out is bounded by
   shingle frequency; a `max_shingle_freq` cap drops degenerate
   shingles (same idea as stop-shingle removal in web dedup).
3. MinHash + LSH: signature via k independent hash slots (xxhash64
   with per-slot seed), banded into buckets; only bucket-colliding
   pairs are candidates — the 100 TB path (no all-pairs join).
4. SimHash: 63-bit fingerprint (sign-bit headroom; 60-bit for the
   md5-portable twin); near-dups = small Hamming distance, found by
   band-rotation joins.

All pure DataFrame ops (explode / groupBy / join); no UDFs.

The k-wide expressions (the MinHash slots, the LSH band keys, the
SimHash bits and chunks) are each built as ONE SQL string parsed by
``F.expr``/``selectExpr``, not one ``Column`` per slot: every
``F.*`` call is a py4j round trip to the JVM plus PySpark's call-site
capture (0.1-1.3 ms each), so a 64-slot signature built column by
column cost ~5k round trips and ~0.5 s of driver time per plan before
any job ran. SQL integer literals below 2^31 parse as INT and larger
ones as BIGINT, exactly as ``F.lit`` types them, so every value and
type is the same as the column-built form's.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_pipeline_mlops_spark.functions.text import tokens
from data_pipeline_mlops_spark.materialize import materialize


MINHASH_P = 2_147_483_647  # 2^31 - 1 (Mersenne prime)


def minhash_coeffs(num_hashes: int, seed: int = 7) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs for the linear-permutation family
    h_i(x) = (a_i * x + b_i) mod P over a base hash reduced mod P.
    Fixed seed => identical constants on the Spark side and inside the
    generated DuckDB oracle SQL. With base < 2^31 and a_i < 2^31 the
    product stays under 2^62, so int64 arithmetic is exact in both
    engines — no overflow, no bignum."""
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, MINHASH_P), rng.randrange(0, MINHASH_P))
        for _ in range(num_hashes)
    ]


def _md5_60(col: F.Column) -> F.Column:
    """60-bit non-negative integer from the first 15 hex chars of
    md5(col) — the engine-portable hash twin of xxhash64. DuckDB
    computes the identical value as
    ('0x' || substring(md5(x), 1, 15))::BIGINT, which is what the
    registry oracles do. Slower than xxhash64 (MessageDigest vs a
    streaming hash); use for oracle-checked variants, not the 100 TB
    hot path."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def exact_dup_groups(
    df: DataFrame, *, id_col: str, text_col: str = "text"
) -> DataFrame:
    """Tier 1: group identical texts; survivor = min id."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("fingerprint"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("keep_id"),
        )
    )


def _shingle_expr(toks_col: str, n: int):
    """Distinct word n-gram shingles from a MATERIALIZED tokens column.

    The tokens array must be a named column, not an inline split():
    higher-order-function lambdas are interpreted (no codegen) and an
    inline expression is re-evaluated on every element access — measured
    18x slower. Aliasing it in a prior projection makes CollapseProject
    keep it materialized (non-cheap expr referenced more than once)."""
    toks = F.col(toks_col)
    sz = F.size(toks)
    idx = F.sequence(F.lit(1), sz - (n - 1))
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(toks, i + k) for k in range(n)]
    )
    return F.when(sz >= n, F.array_distinct(F.transform(idx, gram))).otherwise(
        F.array().cast("array<string>")
    )


def shingled(
    df: DataFrame, *, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(id, shingles array<string>) — two-step projection so the token
    split happens exactly once per row."""
    return df.select(
        F.col(id_col).alias("__id"), tokens(text_col).alias("__toks")
    ).select("__id", _shingle_expr("__toks", n).alias("__sh"))


def shingle_rows(
    df: DataFrame, *, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(id, shingle) exploded rows. The explode MUST sit in the same
    projection as the shingle expression: exploding a previously-aliased
    array column collapses into a plan measured ~25x slower (the
    generator input gets re-expanded); inline-with-materialized-tokens
    is the fast shape."""
    return df.select(
        F.col(id_col).alias("__id"), tokens(text_col).alias("__toks")
    ).select("__id", F.explode(_shingle_expr("__toks", n)).alias("shingle"))


def _hashed_shingle_base(
    df: DataFrame, *, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(__id, __sz, __shh) — the set size and the xxhash64 INT64 hash
    of each distinct shingle, materialized once.

    The n-gram pair builders only ever compare shingles for EQUALITY
    (freq-cap groupBy + the pair self-join — the two dominant
    exchanges), so they can shuffle an 8-byte key instead of the
    ~20-40-byte shingle string: guide §2.3 "shuffle keys and metadata
    instead of payloads" (~3x fewer join-shuffle bytes, and int64
    grouping/join comparisons instead of string ones). ``__sz`` is
    computed on the STRING set before hashing, so set sizes are
    untouched. r14 (ADVICE r13): the key is xxhash64, not the md5-60
    twin the r13 version shipped — ~14% cheaper per base build (md5
    is MessageDigest + hex + base conversion inside an interpreted
    HOF lambda) and a 2^64 space (16x fewer collisions); no oracle
    parity is needed for the key because the registry oracles replay
    the STRING join — pair outputs verified bit-equal to the
    string-keyed form at all test SFs. A collision between distinct
    shingles could overcount one pair intersection — ~(#distinct
    shingles)^2 / 2^65, the same accepted trade as the xxhash64
    shingle collapse in remove_repeated_passages. A collision between
    two distinct shingles of the SAME doc duplicates one key in
    ``__shh``, inflating that doc's pair intersections by one
    (jaccard can read >1.0 for the affected pair) — expected
    ~(shingles per doc)^2/2^65 per doc; an array_distinct guard would
    charge every doc O(|shingles|) to remove that one-in-10^13 benign
    artifact, so it is documented, not guarded (quantified table:
    EXECUTION.md "Int64 shingle-key collision budget", incl. the
    2x-int64 widening recipe for 10^11+ distinct shingles)."""
    return materialize(
        shingled(df, id_col=id_col, text_col=text_col, n=n).select(
            "__id",
            F.size("__sh").alias("__sz"),
            F.transform("__sh", lambda c: F.xxhash64(c)).alias("__shh"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.2,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Tier 2: exact n-gram Jaccard similarity for all pairs sharing at
    least one shingle. Output: id_a < id_b, jaccard (rounded 6dp).

    At scale, `max_shingle_freq` drops shingles occurring in more than
    that many docs (they explode the join and carry no signal) — this
    changes results only for pairs glued solely by boilerplate.
    """
    # One tokenize+shingle pass, lineage-truncated: the shingle array is
    # consumed by BOTH pair-join sides, the frequency-cap build AND the
    # two size re-attach joins — without truncation Catalyst re-expands
    # the regexp-split + array build per reference (4 Generate subtrees
    # + 2 size passes in the before plan). Values unchanged (guide §1.2
    # step 1 / §2.3: compute the heavy projection once, reuse bytes).
    base = _hashed_shingle_base(
        df, id_col=id_col, text_col=text_col, n=n
    )
    sh = base.select("__id", F.explode("__shh").alias("shingle"))
    # set sizes straight off the materialized base: map-side, no shuffle
    sizes = base.select("__id", "__sz")
    if max_shingle_freq is not None:
        keep = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("__f"))
            .where(F.col("__f") <= max_shingle_freq)
            .select("shingle")
        )
        sh = sh.join(keep, "shingle")
    a = sh.select(F.col("__id").alias("id_a"), "shingle")
    b = sh.select(F.col("__id").alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__inter"))
    )
    sz_a = sizes.select(F.col("__id").alias("id_a"), F.col("__sz").alias("__sza"))
    sz_b = sizes.select(F.col("__id").alias("id_b"), F.col("__sz").alias("__szb"))
    return (
        inter.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("__inter")
                / (F.col("__sza") + F.col("__szb") - F.col("__inter")),
                6,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    threshold_pct: int = 80,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Tier 2b: exact n-gram CONTAINMENT near-dup pairs — Broder's
    asymmetric resemblance (Broder 1997, "On the resemblance and
    containment of documents"): C = |A∩B| / min(|A|, |B|). Where
    Jaccard divides by the UNION, containment divides by the smaller
    set, so an excerpt fully contained in a 2x-longer parent scores
    C = 1.0 while J ≈ 0.5 — the quote/boilerplate/partial-copy case
    every web-crawl dedup pipeline hits and symmetric Jaccard
    structurally misses.

    Same pair source and scale posture as ngram_jaccard_pairs (shared
    int-keyed shingle join; `max_shingle_freq` bounds the quadratic
    per-shingle fan-out before the shuffle). The threshold gate is
    integer cross-multiplied (100*inter >= pct*min_size) — no IEEE
    boundary risk; the rounded `containment` column is display-only.
    Output: id_a < id_b, inter/sz_a/sz_b (exact BIGINTs), containment
    (rounded 6dp).
    """
    # same one-pass hashed-shingle materialization as
    # ngram_jaccard_pairs (8-byte join/group keys — see
    # _hashed_shingle_base)
    base = _hashed_shingle_base(
        df, id_col=id_col, text_col=text_col, n=n
    )
    sh = base.select("__id", F.explode("__shh").alias("shingle"))
    sizes = base.select("__id", "__sz")
    if max_shingle_freq is not None:
        keep = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("__f"))
            .where(F.col("__f") <= max_shingle_freq)
            .select("shingle")
        )
        sh = sh.join(keep, "shingle")
    a = sh.select(F.col("__id").alias("id_a"), "shingle")
    b = sh.select(F.col("__id").alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sz_a = sizes.select(F.col("__id").alias("id_a"), F.col("__sz").alias("sz_a"))
    sz_b = sizes.select(F.col("__id").alias("id_b"), F.col("__sz").alias("sz_b"))
    min_sz = F.least(F.col("sz_a"), F.col("sz_b"))
    return (
        inter.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .where(100 * F.col("inter") >= threshold_pct * min_sz)
        .select(
            "id_a",
            "id_b",
            F.col("inter").cast("long").alias("inter"),
            F.col("sz_a").cast("long").alias("sz_a"),
            F.col("sz_b").cast("long").alias("sz_b"),
            F.round(F.col("inter") / min_sz, 6).alias("containment"),
        )
    )


def minhash_signatures(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_n: int = 3,
    hash_method: str = "xxhash64",
) -> DataFrame:
    """Tier 3a: MinHash signature — per slot i, min over shingles of
    hash_i(shingle). Computed via explode + groupBy(min of k columns
    aggregated) without any Python; one shuffle on doc id.

    hash_method "xxhash64" (production: k seeded xxhash64 calls) or
    "md5" (oracle-portable: ONE md5 per shingle reduced mod P, then k
    linear permutations (a_i*base + b_i) mod P — minhash_coeffs — so
    DuckDB replicates signatures bit-for-bit at ~the cost of a single
    digest instead of k)."""
    return _signatures_from_rows(
        shingle_rows(df, id_col=id_col, text_col=text_col, n=shingle_n),
        id_col=id_col, num_hashes=num_hashes, hash_method=hash_method,
    )


def _signatures_from_rows(
    sh: DataFrame, *, id_col: str, num_hashes: int, hash_method: str
) -> DataFrame:
    """Signature aggregation over exploded (__id, shingle) rows —
    split out so minhash_dedup can feed a SHARED materialized shingle
    base instead of re-deriving the rows from text."""
    if hash_method == "md5":
        sh = sh.select(
            "__id", (_md5_60(F.col("shingle")) % MINHASH_P).alias("__base")
        )
        slots = [
            f"min(({a} * __base + {b}) % {MINHASH_P})"
            for a, b in minhash_coeffs(num_hashes)
        ]
    else:
        slots = [f"min(xxhash64(shingle, {i}))" for i in range(num_hashes)]
    return sh.groupBy("__id").agg(
        F.expr(f"array({', '.join(slots)})").alias("signature")
    ).withColumnRenamed("__id", id_col)


def banded_signatures(
    signatures: DataFrame,
    *,
    id_col: str,
    bands: int = 16,
    rows_per_band: int = 4,
    hash_method: str = "xxhash64",
) -> DataFrame:
    """Expand signatures to (id, band, band_hash) — the LSH index
    relation. Shared by the batch candidate join
    (lsh_candidate_pairs) and the incremental streaming index
    (streaming/dedup_stream.py), so both paths bucket identically."""

    def band_key(b: int) -> str:
        elems = [
            f"element_at(signature, {b * rows_per_band + r + 1})"
            for r in range(rows_per_band)
        ]
        if hash_method == "md5":
            strs = ", ".join(f"CAST({e} AS STRING)" for e in elems)
            return f"concat_ws(',', {strs})"
        return f"CAST(xxhash64({b}, {', '.join(elems)}) AS STRING)"

    keys = ", ".join(band_key(b) for b in range(bands))
    return signatures.selectExpr(
        f"`{id_col}`", f"posexplode(array({keys})) AS (band, band_hash)"
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    *,
    id_col: str,
    bands: int = 16,
    rows_per_band: int = 4,
    hash_method: str = "xxhash64",
) -> DataFrame:
    """Tier 3b: band the signature; docs sharing any band-hash become a
    candidate pair. Join is per-bucket, never all-pairs — the property
    that makes MinHash dedup feasible at 100 TB. Output: id_a < id_b,
    n_shared_bands.

    hash_method "md5" joins on the raw comma-joined band values (an
    engine-portable string key: DuckDB string_agg ORDER BY slot) instead
    of re-hashing with xxhash64 — same collision semantics, oracle-able.
    """

    banded = banded_signatures(
        signatures,
        id_col=id_col,
        bands=bands,
        rows_per_band=rows_per_band,
        hash_method=hash_method,
    ).withColumnRenamed(id_col, "__id")
    a = banded.select(F.col("__id").alias("id_a"), "band", "band_hash")
    b = banded.select(F.col("__id").alias("id_b"), "band", "band_hash")
    return (
        a.join(b, ["band", "band_hash"])
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


def minhash_dedup(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    verify_threshold: float | None = 0.5,
    hash_method: str = "xxhash64",
) -> DataFrame:
    """Tier 3 end-to-end: signatures -> LSH candidates -> (optional)
    exact Jaccard verification of candidates only."""
    assert num_hashes % bands == 0
    # One shingle pass, one signature aggregation, shared by lineage
    # truncation: without it the band self-join recomputes the FULL
    # signature pipeline on both sides (tokenize + shingle explode +
    # digest + k-slot min agg — the dominant cost) and the candidate
    # verification tokenizes twice more — 4 text passes and 2 signature
    # aggregations in the before plan, 0 reused exchanges (guide §1.2
    # step 1 / §2.3). Values unchanged — same computation, materialized
    # once. When verification is off the shingle base has a single
    # consumer, so only the signatures are pinned (and the exploded
    # rows keep the inline shingle_rows shape — exploding a
    # non-materialized aliased array is the measured-25x-slower plan).
    if verify_threshold is not None:
        base = materialize(
            shingled(df, id_col=id_col, text_col=text_col, n=shingle_n)
        )
        sh = base.select("__id", F.explode("__sh").alias("shingle"))
    else:
        sh = shingle_rows(df, id_col=id_col, text_col=text_col, n=shingle_n)
    sigs = materialize(  # bounded: num_hashes longs per doc
        _signatures_from_rows(
            sh, id_col=id_col, num_hashes=num_hashes, hash_method=hash_method,
        )
    )
    cands = lsh_candidate_pairs(
        sigs, id_col=id_col, bands=bands,
        rows_per_band=num_hashes // bands, hash_method=hash_method,
    )
    if verify_threshold is None:
        return cands
    # verify ONLY the candidates: join each pair to its two shingle
    # arrays and compute exact Jaccard with array_intersect — O(#cands)
    # instead of the all-pairs shingle join (the whole point of LSH).
    shingle_sets = base
    sa = shingle_sets.select(
        F.col("__id").alias("id_a"), F.col("__sh").alias("__sha")
    )
    sb = shingle_sets.select(
        F.col("__id").alias("id_b"), F.col("__sh").alias("__shb")
    )
    inter_sz = F.size(F.array_intersect("__sha", "__shb"))
    union_sz = F.size("__sha") + F.size("__shb") - inter_sz
    return (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard_exact", F.round(inter_sz / union_sz, 6)
        )
        .where(F.col("jaccard_exact") >= verify_threshold)
        .select("id_a", "id_b", "n_shared_bands", "jaccard_exact")
    )


def simhash(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str = "text",
    bits: int | None = None,
    hash_method: str = "xxhash64",
) -> DataFrame:
    """Tier 4: SimHash over token hashes. For each bit b, count tokens
    whose token-hash has bit b set vs unset; fingerprint bit = sign of
    the balance. Built from explode + conditional aggregation.

    Fingerprint width: 63 bits for xxhash64 (bits 0..62 — the top bit
    is the long sign bit, left as headroom so the fingerprint itself
    stays a non-negative long) and 60 bits for md5 (the portable
    _md5_60 hash is 60 bits wide). `bits` overrides if set lower."""
    default_bits = 60 if hash_method == "md5" else 63
    nbits = min(bits, default_bits) if bits is not None else default_bits
    tok = df.select(
        F.col(id_col).alias("__id"),
        F.explode(tokens(text_col)).alias("tok"),
    ).withColumn(
        "h",
        _md5_60(F.col("tok")) if hash_method == "md5" else F.xxhash64("tok"),
    )
    # fingerprint bit b is set iff more token hashes have bit b set
    # than unset; 1 << b is an INT literal below bit 31, BIGINT above
    fold = " + ".join(
        f"CASE WHEN sum(CASE WHEN (shiftright(h, {b}) & 1) = 1 "
        f"THEN 1 ELSE -1 END) > 0 THEN {1 << b} ELSE 0 END"
        for b in range(nbits)
    )
    return tok.groupBy("__id").agg(
        F.expr(f"CAST({fold} AS BIGINT)").alias("simhash")
    ).withColumnRenamed("__id", id_col)


def simhash_near_dups(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str = "text",
    max_hamming: int = 3,
    hash_method: str = "xxhash64",
) -> DataFrame:
    """Tier 4b: SimHash candidate pairs via banded chunk join.

    Pigeonhole: split the fingerprint into ``max_hamming + 1`` bit
    chunks — two fingerprints within ``max_hamming`` bit flips MUST
    agree on at least one whole chunk, so docs sharing any
    (band, chunk) bucket are the complete candidate set. The join is
    bucketed exactly like MinHash LSH (never all-pairs); candidates
    are then verified with an exact popcount on the XOR. Output:
    (id_a, id_b, hamming) for all pairs within max_hamming.
    """
    nbits = 60 if hash_method == "md5" else 63
    bands = max_hamming + 1
    width = -(-nbits // bands)  # ceil
    fp = simhash(
        df, id_col=id_col, text_col=text_col, hash_method=hash_method
    )

    def chunk(b: int) -> str:
        start = b * width
        w = min(width, nbits - start)
        return f"shiftrightunsigned(simhash, {start}) & {(1 << w) - 1}"

    chunks = ", ".join(chunk(b) for b in range(bands))
    banded = fp.selectExpr(
        f"`{id_col}` AS __id", f"posexplode(array({chunks})) AS (band, chunk)"
    )
    a = banded.select(F.col("__id").alias("id_a"), "band", "chunk")
    b = banded.select(F.col("__id").alias("id_b"), "band", "chunk")
    cands = (
        a.join(b, ["band", "chunk"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    fa = fp.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("__fa"))
    fb = fp.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("__fb"))
    return (
        cands.join(fa, "id_a")
        .join(fb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("__fa").bitwiseXOR(F.col("__fb"))).alias(
                "hamming"
            ),
        )
        .where(F.col("hamming") <= max_hamming)
    )


def dedup_decisions(
    df: DataFrame,
    dup_pairs: DataFrame,
    *,
    id_col: str,
) -> DataFrame:
    """Resolve duplicate PAIRS into per-document keep/drop decisions
    with the standard greedy rule: within each pair (id_a < id_b) the
    lower id survives, so any document appearing as an `id_b` is
    dropped. One anti-join — no iterative connected components needed
    (transitive chains collapse to the same survivor set because pair
    output is exhaustive over the candidate relation)."""
    drops = dup_pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(drops.withColumn("__drop", F.lit(True)), id_col, "left").select(
        id_col,
        F.coalesce(~F.col("__drop"), F.lit(True)).alias("keep"),
    )


def remove_repeated_passages(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str = "text",
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Substring-level dedup: REMOVE cross-document repeated passages,
    not just detect them (the approximate DataFrame form of Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better" —
    the reference has no passage-level stage; doc_passage_overlap is
    the detection twin of this operator).

    A token is removed when EVERY retained view of it is duplicated —
    concretely, when some n-gram shingle containing it occurs in
    >= ``min_docs`` distinct documents. Returns one row per doc:
    (id, n_tokens, n_removed, cleaned_text) with the surviving tokens
    rejoined in order.

    Scale shape: shingles collapse to xxhash64 int64 in the same
    projection as the position explode, so the dup-set groupBy and the
    join back shuffle (id, pos, hash) longs — never text. The final
    reconstruction joins the per-doc duplicated-start list back to the
    token arrays on ``id_col``: one corpus-wide hash join (bucket the
    doc table by id at 100 TB and it is co-located); the span-coverage
    test and token filtering are pure array expressions after that.
    A 64-bit shingle collision can only ever remove one extra span and
    needs ~2^32 distinct shingles to become likely.
    """
    toks = tokens(F.col(text_col))
    base = df.select(
        F.col(id_col).alias("__id"),
        toks.alias("__toks"),
        F.size(toks).alias("__n"),
    )
    # per-position shingle hashes, exploded to (id, pos, hash) longs
    sh = base.where(F.col("__n") >= n).select(
        "__id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.col("__n") - (n - 1)),
                lambda i: F.xxhash64(
                    F.array_join(F.slice("__toks", i, n), " ")
                ),
            )
        ).alias("__p0", "__h"),
    ).select("__id", (F.col("__p0") + 1).alias("__pos"), "__h")
    dup = (
        sh.groupBy("__h")
        .agg(F.countDistinct("__id").alias("__nd"))
        .where(F.col("__nd") >= min_docs)
        .select("__h")
    )
    starts = (
        sh.join(dup, "__h")
        .groupBy("__id")
        .agg(F.array_sort(F.collect_list("__pos")).alias("__starts"))
    )
    joined = base.join(starts, "__id", "left").withColumn(
        "__starts", F.coalesce(F.col("__starts"), F.array().cast("array<int>"))
    )
    covered = lambda p: F.exists(  # noqa: E731
        F.col("__starts"), lambda s: (s <= p) & (p <= s + (n - 1))
    )
    kept = F.filter(
        F.sequence(F.lit(1), F.col("__n")), lambda p: ~covered(p)
    )
    return joined.select(
        F.col("__id").alias(id_col),
        F.col("__n").cast("long").alias("n_tokens"),
        (F.col("__n") - F.size(kept)).cast("long").alias("n_removed"),
        F.array_join(
            F.transform(kept, lambda p: F.element_at("__toks", p)), " "
        ).alias("cleaned_text"),
    )


def winnowing_fingerprints(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    window: int = 5,
) -> DataFrame:
    """MOSS-style winnowing fingerprints (Schleimer, Wilkerson, Aiken
    2003): hash every token k-gram, slide a window of ``window``
    hashes, keep each window's MINIMUM — the guarantee is that any
    shared run of at least k + window - 1 tokens between two documents
    contributes at least one IDENTICAL fingerprint to both, so
    overlap detection indexes ~1/window of the k-gram space instead of
    all of it.

    Emits DISTINCT (id, fingerprint) pairs. Selection is by hash VALUE
    (min is position-free), so the fingerprint set is deterministic on
    any engine and partitioning. md5-60 codes (oracle-portable twin;
    swap xxhash64 for the production hot path, same discipline as the
    MinHash tier).

    Scale shape: everything up to the explode is array expressions on
    the doc row — zero shuffle; the explode emits ~n_tokens/window
    longs per doc and the only wide exchange is the final distinct on
    (id, 8-byte hash). Docs shorter than k tokens yield no
    fingerprints; docs with fewer than ``window`` k-grams yield one
    (the min over what exists).
    """
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    d = df.select(F.col(id_col), toks.alias("__tk"))
    n = F.size("__tk")
    kgrams = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - F.lit(k - 1)),
            lambda i: F.concat_ws(" ", F.slice(F.col("__tk"), i, k)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    hashes = F.transform(
        kgrams,
        lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("long"),
    )
    # Filter on the TOKEN count, not the hash-array size: the k-gram
    # hash array is non-empty iff the doc has >= k tokens, and a
    # pushed-down size(__hs) >= 1 predicate re-evaluates the whole
    # md5-per-k-gram array a second time per row just to test
    # emptiness (the executed plan carried the full transform chain
    # in both the Filter and the Project — 2x the hashing work).
    # Token-count split is cheap; values unchanged.
    h = d.where(F.size("__tk") >= k).select(
        F.col(id_col), hashes.alias("__hs")
    )
    starts = F.sequence(
        F.lit(1), F.greatest(F.size("__hs") - F.lit(window - 1), F.lit(1))
    )
    mins = F.transform(
        starts, lambda s: F.array_min(F.slice(F.col("__hs"), s, window))
    )
    return (
        h.select(F.col(id_col), F.explode(mins).alias("fingerprint"))
        .distinct()
    )
