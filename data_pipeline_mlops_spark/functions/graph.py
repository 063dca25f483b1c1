"""Distributed connected components via hash-min label propagation.

Dedup at corpus scale needs CLUSTERS, not just pairs: if A~B and B~C,
the keep/drop decision must see {A, B, C} as one group (the greedy
pair-wise decision in dedup_text.dedup_decisions can drop B and C while
keeping A even when A~C was never verified — fine as a cheap tier, but
cluster-exact survivorship needs components).

Algorithm: every vertex starts labeled with its own id; each round,
every vertex takes the min of its label and its neighbors' labels;
stop when a round changes nothing. Converges in O(component diameter)
rounds — near-dup clusters are shallow (LSH-bucket cliques), so
single-digit rounds in practice, with `max_iters` as the safety bound.
Each round is one shuffle (join on vertex) + one aggregation; each
round's labels are cut through `materialize` so plans stay flat, and
the previous round's cut is released once the convergence count has
filled the next, so a run holds one round of labels, not all of them.

This is the iterative-algorithm pattern on DataFrames: driver-side loop
over fully distributed rounds, one scalar action per round for
convergence — the driver never holds vertex data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_pipeline_mlops_spark.materialize import materialize, release


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    *,
    vertex_col: str,
    src_col: str,
    dst_col: str,
    max_iters: int = 50,
) -> DataFrame:
    """(vertex, component) for every vertex; component = min vertex id
    reachable through undirected ``edges``. Isolated vertices label
    themselves.

    Raises ``RuntimeError`` if ``max_iters`` rounds pass without
    convergence: hash-min needs O(component diameter) rounds, so a
    chain-shaped component longer than ``max_iters`` hops would
    otherwise yield silently-wrong partial labels (and wrong keep/drop
    survivorship downstream). Extra rounds are cheap once most labels
    are stable, so the default bound is generous; raise it for corpora
    with pathological chain topologies.
    """
    sym = materialize(
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .union(
            edges.select(F.col(dst_col).alias("a"), F.col(src_col).alias("b"))
        )
        .distinct(),
        eager=True,
    )
    # Iterate ONLY over edge-touched vertices: an isolated vertex has no
    # neighbors, so its label provably never changes — carrying the full
    # vertex set through every round shuffles |V| rows per iteration to
    # move information along |touched| <= 2|E| of them (near-dup graphs
    # are sparse: |touched| is typically orders of magnitude under |V|).
    # The untouched vertices are attached back once at the end with
    # label = own id — bit-identical output, measured as a per-round
    # shuffle shrink (guide §2.3: shuffle fewer bytes; §1.2 step 1).
    # The left_semi keeps historical semantics for edges naming foreign
    # vertices (endpoints outside `vertices` never participated before:
    # they had no label row, so they neither received nor donated one).
    touched = (
        sym.select(F.col("a").alias("v"))
        .distinct()
        .join(
            vertices.select(F.col(vertex_col).alias("v")),
            "v",
            "left_semi",
        )
    )
    labels = cut = materialize(
        touched.select("v", F.col("v").alias("label")), eager=True
    )

    converged = False
    for _ in range(max_iters):
        nbr_min = (
            sym.join(labels, sym["b"] == labels["v"])
            .groupBy("a")
            .agg(F.min("label").alias("nbr_min"))
        )
        stepped = (
            labels.join(nbr_min, labels["v"] == nbr_min["a"], "left")
            .select(
                "v",
                F.col("label").alias("old_label"),
                F.least(
                    F.col("label"), F.coalesce("nbr_min", "label")
                ).alias("label"),
            )
            # LAZY checkpoint: the convergence count below is the
            # materializing action, so each round runs ONE job (join +
            # store + count) instead of two (eager store, then a second
            # full pass over the stored labels just to count) — one
            # fewer pass over the label set per round at any scale.
            .transform(materialize)
        )
        changed = stepped.where(
            F.col("label") != F.col("old_label")
        ).count()
        # the count filled this round's cut: the previous one is dead
        release(cut)
        cut = stepped
        labels = stepped.drop("old_label")
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds "
            "(component diameter exceeds the bound); partial labels would "
            "be silently wrong — raise max_iters"
        )
    return vertices.select(F.col(vertex_col).alias("v")).join(
        labels, "v", "left"
    ).select(
        F.col("v").alias(vertex_col),
        F.coalesce(F.col("label"), F.col("v")).alias("component"),
    )


def pagerank(
    vertices: DataFrame,
    edges: DataFrame,
    *,
    vertex_col: str,
    src_col: str,
    dst_col: str,
    iters: int = 3,
    damping: float = 0.85,
    scale: int = 10**12,
) -> DataFrame:
    """Fixed-iteration PageRank with engine-replayable arithmetic:
    (vertex, pr) after ``iters`` power iterations of
    pr(v) = (1-d)/N + d * sum_{u->v} pr(u)/outdeg(u).

    Determinism discipline — the WHOLE recurrence is exact BIGINT
    fixed-point at ``scale`` (default 1e12): the rank is carried as a
    scaled integer, every division rounds half-up in pure integer
    arithmetic ((2a + b) DIV 2b), the damping factor is applied as the
    exact rational Fraction(str(damping)) (0.85 -> 17/20), and the
    neighbor reduce is an exact BIGINT sum — order/partitioning/
    engine-independent by construction. No double is ever ROUNDed:
    an earlier formulation rounded the per-iteration double rank to
    10 dp, and Spark (BigDecimal HALF_UP on the shortest repr) vs
    DuckDB (binary-value rounding) disagreed by one ulp whenever a
    rank landed within ~1e-16 of a decimal half boundary — first
    observed at sf0.1, where one of 20k ranks hit it. Integer overflow
    headroom: total scaled mass is ~scale (1e12), 4000x under 2^53,
    and the damping numerator multiply stays under 2^63 for any
    damping with a small decimal denominator.

    The returned ``pr`` is ``scaled / scale`` — one exact int->double
    conversion and one IEEE division, identical in any engine.

    Scale shape: one join edges x (deg, pr) + one groupBy(dst) per
    iteration — the standard shuffle-bound power iteration; lineage is
    cut per round through ``materialize``. No action runs per round, so
    a round's cut cannot be released mid-run: the caller's first action
    fills every round's cut, and they stay until the caller frees them
    (``materialize.release_storage``). The vertex-count scalar N stays
    distributed (broadcast 1-row frame). Vertices with no outgoing edges simply
    contribute nothing (classic dangling-mass simplification, noted so
    the oracle replays the same recurrence).
    """
    from fractions import Fraction

    d_frac = Fraction(str(damping))
    num, den = d_frac.numerator, d_frac.denominator
    v = vertices.select(F.col(vertex_col).alias("v")).distinct()
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).distinct()
    deg = e.groupBy("src").agg(
        F.count(F.lit(1)).cast("long").alias("outdeg")
    )
    n_df = v.agg(F.count(F.lit(1)).cast("long").alias("N"))

    def _div_round(a, b):
        # round-half-up integer division for non-negative operands
        return F.expr(f"(2 * ({a}) + ({b})) DIV (2 * ({b}))")

    pr = v.crossJoin(F.broadcast(n_df)).select(
        "v",
        _div_round(str(scale), "N").cast("long").alias("prs"),
    ).transform(materialize)
    for _ in range(iters):
        contrib = (
            e.join(deg, "src")
            .join(pr.withColumnRenamed("v", "src"), "src")
            .select(
                "dst",
                _div_round("prs", "outdeg").cast("long").alias("contrib"),
            )
        )
        sums = contrib.groupBy("dst").agg(
            F.sum("contrib").cast("long").alias("s")
        )
        base_scaled = _div_round(
            f"{(den - num) * scale}", f"{den} * N"
        )
        pr = (
            v.join(sums, v.v == sums.dst, "left")
            .crossJoin(F.broadcast(n_df))
            .select(
                "v",
                (
                    base_scaled
                    + _div_round(f"{num} * COALESCE(s, 0)", str(den))
                )
                .cast("long")
                .alias("prs"),
            )
            .transform(materialize)
        )
    return pr.select(
        "v", (F.col("prs").cast("double") / F.lit(float(scale))).alias("pr")
    )


def label_propagation(
    vertices: DataFrame,
    edges: DataFrame,
    *,
    vertex_col: str,
    src_col: str,
    dst_col: str,
    iters: int = 3,
) -> DataFrame:
    """Synchronous label propagation (community detection, Raghavan et
    al. 2007), made DETERMINISTIC: every round each vertex adopts the
    most frequent label among its neighbors with a total tiebreak
    (count desc, then smallest label) — classic LPA breaks ties
    randomly, which would be unreproducible across engines and runs.
    Vertices with no in-edges keep their current label. Labels start
    as the vertex id. Returns (v, label) after ``iters`` rounds.

    Edges are taken as DIRECTED as given; pass both directions for an
    undirected graph (the co-purchase construction already emits
    both). Per round: one edges⋈labels join (shuffle on dst), one
    (v, label) count aggregation (map-side partials), one per-vertex
    argmax window (partitions are vertex-sized — no skew beyond
    degree skew, the same hot spot PageRank has; salt hub vertices'
    count aggregation at web scale). Lineage is cut per round like
    connected_components, so ``iters`` stays bounded-plan; unlike it,
    no action runs per round, so earlier rounds' cuts cannot be
    released mid-run and stay until the caller frees them
    (``materialize.release_storage``).

    The third iterative graph operator next to connected_components
    (hash-min) and pagerank (power iteration); unlike components, LPA
    finds DENSE communities rather than mere reachability.
    """
    from pyspark.sql import Window

    labels = vertices.select(
        F.col(vertex_col).alias("v"),
        F.col(vertex_col).cast("long").alias("label"),
    )
    e = edges.select(
        F.col(src_col).alias("__s"), F.col(dst_col).alias("__d")
    )
    w = Window.partitionBy("__v").orderBy(
        F.col("__n").desc(), F.col("label").asc()
    )
    for _ in range(iters):
        nbr = e.join(
            labels.withColumnRenamed("v", "__d"), "__d"
        ).select(F.col("__s").alias("__v"), "label")
        best = (
            nbr.groupBy("__v", "label")
            .agg(F.count(F.lit(1)).alias("__n"))
            .withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .select(F.col("__v").alias("v"), F.col("label").alias("__new"))
        )
        labels = (
            labels.join(best, "v", "left")
            .select(
                "v",
                F.coalesce(F.col("__new"), F.col("label")).alias("label"),
            )
            .transform(materialize)
        )
    return labels
