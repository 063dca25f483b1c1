"""Scale harness: build N-times replicas of an SF fixture and time one
query family at each scale point, one fresh JVM per point.

Fixtures (:func:`build_fixture`) replicate every entity table with
structure-preserving transforms, so each replica reproduces the
source's internal statistics while staying disjoint from the others:

- customer/orders/lineitem: fixed id offsets per replica, with the part
  catalog FIXED. Traffic grows, the catalog does not, so the CF/graph
  pair sources grow in baskets, not in catalog.
- documents: every word of replica i>0 gets the suffix ``str(i)``.
  Per-doc length/vocab statistics and every planted dup pair survive
  inside each replica, while shingle/fingerprint spaces are disjoint
  across replicas (the source vocabulary is digit-free). Appending one
  token per copy instead would make every copy a near-dup of copy 0 and
  grow the pair space quadratically by construction.
- embeddings: replica i>0 is multiplied elementwise by a deterministic
  +-1 sign pattern (a diagonal orthogonal map): norms and every
  within-replica cosine are exact, cross-replica cosines scramble
  toward 0.
- region/nation/part/supplier/events: copied as-is.

Protocol: every scale point runs in a fresh JVM through
``scripts/isolated_remeasure.py`` (cold run discarded, min-of-N,
``materialize.release_storage`` between runs): single-JVM legs
inflated samples up to 4x (SCALING_r12). Per step, the exponent is
alpha = log(t_hi / t_lo) / log(scale_hi / scale_lo); 1 is linear.
Plan counts (``plans.diagnose.plan_summary``) are taken at the base and
at the largest fixture. A plan with no file scan starts at a checkpoint
the query built eagerly (PageRank, LPA, CC), so its counts say nothing
about how the scan side scales: it is marked ``plan_observed: false``.
The headline family also times the bot-basket cap and one fixed
dedup batch against an index seeded at each scale point.

Usage:
    python scaling_sweep.py [--family headline|top10|dedup_ann|warehouse]
        [--replicas 5,25] [--runs 2] [--out FILE.json] [--build-only]

``SPARK_GRAFT_SF_DIR`` is the base fixture (default sf0.1); replicas
are built once under ``.scale_cache/`` and reused.
``SPARK_GRAFT_CHECKPOINT_DIR`` defaults to ``.scale_cache/ckpt``, so
``materialize`` cuts lineage to disk instead of executor memory. That
covers every cut in the package, the eager ones included: the timed
dedup batch writes its signature, band and verdict cuts as reliable
checkpoints, so its time includes that checkpoint I/O.
"""

from __future__ import annotations

import argparse
import functools
import json
import math
import os
import shutil
import subprocess
import sys
import time

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPO = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(REPO, ".scale_cache")

# table -> ({id column: offset per replica}, files per replica, max files)
REPLICATED = {
    "customer": ({"c_custkey": 100_000}, 8, 8),
    "orders": ({"o_orderkey": 1_000_000, "o_custkey": 100_000}, 4, 32),
    "lineitem": ({"l_orderkey": 1_000_000}, 4, 32),
    "documents": ({"doc_id": 1_000_000}, 4, 32),
    "embeddings": ({"vec_id": 10_000_000}, 2, 16),
}
VERBATIM = ["region", "nation", "part", "supplier", "events"]
# registry._near_dup_corpus plants copies at vec_id + 100_000: the next
# replica's ids must clear those too
ID_HEADROOM = {"vec_id": 100_000}

FAMILIES = {
    "headline": [
        "daily_summary",            # control: scan + groupBy only
        "item_similarity",
        "recommendations_capped",
        "doc_dup_components_capped",
        "minhash_lsh_candidates",
        "ngram_jaccard_capped",
        "eval_decontamination",
        "doc_pack_sequences",
        "corpus_pipeline",
        # MERGE (O(touched) rewrite claim), winnowing (explode volume),
        # PPS sampling (bucketed prefix sum), BM25 (term-filtered explode)
        "orders_merge_upsert",
        "doc_winnowing_fps",
        "doc_weighted_sample",
        "doc_bm25_search",
        # iterative LPA (3 rounds of join+agg+window), the CDC-driven
        # incremental aggregate (bootstrap + merge + refresh, commits
        # included), and DSIR (double bigram frequency tables)
        "item_communities",
        "orders_incremental_summary",
        "doc_dsir_selection",
        # the shapes most likely to curve (basket self-join,
        # degree-oriented wedge join), RFM (3 window quartiles), and the
        # MinHash-sourced component closure
        "association_rules",
        "association_rules_capped",
        "customer_rfm",
        "item_triangles",
        "doc_dup_components_minhash",
    ],
    # the 10 most expensive bench headliners (SCALING_r12)
    "top10": [
        "recommendations_als",
        "incremental_dedup_decisions",
        "doc_dup_components_capped",
        "recommendations",
        "corpus_pipeline",
        "recommendations_capped",
        "doc_semdedup_fast",
        "embedding_near_dups_fast",
        "doc_winnowing_fps",
        # NOT image_dhash_near_dups (next by cost): its planted BMP grids
        # are a function of doc_id mod 251, so replication grows its
        # hash-equal clusters linearly and its PAIR COUNT quadratically —
        # a fixture-planting artifact, not an engine property. The next
        # honest headliner is the capped shingle tier.
        "ngram_jaccard_capped",
    ],
    # the two corpus-scaled occupancy-knob tiers plus the
    # shingle/fingerprint dedup tiers (SCALING_r13)
    "dedup_ann": [
        "doc_semdedup_fast",
        "embedding_near_dups_fast",
        "minhash_lsh_fast",
        "ngram_jaccard_capped",
        "doc_winnowing_fps",
        "doc_dup_components_capped",
    ],
    # warehouse / CF / capped-graph family (SCALING_r13b)
    "warehouse": [
        "daily_summary",
        "bucketed_order_revenue",
        "customer_rolling_features",
        "recommendations_capped",
        "item_similarity_basket_capped",
        "item_pagerank_capped",
        "item_triangles_capped",
        "incremental_dedup_decisions",
    ],
}
# the auto-knob tiers: num_tables grows with log2 n, so their plans
# widen with corpus size BY DESIGN
KNOB_TIERS = {"doc_semdedup_fast", "embedding_near_dups_fast"}


def build_fixture(spark, src: str, dst: str, replicas: int) -> None:
    """Write a ``replicas``-times replica of the fixture at ``src`` to
    ``dst`` (see the module docstring). Raises before writing anything
    if an id offset does not clear the source's largest id."""
    import random

    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    tables = {t: spark.read.parquet(f"{src}/{t}.parquet") for t in REPLICATED}
    for t, (offsets, _, _) in REPLICATED.items():
        top = tables[t].agg(*[F.max(c).alias(c) for c in offsets]).first()
        for c, off in offsets.items():
            need = (top[c] or 0) + ID_HEADROOM.get(c, 0)
            if need >= off:
                raise ValueError(
                    f"{src}/{t}.{c}: max id + headroom {need} reaches the "
                    f"per-replica offset {off}; replicas would collide"
                )

    def replica(t: str, i: int) -> DataFrame:
        df = tables[t]
        for c, off in REPLICATED[t][0].items():
            df = df.withColumn(c, F.col(c) + F.lit(i * off))
        if i > 0 and t == "documents":
            df = df.withColumn(
                "text",
                F.array_join(
                    F.transform(
                        F.split(F.col("text"), " "),
                        lambda w: F.concat(w, F.lit(str(i))),
                    ),
                    " ",
                ),
            ).withColumn("n_chars", F.length("text").cast("long"))
        if i > 0 and t == "embeddings":
            rng = random.Random(i)
            signs = [float(rng.choice((-1.0, 1.0))) for _ in range(64)]
            df = df.withColumn(
                "embedding",
                F.zip_with(
                    "embedding",
                    F.array(*[F.lit(s) for s in signs]),
                    lambda v, s: (v * s).cast("float"),
                ),
            )
        return df

    tmp = dst + ".tmp"  # renamed into place last: a fixture dir is whole
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for t in VERBATIM:
        s, d = f"{src}/{t}.parquet", f"{tmp}/{t}.parquet"
        (shutil.copytree if os.path.isdir(s) else shutil.copy2)(s, d)
    for t, (_, per_replica, cap) in REPLICATED.items():
        functools.reduce(
            DataFrame.unionByName, [replica(t, i) for i in range(replicas)]
        ).coalesce(min(cap, per_replica * replicas)).write.parquet(
            f"{tmp}/{t}.parquet"
        )
    shutil.rmtree(dst, ignore_errors=True)
    os.rename(tmp, dst)


def _query_fn(name: str):
    from bench import _EXTRA_FNS
    from data_pipeline_mlops_spark.registry import QUERIES

    return _EXTRA_FNS.get(name) or QUERIES[name].spark


def plan_counts(spark, sf_dir: str, queries: list[str]) -> dict:
    from data_pipeline_mlops_spark.materialize import release_storage
    from data_pipeline_mlops_spark.plans.diagnose import plan_summary

    out = {}
    for name in queries:
        release_storage(spark)
        try:
            s = plan_summary(_query_fn(name)(spark, sf_dir))
        except Exception as exc:  # noqa: BLE001
            out[name] = {"error": f"{type(exc).__name__}: {exc}"[:200]}
            continue
        out[name] = {
            "file_scans": s.n_file_scans,
            "smj": s.n_sort_merge_joins,
            "bhj": s.n_broadcast_joins,
            "exchanges": s.n_exchanges,
            "single_partition": s.n_single_partition,
        }
    return out


def time_leg(sf_dir: str, queries: list[str], runs: int, part: str) -> dict:
    """Time ``queries`` at ``sf_dir`` in a fresh JVM; returns per-query
    min/median/samples."""
    subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "isolated_remeasure.py"),
         *queries, "--sf", sf_dir, "--runs", str(runs), "--out", part],
        check=True,
    )
    with open(part) as fh:
        return json.load(fh)["isolated"]


def time_dedup_batch(spark, sf_dir: str, index_root: str, runs: int) -> dict:
    """Incremental-dedup axis: seed a fresh persisted MinHash index
    from ``sf_dir``'s documents (untimed — that's the historical
    corpus), then time dedup of the SAME fixed 500-doc probe batch
    against it. The per-batch cost must track (batch size + candidate
    bucket join), NOT history size — that is the property that lets
    the stream run forever at 100 TB. Commits included (they are part
    of the honest per-batch cost). Also records the index-size axis:
    band rows after seeding."""
    from pyspark.sql import functions as F

    from data_pipeline_mlops_spark.materialize import materialize
    from data_pipeline_mlops_spark.streaming.dedup_stream import (
        DedupIndex,
        bulk_seed,
        dedup_batch,
    )

    shutil.rmtree(index_root, ignore_errors=True)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    index = DedupIndex(index_root)
    # seed: bulk-index the WHOLE historical corpus, unconditionally
    # (untimed). Seeding via dedup_batch would drop any replica that is
    # a near-dup of replica 0, and the scaled index would silently stay
    # 1x-sized -- exactly what the r5 session-1 sweep recorded.
    bulk_seed(docs, index, id_col="doc_id")
    index.maintain(spark)
    band_rows = index.bands.read(spark).count()

    # fixed probe: 500 docs from the BASE corpus, ids shifted clear of
    # any copy band; half keep their text (dup hits against history),
    # half perturbed (accepted) — a realistic mixed batch, identical
    # across index sizes.
    probe = materialize(
        spark.read.parquet(f"{BASE}/documents.parquet")
        .where(F.col("doc_id") < 500)
        .select(
            (F.col("doc_id") + 90_000_000).alias("doc_id"),
            F.when(
                F.col("doc_id") % 2 == 0, F.col("text")
            ).otherwise(F.concat(F.col("text"), F.lit(" probe-novel")))
            .alias("text"),
        ),
        eager=True,
    )
    best = None
    for p in range(runs + 1):  # pass 0 cold, discarded; replays converge
        t0 = time.perf_counter()
        dedup_batch(
            probe, index, id_col="doc_id", batch_id=p + 1
        ).write.mode("overwrite").format("noop").save()
        dt = time.perf_counter() - t0
        if p > 0:
            best = dt if best is None else min(best, dt)
        print(f"# dedup_batch[{sf_dir}]: pass {p}/{runs}", file=sys.stderr)
    return {"t_batch_sec": round(best, 3), "index_band_rows": band_rows}


def time_mega_basket(spark, runs: int) -> dict:
    """Bot-basket axis (VERDICT r5 #4): plant ONE 10k-item basket into
    the base interactions and time capped item-item similarity against
    the unplanted baseline. With max_basket_size=20 the planted basket
    contributes at most 190 pairs, so capped-with-bot must track the
    baseline; the uncapped contrast (10k²/2 ≈ 5·10⁷ extra pairs from
    one user) is also timed to show what the cap prevents."""
    from pyspark.sql import functions as F

    from data_pipeline_mlops_spark.materialize import release_storage
    from data_pipeline_mlops_spark.ml import cf
    from data_pipeline_mlops_spark.sources.tables import load_table

    li = load_table(spark, BASE, "lineitem")
    o = load_table(spark, BASE, "orders")
    inter = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.col("o_custkey").alias("u"), F.col("l_partkey").alias("item")
        )
        .distinct()
    )
    bot = spark.range(10_000).select(
        F.lit(-1).cast("long").alias("u"), F.col("id").alias("item")
    )
    variants = {
        "baseline_capped": (inter, 20),
        "with_bot_capped": (inter.unionByName(bot), 20),
        "with_bot_uncapped": (inter.unionByName(bot), None),
    }
    out = {}
    for name, (df, cap) in variants.items():
        best = None
        for p in range(runs + 1):
            release_storage(spark)
            t0 = time.perf_counter()
            cf.item_similarity(
                df, user_col="u", item_col="item",
                min_cooccurrence=2, max_basket_size=cap,
            ).write.mode("overwrite").format("noop").save()
            dt = time.perf_counter() - t0
            if p > 0:
                best = dt if best is None else min(best, dt)
        out[name] = round(best, 3)
        print(f"# mega_basket {name}: {out[name]}s", file=sys.stderr)
    out["capped_overhead_ratio"] = round(
        out["with_bot_capped"] / out["baseline_capped"], 2
    )
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--family", choices=sorted(FAMILIES), default="headline")
    ap.add_argument("--replicas", default="10",
                    help="comma-separated scale points, e.g. 5,25")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--out", default=None,
                    help="default: SCALING_<family>.json in the repo")
    ap.add_argument("--build-only", action="store_true")
    args = ap.parse_args()
    replicas = sorted({int(r) for r in args.replicas.split(",")})
    if replicas[0] < 2:
        ap.error("--replicas: every scale point must be at least 2")
    queries = FAMILIES[args.family]
    out_path = args.out or os.path.join(REPO, f"SCALING_{args.family}.json")

    os.environ.setdefault("SPARK_DRIVER_MEMORY", "32g")
    os.environ.setdefault(
        "SPARK_GRAFT_CHECKPOINT_DIR", os.path.join(CACHE, "ckpt")
    )
    from data_pipeline_mlops_spark.session import get_spark

    legs = {1: BASE}
    spark = get_spark(app_name="scaling-sweep")
    for r in replicas:
        legs[r] = os.path.join(CACHE, f"{os.path.basename(BASE)}_x{r}")
        if not os.path.isdir(legs[r]):
            print(f"# building {legs[r]}", file=sys.stderr)
            build_fixture(spark, BASE, legs[r], r)
    if args.build_only:
        return

    top = replicas[-1]
    lo, hi = plan_counts(spark, BASE, queries), plan_counts(spark, legs[top], queries)
    plans = {}
    for name in queries:
        entry = {"x1": lo[name], f"x{top}": hi[name]}
        entry["plan_observed"] = all(
            p.get("file_scans", 0) > 0 for p in (lo[name], hi[name])
        )
        if entry["plan_observed"]:
            entry["invariant"] = lo[name] == hi[name]
            if name in KNOB_TIERS:
                entry["invariant_expected"] = False
        plans[name] = entry

    report = {
        "family": args.family,
        "base_sf_dir": BASE,
        "replicas": replicas,
        "runs": args.runs,
        "checkpoint_dir": os.environ["SPARK_GRAFT_CHECKPOINT_DIR"],
    }
    if args.family == "headline":
        report["mega_basket_cap"] = time_mega_basket(spark, args.runs)
        # fixed 500-doc probe batch vs an index seeded at each scale
        # point: per-batch cost must track batch size, not history size
        ded = {
            str(r): time_dedup_batch(
                spark, d, os.path.join(CACHE, f"dedup_index_x{r}"), args.runs
            )
            for r, d in legs.items()
        }
        report["incremental_dedup_batch"] = {
            "probe_docs": 500,
            "by_scale": ded,
            "ratio": round(
                ded[str(top)]["t_batch_sec"] / ded["1"]["t_batch_sec"], 2
            ),
        }
    spark.stop()  # one heavy JVM at a time: the legs start their own

    timings = {}
    for r, d in legs.items():
        print(f"# fresh-JVM leg x{r}: {d}", file=sys.stderr)
        part = os.path.join(CACHE, f"leg_{args.family}_x{r}.json")
        timings[str(r)] = time_leg(d, queries, args.runs, part)
    steps = list(zip(legs, list(legs)[1:]))
    report["timings"] = timings
    report["exponents"] = {
        name: {
            f"alpha_{a}x_to_{b}x": round(
                math.log(timings[str(b)][name]["min"]
                         / timings[str(a)][name]["min"]) / math.log(b / a), 3
            ) if timings[str(a)][name]["min"] > 0 else None
            for a, b in steps
        }
        for name in queries
    }
    report["plans"] = plans
    with open(out_path, "w") as fh:
        json.dump(report, fh, indent=1)
    print(json.dumps({"out": out_path, "exponents": report["exponents"]}))


if __name__ == "__main__":
    main()
