"""Scaling-exponent sweep: time the heavy queries at sf0.1 and at a
10x id-shifted union of sf0.1, and record the time ratio per query.

Writes SCALING_r4.json. A ratio near/below 10 on 10x data is ~linear
(on a fixed 32-core box, perfect weak scaling shows up as ~10x wall
time); materially above 10 flags a super-linear operator that would
not survive a 100 TB corpus.

Dataset construction: 10 copies of lineitem/orders/documents with all
JOIN KEYS shifted per copy by (max_key + 1) * copy, so referential
structure is preserved and each copy's keys are disjoint — the corpus
gets 10x larger without creating degenerate cross-copy joins.
Document text is perturbed per copy (" c<i>" suffix): without it every
doc would gain 9 exact clones and the near-dup pair space would grow
100x by CONSTRUCTION, measuring the synthetic corpus rather than the
operator. Duplicate DENSITY stays constant; volume scales.

Queries that filter to a fixed entity band (customer_id <= 50,
vec_id < 5) keep that band from copy 0 only — the scan/shuffle side
scales 10x while the output stays bounded, which is exactly the shape
a 100 TB run has.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
COPIES = int(os.environ.get("SPARK_GRAFT_SCALE_COPIES", "10"))
RUNS = int(os.environ.get("SPARK_GRAFT_SCALE_RUNS", "2"))
OUT = os.environ.get("SPARK_GRAFT_SCALE_OUT", "SCALING_r5.json")

# the bench's most expensive queries + one pure-agg control
QUERIES = [
    "daily_summary",            # control: scan + groupBy only
    "item_similarity",
    "recommendations_capped",
    "doc_dup_components_capped",
    "minhash_lsh_candidates",
    "ngram_jaccard_capped",
    "eval_decontamination",
    "doc_pack_sequences",
    "corpus_pipeline",
    # session-4 additions: MERGE (O(touched) rewrite claim),
    # winnowing (explode volume), PPS sampling (bucketed prefix sum),
    # BM25 (term-filtered explode)
    "orders_merge_upsert",
    "doc_winnowing_fps",
    "doc_weighted_sample",
    "doc_bm25_search",
    # later session-4 additions: iterative LPA (3 rounds of
    # join+agg+window), the CDC-driven incremental aggregate
    # (bootstrap + merge + refresh, commits included), and DSIR
    # (double bigram frequency tables)
    "item_communities",
    "orders_incremental_summary",
    "doc_dsir_selection",
    # r6: the two shapes most likely to curve (basket self-join,
    # degree-oriented wedge join), RFM (3 window quartiles), and the
    # MinHash-sourced component closure
    "association_rules",
    "association_rules_capped",
    "customer_rfm",
    "item_triangles",
    "doc_dup_components_minhash",
]

SHIFT_KEYS = {
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "documents": ["doc_id"],
}
KEY_SPACES = {  # key column -> table that defines its domain size
    "l_orderkey": ("orders", "o_orderkey"),
    "o_orderkey": ("orders", "o_orderkey"),
    "l_partkey": ("lineitem", "l_partkey"),
    "l_suppkey": ("lineitem", "l_suppkey"),
    "o_custkey": ("orders", "o_custkey"),
    "doc_id": ("documents", "doc_id"),
}


def build_scaled(spark, scaled_dir: str) -> None:
    from pyspark.sql import functions as F

    os.makedirs(scaled_dir, exist_ok=True)
    base = {
        t: spark.read.parquet(f"{BASE}/{t}.parquet")
        for t in SHIFT_KEYS
    }
    offsets = {}
    for key, (tbl, col) in KEY_SPACES.items():
        offsets[key] = base[tbl].agg(F.max(col)).collect()[0][0] + 1
    for t, keys in SHIFT_KEYS.items():
        pieces = []
        for i in range(COPIES):
            df = base[t]
            for k in keys:
                df = df.withColumn(k, F.col(k) + F.lit(i * offsets[k]))
            if t == "documents" and i > 0:
                df = df.withColumn(
                    "text", F.concat(F.col("text"), F.lit(f" c{i}"))
                )
            pieces.append(df)
        out = pieces[0]
        for p in pieces[1:]:
            out = out.unionByName(p)
        out.write.mode("overwrite").parquet(f"{scaled_dir}/{t}.parquet")
        print(f"# scaled {t} x{COPIES}", file=sys.stderr)
    # remaining tables: verbatim copies (dims etc.)
    for f in os.listdir(BASE):
        dst = os.path.join(scaled_dir, f)
        if f.endswith(".parquet") and not os.path.exists(dst):
            src = os.path.join(BASE, f)
            (shutil.copytree if os.path.isdir(src) else shutil.copy)(src, dst)


def _release_persistent_rdds(spark) -> None:
    """Unpersist every cached RDD and clear finished reliable
    checkpoints. Without this, sequentially-timed queries CROWD the
    storage pool: by the time the CF queries run at 10x, earlier
    queries' checkpoint blocks have taken the memory and every pass
    spills (~2.5x inflation, measured 98.7 s vs 40.6 s warm in a fresh
    JVM) — the ratio then measures cache pressure, not the operator.
    The same discipline applies to a real multi-pipeline driver:
    unpersist between pipelines or checkpoint to storage instead.

    The sweep now ALSO runs with SPARK_GRAFT_CHECKPOINT_DIR set (see
    main), so materialize() cuts lineage via reliable checkpoints on
    disk instead of executor storage memory; checkpoint files of
    completed queries are deleted here to bound sweep disk usage
    (each timed query rebuilds its plan from scratch, so no live plan
    references an older query's checkpoint)."""
    jsc = spark.sparkContext._jsc.sc()
    it = jsc.getPersistentRDDs().values().iterator()
    while it.hasNext():
        it.next().unpersist(True)
    ckpt = spark.sparkContext.getCheckpointDir()
    if ckpt and os.path.isdir(ckpt):
        for d in os.listdir(ckpt):
            shutil.rmtree(os.path.join(ckpt, d), ignore_errors=True)


def time_queries(
    spark, sf_dir: str, samples: dict[str, list[float]] | None = None
) -> dict[str, float]:
    from data_pipeline_mlops_spark.registry import QUERIES as REG

    queries = QUERIES
    only = os.environ.get("SPARK_GRAFT_SCALE_QUERIES", "")
    if only:
        wanted = [q.strip() for q in only.split(",") if q.strip()]
        queries = [q for q in QUERIES if q in wanted] or wanted
    best: dict[str, float] = {}
    for p in range(RUNS + 1):  # pass 0 = cold, discarded
        for name in queries:
            _release_persistent_rdds(spark)
            t0 = time.perf_counter()
            REG[name].spark(spark, sf_dir).write.mode("overwrite").format(
                "noop"
            ).save()
            dt = time.perf_counter() - t0
            if p > 0:
                best[name] = min(best.get(name, dt), dt)
                if samples is not None:
                    samples.setdefault(name, []).append(round(dt, 3))
        print(f"# {sf_dir}: pass {p}/{RUNS}", file=sys.stderr)
    return best


def time_dedup_batch(spark, sf_dir: str, index_root: str) -> dict:
    """Incremental-dedup axis: seed a fresh persisted MinHash index
    from ``sf_dir``'s documents (untimed — that's the historical
    corpus), then time dedup of the SAME fixed 500-doc probe batch
    against it. The per-batch cost must track (batch size + candidate
    bucket join), NOT history size — that is the property that lets
    the stream run forever at 100 TB. Commits included (they are part
    of the honest per-batch cost). Also records the index-size axis:
    band rows after seeding."""
    import shutil as _sh

    from pyspark.sql import functions as F

    from data_pipeline_mlops_spark.streaming.dedup_stream import (
        DedupIndex,
        bulk_seed,
        dedup_batch,
    )

    _sh.rmtree(index_root, ignore_errors=True)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    index = DedupIndex(index_root)
    # seed: bulk-index the WHOLE historical corpus, unconditionally
    # (untimed). Seeding via dedup_batch would drop the scaled copies
    # as near-dups of copy 0 and the 10x index would silently stay
    # 1x-sized -- exactly what the r5 session-1 sweep recorded.
    bulk_seed(docs, index, id_col="doc_id")
    index.maintain(spark)
    band_rows = index.bands.read(spark).count()

    # fixed probe: 500 docs from the BASE corpus, ids shifted clear of
    # any copy band; half keep their text (dup hits against history),
    # half perturbed (accepted) — a realistic mixed batch, identical
    # across index sizes.
    probe = (
        spark.read.parquet(f"{BASE}/documents.parquet")
        .where(F.col("doc_id") < 500)
        .select(
            (F.col("doc_id") + 90_000_000).alias("doc_id"),
            F.when(
                F.col("doc_id") % 2 == 0, F.col("text")
            ).otherwise(F.concat(F.col("text"), F.lit(" probe-novel")))
            .alias("text"),
        )
        .localCheckpoint()
    )
    best = None
    for p in range(RUNS + 1):  # pass 0 cold, discarded; replays converge
        t0 = time.perf_counter()
        dedup_batch(
            probe, index, id_col="doc_id", batch_id=p + 1
        ).write.mode("overwrite").format("noop").save()
        dt = time.perf_counter() - t0
        if p > 0:
            best = dt if best is None else min(best, dt)
        print(f"# dedup_batch[{sf_dir}]: pass {p}/{RUNS}", file=sys.stderr)
    return {"t_batch_sec": round(best, 3), "index_band_rows": band_rows}


def time_mega_basket(spark) -> dict:
    """Bot-basket axis (VERDICT r5 #4): plant ONE 10k-item basket into
    the base interactions and time capped item-item similarity against
    the unplanted baseline. With max_basket_size=20 the planted basket
    contributes at most 190 pairs, so capped-with-bot must track the
    baseline; the uncapped contrast (10k²/2 ≈ 5·10⁷ extra pairs from
    one user) is also timed to show what the cap prevents."""
    from pyspark.sql import functions as F

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
        for p in range(RUNS + 1):
            _release_persistent_rdds(spark)
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
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "32g")
    repo_ = os.path.dirname(os.path.abspath(__file__))
    # Reliable checkpoints by default: lineage cuts go to disk, not
    # executor storage memory — the crowded-JVM remedy measured in r5.
    os.environ.setdefault(
        "SPARK_GRAFT_CHECKPOINT_DIR",
        os.path.join(repo_, ".scale_cache", "ckpt"),
    )
    from data_pipeline_mlops_spark.session import get_spark

    spark = get_spark(app_name="scaling-sweep")
    repo = repo_
    scaled_dir = os.path.join(repo, ".scale_cache", f"sf0.1x{COPIES}")
    if not os.path.exists(os.path.join(scaled_dir, "documents.parquet")):
        build_scaled(spark, scaled_dir)

    only = os.environ.get("SPARK_GRAFT_SCALE_ONLY", "")
    if only == "dedup":
        ded_root = os.path.join(repo, ".scale_cache", "dedup_index")
        ded1 = time_dedup_batch(spark, BASE, f"{ded_root}_1x")
        ded10 = time_dedup_batch(spark, scaled_dir, f"{ded_root}_10x")
        prev = json.load(open(OUT)) if os.path.exists(OUT) else {}
        prev["incremental_dedup_batch"] = {
            "probe_docs": 500,
            "vs_1x_index": ded1,
            "vs_10x_index": ded10,
            "ratio": round(
                ded10["t_batch_sec"] / ded1["t_batch_sec"], 2
            ),
        }
        with open(OUT, "w") as f:
            json.dump(prev, f, indent=1)
        print(json.dumps(prev["incremental_dedup_batch"]))
        return

    samples1: dict[str, list[float]] = {}
    samples10: dict[str, list[float]] = {}
    t1 = time_queries(spark, BASE, samples1)
    t10 = time_queries(spark, scaled_dir, samples10)
    mega = time_mega_basket(spark)
    ded_root = os.path.join(repo, ".scale_cache", "dedup_index")
    ded1 = time_dedup_batch(spark, BASE, f"{ded_root}_1x")
    ded10 = time_dedup_batch(spark, scaled_dir, f"{ded_root}_10x")
    report = {
        "metric": "scaling_ratio_10x",
        "copies": COPIES,
        "runs": RUNS,
        "base_sf_dir": BASE,
        "checkpoint_dir": os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR"),
        "queries": {
            name: {
                "t_1x_sec": round(t1[name], 3),
                "t_10x_sec": round(t10[name], 3),
                "ratio": round(t10[name] / t1[name], 2),
                "super_linear": t10[name] / t1[name] > COPIES * 1.3,
                "samples_1x_sec": samples1.get(name),
                "samples_10x_sec": samples10.get(name),
            }
            for name in t1
        },
        "mega_basket_cap": mega,
        # fixed 500-doc probe batch vs a 1x- and a 10x-seeded index:
        # per-batch cost must track batch size, not history size
        "incremental_dedup_batch": {
            "probe_docs": 500,
            "vs_1x_index": ded1,
            "vs_10x_index": ded10,
            "ratio": round(
                ded10["t_batch_sec"] / ded1["t_batch_sec"], 2
            ),
        },
    }
    with open(os.path.join(repo, OUT), "w") as fh:
        json.dump(report, fh, indent=1)
    print(json.dumps(report))


if __name__ == "__main__":
    main()
