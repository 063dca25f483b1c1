"""Benchmark harness: runs the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Execution is forced with the `noop` datasource (full computation, no
materialization cost), so timings measure the real plan — scan,
shuffle, agg — not driver collect overhead.

Measurement design (round-4 rework): per-query best-of-N where the N
samples are INTERLEAVED — pass 1 runs every query once, then pass 2,
... — instead of back-to-back repeats. Back-to-back best-of-3 left
per-query spreads of 2-20 s on this box because a GC pause or external
load burst poisons all three consecutive samples of whichever query it
lands on; interleaving decorrelates samples of the same query, so the
min converges on the plan's true cost. Additionally: one full COLD
pass runs first and is discarded (it measures codegen/classload/page-
cache warmup, not the plan — with it included, every spread was
dominated by sample 1), and each timed pass visits queries in a
seeded-shuffled order (plain rotation keeps cyclic adjacency, so a
heavy query's GC residue lands on the same victim every pass). Median
is reported alongside min; spread = max - min over timed samples.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import sys
import time

# Round-1 comparable set (12 keys, matches BENCH_r01.json)
R1_KEYS = [
    "silver_clean",
    "daily_summary",
    "category_performance",
    "top_products",
    "regional_stats",
    "dedup_keep_latest",
    "item_similarity",
    "recommendations",
    "doc_quality",
    "ngram_jaccard_dups",
    "minhash_lsh_candidates",
    "ann_cosine_topk",
]

# Scale-path variants added in round 2: bounded-fan-out recommendation
# scoring (item-kNN cap), stop-shingle-capped exact dedup, and the
# xxhash64 MinHash production path (the registry entry switched to the
# md5-portable variant for oracle parity; production keeps xxhash64).
# Plus the LLM training-data extensions: capped-pair dup clustering,
# n-gram decontamination, and context-window sequence packing.
# Round 4 adds recommendations_served: scoring against the PERSISTED
# similarity model (ml/model_registry artifact, prebuilt untimed in
# warmup) — the amortized serving cost, vs `recommendations` which
# deliberately times the cold model build.
# Round 4 also adds the two heaviest new pipelines: trained PQ (two
# Lloyd iterations + encode + ADC rank) and incremental streaming
# dedup (two real batches against a fresh on-disk index, commits
# included).
# Round 5 adds embedding_near_dups_fast: the SemDeDup-style
# embedding-cosine dedup tier on float "seeded" hyperplanes (the
# registry's embedding_near_dups_lsh twin uses the md5 integer planes
# for its oracle).
HEADLINE = R1_KEYS + [
    "recommendations_capped",
    "recommendations_served",
    "ngram_jaccard_capped",
    "minhash_lsh_fast",
    "doc_dup_components_capped",
    "eval_decontamination",
    "doc_pack_sequences",
    "corpus_pipeline",
    "pq_trained_topk",
    "incremental_dedup_decisions",
    "embedding_near_dups_fast",
    # Round-5 session-4 headliners: lakehouse MERGE (O(touched-
    # partition) rewrite incl. real manifest commits), winnowing
    # fingerprints (explode-heavy dedup tier), integer-exact PPS
    # sampling (bucketed distributed prefix sum), and BM25 retrieval
    # (term-filtered explode + TakeOrdered).
    "orders_merge_upsert",
    "doc_winnowing_fps",
    "doc_weighted_sample",
    "doc_bm25_search",
    # Round 8: the composed crawl front half (map-side regexp chain +
    # one dedup shuffle), the corpus-labeling classifier (token-key
    # groupBy + join + argmax window), and the GIF real-decode tier
    # (Arrow mapInPandas LZW kernel).
    "crawl_pipeline",
    "doc_label_classifier",
    "multimodal_gif_pixels",
    # Round 9: the MP3 frame-header walk tier (Arrow mapInPandas
    # header arithmetic, no pixel/sample payload work), hybrid
    # retrieval (BM25 leg x dense cosine leg, RRF fusion), and
    # perceptual image dedup (BMP decode -> dHash -> banded Hamming)
    "multimodal_mp3_meta",
    "doc_hybrid_search",
    "image_dhash_near_dups",
    # Round 10: hypertable gap-fill rollup (spine generation + two
    # fill-policy windows) and the SemDeDup production tier (seeded
    # LSH pair source + keep rule; the trained-kmeans doc_semdedup is
    # parity-only — oracled but not headlined, its 14.5 s k=8
    # pairwise crowds the interleave and measures cluster
    # granularity, not the engine)
    "nation_daily_gapfill",
    "event_hourly_gapfill",
    "event_time_weighted_value",
    "user_counter_increase",
    "doc_semdedup_fast",
    # Round-10 continuous-aggregate tier: candlesticks (one struct-
    # edge hash agg, no window), heartbeat uptime (gaps-and-islands:
    # running-max window + islands groupBy), and M4 downsampling
    # (broadcast bounds + one hash agg, output-sized result).
    "event_ohlc_daily",
    "user_uptime",
    "event_m4_downsample",
    # EMA (distributed decimal pre-agg + output-sized kernel) and the
    # forward/nearest as-of tiers (one/two ordered-window shuffles).
    "event_hourly_ema",
    "purchase_next_error",
    "purchase_nearest_click",
    # Markov transitions (LEAD window + groupBy) and CUSUM drift
    # (decimal bucketing + output-sized kernel).
    "event_transition_matrix",
    "event_cusum_drift",
    "event_hourly_holt",
    "user_rolling_p95",
    "rolling_distinct_users_kmv",
    # Round 11 (VERDICT r10 #6): promote the WAREHOUSE JOIN tier into
    # the gated headliners, so join-plan regressions (broadcast
    # demotion, lost bucket co-location, window re-sorts) gate the
    # bench the way corpus ops already do. The star join
    # (region x nation x customer x orders + rank window), the
    # exchange-free bucketed fact-fact join, the point-in-time RANGE-
    # frame feature window, and the CUBE grouping-set shuffle.
    "top_customers_per_region",
    "bucketed_order_revenue",
    "customer_rolling_features",
    "cube_revenue",
    # Round 11: the composed M4 -> LTTB rendering recipe and the ALS
    # factorization recommender (Spark ML Pipeline fit + blocked
    # top-k serve; seed-pinned).
    "event_lttb_m4",
    "recommendations_als",
    # Round 12: the composed Gopher-rule quality gate (projection +
    # bigram explode/agg, zero UDFs) and the mergeable bottom-k
    # quantile sketch (one group-window shuffle, k rows survive per
    # group) — both cheap, both gate a new tier.
    "doc_gopher_rules",
    "order_value_quantile_sketch",
    # Round 13: the FULL Gopher gate (content rules + the line-based
    # bullet/ellipsis rules over the derived line-structured corpus).
    "doc_gopher_rules_full",
    # Round 13 late additions: Broder containment near-dups (the
    # capped shingle pair join with asymmetric min-size thresholding,
    # over the excerpt-augmented derived corpus) and CCNet LM
    # terciles (bigram LM score + histogram-cutoff bucketing — no
    # corpus-wide sort).
    "ngram_containment_dups",
    "doc_ccnet_buckets",
    # Round 14: proof-of-parallelism probe (VERDICT r13 #1) — a pure
    # compute burn whose 8-vs-32-core ratio demonstrates the master
    # honors $SPARK_GRAFT_CPUS (every real query at sf0.1 is too
    # overhead-dominated to show it). Additive: no existing entry
    # removed or renamed.
    "cpu_scaling_probe",
]


def _minhash_fast(spark, sf_dir):
    """xxhash64 MinHash+LSH (production hot path; the registry's
    minhash_lsh_candidates uses the md5-portable twin for its oracle)."""
    from data_pipeline_mlops_spark.functions import dedup_text
    from data_pipeline_mlops_spark.sources.tables import load_table

    return dedup_text.minhash_dedup(
        load_table(spark, sf_dir, "documents"),
        id_col="doc_id",
        text_col="text",
        num_hashes=64,
        bands=16,
        shingle_n=3,
        verify_threshold=0.05,
        hash_method="xxhash64",
    )


def _embedding_near_dups_fast(spark, sf_dir):
    """Seeded-plane embedding near-dup pairs (the registry's
    embedding_near_dups_lsh is the oracle twin). Knob corpus-scaled
    like the twin (auto_lsh_params — VERDICT r12 #1). Both twins run
    the one Arrow-matmul bucketer (hyperplane_buckets_all_tables)
    with different plane tables; this one uses the float "seeded"
    planes, which at sf0.1 return the same rows as the md5 planes
    from 6% fewer candidates."""
    from data_pipeline_mlops_spark.functions import similarity
    from data_pipeline_mlops_spark.registry import (
        _near_dup_corpus,
        _near_dup_lsh_params,
    )

    corpus = _near_dup_corpus(spark, sf_dir)
    nb, nt = _near_dup_lsh_params(corpus)
    return similarity.cosine_near_dup_pairs(
        corpus,
        id_col="vec_id", vec_col="embedding",
        threshold=0.98, method="seeded",
        num_planes=nb, num_tables=nt,
    )


def _semdedup_fast(spark, sf_dir):
    """SemDeDup tier on seeded LSH buckets (the registry's
    doc_semdedup_lsh is the oracle twin — same Arrow-matmul bucketer,
    see _embedding_near_dups_fast; the trained-kmeans
    doc_semdedup is parity-only and too cluster-granularity-sensitive
    to headline — SCALING_r10.json)."""
    from pyspark.sql import functions as F

    from data_pipeline_mlops_spark.functions import similarity
    from data_pipeline_mlops_spark.registry import (
        _near_dup_corpus,
        _near_dup_lsh_params,
    )

    corpus = _near_dup_corpus(spark, sf_dir)
    nb, nt = _near_dup_lsh_params(corpus)
    pairs = similarity.cosine_near_dup_pairs(
        corpus, id_col="vec_id", vec_col="embedding",
        threshold=0.98, method="seeded",
        num_planes=nb, num_tables=nt,
    )
    lowest = pairs.groupBy(F.col("id_b").alias("vec_id")).agg(
        F.min("id_a").alias("dup_of")
    )
    return corpus.select("vec_id").join(lowest, "vec_id", "left").select(
        "vec_id", "dup_of", F.col("dup_of").isNull().alias("keep")
    )


CPU_PROBE_ROWS = 600_000  # sf0.1's lineitem rows


def _cpu_scaling_probe(spark, sf_dir):
    """Deliberately CPU-bound, embarrassingly-parallel probe so the
    8-vs-32-core bench legs carry SIGNAL (VERDICT r13 #1: every real
    query is dominated by fixed JVM/planning overhead at sf0.1, so all
    60 low/high-core ratios sat at ~1 and the driver flagged
    suspect_cpus_ignored). Reads the parquet fact (no synthetic
    range()), round-robins it over 2x defaultParallelism partitions
    (scale-adaptive — never a constant tuned to one core count), then
    burns a fixed amount of hashing per row via an interpreted
    higher-order aggregate: ~1.2G xxhash64 evaluations total, zero
    shuffle after the repartition, one scalar output. Wall time is
    ~pure executor compute, so t(8 cores)/t(32 cores) ~ 4 when the
    master honors $SPARK_GRAFT_CPUS. Above sf0.1 the rows are capped
    at sf0.1's lineitem count, so the probe's cost stops growing with
    SF; the footers give the row count without a Spark job, and at
    sf0.1 and below the plan is unchanged."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    sc = spark.sparkContext
    path = f"{sf_dir}/lineitem.parquet"
    df = spark.read.parquet(path).select("l_orderkey", "l_partkey", "l_suppkey")
    rows = sum(
        pq.ParquetFile(f).metadata.num_rows
        for f in pq.ParquetDataset(path).files
    )
    if rows > CPU_PROBE_ROWS:
        df = df.limit(CPU_PROBE_ROWS)
    df = df.repartition(2 * sc.defaultParallelism)
    burn = F.aggregate(
        F.sequence(F.lit(1), F.lit(1024)),
        F.xxhash64("l_orderkey", "l_partkey", "l_suppkey"),
        lambda acc, i: F.xxhash64(acc, i),
    )
    # shift before summing: raw xxhash64 longs overflow an ANSI SUM
    return df.select(
        F.shiftrightunsigned(burn, 40).alias("h")
    ).agg(F.sum("h").alias("probe"))


_EXTRA_FNS = {
    "minhash_lsh_fast": _minhash_fast,
    "embedding_near_dups_fast": _embedding_near_dups_fast,
    "doc_semdedup_fast": _semdedup_fast,
    "cpu_scaling_probe": _cpu_scaling_probe,
}


def _parse_bench_artifact(path: str) -> dict[str, float] | None:
    """Per-query min timings from a committed bench artifact: accepts
    raw bench stdout JSON, or the driver's BENCH_r{N}.json wrapper
    (payload under "parsed", or recoverable from the stdout "tail" —
    the driver window often truncates the head of the JSON line but
    the trailing "samples" object survives)."""
    try:
        with open(path) as fh:
            base = json.load(fh)
        if "queries" not in base:
            if isinstance(base.get("parsed"), dict):
                base = base["parsed"]
            elif isinstance(base.get("tail"), str):
                tail = base["tail"]
                ix = tail.find('"samples": {')
                if ix < 0:
                    return None
                smp, _ = json.JSONDecoder().raw_decode(
                    tail, ix + len('"samples": ')
                )
                # sf is recoverable from the tail's trailing fields
                sfix = tail.rfind('"sf": ')
                sf = None
                if sfix >= 0:
                    try:
                        sf, _ = json.JSONDecoder().raw_decode(
                            tail, sfix + len('"sf": ')
                        )
                    except ValueError:
                        sf = None
                return {
                    "queries": {
                        k: min(v) for k, v in smp.items() if v
                    },
                    "sf": sf,
                }
        q = base.get("queries")
        if not isinstance(q, dict):
            return None
        return {"queries": dict(q), "sf": base.get("sf")}
    except (OSError, json.JSONDecodeError, ValueError, KeyError):
        return None


def _prev_round_artifact() -> str | None:
    """The last committed driver bench line (BENCH_r{N}.json, highest
    round, isolated artifacts excluded) — the default drift-gate
    reference. Override with SPARK_GRAFT_BENCH_PREV."""
    import glob

    env = os.environ.get("SPARK_GRAFT_BENCH_PREV")
    if env:
        return env if os.path.exists(env) else None
    here = os.path.dirname(os.path.abspath(__file__))
    cands = sorted(
        c
        for c in glob.glob(os.path.join(here, "BENCH_r*.json"))
        if "_isolated" not in os.path.basename(c)
    )
    return cands[-1] if cands else None


def _perf_regressed_queries() -> list[str]:
    """Headline queries the LAST driver PERF report marked 'regressed'
    (>10% vs its previous round). VERDICT r13 #2: the drift gate only
    fired at >1.3x, so the two 0.83-0.84x driver regressions shipped
    with no isolated second opinion — auto-queue every driver-flagged
    regression into the fresh-JVM isolated leg so the variance-vs-plan
    question is answered in the same artifact."""
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))

    def _round_no(p: str) -> int:
        m = re.search(r"PERF_r(\d+)\.json$", os.path.basename(p))
        return int(m.group(1)) if m else -1

    cands = sorted(glob.glob(os.path.join(here, "PERF_r*.json")), key=_round_no)
    if not cands:
        return []
    try:
        with open(cands[-1]) as fh:
            pq = json.load(fh).get("per_query", {})
        return [
            n
            for n, d in pq.items()
            if isinstance(d, dict)
            and d.get("status") == "regressed"
            and n in HEADLINE
        ]
    except (OSError, json.JSONDecodeError):
        return []


def main() -> None:
    import argparse

    ap = argparse.ArgumentParser(
        description="engine bench; ONE compact JSON line on stdout"
    )
    ap.add_argument(
        "--only",
        default=None,
        help="comma-separated HEADLINE subset to (re)time; samples "
        "merge into --state so a killed run completes across "
        "invocations without re-timing finished queries",
    )
    ap.add_argument(
        "--state",
        default=None,
        help="samples state file (default /tmp/bench_state_<sfdir>.json;"
        " a FULL run resets it, an --only run merges into it)",
    )
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "32g")
    # box-context for the longitudinal record (VERDICT r12 #8): the
    # r11/r12 driver-vs-local spreads (~11%) had to be inferred — pin
    # the 1-min load average at start/end next to every line instead
    load_start = round(os.getloadavg()[0], 2)

    from data_pipeline_mlops_spark.materialize import release_storage
    from data_pipeline_mlops_spark.registry import QUERIES
    from data_pipeline_mlops_spark.session import get_spark

    only = None
    if args.only:
        only = [q.strip() for q in args.only.split(",") if q.strip()]
        unknown = set(only) - set(HEADLINE)
        if unknown:
            sys.exit(f"not HEADLINE queries: {sorted(unknown)}")
    tag = os.path.basename(sf_dir.rstrip("/"))
    state_path = args.state or f"/tmp/bench_state_{tag}.json"
    prior: dict[str, list[float]] = {}
    if only and os.path.exists(state_path):
        with open(state_path) as fh:
            prior = {
                k: v for k, v in json.load(fh).items() if k in HEADLINE
            }
        print(
            f"# merged prior samples for {len(prior)} queries from "
            f"{state_path}",
            file=sys.stderr,
        )

    spark = get_spark(app_name="bench", cpus=cpus)
    # proof-of-parallelism contract (VERDICT r13 #1): the one-line JSON
    # carries the EFFECTIVE master / parallelism / shuffle-partition
    # count so the driver can verify $SPARK_GRAFT_CPUS took effect
    # instead of inferring it from per-query ratios that saturate at
    # sf0.1. Captured from the live context, not the env var.
    eff_master = spark.sparkContext.master
    eff_parallelism = spark.sparkContext.defaultParallelism
    eff_shuffle_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = None

    # Warm-up: JVM + parquet footers, and one untimed run of the served
    # path so the model artifact exists before timing starts (the first
    # call trains and registers it; serving should time load + score).
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    QUERIES["recommendations_served"].spark(spark, sf_dir).write.mode(
        "overwrite"
    ).format("noop").save()

    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))
    timed = [n for n in HEADLINE if only is None or n in only]
    samples: dict[str, list[float]] = {name: [] for name in timed}
    # Released BETWEEN PASSES, not between queries: lazy
    # materialize cuts accumulate in the executor storage pool across
    # the interleave (with 55 headliners the r11 line showed a broad
    # 1.3x inflation on cheap queries without a release), but the CF
    # family legitimately shares one interactions checkpoint within a
    # pass (releasing per query re-timed that subtree into
    # item_similarity/recommendations_served, +1.4-1.6x), and all
    # prior rounds' lines were produced under intra-pass reuse.
    for p in range(runs + 1):  # pass 0 is the discarded cold pass
        order = list(timed)
        random.Random(p).shuffle(order)  # seeded: reproducible order
        release_storage(spark)
        for name in order:
            fn = _EXTRA_FNS.get(name) or QUERIES[name].spark
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            if p > 0:
                samples[name].append(time.perf_counter() - t0)
        print(
            f"# pass {p}/{runs} done" + (" (cold, discarded)" if p == 0 else ""),
            file=sys.stderr,
        )
        # checkpoint after every pass: a killed run resumes via --only
        # over the unfinished queries and merges here
        merged = {**prior, **{k: v for k, v in samples.items() if v}}
        tmp = state_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(merged, fh)
        os.replace(tmp, state_path)

    # re-timed queries REPLACE their prior samples; untouched prior
    # queries carry over, so two partial runs merge into one line
    samples = {**prior, **samples}
    missing = [n for n in HEADLINE if not samples.get(n)]
    if missing:
        print(
            f"# PARTIAL: no samples yet for {missing}; run "
            f"--only {','.join(missing)} to complete",
            file=sys.stderr,
        )
    headline = [n for n in HEADLINE if samples.get(n)]

    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    spreads: dict[str, float] = {}
    spreads_trim: dict[str, float] = {}
    raw: dict[str, list[float]] = {}
    for name in headline:
        s = sorted(samples[name])
        timings[name] = round(s[0], 3)
        medians[name] = round(statistics.median(s), 3)
        spreads[name] = round(s[-1] - s[0], 3)
        # spread with the single worst sample rejected: on a shared box
        # one load burst per 5 samples is the norm, and max-min alone
        # reads as instability when 4 of 5 samples agree tightly
        trim = s[:-1] if len(s) > 2 else s
        spreads_trim[name] = round(trim[-1] - trim[0], 3)
        raw[name] = [round(x, 3) for x in s]
        print(
            f"# {name}: min={timings[name]}s med={medians[name]}s "
            f"(+{spreads[name]}, trimmed +{spreads_trim[name]})",
            file=sys.stderr,
        )

    # Regression gating: when SPARK_GRAFT_BENCH_BASELINE points at a
    # previous round's bench JSON, print per-query deltas vs its
    # per-query min so drifts (like r4's recommendations_capped
    # 5.87->7.01 s) surface during the round, not at judging. Uses the
    # trimmed comparison (current min vs baseline min): min-vs-min is
    # the only pair that is noise-robust on a shared box.
    baseline_path = os.environ.get("SPARK_GRAFT_BENCH_BASELINE")
    deltas: dict[str, float] | None = None
    if baseline_path and os.path.exists(baseline_path):
        parsed = _parse_bench_artifact(baseline_path)
        if parsed is None:
            print("# baseline unreadable", file=sys.stderr)
        else:
            base_q = parsed["queries"]
            deltas = {
                name: round(timings[name] - base_q[name], 3)
                for name in headline
                if name in base_q
            }
            for name, d in sorted(deltas.items(), key=lambda kv: -kv[1]):
                flag = " <-- DRIFT" if d > max(0.5, 0.2 * base_q[name]) else ""
                print(
                    f"# delta vs baseline {name}: {d:+.3f}s "
                    f"(base {base_q[name]}s){flag}",
                    file=sys.stderr,
                )

    total = round(sum(timings.values()), 3)
    r1_total = round(sum(timings[k] for k in R1_KEYS if k in timings), 3)

    # Drift gate vs the LAST COMMITTED driver line (VERDICT r12 #3):
    # every shared-query mover whose interleaved min grew >1.3x is
    # flagged in the output JSON — no absolute-time carve-outs — and
    # automatically queued for the isolated fresh-JVM re-measure
    # below, so the claim "variance, not regression" ships with its
    # evidence in the same artifact.
    movers: dict[str, float] = {}
    prev_path = _prev_round_artifact()
    if prev_path:
        prev = _parse_bench_artifact(prev_path)
        # cross-SF ratios are meaningless: gate only when the prior
        # line's sf matches (or is unrecoverable — the driver always
        # runs at one sf, so an unrecoverable sf is assumed same)
        if prev and prev.get("sf") in (None, sf):
            for name in headline:
                b = prev["queries"].get(name)
                if b and b > 0 and timings[name] / b > 1.3:
                    movers[name] = round(timings[name] / b, 2)
            if movers:
                print(
                    f"# movers >1.3x vs {os.path.basename(prev_path)}: "
                    f"{movers}",
                    file=sys.stderr,
                )
        elif prev:
            print(
                f"# drift gate skipped: prev line sf={prev.get('sf')} "
                f"!= current sf={sf}",
                file=sys.stderr,
            )

    # Canonical longitudinal number (VERDICT r12 #2): the 12-query
    # r1-comparable set re-measured in ONE FRESH JVM, each query
    # alone (cold run discarded, min-of-3, storage released between
    # runs) — the interleaved r1_comparable_total above is the
    # fleet-context number and is confounded by headliner-suite
    # growth (r8 19.4 s -> r12 24.4 s on unchanged queries was
    # crowding, not plans). Movers from the drift gate ride along.
    # Full detail lands in bench_isolated_latest.json next to the
    # repo; the stdout line carries only the totals to stay inside
    # the driver's tail window.
    r1_isolated_total = None
    mover_isolated: dict[str, float] | None = None
    regressed_isolated: dict[str, float] | None = None
    perf_regressed = _perf_regressed_queries()
    iso_queries = list(dict.fromkeys([*R1_KEYS, *movers, *perf_regressed]))
    if (
        not missing
        and only is None
        and os.environ.get("SPARK_GRAFT_SKIP_ISOLATED") != "1"
    ):
        import subprocess
        import time as _time

        # spark.stop() alone leaves the py4j gateway JVM RESIDENT in
        # this process (tens of GB of RSS + mmap'd shuffle state)
        # while the isolated child JVM runs — measured inflating the
        # child's CF queries 4-10x (recommendations 4 s standalone vs
        # 17-47 s as bench's child). Terminate the gateway process
        # outright, then let the box settle below load 2 (the
        # interleaved pass ends at 1-min load 7-17) so the canonical
        # longitudinal number is measured uncontended.
        spark.stop()
        try:
            from pyspark import SparkContext

            gw = getattr(SparkContext, "_gateway", None)
            if gw is not None:
                p = getattr(gw, "proc", None)
                gw.shutdown()
                if p is not None:
                    p.terminate()
                    p.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None
        except Exception as ex:  # noqa: BLE001
            print(f"# gateway teardown: {ex}", file=sys.stderr)
        settle_t0 = _time.time()
        while os.getloadavg()[0] > 2.0 and _time.time() - settle_t0 < 180:
            _time.sleep(5)
        print(
            f"# isolated leg starts at load_1m={os.getloadavg()[0]:.2f} "
            f"after {round(_time.time() - settle_t0)}s settle",
            file=sys.stderr,
        )
        here = os.path.dirname(os.path.abspath(__file__))
        iso_out = os.path.join(here, "bench_isolated_latest.json")
        proc = subprocess.run(
            [
                sys.executable,
                os.path.join(here, "scripts", "isolated_remeasure.py"),
                *iso_queries,
                "--sf",
                sf_dir,
                "--runs",
                "3",
                "--out",
                iso_out,
            ],
            capture_output=True,
            text=True,
        )
        if proc.returncode == 0:
            try:
                iso = json.loads(
                    proc.stdout.strip().splitlines()[-1]
                )["isolated"]
                r1_isolated_total = round(
                    sum(iso[k]["min"] for k in R1_KEYS if k in iso), 3
                )
                mover_isolated = {
                    k: iso[k]["min"] for k in movers if k in iso
                } or None
                regressed_isolated = {
                    k: iso[k]["min"] for k in perf_regressed if k in iso
                } or None
                print(
                    f"# isolated r1 total: {r1_isolated_total}s "
                    f"(interleaved: {r1_total}s); detail: {iso_out}",
                    file=sys.stderr,
                )
            except (json.JSONDecodeError, KeyError, IndexError) as ex:
                print(f"# isolated leg unparseable: {ex}", file=sys.stderr)
        else:
            print(
                f"# isolated leg failed rc={proc.returncode}: "
                f"{proc.stderr[-400:]}",
                file=sys.stderr,
            )
    # Verbose diagnostics go to STDERR: the driver keeps only the tail
    # of stdout, and through round 7 the huge samples/median/spread
    # payload pushed the JSON line's head (metric/value/queries) past
    # the tail window, so BENCH_r{N}.json recorded "parsed": null every
    # round. The final stdout line must stay compact enough (<~2 KB) to
    # survive the window whole.
    print(
        json.dumps(
            {
                "median": medians,
                "spread": spreads,
                "spread_trimmed": spreads_trim,
                "samples": raw,
                **({"delta_vs_baseline": deltas} if deltas else {}),
            }
        ),
        file=sys.stderr,
    )
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "runs": runs,
                "interleaved": True,
                "r1_comparable_total": r1_total,
                **(
                    {"r1_comparable_total_isolated": r1_isolated_total}
                    if r1_isolated_total is not None
                    else {}
                ),
                **({"movers_gt_1p3x": movers} if movers else {}),
                **(
                    {"movers_isolated_min": mover_isolated}
                    if mover_isolated
                    else {}
                ),
                **(
                    {"perf_regressed_isolated_min": regressed_isolated}
                    if regressed_isolated
                    else {}
                ),
                "master": eff_master,
                "default_parallelism": eff_parallelism,
                "shuffle_partitions": eff_shuffle_parts,
                "load_1m": [load_start, round(os.getloadavg()[0], 2)],
                "sf": sf,
                **({"partial_missing": missing} if missing else {}),
            }
        )
    )


if __name__ == "__main__":
    main()
