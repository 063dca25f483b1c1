"""Quantify the skewfree_rank win on a genuinely skewed stratum.

The sf0.1 fixture has only 5k documents, so the per-language window
straggler that skewfree_rank removes (OPTIMIZATION_r13 §11) is
invisible in the bench line — at that size the histogram machinery
even costs ~5%. This demo builds the shape the fix targets: N rows
with a 90% hot stratum and a bounded order-value space (the corpus
quality-score regime), and times

  direct:   row_number() OVER (PARTITION BY stratum ORDER BY score, id)
  skewfree: operators.skew.skewfree_rank (histogram + tie groups)

in ONE fresh JVM, noop-sunk, cold run discarded, min/median of N
timed runs each. The direct plan sorts the hot stratum's 90% of rows
in a single task; the skew-free plan distributes it over the
(stratum, score) tie groups.

``--scenario degenerate`` (VERDICT r13 #4) is the DEGENERATE-TIE
shape: 90% of all rows share ONE (stratum, score) pair, e.g. a coarse
integer quality score with a dominant default, where a tie-group
window alone would re-create a single giant sort task (one 3.6M-row
TIE sort). skewfree_rank guards it itself for an integral id: the tie
group splits into id-range buckets of 2^TIE_BUCKET_BITS rows. The
payload reports the largest sort group with and without the buckets.
SKEW_RANK_DEMO_r14.json records the run from before the guard was
built in, with its unguarded skewfree arm.

Usage: python scripts/skew_rank_demo.py [--rows 4000000] [--runs 3]
       [--scenario bounded|degenerate] [--out FILE.json]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=4_000_000)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--distinct-scores", type=int, default=20_000)
    ap.add_argument(
        "--scenario", choices=["bounded", "degenerate"], default="bounded"
    )
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from data_pipeline_mlops_spark.materialize import release_storage
    from data_pipeline_mlops_spark.operators.skew import (
        TIE_BUCKET_BITS,
        skewfree_rank,
    )
    from data_pipeline_mlops_spark.session import get_spark

    spark = get_spark(app_name="skew-rank-demo")
    spark.sparkContext.setLogLevel("ERROR")

    def base():
        m = F.pmod(F.col("id"), F.lit(100))
        if args.scenario == "degenerate":
            # ONE (stratum, score) pair owns 90% of all rows: hot
            # stratum rows all score 0.0 (the coarse-default-score
            # regime); cold strata keep a bounded score space
            score = F.when(m < 90, F.lit(0.0)).otherwise(
                F.pmod(F.xxhash64("id"), F.lit(1000)) / F.lit(100.0)
            )
        else:
            # bounded order-value space (quality-score regime)
            score = (
                F.pmod(F.xxhash64("id"), F.lit(args.distinct_scores))
                / F.lit(1000.0)
            )
        return spark.range(args.rows).select(
            F.col("id"),
            # 90% hot stratum + 10 cold strata of 1% each
            F.when(m < 90, F.lit("hot"))
            .otherwise(F.concat(F.lit("cold_"), m.cast("string")))
            .alias("stratum"),
            score.alias("score"),
        )

    def direct():
        w = Window.partitionBy("stratum").orderBy(
            F.col("score").asc(), F.col("id").asc()
        )
        return base().withColumn("rk", F.row_number().over(w))

    def skewfree():
        return skewfree_rank(
            base(), part_col="stratum", order_col="score", id_col="id"
        ).withColumnRenamed("__rank", "rk")

    arms = [("direct", direct), ("skewfree", skewfree)]
    results: dict[str, dict] = {}
    for name, fn in arms:
        samples = []
        for i in range(args.runs + 1):  # first run cold, discarded
            release_storage(spark)
            spark.sparkContext.setJobDescription(f"{name} run {i}")
            t0 = time.perf_counter()
            fn().select("stratum", "id", "rk").write.mode(
                "overwrite"
            ).format("noop").save()
            dt = time.perf_counter() - t0
            if i > 0:
                samples.append(round(dt, 3))
        results[name] = {
            "min": min(samples),
            "median": round(statistics.median(samples), 3),
            "samples": samples,
        }
        print(f"# {name}: {results[name]}", file=sys.stderr)

    # cross-check equality on a deterministic sample of rows
    d = {
        r["id"]: r["rk"]
        for r in direct().where(F.pmod("id", 99991) == 0).collect()
    }
    s = {
        r["id"]: r["rk"]
        for r in skewfree().where(F.pmod("id", 99991) == 0).collect()
    }
    assert d == s and len(d) > 0, "rank mismatch on sample"
    if args.scenario == "degenerate":
        # the checkable "no single-task sort" claim: largest tie-window
        # sort partition with vs without the id-range bucket guard
        mx = lambda cols: (  # noqa: E731
            base().groupBy(*cols).count().agg(F.max("count")).collect()[0][0]
        )
        payload_extra = {
            "max_sort_group_unguarded": mx(["stratum", "score"]),
            "max_sort_group_guarded": mx(
                ["stratum", "score", F.shiftright("id", TIE_BUCKET_BITS)]
            ),
        }
    else:
        payload_extra = {}
    payload = {
        "scenario": args.scenario,
        **payload_extra,
        "rows": args.rows,
        "distinct_scores": args.distinct_scores,
        "runs": args.runs,
        "hot_share": 0.9,
        "results": results,
        "sample_checked": len(d),
    }
    out = json.dumps(payload)
    print(out)
    if args.out:
        with open(args.out, "w") as fh:
            fh.write(out + "\n")


if __name__ == "__main__":
    main()
