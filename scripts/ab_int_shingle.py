"""A/B prototype: n-gram pair join on md5-60 int64 shingle keys vs raw
shingle strings (guide §2.3 "shuffle keys and metadata instead of
payloads"). Times ngram_jaccard_pairs as shipped vs a variant whose
shingle explode emits the 60-bit md5 int, so the freq-cap aggregation
and the pair self-join shuffle 8-byte longs instead of ~20-40-byte
3-gram strings. Also cross-checks the pair sets are identical at this
SF (hash collisions would be the only divergence source).

HISTORICAL ARTIFACT (ADVICE r13): this script measured the
pre-f90cdc0 HEAD, when dedup_text.ngram_jaccard_pairs was still
string-keyed. Since f90cdc0 the library function IS the int64-hashed
implementation, so re-running this script compares int64 vs int64 —
the timing A/B and the symmetric-diff cross-check are vacuous against
current HEAD. Kept unchanged as the record of the original decision;
the committed numbers live in OPTIMIZATION_r13.md §12.

Usage: python scripts/ab_int_shingle.py [--sf /root/testdata/sf0.1] [--runs 5]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def variant_int_pairs(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.2,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """ngram_jaccard_pairs with the shingle array hashed to _md5_60
    int64 INSIDE the materialized base (one md5 pass per distinct
    shingle at checkpoint time; the freq-cap agg and both pair-join
    sides then shuffle 8-byte longs). distinct/size semantics are
    computed on the string arrays BEFORE hashing, so they are
    untouched."""
    from data_pipeline_mlops_spark.functions.dedup_text import shingled

    md5_60 = lambda c: F.conv(  # noqa: E731
        F.substring(F.md5(c), 1, 15), 16, 10
    ).cast("long")
    base = (
        shingled(df, id_col=id_col, text_col=text_col, n=n)
        .select(
            "__id",
            F.size("__sh").alias("__sz"),
            F.transform("__sh", md5_60).alias("__shh"),
        )
        .localCheckpoint(eager=False)
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


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=5)
    args = ap.parse_args()

    from data_pipeline_mlops_spark.functions import dedup_text
    from data_pipeline_mlops_spark.materialize import release_storage
    from data_pipeline_mlops_spark.registry import QUERIES, _docs  # noqa: F401
    from data_pipeline_mlops_spark.session import get_spark

    spark = get_spark(app_name="ab-int-shingle")
    spark.read.parquet(f"{args.sf}/lineitem.parquet").count()
    docs = _docs(spark, args.sf)

    # correctness cross-check first: identical pair sets (capped form)
    cur = dedup_text.ngram_jaccard_pairs(
        docs, id_col="doc_id", text_col="text", n=3,
        threshold=0.05, max_shingle_freq=50,
    )
    new = variant_int_pairs(
        docs, id_col="doc_id", text_col="text", n=3,
        threshold=0.05, max_shingle_freq=50,
    )
    diff = cur.exceptAll(new).count() + new.exceptAll(cur).count()
    n_cur = cur.count()
    print(f"# pairs={n_cur} symmetric-diff={diff}", file=sys.stderr)
    if diff != 0:
        sys.exit("variant changes results — abort")

    out: dict[str, dict] = {}
    for label, fn in (
        ("string", lambda: dedup_text.ngram_jaccard_pairs(
            docs, id_col="doc_id", text_col="text", n=3,
            threshold=0.05, max_shingle_freq=50)),
        ("int64", lambda: variant_int_pairs(
            docs, id_col="doc_id", text_col="text", n=3,
            threshold=0.05, max_shingle_freq=50)),
    ):
        samples = []
        for i in range(args.runs + 1):
            release_storage(spark)
            t0 = time.perf_counter()
            fn().write.mode("overwrite").format("noop").save()
            if i > 0:
                samples.append(round(time.perf_counter() - t0, 3))
        out[label] = {
            "min": min(samples),
            "median": round(statistics.median(samples), 3),
            "samples": samples,
        }
        print(json.dumps({label: out[label]}), file=sys.stderr)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
