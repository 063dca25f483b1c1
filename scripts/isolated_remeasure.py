"""Isolated fresh-JVM re-measure of named headline queries.

The bench interleave is the honest fleet-context number, but a drift
flag on an UNCHANGED query needs a second opinion: this script times
each named query alone — fresh SparkSession, one untimed cold run,
then N timed runs with ``materialize.release_storage`` between runs —
so the number measures the plan, not the neighbors' GC/storage
residue. Emits one JSON line per query and a summary file.
``scaling_sweep.py`` runs it once per scale point.

Usage:
    python scripts/isolated_remeasure.py item_similarity user_uptime \
        [--sf /root/testdata/sf0.1] [--runs 5] [--out FILE.json]
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
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    from bench import _EXTRA_FNS
    from data_pipeline_mlops_spark.materialize import release_storage
    from data_pipeline_mlops_spark.registry import QUERIES
    from data_pipeline_mlops_spark.session import get_spark

    spark = get_spark(app_name="isolated-remeasure")
    spark.read.parquet(f"{args.sf}/lineitem.parquet").count()

    results: dict[str, dict] = {}
    for name in args.queries:
        fn = _EXTRA_FNS.get(name) or QUERIES[name].spark
        samples: list[float] = []
        for i in range(args.runs + 1):  # run 0 cold, discarded
            release_storage(spark)
            t0 = time.perf_counter()
            fn(spark, args.sf).write.mode("overwrite").format(
                "noop"
            ).save()
            if i > 0:
                samples.append(round(time.perf_counter() - t0, 3))
        results[name] = {
            "min": min(samples),
            "median": round(statistics.median(samples), 3),
            "samples": samples,
        }
        print(json.dumps({name: results[name]}), file=sys.stderr)

    line = {"sf": args.sf, "runs": args.runs, "isolated": results}
    print(json.dumps(line))
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(line, fh, indent=1)


if __name__ == "__main__":
    main()
