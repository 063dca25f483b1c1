"""Capture `.explain("formatted")` for every bench headliner into
plans/<round>/<query>_<tag>.txt (tag = before/after), plus a one-line
plan-shape summary (Exchange count, join strategies, Python eval
nodes) per query on stderr. A plan with no file scan is flagged
``plan_observed=false``: the eager graph queries (PageRank, LPA, CC)
run while they are built, so their plan starts at a checkpoint and the
edge build the caps change is not in it.

Usage: python scripts/capture_plans.py [--tag before] [--only a,b,c]
       [--sf /root/testdata/sf0.1]
"""

from __future__ import annotations

import argparse
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def plan_shape(txt: str) -> str:
    counts = {
        "Exchange": len(re.findall(r"\bExchange\b", txt)),
        "ReusedExchange": len(re.findall(r"\bReusedExchange\b", txt)),
        "SMJ": len(re.findall(r"\bSortMergeJoin\b", txt)),
        "BHJ": len(re.findall(r"\bBroadcastHashJoin\b", txt)),
        "SHJ": len(re.findall(r"\bShuffledHashJoin\b", txt)),
        "BNLJ": len(re.findall(r"\bBroadcastNestedLoopJoin\b", txt)),
        "PyEval": len(
            re.findall(r"BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow|FlatMapGroupsInPandas", txt)
        ),
        "Sort": len(re.findall(r"^\s*[:+\-* ]*Sort ", txt, re.M)),
        "Window": len(re.findall(r"\bWindow\b", txt)),
    }
    return ", ".join(f"{k}={v}" for k, v in counts.items() if v)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tag", default="before")
    ap.add_argument("--only", default=None)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    import bench
    from data_pipeline_mlops_spark.plans.diagnose import plan_summary
    from data_pipeline_mlops_spark.registry import QUERIES
    from data_pipeline_mlops_spark.session import get_spark

    names = list(bench.HEADLINE)
    if args.only:
        names = [n.strip() for n in args.only.split(",") if n.strip()]

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    outdir = os.path.join(here, "plans", os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r14"))
    os.makedirs(outdir, exist_ok=True)

    spark = get_spark(app_name="capture-plans", cpus=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    for name in names:
        fn = bench._EXTRA_FNS.get(name) or QUERIES[name].spark
        try:
            df = fn(spark, args.sf)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as ex:  # noqa: BLE001
            print(f"# {name}: ERROR {ex}", file=sys.stderr)
            continue
        path = os.path.join(outdir, f"{name}_{args.tag}.txt")
        with open(path, "w") as fh:
            fh.write(txt)
        note = "" if plan_summary(df).n_file_scans else " plan_observed=false"
        print(f"# {name}: {plan_shape(txt)}{note}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
