"""Metric names, units and how the traced run's spans map onto them.

``BENCHMARK.json`` lists the same names; ``tests/test_names.py`` keeps
the two in step. Every traced run emits every per-layer metric: a layer
that the workload bypasses reads 0 (no call, no seconds, no jobs).
"""

from __future__ import annotations

import statistics

from spans import duration, merge_groups

WORKLOADS = ("medallion_daily", "corpus_dedup")

# name -> (unit, better, bound); every workload reports both
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "run_s_p50": ("s", "lower", 0.25),
}

# The lake writes (and the evaluate call) whose action runs each
# medallion stage's lazy plan: span name -> stage.
MEDALLION_STAGE_OF_SPAN = {
    "write_partition:bronze/orders": "bronze",
    "write_partition:silver/orders": "silver",
    "write_partition:gold/daily_summary": "gold",
    "write_partition:gold/category_performance": "gold",
    "write_partition:gold/ml/train": "ml_prep",
    "write_partition:gold/ml/eval": "ml_prep",
    "write_partition:gold/ml/item_similarity": "train",
    "evaluate_model": "evaluate",
    "write_partition:gold/ml/metrics": "evaluate",
}
MEDALLION_STAGES = ("bronze", "silver", "gold", "ml_prep", "train", "evaluate")
EVENTLOG_KEYS = {
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
    "gc_s": "s",
    "executor_run_s": "s",
    "task_skew": "ratio",
}

PER_LAYER = {
    "session.start_s": "s",
    "input.generate_s": "s",
    "trace.overhead_ratio": "ratio",
    "rss_peak_mb": "MB",
    **{f"medallion.{s}.s": "s" for s in MEDALLION_STAGES},
    "medallion.read_entity.s": "s",
    "medallion.jobs": "count",
    "medallion.tasks": "count",
    "medallion.lake_bytes_per_input_byte": "ratio",
    "medallion.lake_files": "count",
    "medallion.train.shuffle_write_bytes": "bytes",
    "corpus.quality_rank.s": "s",
    "corpus.cc.s": "s",
    "corpus.cc.jobs": "count",
    "corpus.pack.s": "s",
    "corpus.jobs": "count",
    "corpus.tasks": "count",
    "corpus.single_task_stages": "count",
    "dedup_stream.batch.s": "s",
    "dedup_stream.batch.jobs": "count",
    "dedup_stream.index_bytes": "bytes",
    "serve.recommend.ms_p50": "ms",
    "serve.similar.ms_p50": "ms",
    "serve.recommend.jobs": "count",
    "serve.recommend.tasks": "count",
    "serve.load_s": "s",
    **{f"{w}.{k}": u for w in WORKLOADS for k, u in EVENTLOG_KEYS.items()},
}
# Every span name the traced run can emit, with the per-layer metric
# it feeds. Names ending in ":" are prefixes (write/read targets).
SPAN_METRICS = {
    "medallion_daily.unit": ("medallion.jobs", "medallion.tasks"),
    "write_partition:": tuple(f"medallion.{s}.s" for s in MEDALLION_STAGES),
    "read_entity:": ("medallion.read_entity.s",),
    "evaluate_model": ("medallion.evaluate.s",),
    "corpus_dedup.unit": (),
    "corpus_pipeline.build": ("corpus.jobs", "corpus.tasks", "corpus.single_task_stages"),
    "corpus_pipeline.write": ("corpus.pack.s",),
    "prepare_corpus": ("corpus.quality_rank.s",),
    "materialize": ("corpus.quality_rank.s",),
    "skewfree_rank": ("corpus.quality_rank.s",),
    "connected_components": ("corpus.cc.s", "corpus.cc.jobs"),
    "pack_greedy": ("corpus.pack.s",),
    "incremental_dedup.build": (),
    "incremental_dedup.write": (),
    "dedup_batch": ("dedup_stream.batch.s", "dedup_stream.batch.jobs"),
    "Recommender.recommend": (
        "serve.recommend.ms_p50", "serve.recommend.jobs", "serve.recommend.tasks",
    ),
    "Recommender.similar": ("serve.similar.ms_p50",),
}


def span_key(name: str) -> str:
    for k in SPAN_METRICS:
        if k.endswith(":") and name.startswith(k):
            return k
    return name


def _subtree(tracer, root: dict) -> list[dict]:
    return [root, *tracer.descendants(root["id"])]


def _med(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def per_layer(workload: str, tracer, roots: list[dict], events: dict, extra: dict) -> dict:
    """Per-layer metrics for one traced run. ``roots`` are the traced
    spans: units, and the serving requests that follow them;
    ``events`` is the event log by job group; ``extra`` carries values
    measured outside spans (setup phases, lake and index sizes, the
    overhead ratio, peak RSS). Values are medians per unit (per request
    for ``serve.*``); event-log values cover the units only."""
    out = {name: 0.0 for name in PER_LAYER}
    out.update({k: v for k, v in extra.items() if k in PER_LAYER})
    requests = [r for r in roots if r["name"].startswith("Recommender.")]
    trees = [_subtree(tracer, r) for r in roots if r["name"] == f"{workload}.unit"]

    def per_unit(pred):
        return _med(sum(duration(s) for s in t if pred(s["name"])) for t in trees)

    def jobs_of(pred, key="jobs"):
        return _med(
            sum(d[key] for s in t if pred(s["name"]) for d in _subtree(tracer, s))
            for t in trees
        )

    if workload == "medallion_daily":
        for stage in MEDALLION_STAGES:
            out[f"medallion.{stage}.s"] = per_unit(
                lambda n, st=stage: MEDALLION_STAGE_OF_SPAN.get(n) == st
            )
        out["medallion.read_entity.s"] = per_unit(lambda n: n.startswith("read_entity:"))
        out["medallion.jobs"] = _med(sum(s["jobs"] for s in t) for t in trees)
        out["medallion.tasks"] = _med(sum(s["tasks"] for s in t) for t in trees)
        train = [s["group"] for t in trees for s in t
                 if MEDALLION_STAGE_OF_SPAN.get(s["name"]) == "train"]
        out["medallion.train.shuffle_write_bytes"] = (
            merge_groups(events, train)["shuffle_write_bytes"] / max(len(trees), 1)
        )
    elif workload == "corpus_dedup":
        qr = []
        for t in trees:
            prep = [s for s in t if s["name"] == "prepare_corpus"]
            cc = [s for s in t if s["name"] == "connected_components"]
            if prep and cc:
                qr.append(cc[0]["start"] - prep[0]["start"])
        out["corpus.quality_rank.s"] = _med(qr)
        out["corpus.cc.s"] = per_unit(lambda n: n == "connected_components")
        out["corpus.cc.jobs"] = jobs_of(lambda n: n == "connected_components")
        out["corpus.pack.s"] = per_unit(
            lambda n: n in ("pack_greedy", "corpus_pipeline.write")
        )
        pipe = ("corpus_pipeline.build", "corpus_pipeline.write")
        out["corpus.jobs"] = jobs_of(lambda n: n in pipe)
        out["corpus.tasks"] = jobs_of(lambda n: n in pipe, "tasks")
        out["corpus.single_task_stages"] = jobs_of(lambda n: n in pipe, "single_task_stages")
        out["dedup_stream.batch.s"] = per_unit(lambda n: n == "dedup_batch")
        out["dedup_stream.batch.jobs"] = jobs_of(lambda n: n == "dedup_batch")
    rec = [r for r in requests if r["name"] == "Recommender.recommend"]
    sim = [r for r in requests if r["name"] == "Recommender.similar"]
    out["serve.recommend.ms_p50"] = _med(duration(r) * 1000 for r in rec)
    out["serve.similar.ms_p50"] = _med(duration(r) * 1000 for r in sim)
    out["serve.recommend.jobs"] = _med(r["jobs"] for r in rec)
    out["serve.recommend.tasks"] = _med(r["tasks"] for r in rec)

    groups = [s["group"] for t in trees for s in t]
    ev = merge_groups(events, groups)
    n = max(len(trees), 1)
    for k in EVENTLOG_KEYS:
        out[f"{workload}.{k}"] = ev[k] if k == "task_skew" else ev[k] / n
    return out
