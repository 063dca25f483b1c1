"""The names the benchmark emits must be the names BENCHMARK.json lists."""

import json
import os
import subprocess
import sys

import pytest

import layers
import spans

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_json_matches_layers():
    b = _bench()
    assert [w["name"] for w in b["workloads"]] == list(layers.WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"], m["bound"]) for m in b["end_to_end"]} == layers.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == layers.PER_LAYER


def test_every_span_feeds_a_listed_metric():
    names = {m["name"] for m in _bench()["per_layer"]}
    for span, metrics in layers.SPAN_METRICS.items():
        assert set(metrics) <= names, span
    for span in layers.MEDALLION_STAGE_OF_SPAN:
        assert layers.span_key(span) in layers.SPAN_METRICS


class _FakeTracer:
    def __init__(self, spans_):
        self.spans = spans_

    def descendants(self, sid):
        out, todo = [], [sid]
        while todo:
            sid = todo.pop()
            kids = [s for s in self.spans if s["parent"] == sid]
            out += kids
            todo += [k["id"] for k in kids]
        return out


def _span(i, name, parent, start, end):
    return {"id": i, "name": name, "parent": parent, "start": start, "end": end,
            "group": f"g{i}", "jobs": 1, "stages": 1, "tasks": 2, "single_task_stages": 0}


@pytest.mark.parametrize("workload", layers.WORKLOADS)
def test_per_layer_emits_exactly_the_listed_names(workload):
    tr = _FakeTracer([
        _span(1, f"{workload}.unit", None, 0.0, 10.0),
        _span(2, "write_partition:gold/ml/item_similarity", 1, 1.0, 2.0),
        _span(3, "prepare_corpus", 1, 2.0, 5.0),
        _span(4, "connected_components", 3, 3.0, 4.0),
    ])
    events = {"g2": {"shuffle_write_bytes": 10, "spill_bytes": 0, "gc_s": 0.1,
                     "executor_run_s": 1.0, "stage_tasks": {5: [10, 20, 30]}}}
    out = layers.per_layer(workload, tr, [tr.spans[0]], events, {"session.start_s": 5.0})
    assert set(out) == {m["name"] for m in _bench()["per_layer"]}
    assert out["session.start_s"] == 5.0
    assert out[f"{workload}.shuffle_write_bytes"] == 10
    if workload == "medallion_daily":
        assert out["medallion.train.s"] == 1.0
        assert out["medallion.train.shuffle_write_bytes"] == 10
    if workload == "corpus_dedup":
        assert out["corpus.quality_rank.s"] == 1.0 and out["corpus.cc.jobs"] == 1


def test_self_time_subtracts_covered_children():
    parent = {"start": 0.0, "end": 10.0}
    kids = [{"start": 1.0, "end": 3.0}, {"start": 2.0, "end": 4.0}, {"start": 8.0, "end": 12.0}]
    assert spans.self_time(parent, kids) == pytest.approx(10.0 - 3.0 - 2.0)


def test_task_skew_is_weighted_max_over_median():
    ev = {"g": {"shuffle_write_bytes": 0, "spill_bytes": 0, "gc_s": 0.0, "executor_run_s": 0.0,
                "stage_tasks": {1: [10, 10, 40], 2: [5]}}}
    assert spans.merge_groups(ev, ["g"])["task_skew"] == pytest.approx(4.0)


def _events():
    def props(g):
        return {spans.GROUP_KEY: g} if g else {}

    def job(g):
        return {"Event": "SparkListenerJobStart", "Properties": props(g)}

    def stage(sid, g, n):
        return {"Event": "SparkListenerStageSubmitted", "Properties": props(g),
                "Stage Info": {"Stage ID": sid, "Number of Tasks": n}}

    def task(sid, ok=True):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": sid,
                "Task End Reason": {"Reason": "Success" if ok else "ExceptionFailure"},
                "Task Metrics": {"Executor Run Time": 10, "JVM GC Time": 1000,
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": 5}}}

    return [
        job("a"), stage(1, "a", 2), task(1), task(1, ok=False), task(1),
        stage(2, "a", 1), task(2),
        job("a"),  # its only stage is skipped: never submitted
        job("b"), stage(3, "b", 1), task(3),
        job(None), stage(4, None, 1), task(4),  # outside any span
        stage(1, "a", 2),  # a retried attempt of stage 1
    ]


def test_eventlog_counts_jobs_stages_tasks_per_group(tmp_path):
    with open(tmp_path / "app-1", "w") as fh:
        fh.writelines(json.dumps(e) + "\n" for e in _events())
    ev = spans.eventlog_by_group(str(tmp_path))
    assert set(ev) == {"a", "b"}
    a = ev["a"]
    assert (a["jobs"], a["stages"], a["tasks"], a["single_task_stages"]) == (2, 2, 3, 1)
    assert a["shuffle_write_bytes"] == 20 and a["gc_s"] == pytest.approx(4.0)
    s = [{"group": "a"}, {"group": "b"}, {"group": "c"}]
    spans.attach_counts(s, ev)
    assert [x["jobs"] for x in s] == [2, 1, 0] and s[1]["tasks"] == 1


@pytest.mark.skipif(not os.environ.get("PERFBENCH_E2E"), reason="starts Spark; set PERFBENCH_E2E=1")
@pytest.mark.parametrize("workload", layers.WORKLOADS)
def test_traced_run_emits_listed_names(workload):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    lines = p.stdout.strip().splitlines()
    res, run = json.loads(lines[-1]), json.loads(lines[-2])["run"]
    assert res["correct"] and res["failed"] == 0
    assert set(res["metrics"]) == {m["name"] for m in _bench()["per_layer"]}
    assert run["span_names"] and not run["unmapped_spans"]
