"""Spans around calls into the engine, for the traced run only.

A span is (id, name, parent, start, end). Each span tags the Spark jobs
it triggers with its own job group. After the session stops, the Spark
event log is complete, and :func:`eventlog_by_group` reads from it the
jobs, stages, tasks and task metrics of each group;
:func:`attach_counts` copies the counts onto the spans.
Wrappers patch the module attributes the pipelines call through and
are removed again by :meth:`Tracer.unpatch`; untraced runs never
install them.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import statistics
import time

GROUP_KEY = "spark.jobGroup.id"


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._ids = itertools.count(1)
        self._patches: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        group = f"perfbench-span-{sid}"
        prev = self.sc.getLocalProperty(GROUP_KEY)
        self.sc.setLocalProperty(GROUP_KEY, group)
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(GROUP_KEY, prev)
            self.spans.append({
                "id": sid, "name": name, "parent": parent,
                "start": start, "end": end, "group": group,
            })

    def wrap(self, owner, attr: str, name) -> None:
        """Replace ``owner.attr`` with a spanned call. ``name`` is a
        string or a function of the call's (args, kwargs)."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            n = name(args, kwargs) if callable(name) else name
            with self.span(n):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def unpatch(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def descendants(self, sid: int) -> list[dict]:
        out, todo = [], [sid]
        while todo:
            kids = self.children(todo.pop())
            out.extend(kids)
            todo.extend(k["id"] for k in kids)
        return out


def duration(s: dict) -> float:
    return s["end"] - s["start"]


def self_time(span: dict, children: list[dict]) -> float:
    """Span duration minus the part of it its children cover."""
    ivs = sorted((c["start"], c["end"]) for c in children)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        s, e = max(s, span["start"]), min(e, span["end"])
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return duration(span) - covered


def _new_group() -> dict:
    return {
        "jobs": 0, "stages": 0, "tasks": 0, "single_task_stages": 0,
        "shuffle_write_bytes": 0, "spill_bytes": 0,
        "gc_s": 0.0, "executor_run_s": 0.0, "stage_tasks": {},
    }


def eventlog_by_group(log_dir: str) -> dict[str, dict]:
    """Jobs, stages, tasks and task metrics from a Spark JSON event log,
    summed per job group.

    Jobs and submitted stages are attributed to the job group in their
    properties; a stage whose shuffle output was reused is never
    submitted, so it is not counted. Tasks are the successful task ends
    of those stages. Returns group -> {jobs, stages, tasks,
    single_task_stages, shuffle_write_bytes, spill_bytes, gc_s,
    executor_run_s, stage_tasks: {stage_id: [task run ms, ...]}}."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}
    files = sorted(
        os.path.join(d, f)
        for d, _, fs in os.walk(log_dir)
        for f in fs
        if not f.startswith(".")
    )
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                g = (ev.get("Properties") or {}).get(GROUP_KEY)
                if kind == "SparkListenerJobStart" and g:
                    out.setdefault(g, _new_group())["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted" and g:
                    info = ev["Stage Info"]
                    if info["Stage ID"] in stage_group:
                        continue  # a retried attempt
                    stage_group[info["Stage ID"]] = g
                    acc = out.setdefault(g, _new_group())
                    acc["stages"] += 1
                    acc["single_task_stages"] += info["Number of Tasks"] == 1
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"])
                    tm = ev.get("Task Metrics")
                    if g is None or not tm:
                        continue
                    acc = out[g]
                    acc["tasks"] += ev["Task End Reason"]["Reason"] == "Success"
                    sw = tm.get("Shuffle Write Metrics") or {}
                    acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    acc["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                        "Disk Bytes Spilled", 0
                    )
                    acc["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
                    run_ms = tm.get("Executor Run Time", 0)
                    acc["executor_run_s"] += run_ms / 1000.0
                    acc["stage_tasks"].setdefault(ev["Stage ID"], []).append(run_ms)
    return out


COUNT_KEYS = ("jobs", "stages", "tasks", "single_task_stages")


def attach_counts(span_list: list[dict], per_group: dict[str, dict]) -> None:
    """Copy each span's own job, stage and task counts (its children's
    jobs run under their own groups) from the event log onto the span."""
    for s in span_list:
        acc = per_group.get(s["group"], {})
        s.update({k: acc.get(k, 0) for k in COUNT_KEYS})


def merge_groups(per_group: dict[str, dict], groups) -> dict:
    """Sum the event-log metrics of ``groups``; task skew is the
    run-time-weighted mean over multi-task stages of max / median task
    run time."""
    tot = {"shuffle_write_bytes": 0, "spill_bytes": 0, "gc_s": 0.0, "executor_run_s": 0.0}
    num = den = 0.0
    for g in groups:
        acc = per_group.get(g)
        if acc is None:
            continue
        for k in tot:
            tot[k] += acc[k]
        for times in acc["stage_tasks"].values():
            med = statistics.median(times)
            if len(times) < 2 or med <= 0:
                continue
            w = sum(times)
            num += w * max(times) / med
            den += w
    tot["task_skew"] = num / den if den else 1.0
    return tot
