#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload medallion_daily --seed 1 --seconds 12 --trace 0

Run from the repository root. Generates the workload's inputs from
``--seed``, starts one local Spark session, warms up, then runs a fixed
number of timed units (more if ``--seconds`` has not yet passed) and
checks every output. The last stdout line is the result JSON; the line
before it records the run's settings. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` wraps the engine's layer entry points
in spans on the middle two of four units, writes a Spark event log, and
reports the per-layer metrics instead.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
SHUFFLE_PARTITIONS = 8
GENERATIONS = 3
# The cold first unit takes about twice a warm one and the next is
# still 10-30% slower than later ones, so both run in setup. The
# figures then come from a fixed number of units at fixed positions,
# whatever the machine's speed: ``--seconds`` is only a lower bound on
# the loop, and units run past the first ``units`` are checked but not
# timed. A traced run alternates untraced and traced units so that both
# medians of the overhead ratio sit at matched positions.
WARM_UNITS = 1
TIMED_UNITS = 2
TRACE_PATTERN = ("plain", "traced", "traced", "plain")
DRIVER_MEMORY_MB = 3072


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return DRIVER_MEMORY_MB * 2


def _hwm_mb(pid) -> float:
    """Peak resident set size of a process, from /proc."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def set_environment() -> dict:
    """Pin everything the run depends on; returns it for the record.
    All scratch space lives in perfbench/.work, wiped per run."""
    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    cpus = len(os.sched_getaffinity(0))
    mem = min(DRIVER_MEMORY_MB, _mem_total_mb() // 2)
    unset = [
        k for k in ("SPARK_GRAFT_MATERIALIZE", "SPARK_GRAFT_CHECKPOINT_DIR")
        if os.environ.pop(k, None) is not None
    ]
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"),
        SPARK_DRIVER_MEMORY=f"{mem}m",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    tempfile.tempdir = tmp
    return {
        "master": f"local[{cpus}]",
        "cpus": cpus,
        "shuffle_partitions": SHUFFLE_PARTITIONS,
        "driver_memory": f"{mem}m",
        "mem_total_mb": _mem_total_mb(),
        "unset_env": unset,
        "load1_start": os.getloadavg()[0],
    }


def start_spark(settings: dict, workload: str, trace: bool):
    from data_pipeline_mlops_spark.session import get_spark

    tmp = os.environ["TMPDIR"]
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        log_dir = os.path.join(WORK, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(
        app_name=f"perfbench-{workload}",
        cpus=settings["cpus"],
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def timed_loop(wl, seconds: float, units: int, tracer=None) -> tuple[list[float], list[bool], int]:
    """Run at least ``units`` units, and more until ``seconds`` have
    passed. With a tracer, the units that ``TRACE_PATTERN`` marks
    "traced" run with its wrappers installed. Returns (unit seconds,
    traced flags, failed units)."""
    times, traced, failed = [], [], 0
    end = time.perf_counter() + seconds
    while len(times) < units or time.perf_counter() < end:
        k = len(times)
        on = tracer is not None and k < len(TRACE_PATTERN) and TRACE_PATTERN[k] == "traced"
        if on:
            wl.install(tracer)
        try:
            dt, problems = wl.unit(tracer if on else None)
        except Exception as exc:  # noqa: BLE001 -- a failing unit is a result
            dt, problems = float("nan"), [f"{type(exc).__name__}: {exc}"]
        finally:
            if on:
                tracer.unpatch()
        times.append(dt)
        traced.append(on)
        if problems:
            failed += 1
            print(f"perfbench: failed unit: {problems[0]}", file=sys.stderr)
    return times, traced, failed


def _median(xs: list[float]) -> float:
    """Median over the units that completed (a raising unit records NaN)."""
    return statistics.median([x for x in xs if x == x] or [float("nan")])


def main(argv=None) -> int:
    from layers import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    settings = set_environment()
    sys.path.insert(0, ROOT)
    try:
        import data_pipeline_mlops_spark as engine
    except ImportError as exc:
        shutil.rmtree(WORK, ignore_errors=True)
        print(f"perfbench: engine package not importable: {exc}", file=sys.stderr)
        return 2
    if not os.path.abspath(engine.__file__).startswith(ROOT + os.sep):
        shutil.rmtree(WORK, ignore_errors=True)
        print(f"perfbench: engine imported from outside {ROOT}", file=sys.stderr)
        return 2

    import layers
    import spans
    from workloads import WORKLOAD_CLASSES

    t0 = time.perf_counter()
    spark = start_spark(settings, args.workload, bool(args.trace))
    session_s = time.perf_counter() - t0
    jvm_pid = spark.sparkContext._gateway.proc.pid
    try:
        wl = WORKLOAD_CLASSES[args.workload](spark, args.seed, WORK)
        gens = []
        for _ in range(GENERATIONS):
            t0 = time.perf_counter()
            wl.generate()
            gens.append(time.perf_counter() - t0)
        generate_s = statistics.median(gens)
        warm = [wl.prepare()]
        problems = [wl.warm_problems]
        for _ in range(WARM_UNITS):
            dt, p = wl.unit(None)
            warm.append(dt)
            problems.append(p)
        setup_s = session_s + generate_s + sum(warm)
        for p in [p for ps in problems for p in ps][:3]:
            print(f"perfbench: failed check in setup: {p}", file=sys.stderr)

        extra_attempted = extra_failed = 0
        tracer = spans.Tracer(spark) if args.trace else None
        units = len(TRACE_PATTERN) if args.trace else TIMED_UNITS
        times, traced, n_failed = timed_loop(wl, args.seconds, units, tracer)
        if args.trace:
            extra_attempted, extra_failed = wl.after_trace(tracer)
        rss_mb = _hwm_mb(jvm_pid) + _hwm_mb("self")
        attempted = len(warm) + len(times) + extra_attempted
        failed = sum(map(bool, problems)) + n_failed + extra_failed
    finally:
        stop_spark(spark)

    if not args.trace:
        e2e = {"setup_s": setup_s, "run_s_p50": _median(times[:units])}
        metrics = {
            k: {"value": v, "unit": layers.END_TO_END[k][0]} for k, v in e2e.items()
        }
    else:
        events = spans.eventlog_by_group(os.path.join(WORK, "eventlog"))
        spans.attach_counts(tracer.spans, events)
        roots = [s for s in tracer.spans if s["parent"] is None]
        by_kind = {}
        for t, kind in zip(times, TRACE_PATTERN):
            by_kind.setdefault(kind, []).append(t)
        extra = {
            "session.start_s": session_s,
            "input.generate_s": generate_s,
            "trace.overhead_ratio": _median(by_kind["traced"]) / _median(by_kind["plain"]),
            "rss_peak_mb": rss_mb,
            **wl.extra(),
        }
        values = layers.per_layer(args.workload, tracer, roots, events, extra)
        metrics = {
            k: {"value": v, "unit": layers.PER_LAYER[k]} for k, v in values.items()
        }
        names = sorted({s["name"] for s in tracer.spans})
        self_s = {}
        for s in tracer.spans:
            self_s.setdefault(s["name"], []).append(
                spans.self_time(s, tracer.children(s["id"]))
            )
        settings.update(
            span_names=names,
            unmapped_spans=[n for n in names if layers.span_key(n) not in layers.SPAN_METRICS],
            span_self_s_p50={n: statistics.median(v) for n, v in self_s.items()},
        )
    settings.update(
        load1_end=os.getloadavg()[0],
        workload=args.workload,
        seed=args.seed,
        seconds=args.seconds,
        trace=args.trace,
        units=len(times),
        unit_seconds=[round(t, 4) for t in times][:400],
        traced_units=[i for i, on in enumerate(traced) if on],
        setup={"session_s": session_s, "generate_s": gens, "warm_s": warm},
        wall_s=time.perf_counter() - T_START,
    )
    print(json.dumps({"run": settings}))
    shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
