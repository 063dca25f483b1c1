"""Resumable full-registry oracle sweep: Spark vs DuckDB hash compare
of every oracled query, with a per-query checkpoint file so a killed
run resumes where it stopped instead of re-timing finished queries.

The pytest twin (tests/test_oracle_parity.py, marker ``oracle_sweep``)
runs the same compare but restarts from zero on every invocation —
at ~170 Spark queries that blows any single time cap when run together
with the rest of the suite. This runner is the operational path:

    python scripts/oracle_sweep.py                 # sf0.001, resume
    python scripts/oracle_sweep.py --fresh         # ignore checkpoint
    python scripts/oracle_sweep.py --sf /root/testdata/sf0.01
    python scripts/oracle_sweep.py --only q1,q2    # subset

Checkpoint: ``/tmp/oracle_sweep_<sf-tag>.json`` — {query: result}.
A query re-runs only when its recorded result was not green. Exit 0
iff every oracled query is green in the (merged) checkpoint.

The fast suite is everything else:  pytest -m "not oracle_sweep" -q
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("--fresh", action="store_true")
    ap.add_argument("--only", default=None, help="comma-separated names")
    ap.add_argument("--checkpoint", default=None)
    ap.add_argument(
        "--oracle-timeout",
        type=float,
        default=0.0,
        help="seconds before the DuckDB leg of a compare is interrupted "
        "and recorded as error=oracle_timeout (0 = no cap). Discovery "
        "tool for superlinear oracle replays at big SFs.",
    )
    args = ap.parse_args()

    tag = os.path.basename(args.sf.rstrip("/"))
    ckpt_path = args.checkpoint or f"/tmp/oracle_sweep_{tag}.json"
    done: dict[str, dict] = {}
    if not args.fresh and os.path.exists(ckpt_path):
        with open(ckpt_path) as fh:
            done = json.load(fh)

    from data_pipeline_mlops_spark.materialize import release_storage
    from data_pipeline_mlops_spark.registry import QUERIES
    from data_pipeline_mlops_spark.session import get_spark
    from tests.oracle_compare import compare, duckdb_conn

    names = [n for n, s in QUERIES.items() if s.oracle is not None]
    if args.only:
        wanted = {w.strip() for w in args.only.split(",") if w.strip()}
        unknown = wanted - set(names)
        if unknown:
            sys.exit(f"unknown/unoracled queries: {sorted(unknown)}")
        names = [n for n in names if n in wanted]

    def green(r: dict) -> bool:
        return bool(
            r.get("cols_match") and r.get("rows_match") and r.get("values_match")
        )

    todo = [n for n in names if not green(done.get(n, {}))]
    print(
        f"# sweep: {len(names)} queries, {len(names) - len(todo)} already "
        f"green in {ckpt_path}, {len(todo)} to run",
        file=sys.stderr,
    )
    if todo:
        import threading

        spark = get_spark(app_name="oracle-sweep")
        con = duckdb_conn(args.sf)

        for i, name in enumerate(todo):
            # lazy localCheckpoints accumulate across ~200 sequential
            # compares and crowd the executor storage pool (measured
            # recommendations 86 s in-sweep vs 8 s isolated at sf0.1);
            # no cross-query reuse exists here, so release per query
            release_storage(spark)
            t0 = time.time()
            timed_out = threading.Event()
            timers: list[threading.Timer] = []

            # armed via compare(pre_oracle=...) AFTER the Spark
            # collect, so the timeout measures the DuckDB leg only
            # (ADVICE r11: the old whole-compare timer mislabeled
            # slow Spark collects as oracle_timeout)
            def _arm(c=con, ev=timed_out, box=timers):
                if args.oracle_timeout > 0:

                    def _interrupt():
                        ev.set()
                        c.interrupt()

                    t = threading.Timer(args.oracle_timeout, _interrupt)
                    t.start()
                    box.append(t)

            try:
                r = compare(
                    QUERIES[name].spark(spark, args.sf),
                    con,
                    QUERIES[name].oracle,
                    pre_oracle=_arm,
                )
            except Exception as exc:  # noqa: BLE001 — record, keep going
                if timed_out.is_set():
                    r = {"error": "oracle_timeout"}
                else:
                    r = {"error": f"{type(exc).__name__}: {exc}"[:300]}
            finally:
                for t in timers:
                    t.cancel()
                if timed_out.is_set():
                    # the interrupt may have landed while the replay
                    # was already done (or never started) — a stale
                    # interrupt flag would cancel the NEXT execute,
                    # so recycle the connection
                    try:
                        con.close()
                    except Exception:  # noqa: BLE001
                        pass
                    con = duckdb_conn(args.sf)
            r["elapsed_s"] = round(time.time() - t0, 2)
            done[name] = r
            # checkpoint after EVERY query so a kill loses at most one
            tmp = ckpt_path + ".tmp"
            with open(tmp, "w") as fh:
                json.dump(done, fh, indent=1)
            os.replace(tmp, ckpt_path)
            status = "ok" if green(r) else "FAIL"
            print(
                f"# [{i + 1}/{len(todo)}] {name}: {status} "
                f"({r['elapsed_s']}s)",
                file=sys.stderr,
            )

    failures = {
        n: {k: str(v)[:200] for k, v in done.get(n, {}).items()}
        for n in names
        if not green(done.get(n, {}))
    }
    print(
        json.dumps(
            {
                "sf": args.sf,
                "checked": len(names),
                "green": len(names) - len(failures),
                "failures": failures,
                "checkpoint": ckpt_path,
            }
        )
    )
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
