"""The benchmark workloads. Each one exposes:

- ``generate()``: write the seeded inputs (repeatable, timed by run.py);
- ``prepare()``: expected answers and the cold first unit; returns
  the seconds of engine work in it (the checks' own work is left out),
  which count towards setup time, and leaves the cold unit's problems
  in ``warm_problems``;
- ``unit(tracer)``: one timed operation, returning (seconds, problems);
  the check runs after the clock stops; ``tracer`` is set on traced
  units only;
- ``install(tracer)``: the wrappers for one traced unit (run.py
  removes them after it);
- ``after_trace(tracer)``: traced-run-only extra work, returning
  (operations attempted, failed).
"""

from __future__ import annotations

import contextlib
import glob
import os
import shutil
import statistics
import sys
import time

from pyspark.sql import Observation
from pyspark.sql import functions as F

import checks
import gen

DS = "2024-03-01"
# Input sizes (measured reasons in README.md, "Input sizes"): about 6k
# orders on the extracted day, 40x the reference's 150/day, over 2x its
# customers and 5x its catalog, so the day's item pairs are ~6% dense.
# At this size a medallion unit is bound by its 56 Spark jobs, not by
# rows; larger volumes did not fit the run budget. The corpus is about
# 1.2k documents: corpus_dedup is meant to be job-count bound.
ORDERS = dict(ds=DS, n_orders=12_000, n_customers=1_000, n_products=500)
CORPUS = dict(n_base=600, replicas=2)
TOP_N = 10


def release(spark) -> None:
    """Drop cached relations and persistent RDDs (lazy local
    checkpoints) left by the previous unit, so units do not crowd the
    storage pool for later ones."""
    spark.catalog.clearCache()
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().values().iterator()
    while it.hasNext():
        it.next().unpersist(True)


def dir_stats(root: str) -> tuple[int, int]:
    """(bytes, files) of the data files under ``root``; Hadoop's
    _SUCCESS markers and .crc side files are not counted."""
    size = files = 0
    for d, _, fs in os.walk(root):
        for f in fs:
            if f.startswith(("_", ".")):
                continue
            size += os.path.getsize(os.path.join(d, f))
            files += 1
    return size, files


def _span(tracer, name):
    return tracer.span(name) if tracer else contextlib.nullcontext()


class Medallion:
    """One unit = ``plans.medallion.run_daily`` for one date into a
    fresh lake directory: 8 partitions written, CF trained, evaluated."""

    name = "medallion_daily"

    def __init__(self, spark, seed: int, work: str):
        self.spark, self.seed, self.work = spark, seed, work
        self.inp = os.path.join(work, "input")
        os.makedirs(self.inp, exist_ok=True)
        self.n, self.lake = 0, ""
        self.lake_stats: list[tuple[int, int]] = []
        self.probe = None

    def generate(self) -> None:
        self.orders, self.labels = gen.write_orders(self.inp, self.seed, **ORDERS)

    def prepare(self) -> float:
        self.expected = checks.medallion_expected(self.orders, self.labels, DS)
        warm_s, self.warm_problems = self.unit(None)
        return warm_s

    def unit(self, tracer):
        from data_pipeline_mlops_spark.plans import medallion

        shutil.rmtree(self.lake, ignore_errors=True)
        self.lake = os.path.join(self.work, f"lake{self.n}")
        lake = self.lake
        self.n += 1
        release(self.spark)
        t0 = time.perf_counter()
        with _span(tracer, "medallion_daily.unit"):
            medallion.run_daily(
                self.spark,
                self.spark.read.parquet(self.orders),
                medallion.MedallionConfig(base=lake, ds=DS),
            )
        dt = time.perf_counter() - t0
        problems = checks.check_medallion(
            self.expected, checks.medallion_actual(lake, DS)
        )
        if tracer:
            self.lake_stats.append(dir_stats(lake))
        return dt, problems

    def install(self, tracer) -> None:
        from data_pipeline_mlops_spark.plans import medallion
        from data_pipeline_mlops_spark.sources import medallion as lake

        def target(verb):
            return lambda a, kw: f"{verb}:{kw['layer']}/{kw['entity']}"

        tracer.wrap(lake, "write_partition", target("write_partition"))
        tracer.wrap(lake, "read_entity", target("read_entity"))
        tracer.wrap(medallion, "evaluate_model", "evaluate_model")

    def after_trace(self, tracer) -> tuple[int, int]:
        """Serve the model the last unit trained."""
        self.probe = ServeProbe(self.spark, self.seed, self.orders, self.lake)
        return self.probe.run(tracer)

    def extra(self) -> dict:
        in_bytes = os.path.getsize(self.orders)
        out = {
            "medallion.lake_bytes_per_input_byte": statistics.median(
                b / in_bytes for b, _ in self.lake_stats
            ),
            "medallion.lake_files": statistics.median(f for _, f in self.lake_stats),
        }
        if self.probe is not None:
            out["serve.load_s"] = self.probe.load_s
        return out


def _fingerprint_cols(df):
    return (
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.xxhash64(*df.columns).bitwiseAND(F.lit(0xFFFFFFFF))).alias("hash"),
    )


class Corpus:
    """One unit = the registry's ``corpus_pipeline`` then
    ``incremental_dedup_decisions``, each forced with a noop write. The
    cold first unit is collected and compared with the registry's
    DuckDB oracles; every timed unit must reproduce its row count and
    order-free row hash (observed on the noop write). The oracles run
    once per process: at this corpus size each takes seconds."""

    name = "corpus_dedup"
    QUERIES = ("corpus_pipeline", "incremental_dedup_decisions")
    SPAN = {"corpus_pipeline": "corpus_pipeline", "incremental_dedup_decisions": "incremental_dedup"}

    def __init__(self, spark, seed: int, work: str):
        self.spark, self.seed, self.work = spark, seed, work
        self.inp = os.path.join(work, "input")
        os.makedirs(self.inp, exist_ok=True)
        self.index_bytes: list[int] = []

    def generate(self) -> None:
        self.docs = gen.write_corpus(self.inp, self.seed, **CORPUS)

    def _drop_indexes(self) -> int:
        """Size of, and then remove, the on-disk dedup indexes the
        incremental query leaves under the temp directory."""
        size = 0
        for d in glob.glob(os.path.join(os.environ["TMPDIR"], "dedup_idx_*")):
            size += dir_stats(d)[0]
            shutil.rmtree(d, ignore_errors=True)
        return size

    def prepare(self) -> float:
        from data_pipeline_mlops_spark.registry import QUERIES
        from tests.oracle_compare import compare

        self.fingerprint, self.warm_problems = {}, []
        con = checks.documents_conn(self.docs)
        release(self.spark)
        warm_s = 0.0
        for q in self.QUERIES:
            t0 = time.perf_counter()
            df = QUERIES[q].spark(self.spark, self.inp)
            obs = Observation()
            stamps = []  # the clock stops when compare() turns to DuckDB
            res = compare(
                df.observe(obs, *_fingerprint_cols(df)), con, QUERIES[q].oracle,
                pre_oracle=lambda: stamps.append(time.perf_counter()),
            )
            warm_s += stamps[0] - t0
            self.fingerprint[q] = obs.get
            self.warm_problems += [f"{q}: {p}" for p in checks.oracle_problems(res)]
        self._drop_indexes()
        return warm_s

    def unit(self, tracer):
        from data_pipeline_mlops_spark.registry import QUERIES

        release(self.spark)
        obs = {}
        t0 = time.perf_counter()
        with _span(tracer, "corpus_dedup.unit"):
            for q in self.QUERIES:
                with _span(tracer, f"{self.SPAN[q]}.build"):
                    df = QUERIES[q].spark(self.spark, self.inp)
                obs[q] = Observation()
                with _span(tracer, f"{self.SPAN[q]}.write"):
                    df.observe(obs[q], *_fingerprint_cols(df)).write.format(
                        "noop"
                    ).mode("overwrite").save()
        dt = time.perf_counter() - t0
        problems = []
        for q in self.QUERIES:
            problems += [
                f"{q}: {p}" for p in checks.check_fingerprint(self.fingerprint[q], obs[q].get)
            ]
        index_bytes = self._drop_indexes()
        if tracer:
            self.index_bytes.append(index_bytes)
        return dt, problems

    def after_trace(self, tracer) -> tuple[int, int]:
        return 0, 0

    def install(self, tracer) -> None:
        from data_pipeline_mlops_spark.plans import corpus
        from data_pipeline_mlops_spark.streaming import dedup_stream

        for attr in (
            "prepare_corpus", "materialize", "skewfree_rank",
            "connected_components", "pack_greedy",
        ):
            tracer.wrap(corpus, attr, attr)
        tracer.wrap(dedup_stream, "dedup_batch", "dedup_batch")

    def extra(self) -> dict:
        return {"dedup_stream.index_bytes": statistics.median(self.index_bytes)}


class ServeProbe:
    """Serving over the model a traced ``medallion_daily`` run just
    trained: load a ``Recommender`` (no cache adapter), warm up, then
    send a seeded closed-loop sequence of requests -- ``recommend(user)``
    mostly, every 5th ``similar(item)`` -- each checked against batch
    ``cf.recommend`` and a DuckDB top-n over the same model table.
    Measured in traced runs only (per-layer ``serve.*`` metrics): a
    fresh JVM's serving latency is still falling after the few dozen
    requests a run can afford, so it gives no steady end-to-end figure.
    """

    LOADS = 3
    WARM = 10
    REQUESTS = 30

    def __init__(self, spark, seed: int, orders: str, lake: str):
        self.spark, self.lake = spark, lake
        # requests come from customers with at least two orders that
        # reach silver on the day (so they almost surely have training
        # interactions) and ask about products sold that day
        con = checks.connect()
        silver = (
            f"SELECT * FROM read_parquet('{orders}') "
            f"WHERE CAST(order_date AS DATE) = DATE '{DS}' AND quantity > 0 "
            f"AND status IN {checks.KEPT_STATUSES}"
        )
        users = [r[0] for r in con.execute(
            f"SELECT customer_id FROM ({silver}) GROUP BY 1 HAVING COUNT(*) >= 2"
        ).fetchall()]
        items = [r[0] for r in con.execute(
            f"SELECT DISTINCT product_name FROM ({silver})"
        ).fetchall()]
        self.requests = gen.requests(
            seed, users=users, items=items, n=self.WARM + self.REQUESTS
        )

    def load(self):
        from data_pipeline_mlops_spark.serve import Recommender

        rec = Recommender(
            self.spark,
            similarity_path=f"{self.lake}/gold/ml/item_similarity",
            interactions_path=f"{self.lake}/gold/ml/train",
            item_col="product_name",
        )
        rec.sim.count()
        rec.interactions.count()
        return rec

    def expected(self) -> dict:
        from data_pipeline_mlops_spark.ml import cf

        users = sorted({k for kind, k in self.requests if kind == "recommend"})
        items = sorted({k for kind, k in self.requests if kind == "similar"})
        batch = cf.recommend(
            self.rec.interactions.where(F.col("customer_id").isin(users)),
            self.rec.sim, user_col="customer_id", item_col="product_name",
            top_n=TOP_N,
        ).collect()
        return {
            "recommend": checks.recommend_expected([tuple(r) for r in batch]),
            "similar": checks.similar_expected(
                f"{self.lake}/gold/ml/item_similarity", items, TOP_N
            ),
        }

    def run(self, tracer) -> tuple[int, int]:
        """(requests attempted, requests failed); only the requests
        after the warm-up run under ``tracer``'s wrappers."""
        from data_pipeline_mlops_spark.serve import Recommender

        loads = []
        for _ in range(self.LOADS):
            release(self.spark)
            t0 = time.perf_counter()
            self.rec = self.load()
            loads.append(time.perf_counter() - t0)
        self.load_s = statistics.median(loads)
        want = self.expected()
        failed = 0
        for n, (kind, key) in enumerate(self.requests):
            if n == self.WARM:
                tracer.wrap(Recommender, "recommend", "Recommender.recommend")
                tracer.wrap(Recommender, "similar", "Recommender.similar")
            call = self.rec.recommend if kind == "recommend" else self.rec.similar
            problems = checks.check_answer(kind, key, call(key, top_n=TOP_N), want)
            if problems:
                failed += 1
                print(f"perfbench: failed request: {problems[0]}", file=sys.stderr)
        tracer.unpatch()
        return len(self.requests), failed


WORKLOAD_CLASSES = {c.name: c for c in (Medallion, Corpus)}
