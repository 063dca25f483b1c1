"""Planted violations: each check must flag a corrupted output, and a
flagged unit must count as a failed operation."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import checks
import gen
import run

DS = "2024-03-01"


@pytest.fixture(scope="module")
def orders(tmp_path_factory):
    d = tmp_path_factory.mktemp("in")
    return gen.write_orders(
        str(d), 11, ds=DS, n_orders=4_000, n_customers=300, n_products=200
    )


def _write_lake(root, silver_rows, daily, category):
    def put(layer, entity, table):
        d = os.path.join(root, layer, entity, f"date={DS}")
        os.makedirs(d, exist_ok=True)
        pq.write_table(table, os.path.join(d, "part-0.parquet"))

    put("silver", "orders", pa.table({"order_id": [f"o{i}" for i in range(silver_rows)]}))
    cols = list(zip(*daily))
    put("gold", "daily_summary", pa.table({
        "order_date": pa.array(cols[0], pa.date32()),
        "total_orders": pa.array(cols[1], pa.int64()),
        "total_revenue": cols[2],
        "unique_customers": pa.array(cols[3], pa.int64()),
    }))
    cols = list(zip(*category))
    put("gold", "category_performance", pa.table({
        "category": cols[0],
        "order_count": pa.array(cols[1], pa.int64()),
        "revenue": cols[2],
    }))


def test_medallion_expected_matches_labels(orders):
    exp = checks.medallion_expected(*orders, DS)
    assert exp["silver_rows"] == exp["daily_summary"][0][1]
    assert sum(r[1] for r in exp["category_performance"]) == exp["silver_rows"]


@pytest.mark.parametrize("corruption", ["none", "revenue", "silver", "category"])
def test_medallion_check_flags_corruption(orders, tmp_path, corruption):
    exp = checks.medallion_expected(*orders, DS)
    silver, daily, cat = exp["silver_rows"], list(exp["daily_summary"]), list(exp["category_performance"])
    if corruption == "revenue":
        d = daily[0]
        daily[0] = (d[0], d[1], d[2] + 0.01, d[3])
    elif corruption == "silver":
        silver -= 1
    elif corruption == "category":
        cat = cat[1:]
    _write_lake(str(tmp_path), silver, daily, cat)
    problems = checks.check_medallion(exp, checks.medallion_actual(str(tmp_path), DS))
    assert bool(problems) == (corruption != "none")


class _Frame:
    """Stands in for a Spark DataFrame in ``oracle_compare.compare``."""

    def __init__(self, columns, rows):
        self.columns, self.rows = columns, rows

    def collect(self):
        return self.rows


@pytest.mark.parametrize("corruption", ["none", "value", "row", "column"])
def test_oracle_check_flags_corruption(corruption):
    from tests.oracle_compare import compare

    con = checks.connect()
    oracle = "SELECT * FROM (VALUES (0, 1), (0, 2), (1, 3)) t(pack_bin, doc_id)"
    cols, rows = ["doc_id", "pack_bin"], [(1, 0), (2, 0), (3, 1)]
    if corruption == "value":
        rows = [(1, 0), (2, 1), (3, 1)]
    elif corruption == "row":
        rows = rows[:2]
    elif corruption == "column":
        cols = ["doc_id", "bin"]
    problems = checks.oracle_problems(compare(_Frame(cols, rows), con, oracle))
    assert bool(problems) == (corruption != "none")


def test_fingerprint_check_flags_mismatch():
    assert checks.check_fingerprint({"rows": 3, "hash": 9}, {"rows": 3, "hash": 9}) == []
    assert checks.check_fingerprint({"rows": 3, "hash": 9}, {"rows": 3, "hash": 8})


def test_serving_checks_flag_wrong_answers():
    expected = {
        "recommend": {"u1": [("p1", 0.5, 1), ("p2", 0.25, 2)]},
        "similar": {"p1": [("p3", 0.9)]},
    }
    ok = [{"item": "p1", "score": 0.5, "rank": 1}, {"item": "p2", "score": 0.25, "rank": 2}]
    assert checks.check_answer("recommend", "u1", ok, expected) == []
    bad = [dict(ok[0], score=0.5000001), ok[1]]
    assert checks.check_answer("recommend", "u1", bad, expected)
    assert checks.check_answer("recommend", "u1", ok[:1], expected)
    assert checks.check_answer("recommend", "u2", ok, expected)  # unknown user: no recs
    assert checks.check_answer("similar", "p1", [{"item": "p3", "similarity": 0.9}], expected) == []
    assert checks.check_answer("similar", "p1", [{"item": "p4", "similarity": 0.9}], expected)


def test_similar_expected_is_symmetric_top_n(tmp_path):
    d = tmp_path / "sim" / f"date={DS}"
    d.mkdir(parents=True)
    pq.write_table(pa.table({
        "item_a": ["a", "a", "b"], "item_b": ["b", "c", "c"],
        "cooccurrence": [1, 1, 1], "cosine_sim": [0.5, 0.7, 0.0],
    }), str(d / "p.parquet"))
    got = checks.similar_expected(str(tmp_path / "sim"), ["a", "b", "c"], top_n=1)
    assert got == {"a": [("c", 0.7)], "b": [("a", 0.5)], "c": [("a", 0.7)]}


class _Fake:
    def __init__(self, outcomes):
        self.outcomes = list(outcomes)

    def unit(self, tracer):
        o = self.outcomes.pop(0) if self.outcomes else "ok"
        if o == "raise":
            raise RuntimeError("boom")
        return 0.001, ([] if o == "ok" else ["wrong output"])


def test_flagged_or_raising_unit_counts_as_failed():
    times, traced, failed = run.timed_loop(_Fake(["ok", "bad", "raise"]), 0.0, 1)
    assert (len(times), failed, traced) == (1, 0, [False])
    times, traced, failed = run.timed_loop(_Fake(["ok", "bad", "raise", "ok"]), 0.0, 4)
    assert failed == 2 and len(times) == 4


def test_seconds_only_extend_the_loop():
    times, _, _ = run.timed_loop(_Fake([]), 0.05, 2)
    assert len(times) > 2


class _Tracer:
    def __init__(self):
        self.installed = 0

    def unpatch(self):
        self.installed -= 1


def test_traced_units_follow_the_pattern_and_unpatch():
    wl, tr = _Fake(["ok", "ok", "raise", "ok", "ok"]), _Tracer()
    wl.install = lambda t: setattr(t, "installed", t.installed + 1)
    times, traced, failed = run.timed_loop(wl, 0.0, 5, tr)
    assert traced == [p == "traced" for p in run.TRACE_PATTERN] + [False]
    assert traced.count(True) == 2 and traced[0] is False
    assert failed == 1 and tr.installed == 0
