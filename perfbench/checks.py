"""Output checks, run outside the timed region.

Each check recomputes the expected answer independently of the code
path that was timed (DuckDB over the generated inputs, or a batch Spark
plan where the serving path is the single-user one) and returns a list
of problems; an empty list means the output is correct.
"""

from __future__ import annotations

import duckdb

KEPT_STATUSES = ("completed", "processing")


def connect() -> duckdb.DuckDBPyConnection:
    """In-memory DuckDB that never installs or loads an extension (the
    ones used here are built in), so it touches nothing outside the run."""
    con = duckdb.connect(config={
        "autoinstall_known_extensions": False,
        "autoload_known_extensions": False,
    })
    con.execute("SET TimeZone = 'UTC'")
    return con


def _rows(con, sql: str) -> list[tuple]:
    return sorted(con.execute(sql).fetchall())


# ---- medallion_daily -------------------------------------------------------

def medallion_expected(orders: str, labels: str, ds: str) -> dict:
    """Silver row count (extract input minus injected zero-quantity
    rows) and the two gold tables, recomputed from the inputs.
    Rounding follows Spark's ROUND on the shortest decimal form of a
    double (half-up), then exact decimal sums."""
    con = connect()
    status = ", ".join(f"'{s}'" for s in KEPT_STATUSES)
    con.execute(
        f"""CREATE VIEW o AS
        SELECT o.*, l.err_zero_qty
        FROM read_parquet('{orders}') o JOIN read_parquet('{labels}') l
          USING (order_id)
        WHERE CAST(o.order_date AS DATE) = DATE '{ds}'
          AND o.status IN ({status})"""
    )
    con.execute(
        """CREATE VIEW s AS
        SELECT *, ROUND(CAST(CAST(ABS(price) * quantity AS VARCHAR)
                             AS DECIMAL(38, 10)), 2) AS t
        FROM o WHERE order_id IS NOT NULL AND quantity > 0"""
    )
    n_in, n_err = con.execute(
        "SELECT COUNT(*), COUNT(*) FILTER (WHERE err_zero_qty) FROM o"
    ).fetchone()
    money = "CAST(ROUND(SUM(CAST(t AS DECIMAL(38, 6))), 2) AS DOUBLE)"
    return {
        "silver_rows": n_in - n_err,
        "daily_summary": _rows(
            con,
            f"""SELECT CAST(order_date AS DATE), COUNT(*), {money},
                       COUNT(DISTINCT customer_id) FROM s GROUP BY 1""",
        ),
        "category_performance": _rows(
            con,
            f"SELECT category, COUNT(DISTINCT order_id), {money} FROM s GROUP BY 1",
        ),
    }


def medallion_actual(lake: str, ds: str) -> dict:
    con = connect()

    def part(layer: str, entity: str) -> str:
        return f"read_parquet('{lake}/{layer}/{entity}/date={ds}/*.parquet')"

    return {
        "silver_rows": con.execute(
            f"SELECT COUNT(*) FROM {part('silver', 'orders')}"
        ).fetchone()[0],
        "daily_summary": _rows(
            con,
            "SELECT order_date, total_orders, total_revenue, unique_customers "
            f"FROM {part('gold', 'daily_summary')}",
        ),
        "category_performance": _rows(
            con,
            f"SELECT category, order_count, revenue FROM {part('gold', 'category_performance')}",
        ),
    }


def check_medallion(expected: dict, actual: dict) -> list[str]:
    return [
        f"{k}: expected {expected[k]!r:.200}, got {actual.get(k)!r:.200}"
        for k in expected
        if actual.get(k) != expected[k]
    ]


# ---- corpus_dedup ----------------------------------------------------------

def documents_conn(docs_path: str) -> duckdb.DuckDBPyConnection:
    """DuckDB with a ``documents`` view over the generated corpus, the
    table the registry's oracle SQL reads."""
    con = connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs_path}')")
    return con


def oracle_problems(result: dict) -> list[str]:
    """Problems in a ``tests.oracle_compare.compare`` result."""
    if not result["cols_match"]:
        return [f"columns {result['spark_cols']} != oracle {result['oracle_cols']}"]
    if not result["rows_match"]:
        return [f"{result['spark_rows']} rows, oracle has {result['oracle_rows']}"]
    if not result["values_match"]:
        return [f"values differ, first {result.get('first_diffs')!r:.300}"]
    return []


def check_fingerprint(want: dict, got: dict) -> list[str]:
    return [] if got == want else [f"fingerprint {got} != checked run's {want}"]


# ---- serving ---------------------------------------------------------------

def similar_expected(sim_dir: str, items: list[str], top_n: int = 10) -> dict:
    con = connect()
    con.execute(
        f"""CREATE VIEW u AS SELECT item_a, item_b, cosine_sim
        FROM read_parquet('{sim_dir}/*/*.parquet')"""
    )
    con.execute("CREATE TABLE want (item VARCHAR)")
    con.executemany("INSERT INTO want VALUES (?)", [(i,) for i in items])
    rows = con.execute(
        f"""WITH s AS (
          SELECT item_a, item_b, cosine_sim FROM u
          UNION ALL SELECT item_b, item_a, cosine_sim FROM u
        )
        SELECT item_a, item_b, cosine_sim FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY item_a
                    ORDER BY cosine_sim DESC, item_b ASC) AS rn
          FROM s WHERE cosine_sim > 0 AND item_a IN (SELECT item FROM want))
        WHERE rn <= {top_n} ORDER BY item_a, rn"""
    ).fetchall()
    out = {i: [] for i in items}
    for a, b, c in rows:
        out[a].append((b, c))
    return out


def recommend_expected(rows) -> dict:
    """Batch ``cf.recommend`` rows (user, item, score, rank) -> per user
    answer list in rank order."""
    out: dict = {}
    for u, item, score, rank in sorted(rows, key=lambda r: (r[0], r[3])):
        out.setdefault(u, []).append((item, score, rank))
    return out


def check_answer(kind: str, key: str, answer: list[dict], expected: dict) -> list[str]:
    if kind == "recommend":
        got = [(a["item"], a["score"], a["rank"]) for a in answer]
    else:
        got = [(a["item"], a["similarity"]) for a in answer]
    want = expected[kind].get(key, [])
    return [] if got == want else [f"{kind}({key}): {got!r:.200} != {want!r:.200}"]
