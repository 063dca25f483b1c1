"""Seeded input generators for the benchmark workloads.

Everything here is numpy + pyarrow only: the inputs must not change when
the engine under test changes, so no generator calls into
``data_pipeline_mlops_spark``. The same seed gives byte-identical parquet
files; a different seed gives different files.

- ``orders``: the reference's denormalized orders source (order_id,
  order_date, customer_id, product_name, category, price, quantity,
  total, status, payment_method, region) with its four data-quality
  error classes injected at its rates (2% negative price, 1% zero
  quantity, 1% empty status, 3% total != price * quantity). Product
  popularity is Zipf-skewed over a catalog wide enough that the item
  similarity model is sparse. Error labels go to a separate file that
  only the checks read.
- ``corpus``: a seeded, structure-preserving replica set of the sf0.1
  ``documents`` table shipped in ``data/``. Whole near-duplicate
  clusters are sampled (a planted " dup" copy always travels with its
  original), and every word of replica i carries a numeric tag, so the
  shingle spaces of different replicas are disjoint (the base
  vocabulary has no digits).
- ``requests``: the serving client's request sequence.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STATUSES = ["completed", "pending", "processing", "cancelled", "returned"]
PAYMENT_METHODS = ["credit_card", "debit_card", "paypal", "cash", "bank_transfer"]
REGIONS = ["North", "South", "Central", "East", "West"]
CATEGORIES = ["Electronics", "Clothing", "Books", "Home", "Sports", "Toys"]
ERROR_RATES = {
    "err_neg_price": 0.02,
    "err_zero_qty": 0.01,
    "err_empty_status": 0.01,
    "err_bad_total": 0.03,
}
BASE_CORPUS = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "data", "documents_sf0.1.parquet"
)
DOC_ID_STRIDE = 10_000  # base doc ids are < 5000


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="zstd")


def _zipf_probs(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return w / w.sum()


def orders(
    seed: int,
    *,
    ds: str,
    n_orders: int,
    n_customers: int,
    n_products: int,
    zipf_s: float = 1.1,
) -> tuple[pa.Table, pa.Table]:
    """(orders, labels). Orders span the day before ``ds`` and ``ds``
    itself, so the daily extract has a real date filter to apply."""
    rng = np.random.default_rng([seed, 1])
    day0 = np.datetime64(ds, "s") - np.timedelta64(1, "D")
    secs = rng.integers(0, 2 * 86400, n_orders)
    order_date = (day0 + secs.astype("timedelta64[s]")).astype("datetime64[us]")

    # Zipf popularity: rank r -> a seeded product id, so the head items
    # differ between seeds
    prod_of_rank = rng.permutation(n_products)
    product = prod_of_rank[
        rng.choice(n_products, size=n_orders, p=_zipf_probs(n_products, zipf_s))
    ]
    product_category = rng.integers(0, len(CATEGORIES), n_products)
    customer = rng.integers(0, n_customers, n_orders)

    price = np.round(10 + rng.random(n_orders) * 1990, 2)
    quantity = rng.integers(1, 11, n_orders).astype(np.int32)
    status = rng.integers(0, len(STATUSES), n_orders)
    pay = rng.integers(0, len(PAYMENT_METHODS), n_orders)
    region = rng.integers(0, len(REGIONS), n_orders)
    err = {k: rng.random(n_orders) < r for k, r in ERROR_RATES.items()}
    total_mul = 0.8 + 0.4 * rng.random(n_orders)

    price = np.where(err["err_neg_price"], -price, price)
    quantity = np.where(err["err_zero_qty"], 0, quantity).astype(np.int32)
    status_s = np.array(STATUSES, dtype=object)[status]
    status_s[err["err_empty_status"]] = ""
    total = np.round(price * quantity, 2)
    total = np.where(
        err["err_bad_total"], np.round(total * total_mul, 2), total
    )

    order_id = np.array([f"ORD{i + 1:08d}" for i in range(n_orders)], dtype=object)
    table = pa.table(
        {
            "order_id": order_id,
            "order_date": pa.array(order_date, pa.timestamp("us", tz="UTC")),
            "customer_id": [f"CUST{c:06d}" for c in customer],
            "product_name": [f"Product {p:05d}" for p in product],
            "category": np.array(CATEGORIES, dtype=object)[product_category[product]],
            "price": price,
            "quantity": quantity,
            "total": total,
            "status": status_s,
            "payment_method": np.array(PAYMENT_METHODS, dtype=object)[pay],
            "region": np.array(REGIONS, dtype=object)[region],
        }
    )
    labels = pa.table({"order_id": order_id, **err})
    return table, labels


def _cluster_roots(doc_id: np.ndarray, text: list[str]) -> np.ndarray:
    """Root id per doc: exact copies and planted '<text> dup' copies
    share the root of the text they copy."""
    first = {}
    for i, t in sorted(zip(doc_id.tolist(), text)):
        first.setdefault(t, i)
    roots = []
    for t in text:
        r = first[t]
        if t.endswith(" dup") and t[:-4] in first:
            r = first[t[:-4]]
        roots.append(r)
    return np.array(roots)


def corpus(seed: int, *, n_base: int, replicas: int) -> pa.Table:
    """``replicas`` tagged copies of a seeded cluster-closed sample of
    about ``n_base`` base documents."""
    base = pq.read_table(BASE_CORPUS).sort_by("doc_id")
    doc_id = base["doc_id"].to_numpy()
    text = base["text"].to_pylist()
    roots = _cluster_roots(doc_id, text)
    rng = np.random.default_rng([seed, 2])
    order = rng.permutation(np.unique(roots))
    sizes = {r: c for r, c in zip(*np.unique(roots, return_counts=True))}
    picked, n = set(), 0
    for r in order.tolist():
        if n >= n_base:
            break
        picked.add(r)
        n += sizes[r]
    keep = np.array([r in picked for r in roots.tolist()])
    sample = base.filter(pa.array(keep))
    tags = rng.choice(np.arange(100, 1000), size=replicas, replace=False)

    parts = []
    for i, tag in enumerate(tags.tolist()):
        suffix = str(tag)
        texts = [
            " ".join(w + suffix for w in t.split(" "))
            for t in sample["text"].to_pylist()
        ]
        parts.append(
            pa.table(
                {
                    "doc_id": pa.array(
                        sample["doc_id"].to_numpy() + i * DOC_ID_STRIDE,
                        pa.int64(),
                    ),
                    "text": texts,
                    "lang": sample["lang"],
                    "source": sample["source"],
                    "n_chars": pa.array([len(t) for t in texts], pa.int64()),
                }
            )
        )
    return pa.concat_tables(parts)


def requests(
    seed: int, *, users: list[str], items: list[str], n: int, pool: int = 200
) -> list[tuple[str, str]]:
    """Closed-loop request sequence of ("recommend", user) and
    ("similar", item). Keys come from seeded pools (uniform over users,
    Zipf over items) so answers can be checked from one batch run. Every
    5th request is a ``similar``: a fixed pattern keeps the mix of every
    prefix of the sequence the same whatever the seed."""
    rng = np.random.default_rng([seed, 3])
    upool = rng.choice(sorted(users), size=min(pool, len(users)), replace=False)
    ipool = rng.choice(sorted(items), size=min(pool // 4, len(items)), replace=False)
    u = rng.integers(0, len(upool), n)
    it = rng.choice(len(ipool), size=n, p=_zipf_probs(len(ipool), 1.0))
    return [
        ("similar", str(ipool[it[k]])) if k % 5 == 4 else ("recommend", str(upool[u[k]]))
        for k in range(n)
    ]


def write_orders(root: str, seed: int, **kw) -> tuple[str, str]:
    t, lab = orders(seed, **kw)
    o, lpath = os.path.join(root, "orders.parquet"), os.path.join(root, "labels.parquet")
    _write(t, o)
    _write(lab, lpath)
    return o, lpath


def write_corpus(root: str, seed: int, **kw) -> str:
    path = os.path.join(root, "documents.parquet")
    _write(corpus(seed, **kw), path)
    return path
