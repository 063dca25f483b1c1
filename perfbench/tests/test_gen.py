import hashlib
import os
import re

import numpy as np
import pyarrow.parquet as pq

import gen

ORDERS = dict(ds="2024-03-01", n_orders=20_000, n_customers=1_000, n_products=500)
CORPUS = dict(n_base=300, replicas=3)


def _digest(path):
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def _files(tmp_path, seed, name):
    d = tmp_path / f"{name}{seed}"
    d.mkdir()
    o, lab = gen.write_orders(str(d), seed, **ORDERS)
    c = gen.write_corpus(str(d), seed, **CORPUS)
    return [_digest(p) for p in (o, lab, c)]


def test_same_seed_gives_identical_bytes(tmp_path):
    assert _files(tmp_path, 7, "a") == _files(tmp_path, 7, "b")


def test_other_seed_gives_other_inputs(tmp_path):
    a, b = _files(tmp_path, 7, "a"), _files(tmp_path, 8, "b")
    assert all(x != y for x, y in zip(a, b))


def test_requests_are_seeded():
    kw = dict(users=[f"u{i}" for i in range(50)], items=[f"i{i}" for i in range(40)], n=500)
    assert gen.requests(1, **kw) == gen.requests(1, **kw)
    assert gen.requests(1, **kw) != gen.requests(2, **kw)
    kinds = [k for k, _ in gen.requests(1, **kw)]
    assert kinds.count("similar") == len(kinds) // 5


def test_orders_inject_reference_error_rates():
    t, lab = gen.orders(3, **ORDERS)
    n = t.num_rows
    for col, rate in gen.ERROR_RATES.items():
        assert abs(np.asarray(lab[col]).mean() - rate) < 0.4 * rate, col
    df = t.to_pandas()
    err = lab.to_pandas()
    assert ((df.price < 0) == err.err_neg_price).all()
    assert ((df.quantity == 0) == err.err_zero_qty).all()
    assert ((df.status == "") == err.err_empty_status).all()
    assert df.order_id.is_unique and n == ORDERS["n_orders"]


def test_product_popularity_is_zipf_skewed_and_sparse():
    df = gen.orders(3, **ORDERS)[0].to_pandas()
    counts = df.product_name.value_counts()
    assert counts.iloc[0] > 20 * counts.median()
    assert df.product_name.nunique() > 100  # not the dense 100-product catalog
    assert df.customer_id.nunique() > 500


def test_corpus_keeps_dup_clusters_and_disjoint_shingles():
    t = gen.corpus(5, **CORPUS)
    ids = t["doc_id"].to_pylist()
    texts = t["text"].to_pylist()
    assert len(set(ids)) == len(ids)
    by_text = set(texts)
    base = set(pq.read_table(gen.BASE_CORPUS)["text"].to_pylist())
    copies = 0
    for x in texts:  # every planted copy travels with its original
        plain = re.sub(r"\d+", "", x)
        if plain.endswith(" dup") and plain[:-4] in base:
            assert x.rsplit(" ", 1)[0] in by_text
            copies += 1
    assert copies > 0
    shingles = []
    for r in range(CORPUS["replicas"]):
        lo, hi = r * gen.DOC_ID_STRIDE, (r + 1) * gen.DOC_ID_STRIDE
        toks = [x.split(" ") for i, x in zip(ids, texts) if lo <= i < hi]
        shingles.append({" ".join(w[k:k + 3]) for w in toks for k in range(len(w) - 2)})
    for a in range(len(shingles)):
        for b in range(a + 1, len(shingles)):
            assert not shingles[a] & shingles[b]


def test_base_corpus_is_shipped():
    assert os.path.exists(gen.BASE_CORPUS)
    assert pq.read_metadata(gen.BASE_CORPUS).num_rows == 5000
