"""Plan-construction budget for the k-wide dedup builders.

Every ``pyspark.sql.functions`` call is a py4j round trip to the JVM
plus a Python call-site capture, so a builder that makes one ``Column``
per MinHash slot, band term or SimHash bit spends thousands of round
trips (0.1-1.3 ms each) before any Spark job runs. The builders in
functions/dedup_text.py build each k-wide expression as one SQL
string instead; this test fails if one of them goes back to a Column
per slot. It counts the round trips made while a plan is built, with
no action run."""

from __future__ import annotations

import contextlib
import threading

import pytest
from py4j.clientserver import ClientServerConnection

from data_pipeline_mlops_spark.functions import dedup_text


@contextlib.contextmanager
def _count_round_trips(monkeypatch):
    """Round trips sent from this thread. py4j releases the JVM objects
    of collected proxies from its own thread; those are not plan
    construction and are not counted."""
    calls = [0]
    send = ClientServerConnection.send_command
    me = threading.get_ident()

    def counting(self, command):
        if threading.get_ident() == me:
            calls[0] += 1
        return send(self, command)

    with monkeypatch.context() as m:
        m.setattr(ClientServerConnection, "send_command", counting)
        yield calls


@pytest.mark.parametrize("hash_method", ["xxhash64", "md5"])
def test_dedup_builders_stay_within_round_trip_budget(
    spark, monkeypatch, hash_method
):
    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat")], "doc_id long, text string"
    )
    sigs = dedup_text.minhash_signatures(
        docs, id_col="doc_id", hash_method=hash_method
    )
    budgets = {
        "minhash_signatures(64)": (
            lambda: dedup_text.minhash_signatures(
                docs, id_col="doc_id", num_hashes=64,
                hash_method=hash_method,
            ),
            500,
        ),
        "banded_signatures(16)": (
            lambda: dedup_text.banded_signatures(
                sigs, id_col="doc_id", bands=16, rows_per_band=4,
                hash_method=hash_method,
            ),
            50,
        ),
        "simhash": (
            lambda: dedup_text.simhash(
                docs, id_col="doc_id", hash_method=hash_method
            ),
            500,
        ),
    }
    over = {}
    for name, (build, budget) in budgets.items():
        with _count_round_trips(monkeypatch) as calls:
            build()
        if calls[0] > budget:
            over[name] = (calls[0], budget)
    assert not over, f"py4j round trips (count, budget): {over}"
