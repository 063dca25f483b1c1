"""Physical-plan regression guards: the scale properties claimed in
README/PLANS.md must survive refactors. A correctness-preserving change
that reintroduces a shuffle or breaks pushdown should fail HERE, not in
a 100 TB run."""

from __future__ import annotations

import re

from tests.conftest import SF_SMALL


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_top_products_uses_take_ordered(spark):
    from data_pipeline_mlops_spark.registry import QUERIES

    plan = _plan(QUERIES["top_products"].spark(spark, SF_SMALL))
    assert "TakeOrderedAndProject" in plan  # not a global sort


def test_silver_clean_pushes_filters_to_scan(spark):
    from data_pipeline_mlops_spark.registry import QUERIES

    plan = _plan(QUERIES["silver_clean"].spark(spark, SF_SMALL))
    # toString truncates long filter lists — match without closing bracket
    m = re.search(r"PushedFilters: \[([^\n]*)", plan)
    assert m and "IsNotNull" in m.group(1)  # P2 reached the scan
    assert "GreaterThan(l_quantity,0.0)" in m.group(1)  # P3 reached the scan


def test_regional_stats_broadcasts_dims(spark):
    from data_pipeline_mlops_spark.registry import QUERIES

    plan = _plan(QUERIES["regional_stats"].spark(spark, SF_SMALL))
    # nation + region (always) and customer (small at test SF) broadcast;
    # the fact side must not sort-merge against tiny dims
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_scans_prune_columns(spark):
    from data_pipeline_mlops_spark.registry import QUERIES

    plan = _plan(QUERIES["daily_summary"].spark(spark, SF_SMALL))
    m = re.search(r"FileScan parquet \[([^\]]*)\]", plan)
    assert m is not None
    cols = [c.split("#")[0] for c in m.group(1).split(",")]
    # only the three referenced columns are read, not all six
    assert sorted(cols) == ["o_custkey", "o_orderdate", "o_totalprice"]


def test_alert_rules_stay_whole_stage_codegen(spark):
    from data_pipeline_mlops_spark.registry import QUERIES

    plan = _plan(QUERIES["event_alerts"].spark(spark, SF_SMALL))
    # codegen'd operators carry the `*(n)` stage marker in toString
    assert re.search(r"\*\(\d+\) (Project|Filter)", plan)
    assert "BatchEvalPython" not in plan  # no Python in the hot path


def test_bucketed_order_revenue_zero_exchange(spark):
    """The bucketed fact-fact join + same-key aggregation must run with
    NO Exchange anywhere: the bucket partitioning (orderkey, 8 buckets)
    is reused by both the SortMergeJoin and the groupBy. Broadcast is
    disabled so bucket co-location — not a broadcast — is what removes
    the shuffle."""
    from data_pipeline_mlops_spark.registry import QUERIES

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = QUERIES["bucketed_order_revenue"].spark(spark, SF_SMALL)
        plan = _plan(df)
        assert "Exchange" not in plan
        assert "SortMergeJoin" in plan
        assert df.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        for t in list(spark.catalog.listTables()):
            if t.name.startswith("b_"):
                spark.sql(f"DROP TABLE IF EXISTS {t.name}")


def test_medallion_read_prunes_partitions(spark, tmp_path):
    """A ds-filtered read of a date-partitioned entity must prune at
    the source: the scan's PartitionFilters carries the ds predicate
    and only one partition directory is read."""
    from pyspark.sql import functions as F

    from data_pipeline_mlops_spark.sources.medallion import (
        read_entity,
        write_partition,
    )

    df = spark.range(100).select(
        "id",
        F.when(F.col("id") < 50, "2024-01-01")
        .otherwise("2024-01-02")
        .alias("date"),
    )
    for ds in ("2024-01-01", "2024-01-02"):
        write_partition(
            df.where(F.col("date") == ds),
            base=str(tmp_path), layer="silver", entity="orders",
        )
    pruned = read_entity(
        spark, base=str(tmp_path), layer="silver", entity="orders",
        ds="2024-01-01",
    )
    plan = _plan(pruned)
    m = re.search(r"PartitionFilters: \[([^\n]*)", plan)
    assert m and "2024-01-01" in m.group(1)
    assert pruned.count() == 50


def test_aqe_splits_skewed_join_partition(spark):
    """Runtime skew mitigation, demonstrated: a join where one key owns
    90% of the rows gets its oversized shuffle partition SPLIT by AQE
    (SortMergeJoin(skew=true) in the final adaptive plan) — the
    first-line defense operators/skew.py's salting backstops.
    Thresholds are lowered so the hot partition (a few MB) crosses
    them at test scale; at 100 TB the defaults play the same role."""
    from pyspark.sql import functions as F

    overrides = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
            "64KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        left = spark.range(120_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0))
            .otherwise(F.col("id"))
            .alias("k"),
            F.md5(F.col("id").cast("string")).alias("pay"),
        )
        right = spark.range(120_000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        joined = left.join(right, "k")
        assert len(joined.collect()) == 120_000  # executes THIS plan
        plan = _plan(joined)
        assert "isFinalPlan=true" in plan
        assert "SortMergeJoin(skew=true)" in plan
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_runtime_bloom_filter_prunes_fact_side(spark, tmp_path):
    """Runtime row-level filtering: a selective dim predicate induces a
    bloom_filter_agg on the dim side and a might_contain probe on the
    FACT scan side — rows that can't join die at the scan instead of
    crossing the shuffle (the 100 TB lever when broadcast is off the
    table). Thresholds lowered so injection triggers at test scale."""
    from pyspark.sql import functions as F

    overrides = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter"
        ".applicationSideScanSizeThreshold": "0",
    }
    prev = {k: spark.conf.get(k) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        fact_p, dim_p = str(tmp_path / "fact"), str(tmp_path / "dim")
        spark.range(200_000).select(
            F.col("id").alias("o_key"), (F.col("id") % 97).alias("o_attr")
        ).write.parquet(fact_p)
        spark.range(10_000).select(
            F.col("id").alias("d_key"), (F.col("id") % 13).alias("seg")
        ).write.parquet(dim_p)

        fact = spark.read.parquet(fact_p)
        dim = spark.read.parquet(dim_p).where(F.col("seg") == 3)
        joined = fact.join(dim, fact.o_key == dim.d_key)
        n = len(joined.collect())  # executes THIS plan
        assert n == sum(1 for i in range(10_000) if i % 13 == 3)
        plan = _plan(joined)
        assert "bloom_filter_agg" in plan
        assert "might_contain" in plan
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_bucketed_item_similarity_no_user_shuffle(spark):
    """The co-occurrence self-join over the customer-bucketed
    interactions table must not shuffle on the user key: bucket
    co-location replaces the Exchange that dominates the CF model
    build (later item-pair aggregations still shuffle — that's the
    algorithm, not the join)."""
    from data_pipeline_mlops_spark.registry import QUERIES

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = QUERIES["item_similarity_bucketed"].spark(spark, SF_SMALL)
        plan = _plan(df)
        assert "SortMergeJoin [__u" in plan
        # no hash-partitioning exchange on the user join key anywhere
        assert "Exchange hashpartitioning(__u" not in plan
        assert df.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bucketed_cache_adopts_foreign_location(spark):
    """Warehouse-dir race hardening (registry.q_item_similarity_bucketed):
    a COMPLETED bucketed build left by another session (location with
    _SUCCESS, absent from this session's catalog) is ADOPTED by
    registering an external bucketed table over the files — never
    rmtree'd out from under a concurrent reader; an INCOMPLETE foreign
    dir (no _SUCCESS — a crashed or in-flight writer) is left
    untouched and the build sidesteps to a process-unique name."""
    import hashlib
    import os
    import shutil
    from urllib.parse import urlparse

    from data_pipeline_mlops_spark.registry import QUERIES

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    key = os.path.basename(os.path.normpath(SF_SMALL)).replace(".", "_")
    mtime = int(
        os.path.getmtime(os.path.join(SF_SMALL, "lineitem.parquet"))
    )
    # same content key the registry builds: data identity (dir+mtime)
    # PLUS the bucket-spec/schema fingerprint (ADVICE r9 — a dir from
    # a revision with a different bucket count or column set must
    # miss, not be adopted with wrong bucket metadata)
    spec = (
        "customer_id:bigint,product_id:bigint|by=customer_id"
        "|n=8|sorted=customer_id"
    )
    fp = hashlib.md5(spec.encode()).hexdigest()[:8]
    tbl = f"b_inter_{key}_{mtime}_{fp}"
    # a different spec (e.g. 16 buckets) keys a DIFFERENT location
    other_fp = hashlib.md5(spec.replace("n=8", "n=16").encode()).hexdigest()[:8]
    assert other_fp != fp
    loc = os.path.join(wh, tbl)
    snap = loc + ".snap"
    side = f"{tbl}_p{os.getpid()}"

    # start clean — and force the baseline to be a fresh MANAGED
    # build: the warehouse dir persists across pytest sessions, so an
    # earlier run (or an earlier test in this module) may have left
    # the location adopted as an EXTERNAL table, whose DROP keeps the
    # files and would break the managed-drop step below
    shutil.rmtree(snap, ignore_errors=True)
    spark.sql(f"DROP TABLE IF EXISTS {side}")
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    shutil.rmtree(loc, ignore_errors=True)

    # baseline build (registers the table and writes the location)
    expected = sorted(
        map(tuple, QUERIES["item_similarity_bucketed"]
            .spark(spark, SF_SMALL).collect())
    )
    assert os.path.exists(os.path.join(loc, "_SUCCESS"))

    # simulate "another session wrote it": files on disk, catalog
    # empty. DROP would delete the managed files, so snapshot first.
    shutil.copytree(loc, snap)
    spark.sql(f"DROP TABLE {tbl}")
    assert not os.path.exists(loc)
    shutil.move(snap, loc)
    files_before = sorted(os.listdir(loc))

    got = sorted(
        map(tuple, QUERIES["item_similarity_bucketed"]
            .spark(spark, SF_SMALL).collect())
    )
    assert got == expected
    # adopted, not rebuilt: same files, table now external over them
    assert sorted(os.listdir(loc)) == files_before
    assert spark.catalog.tableExists(tbl)

    # simulate an IN-FLIGHT foreign writer: location without _SUCCESS
    spark.sql(f"DROP TABLE {tbl}")  # external drop keeps files? no —
    # external tables keep their files on DROP; remove marker to fake
    # an incomplete write
    assert os.path.exists(loc), "external DROP must not delete files"
    os.remove(os.path.join(loc, "_SUCCESS"))
    got = sorted(
        map(tuple, QUERIES["item_similarity_bucketed"]
            .spark(spark, SF_SMALL).collect())
    )
    assert got == expected
    # foreign dir untouched (still no _SUCCESS), build went elsewhere
    assert not os.path.exists(os.path.join(loc, "_SUCCESS"))
    assert spark.catalog.tableExists(side)
    # cleanup so other tests see a fresh, consistent cache state
    spark.sql(f"DROP TABLE IF EXISTS {side}")
    shutil.rmtree(loc, ignore_errors=True)


def test_doc_normalize_single_python_boundary(spark):
    """The normalization tier pays exactly ONE Arrow hop (the NFC
    UDF); casefold feeds it JVM-side and the regex collapse + token
    count run JVM-side on its output."""
    from data_pipeline_mlops_spark.registry import QUERIES

    plan = _plan(QUERIES["doc_normalize"].spark(spark, SF_SMALL))
    assert plan.count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in plan  # no row-at-a-time fallback


def test_kmv_uses_take_ordered(spark):
    """The k smallest hashes must compile to TakeOrderedAndProject —
    per-partition top-k, never a global sort."""
    from data_pipeline_mlops_spark.registry import QUERIES

    plan = _plan(QUERIES["distinct_users_kmv"].spark(spark, SF_SMALL))
    assert "TakeOrderedAndProject(limit=64" in plan
    assert "Sort [" not in plan.split("TakeOrderedAndProject")[0]


def test_trained_pq_keeps_codebooks_broadcast(spark):
    """Every codebook join in the trained-PQ pipeline (2 Lloyd
    iterations + encode + LUT) must be broadcast — a SortMergeJoin
    against the m*k-row codebook would shuffle the full corpus."""
    from data_pipeline_mlops_spark.registry import QUERIES

    plan = _plan(QUERIES["pq_trained_topk"].spark(spark, SF_SMALL))
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 3


def test_small_band_recommend_never_shuffles_similarity(spark):
    """Bounded-user-band scoring (the serving shape): the purchase set
    is broadcast into the scoring join and the semi-join that prunes
    the similarity table before the neighbor-cap window — so the
    corpus-sized similarity side is never re-shuffled by a
    SortMergeJoin after its build. The ownership mask is folded into
    the score aggregation, so no anti-join is left. Even with the
    broadcast threshold forced off, the explicit F.broadcast hints
    must hold."""
    from data_pipeline_mlops_spark.registry import QUERIES

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = QUERIES["recommendations_capped"].spark(spark, SF_SMALL)
        plan = _plan(df)
        # scoring join + semi-join prune are both broadcast
        assert plan.count("BroadcastHashJoin") >= 2
        assert "LeftSemi, BuildRight" in plan or re.search(
            r"BroadcastHashJoin.*LeftSemi", plan
        )
        assert "LeftAnti" not in plan
        # the only SortMergeJoins permitted are the model build's own
        # (count joins under forced-off threshold); the item_a scoring
        # key must never appear as a SortMergeJoin key
        assert not re.search(r"SortMergeJoin \[item_a", plan)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_pps_sample_has_no_global_window_on_data(spark):
    """The prefix sum must run under hashpartitioning(__b), never a
    SinglePartition exchange over the data relation (the 256-row
    offset table is the only single-partition window allowed)."""
    from pyspark.sql import functions as F

    from data_pipeline_mlops_spark.operators.sample import (
        systematic_pps_sample,
    )

    df = spark.range(1, 5000).select(
        F.col("id"), (F.col("id") % 17 + 1).alias("w")
    )
    plan = _plan(
        systematic_pps_sample(df, id_col="id", weight_col="w", k=50)
    )
    # the data-side window is partitioned by the bucket column
    assert re.search(r"hashpartitioning\(__b", plan)
    # any SinglePartition exchange must feed only the offsets/total
    # aggregations, whose input is the 256-row bucket-total relation —
    # the big frame's window keys on __b
    assert "Window [sum(__w)" in plan or "Window" in plan


def test_bm25_uses_take_ordered(spark):
    from data_pipeline_mlops_spark.registry import QUERIES

    plan = _plan(QUERIES["doc_bm25_search"].spark(spark, SF_SMALL))
    assert "TakeOrderedAndProject" in plan
    # df table + corpus stats ride as broadcasts
    assert plan.count("BroadcastHashJoin") >= 1


def test_merge_into_broadcasts_small_source(spark, tmp_path):
    """A delta-sized MERGE source must broadcast into the anti-join,
    not sort-merge against the target."""
    from data_pipeline_mlops_spark.sources.txn import ManifestTable

    t = ManifestTable(str(tmp_path / "m"))
    base = spark.range(0, 2000).selectExpr(
        "id AS k", "CAST(id % 3 AS STRING) AS p", "id * 2 AS v"
    )
    t.commit(base, partition_col="p", mode="replace_all")
    target = t.read(spark)
    small = spark.range(0, 5).selectExpr("id AS k")
    plan = _plan(target.join(small, on=["k"], how="left_anti"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
