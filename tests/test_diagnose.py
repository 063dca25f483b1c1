"""plans/diagnose.py: the plan-summary API must see what the plan
actually does (joins, exchanges, pushdown, Python boundaries)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_pipeline_mlops_spark.plans.diagnose import (
    assert_scale_clean,
    plan_summary,
)
from tests.conftest import SF_SMALL


def test_summary_counts_joins_and_exchanges(spark):
    from data_pipeline_mlops_spark.registry import QUERIES

    s = plan_summary(QUERIES["regional_stats"].spark(spark, SF_SMALL))
    assert s.n_broadcast_joins >= 2
    assert s.n_sort_merge_joins == 0
    assert s.n_file_scans >= 3
    # NOTE: AQE wraps the plan pre-execution, so codegen markers may
    # be absent here; asserted on a non-AQE-wrapped frame below


def test_summary_sees_pushdown_and_pruning(spark):
    from data_pipeline_mlops_spark.registry import QUERIES

    s = plan_summary(QUERIES["silver_clean"].spark(spark, SF_SMALL))
    assert any("IsNotNull" in p for p in s.pushed_filters)
    # daily_summary's date-trunc predicate is NOT pushable; its scan
    # still prunes to the three referenced columns
    d = plan_summary(QUERIES["daily_summary"].spark(spark, SF_SMALL))
    assert sorted(d.scanned_columns[0]) == [
        "o_custkey", "o_orderdate", "o_totalprice",
    ]
    # no-pushdown surfaces as a flag the caller can allow explicitly
    assert any("no pushed filters" in f for f in d.flags())


def test_summary_counts_python_boundaries(spark):
    from data_pipeline_mlops_spark.functions.multimodal import (
        extract_features,
    )

    media = spark.createDataFrame(
        [(1, "image", b"xx")], "media_id long, media_type string, content binary"
    )
    s = plan_summary(extract_features(media))
    assert s.n_python_boundaries == 1


def test_assert_scale_clean_flags_global_sort(spark):
    df = spark.range(1000).orderBy("id")  # global sort -> range exchange ok
    noisy = spark.range(1000).withColumn(
        "rn",
        F.row_number().over(
            __import__("pyspark.sql.window", fromlist=["Window"]).Window
            .orderBy("id")
        ),
    )
    with pytest.raises(AssertionError, match="SinglePartition"):
        assert_scale_clean(noisy)
    # the same plan passes when the caller declares the bound
    assert_scale_clean(noisy, allow={"SinglePartition", "pushed"})


def test_scale_labels_every_parity_query_has_safe_twin():
    """Every scale_safe=False registry query must name an EXISTING,
    scale-safe twin (VERDICT r8 #7) — and the labels must be visible
    through plans.diagnose.scale_safe_twin."""
    from data_pipeline_mlops_spark.plans.diagnose import scale_safe_twin
    from data_pipeline_mlops_spark.registry import _PARITY_ONLY, QUERIES

    unsafe = {n for n, s in QUERIES.items() if not s.scale_safe}
    assert unsafe == set(_PARITY_ONLY)
    for name in unsafe:
        spec = QUERIES[name]
        assert spec.scale_twin in QUERIES, (name, spec.scale_twin)
        assert QUERIES[spec.scale_twin].scale_safe, (name, spec.scale_twin)
        info = scale_safe_twin(name)
        assert info == {
            "scale_safe": False,
            "twin": spec.scale_twin,
            "reason": info["reason"],
        }
    # and a safe query reports itself safe
    assert scale_safe_twin("recommendations_capped")["scale_safe"]


def test_cap_twins_bound_changes_oracle_rows():
    """Each cap twin registers the same oracle generator as its parity
    twin, with only the bound changed. If a shared generator dropped
    the bound, the Spark side and the oracle would still agree and the
    oracle sweep would stay green; this test fails instead. Each capped
    oracle is compared with its own generator at bound None (other
    parameters, such as min support, held at the capped values), so
    only the bound is under test. DuckDB only, at sf0.001.

    The text pairs (ngram_jaccard_*, doc_dup_components_*) and the
    communities pair are left out: their caps do not change the rows
    at sf0.001 (the largest trigram document frequency there is 9,
    under the cap of 50). test_functions.py's planted
    test_stop_shingle_cap_drops_boilerplate_pairs covers the text cap."""
    from data_pipeline_mlops_spark import registry as reg
    from tests.oracle_compare import duckdb_conn

    cap_off = {
        "item_similarity_basket_capped": reg._item_similarity_oracle(
            min_cooccurrence=2, basket_cap=None
        ),
        "recommendations_capped": reg._recommendations_oracle(
            max_neighbors=None
        ),
        "item_pagerank_capped": reg._pagerank_oracle(cap=None),
        "item_triangles_capped": reg._triangles_oracle(cap=None),
        "association_rules_capped": reg._association_rules_oracle(
            cap=None, min_support=3
        ),
    }
    con = duckdb_conn(SF_SMALL)

    def rows(sql):
        return sorted(map(repr, con.sql(sql).fetchall()))

    unchanged = [
        name
        for name, sql in cap_off.items()
        if rows(reg.QUERIES[name].oracle) == rows(sql)
    ]
    assert not unchanged, f"cap no longer changes the rows: {unchanged}"
