"""The composed training-corpus pipeline: quality-filter -> near-dup
cluster dedup -> stratified rebalance -> context-window packing, as
one lazy plan.

This is the end-to-end job a 100 TB pretraining-data run actually
executes, assembled from the individually-oracled operators:

1. drop the bottom quality quartile per language (rank-based,
   `registry.doc_quality_filter` semantics);
2. cluster near-duplicates among survivors (stop-shingle-capped
   n-gram pairs -> connected components) and keep one representative
   per cluster (the component minimum);
3. rebalance: downsample the dominant language with the deterministic
   hash gate (`operators/sample.py`);
4. pack survivors into fixed token-budget windows
   (`functions/packing.py`).

Every stage is deterministic (pure functions of doc ids + text), so
the WHOLE pipeline is value-checkable: the registry's
`corpus_pipeline` entry replays all four stages in a single DuckDB
query (window filter + recursive closure + hash predicate + recursive
packing fold) and hash-matches the final packed assignment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_mlops_spark.functions import dedup_text, text
from data_pipeline_mlops_spark.functions.graph import connected_components
from data_pipeline_mlops_spark.functions.packing import pack_greedy
from data_pipeline_mlops_spark.materialize import materialize
from data_pipeline_mlops_spark.operators.sample import stratified_sample
from data_pipeline_mlops_spark.operators.skew import skewfree_rank
from data_pipeline_mlops_spark.sources.tables import load_table


def prepare_corpus(
    spark: SparkSession,
    sf_dir: str,
    *,
    dominant_lang: str = "en",
    dominant_rate: float = 0.5,
    capacity: int = 256,
    num_groups: int = 8,
    sample_seed: int = 7,
) -> DataFrame:
    """(doc_id, pack_group, tokens, pack_bin, bin_fill) for every doc
    that survives quality filtering, dedup and sampling."""
    docs = load_table(spark, sf_dir, "documents")
    # materialize the scored rows once: the skew-free ranking below
    # reads them twice (histogram build + probe side) and the quality
    # projection re-derives from text per reference otherwise
    scored = materialize(text.with_quality_score(docs, "text"))

    # Rank-based quartile drop WITHOUT a per-language fact-sized sort:
    # a direct Window.partitionBy("lang") puts the dominant language
    # (~half a real crawl) in ONE sort task (guide §2.5; AQE cannot
    # split window partitions). skewfree_rank computes the identical
    # row_number from a (lang, score) histogram + tie-group ranks —
    # bounded partitions at every step. Values unchanged (equivalence
    # pinned by tests/test_functions.py::
    # test_skewfree_rank_matches_direct_window and the oracle).
    ranked = skewfree_rank(
        scored, part_col="lang", order_col="quality_score", id_col="doc_id"
    )
    # four downstream consumers (pair join x2 sides, CC vertices,
    # survivor join) — materialize once
    kept = materialize(
        ranked.where(
            F.col("__rank") > F.floor((F.col("__n_part") + 3) / F.lit(4))
        ).select("doc_id", "lang", "text"),
        eager=True,
    )

    pairs = dedup_text.ngram_jaccard_pairs(
        kept, id_col="doc_id", text_col="text",
        n=3, threshold=0.05, max_shingle_freq=50,
    )
    cc = connected_components(
        kept, pairs, vertex_col="doc_id", src_col="id_a", dst_col="id_b"
    )
    survivors = kept.join(
        cc.where(F.col("doc_id") == F.col("component")).select("doc_id"),
        "doc_id",
    )

    sampled = stratified_sample(
        survivors,
        id_col="doc_id",
        strata_col="lang",
        rates={dominant_lang: dominant_rate},
        default_rate=1.0,
        seed=sample_seed,
        method="md5",
    )
    return pack_greedy(
        text.with_token_stats(sampled, "text"),
        id_col="doc_id",
        tokens_col="n_tokens",
        capacity=capacity,
        num_groups=num_groups,
    )
