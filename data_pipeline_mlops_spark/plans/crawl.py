"""The crawl-side front half of the corpus pipeline: raw HTML pages ->
extracted text -> language ID -> quality + link-density gate -> exact
dedup, composed as ONE lazy plan.

plans/corpus.py::prepare_corpus is the back half (quality-ranked
filtering, near-dup clustering, rebalancing, packing) and starts from
clean text; a real 100 TB run starts from crawled HTML. This module
supplies that missing front: everything up to and including the
extraction stage is map-side regexp work (no shuffle at all until the
dedup groupBy), language/quality gating is pure column arithmetic on
the extracted text, and the only wide exchange in the whole plan is
the single hash-key dedup shuffle — exactly the shape a crawl ingest
needs at scale. Each stage reuses the individually-oracled operator
(functions/html.py, functions/text.py), so the registry's
`crawl_pipeline` entry replays the full composition in one DuckDB
query and hash-matches the survivors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_pipeline_mlops_spark.functions.html import html_extract
from data_pipeline_mlops_spark.materialize import materialize
from data_pipeline_mlops_spark.functions.text import (
    with_lang_id,
    with_quality_score,
)


def extract_and_gate(
    pages: DataFrame,
    *,
    id_col: str = "doc_id",
    html_col: str = "html",
    min_quality: float = 0.3,
    max_link_share: float = 0.5,
) -> DataFrame:
    """The map-side front: extraction + scoring + the quality/link
    gate, NO dedup (batch pipeline adds a corpus-wide window; the
    streaming ingest dedups against its persisted hash index
    instead — streaming/crawl_stream.py)."""
    extracted = html_extract(pages, id_col=id_col, html_col=html_col)
    if not extracted.isStreaming:
        # Materialize the extraction once: the quality/link gate below
        # references the derived text, and Catalyst pushes that filter
        # beneath the extraction projections, re-inlining the 15-step
        # strip_html regexp chain ~10x per row (Filter + Project each
        # carried the full chain per reference in the executed plan).
        # One lineage cut makes extraction a single pass; scoring and
        # the gate read the materialized (id, text, counts) columns.
        # Values unchanged. Batch-only: streaming frames cannot
        # checkpoint, and the streaming ingest gates per micro-batch.
        extracted = materialize(extracted)
    scored = with_quality_score(with_lang_id(extracted, "text"), "text")
    return scored.where(
        (F.col("quality_score") >= min_quality)
        & (F.col("link_text_share") < max_link_share)
        & (F.length("text") > 0)
    )


def crawl_to_corpus(
    pages: DataFrame,
    *,
    id_col: str = "doc_id",
    html_col: str = "html",
    min_quality: float = 0.3,
    max_link_share: float = 0.5,
) -> DataFrame:
    """(doc_id, text, predicted_lang, quality_score, n_chars,
    link_text_share) for every page that survives extraction, the
    quality/link gate, and exact text dedup (lowest doc_id per
    identical extracted text wins). One shuffle total (the dedup
    window on the text hash)."""
    gated = extract_and_gate(
        pages,
        id_col=id_col,
        html_col=html_col,
        min_quality=min_quality,
        max_link_share=max_link_share,
    )
    w = Window.partitionBy(F.md5(F.col("text"))).orderBy(F.col(id_col))
    return (
        gated.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") == 1)
        .select(
            id_col,
            "text",
            "predicted_lang",
            "quality_score",
            "n_chars",
            "link_text_share",
        )
    )
