"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json). Fill these in
as you implement operators from SURVEY.md §2.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: synthesize Common-Crawl-style pages (input_hint shape)
    from sf0.001 documents, run the main-content extraction pipeline
    (one shuffle-free mapInArrow boilerplate strip), return doc_text
    with a per-url byte-identity flag vs the ground-truth text column."""
    from pyspark.sql import functions as F

    from docling_ibm_models_spark.pipeline.extract import extract_doc_text
    from docling_ibm_models_spark.sources.pages_source import pages_from_documents

    pages = pages_from_documents(spark, "/root/testdata/sf0.001")
    out = extract_doc_text(pages)
    return out.join(pages.select("url", F.col("text").alias("expected")), "url").select(
        "url",
        "lang",
        "n_blocks",
        "n_chars",
        (F.col("extracted_text") == F.col("expected")).cast("int").alias("is_match"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (and the
    training-data ops): see docling_ibm_models_spark/plans/queries.py."""
    from docling_ibm_models_spark.plans.queries import QUERIES

    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL per query (same parquet views). Every registered
    query has an oracle as of round 5: pipeline_table_profile now returns
    its deterministic profile dimensions (per-section call counts) checked
    against a pinned VALUES literal — wall-clock sums moved to
    BENCH_DETAIL.json where non-determinism belongs."""
    from docling_ibm_models_spark.plans.queries import ORACLES

    return dict(ORACLES)
