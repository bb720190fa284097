"""Adversarial host-skew evidence for ``salt_partition`` (north rule:
partitioning / shuffle / skew handled explicitly).

The hostile layout (``pages_source.write_skewed_pages``) concentrates ~90%
of the rows in ONE parquet file. The narrow shuffle-free extraction plan
maps scan splits 1:1 onto files at this size, so one task owns ~90% of the
work; ``salt_partition`` (url-hash repartition) restores an even work
distribution for one cheap shuffle of the raw bytes. The wall-clock
crossover is no longer benchmarked; this test pins the DETERMINISTIC
halves of the claim:

* the skewed layout really is skewed at the scan-partition level,
* salting really balances it,
* both plans produce byte-identical doc_text rows.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from docling_ibm_models_spark.pipeline.extract import extract_doc_text, salt_partition
from docling_ibm_models_spark.sources.pages_source import (
    cached_pages,
    write_skewed_pages,
)

SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def skew_path(spark, tmp_path_factory):
    pages = cached_pages(spark, SF_SMALL, replicas=4)
    out = str(tmp_path_factory.mktemp("skew") / "pages_skew")
    write_skewed_pages(spark, pages, out, files=8, hot_frac=0.9)
    return out


def _partition_counts(df) -> list[int]:
    rows = (
        df.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .count()
        .collect()
    )
    return [r["count"] for r in rows]


def test_skewed_layout_is_scan_skewed(spark, skew_path):
    """Narrow plan: one scan split owns the hot file -> max/mean blows up."""
    pages = spark.read.parquet(skew_path)
    counts = _partition_counts(pages)
    assert sum(counts) > 0
    ratio = max(counts) / (sum(counts) / len(counts))
    # ~90% of rows in one of >=2 scan partitions => ratio far above balanced
    assert ratio > 2.0, counts
    assert max(counts) / sum(counts) > 0.7, counts


def test_salting_balances_the_same_input(spark, skew_path):
    """After salt_partition the per-task work distribution is near-uniform."""
    pages = spark.read.parquet(skew_path)
    salted = salt_partition(pages, 8)
    counts = _partition_counts(salted)
    assert len(counts) == 8
    mean = sum(counts) / len(counts)
    assert max(counts) / mean < 1.5, counts
    assert min(counts) / mean > 0.5, counts


def test_narrow_and_salted_outputs_identical(spark, skew_path):
    """Same rows out of both plans — salting changes the schedule, never
    the result. The salted rows keep their salt bucket as partition_id."""
    pages = spark.read.parquet(skew_path)
    narrow = extract_doc_text(pages).orderBy("url").collect()
    salted = (
        extract_doc_text(salt_partition(pages, 8))
        .orderBy("url")
        .collect()
    )
    assert len(narrow) == len(salted) > 0
    for a, b in zip(narrow, salted):
        assert a["url"] == b["url"]
        assert a["extracted_text"] == b["extracted_text"]
        assert a["n_chars"] == b["n_chars"]
    assert {r["partition_id"] for r in salted} == set(range(8))
