"""The one-job commit protocol of ``run_extraction``: per-group lineage
tallied by the doc_text write's own tasks, driver-side lineage/manifest
files on a local output directory, and the resume rules that depend on
them."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
import pytest

from docling_ibm_models_spark import schemas
from docling_ibm_models_spark.pipeline.lineage import (
    committed_partitions,
    list_file_groups,
    read_incremental,
    run_extraction,
    snapshot_id_for,
)
from docling_ibm_models_spark.sources.pages_source import pages_from_documents
from docling_ibm_models_spark.sources.warc_source import (
    warc_records_to_rows,
    write_warc_archives,
)

from .conftest import SF_SMALL


def _doc_text(out_dir: str) -> pa.Table:
    return (
        ds.dataset(f"{out_dir}/doc_text", format="parquet", partitioning="hive")
        .to_table()
        .sort_by("url")
    )


def _lineage_files(out_dir: str) -> list[str]:
    d = f"{out_dir}/lineage"
    return sorted(os.path.join(d, f) for f in os.listdir(d) if not f.startswith((".", "_")))


def _pages_dir(spark, path: str, files: int) -> None:
    pages_from_documents(spark, SF_SMALL, parallelism=files).write.parquet(path)


def test_one_chunk_is_at_most_two_jobs(spark, tmp_path):
    """Schema inference plus the doc_text write: the manifest, lineage and
    per-group counts cost no Spark job of their own."""
    pages = str(tmp_path / "pages")
    _pages_dir(spark, pages, 4)
    sc = spark.sparkContext
    group = "one-chunk-commit"
    sc.setJobGroup(group, "run_extraction, one chunk")
    try:
        r = run_extraction(
            spark, pages, str(tmp_path / "out"), snapshot_id_for("jobs"), num_partitions=4
        )
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert r.chunks == 1 and r.docs_processed == 500
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 2


@pytest.mark.parametrize("input_format", ["parquet", "warc"])
def test_per_group_lineage_and_lost_lineage_resume(spark, tmp_path, input_format):
    """Each group's lineage row counts exactly its own input rows, with the
    file → group key taken through a directory name that URI-encodes. A
    chunk whose lineage file is lost is re-processed on resume — the data
    it had already written is overwritten, not duplicated."""
    src = str(tmp_path / "input dir" / "pages")
    if input_format == "warc":
        pages = pages_from_documents(spark, SF_SMALL, parallelism=4)
        assert write_warc_archives(pages.repartition(4, "url"), src) == 4
    else:
        _pages_dir(spark, src, 8)
    out_dir = str(tmp_path / "out")
    snap = snapshot_id_for(f"groups-{input_format}")

    def rows_in(f: str) -> int:
        path = f.removeprefix("file:")
        if input_format == "parquet":
            return pq.read_metadata(path).num_rows
        with open(path, "rb") as fh:
            return sum(1 for _ in warc_records_to_rows(f, fh.read()))

    groups = list_file_groups(
        spark, src, 4, suffix=".parquet" if input_format == "parquet" else (".warc", ".warc.gz")
    )
    expected = {gid: sum(rows_in(f) for f in files) for gid, files in enumerate(groups)}
    assert sum(expected.values()) == 500

    r = run_extraction(spark, src, out_dir, snap, num_partitions=4, chunk_partitions=2,
                       input_format=input_format)
    assert r.chunks == 2 and r.docs_processed == 500
    lin = pq.read_table(_lineage_files(out_dir)).to_pylist()
    assert {row["partition_id"]: row["doc_count"] for row in lin} == expected
    assert len(lin) == 4 and all(row["wall_s"] > 0 for row in lin)
    complete = _doc_text(out_dir)
    assert complete.num_rows == 500

    last = next(
        f for f in _lineage_files(out_dir) if 3 in pq.read_table(f)["partition_id"].to_pylist()
    )
    os.remove(last)
    r2 = run_extraction(spark, src, out_dir, snap, num_partitions=4, chunk_partitions=2,
                        input_format=input_format)
    assert (r2.partitions_done_before, r2.partitions_processed, r2.chunks) == (2, 2, 1)
    assert _doc_text(out_dir).equals(complete)
    assert committed_partitions(out_dir, snap) == {0, 1, 2, 3}


def test_resumes_from_spark_written_side_files(spark, tmp_path):
    """Output directories whose lineage and manifest were written by Spark
    jobs, as earlier versions did, still resume: the driver-side reader
    takes their files as committed work and as the pinned snapshot."""
    pages = str(tmp_path / "pages")
    _pages_dir(spark, pages, 4)
    out_dir = str(tmp_path / "out")
    snap = snapshot_id_for("spark-written")
    r1 = run_extraction(
        spark, pages, out_dir, snap, num_partitions=4, chunk_partitions=2, max_chunks=1
    )
    for side, schema in (
        ("lineage", schemas.LINEAGE),
        ("_manifest_v2", "snapshot_id long, fingerprint long, num_groups int"),
    ):
        rows = [tuple(r.values()) for r in pq.read_table(f"{out_dir}/{side}").to_pylist()]
        shutil.rmtree(f"{out_dir}/{side}")
        spark.createDataFrame(rows, schema).write.parquet(f"{out_dir}/{side}")

    r2 = run_extraction(spark, pages, out_dir, snap, num_partitions=4, chunk_partitions=2)
    assert (r2.partitions_done_before, r2.partitions_processed) == (2, 2)
    assert r1.docs_processed + r2.docs_processed == 500
    assert committed_partitions(out_dir, snap) == {0, 1, 2, 3}
    with pytest.raises(ValueError, match="partitioning changed"):
        run_extraction(spark, pages, out_dir, snap, num_partitions=2)


def test_empty_file_group_commits(spark, tmp_path):
    """A group whose only file holds no rows commits with doc_count 0, so
    a re-run of the finished run has nothing left to do."""
    pages = str(tmp_path / "pages")
    _pages_dir(spark, pages, 2)
    first = next(f for f in sorted(os.listdir(pages)) if f.endswith(".parquet"))
    empty = pq.read_table(os.path.join(pages, first)).slice(0, 0)
    pq.write_table(empty, os.path.join(pages, "part-99999-empty.parquet"))
    out_dir = str(tmp_path / "out")
    snap = snapshot_id_for("empty-group")

    r1 = run_extraction(spark, pages, out_dir, snap, num_partitions=3)
    assert (r1.partitions_processed, r1.docs_processed) == (3, 500)
    lin = pq.read_table(_lineage_files(out_dir))
    assert sorted(lin["doc_count"].to_pylist()) == [0, 250, 250]

    r2 = run_extraction(spark, pages, out_dir, snap, num_partitions=3)
    assert (r2.partitions_done_before, r2.partitions_processed, r2.chunks) == (3, 0, 0)


def test_session_conf_unchanged(spark, tmp_path):
    """Dynamic partition overwrite is an option of the doc_text write, not
    a session setting left behind for every later overwrite."""
    key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.unset(key)
    before = spark.conf.get(key)
    pages = str(tmp_path / "pages")
    _pages_dir(spark, pages, 2)
    run_extraction(spark, pages, str(tmp_path / "out"), snapshot_id_for("conf"), num_partitions=2)
    assert spark.conf.get(key) == before


@pytest.mark.parametrize("side_dir", ["lineage", "_manifest_v2"])
def test_corrupt_side_file_raises(spark, tmp_path, side_dir):
    """An unreadable lineage or manifest file is an error, not an empty
    table: reading it as empty would redo committed work or drop the
    snapshot drift guard."""
    pages = str(tmp_path / "pages")
    _pages_dir(spark, pages, 2)
    out_dir = str(tmp_path / "out")
    snap = snapshot_id_for("corrupt")
    run_extraction(spark, pages, out_dir, snap, num_partitions=2, chunk_partitions=1, max_chunks=1)
    d = f"{out_dir}/{side_dir}"
    victim = os.path.join(d, next(f for f in os.listdir(d) if f.endswith(".parquet")))
    with open(victim, "r+b") as fh:
        fh.truncate(os.path.getsize(victim) // 2)
    with pytest.raises(pa.ArrowInvalid):
        run_extraction(spark, pages, out_dir, snap, num_partitions=2)


def test_file_uri_out_dir_resumes(spark, tmp_path):
    """A ``file:`` URI out_dir lands doc_text, lineage and manifest in the
    one local directory it names, so a resume through the same URI — or
    through the plain path — sees every committed chunk."""
    pages = str(tmp_path / "pages")
    _pages_dir(spark, pages, 4)
    local = tmp_path / "out dir"
    uri = f"file://{local}"  # a Hadoop path string: not percent-encoded
    snap = snapshot_id_for("file-uri")
    r1 = run_extraction(spark, pages, uri, snap, num_partitions=4, chunk_partitions=2, max_chunks=1)
    assert r1.partitions_processed == 2
    assert committed_partitions(str(local), snap) == {0, 1}
    r2 = run_extraction(spark, pages, uri, snap, num_partitions=4, chunk_partitions=2)
    assert (r2.partitions_done_before, r2.partitions_processed) == (2, 2)
    assert r1.docs_processed + r2.docs_processed == 500
    assert _doc_text(str(local)).num_rows == 500
    r3 = run_extraction(spark, pages, str(local), snap, num_partitions=4)
    assert (r3.partitions_done_before, r3.partitions_processed) == (4, 0)
    df, seen = read_incremental(spark, uri, snap)
    assert seen == {0, 1, 2, 3} and df.count() == 500


@pytest.mark.parametrize("default_fs", [None, "hdfs://localhost:8020"])
def test_non_local_out_dir_raises(spark, tmp_path, default_fs):
    """An out_dir on any filesystem but the local one is refused before
    anything is read or written: an explicit ``s3a://`` URI, or a plain
    path when ``fs.defaultFS`` is HDFS."""
    pages = str(tmp_path / "pages")
    out_dir = "s3a://bucket/out" if default_fs is None else "/data/out"
    conf = spark._jsc.hadoopConfiguration()
    key = "fs.defaultFS"
    before = conf.get(key)
    if default_fs is not None:
        conf.set(key, default_fs)
    try:
        with pytest.raises(ValueError, match="out_dir"):
            run_extraction(spark, pages, out_dir, snapshot_id_for("remote"), num_partitions=2)
        with pytest.raises(ValueError, match="out_dir"):
            read_incremental(spark, out_dir, snapshot_id_for("remote"))
    finally:
        conf.set(key, before)
