"""Seeded input generation for the benchmark workloads.

Inputs derive from the vendored base tables in ``perfbench/data/sf0.01``
(the TPC-H-style tables plus ``documents``). Pages are rendered with the
program's own public generator, ``sources.pages_source.render_page``, whose
``text`` column is the byte-exact ground truth of each page's main content.
Everything runs in this one process (pyarrow may use up to ``nproc``
threads to write parquet), and the result is cached per (workload, seed,
generator code) under the checkout, so neither ``setup_s`` nor the timed
passes ever pay for it.

Workload inputs:

* ``pages_clean`` — ``CLEAN_REPLICAS`` renderings of every document, with
  replica indices offset by the seed, round-robin into ``CLEAN_FILES`` parquet
  files (the ``pages`` table shape).
* ``queries`` — only the probe file below; the queries read the base
  tables, and the pages and WARC archives the program derives from them.

Every workload also gets ``probe/``: one small pages parquet file whose
first extracted row marks the end of set-up.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BASE_DIR = os.path.join(HERE, "data", "sf0.01")
CACHE_DIR = os.path.join(ROOT, ".perfbench")

CLEAN_FILES = 4
CLEAN_REPLICAS = 16
PROBE_PAGES = 64

PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


def _code_hash() -> str:
    """Hash of every module that shapes the generated bytes or their
    ground truth, so a change to any of them regenerates the inputs."""
    from docling_ibm_models_spark.functions import html_extract
    from docling_ibm_models_spark.sources import pages_source

    h = hashlib.sha256()
    for path in (__file__, pages_source.__file__, html_extract.__file__):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def _documents() -> list[tuple[int, str, str, str]]:
    t = pq.read_table(os.path.join(BASE_DIR, "documents.parquet"))
    d = t.to_pydict()
    return list(zip(d["doc_id"], d["text"], d["lang"], d["source"]))


def _render(docs, replicas: range) -> list[tuple]:
    from docling_ibm_models_spark.sources.pages_source import render_page

    return [
        render_page(int(doc_id), text, lang, source, rep)
        for rep in replicas
        for doc_id, text, lang, source in docs
    ]


def _write_pages(path: str, rows: list[tuple]) -> None:
    cols = list(zip(*rows)) if rows else [[]] * 5
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, PAGES_SCHEMA)], schema=PAGES_SCHEMA
    )
    pq.write_table(table, path)


def _gen_pages_clean(out: str, seed: int, docs) -> None:
    rows = _render(docs, range(seed * CLEAN_REPLICAS, (seed + 1) * CLEAN_REPLICAS))
    os.makedirs(f"{out}/pages")
    for i in range(CLEAN_FILES):
        _write_pages(f"{out}/pages/part-{i:05d}.parquet", rows[i::CLEAN_FILES])


def inputs(workload: str, seed: int) -> str:
    """Directory holding the generated inputs of ``workload`` at ``seed``,
    generating them first if this checkout has not cached them yet."""
    path = os.path.join(CACHE_DIR, "inputs", f"{workload}-s{seed}-{_code_hash()}")
    if os.path.exists(f"{path}/_DONE"):
        return path
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(f"{tmp}/probe")
    docs = _documents()
    _write_pages(f"{tmp}/probe/part-00000.parquet", _render(docs[:PROBE_PAGES], range(seed, seed + 1)))
    if workload == "pages_clean":
        _gen_pages_clean(tmp, seed, docs)
    open(f"{tmp}/_DONE", "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return path
