"""Multi-executor smoke: the extraction stage runs on REAL separate
executor JVMs (``local-cluster``), package shipped via
``spark.submit.pyFiles`` — the distribution mechanics of a multi-executor
deployment. local[N] shares the driver's JVM and
python path; only local-cluster proves the executor-side python workers
import the package from the shipped archive and produce byte-identical
output. The local-cluster session runs in a SUBPROCESS (one SparkContext
per JVM — the fixture session owns this one).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from .conftest import SF_SMALL

_DRIVER = """\
import json, sys
zip_path, pages_dir = sys.argv[1], sys.argv[2]
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local-cluster[2,2,2048]")
         .appName("lc-smoke")
         .config("spark.ui.enabled", "false")
         .config("spark.submit.pyFiles", zip_path)
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
         .config("spark.python.worker.reuse", "true")
         .getOrCreate())
from docling_ibm_models_spark.pipeline.extract import extract_doc_text
rows = (extract_doc_text(spark.read.parquet(pages_dir))
        .select("url", "extracted_text").collect())
print(json.dumps({r.url: r.extracted_text for r in rows}, sort_keys=True))
spark.stop()
"""


def test_extraction_on_local_cluster_matches_local(spark, tmp_path):
    # ground truth from the shared-JVM fixture session
    from docling_ibm_models_spark.pipeline.extract import extract_doc_text
    from docling_ibm_models_spark.sources.pages_source import pages_from_documents

    pages_dir = str(tmp_path / "pages")
    pages_from_documents(spark, SF_SMALL, parallelism=4).write.parquet(pages_dir)
    expected = {
        r.url: r.extracted_text
        for r in extract_doc_text(spark.read.parquet(pages_dir))
        .select("url", "extracted_text")
        .collect()
    }

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from package_pyfiles import build

    zip_path = build(str(tmp_path / "pkg.zip"))
    driver = tmp_path / "lc_driver.py"
    driver.write_text(_DRIVER)

    # repo root on the DRIVER path only (executors get the zip via pyFiles)
    env = dict(os.environ)
    env["PYTHONPATH"] = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    res = subprocess.run(
        [sys.executable, str(driver), zip_path, pages_dir],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=str(tmp_path),
        env=env,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    got = json.loads(res.stdout.strip().splitlines()[-1])
    assert got == expected
