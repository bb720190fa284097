"""One benchmark process: a Spark session at ``--slots`` slots.

It reports the wall from its launch to its first extracted row, then, by
``--role``: runs the traced run (``trace``); or, after a ``go`` line on
stdin, prepares the workload and runs one timed job per ``job`` line
(``serve``).
It answers with one JSON line per message on stdout. Started by
``perfbench/run.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys
import threading
import time

from docling_ibm_models_spark.pipeline.extract import extract_doc_text
from docling_ibm_models_spark.pipeline.lineage import run_extraction, snapshot_id_for
from docling_ibm_models_spark.session import get_spark

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402
import stats  # noqa: E402
from spans import Tracer, read_event_log  # noqa: E402

BASE_SF = gen.BASE_DIR
# The queries workload: the WARC on-ramp (which runs the extraction kernel
# inside a query), a carried-backlog dedup self-join and a TPC-H join. Each
# takes 0.6-1.6 s at sf0.01 on 4 cores, so one warm-up pass per worker plus
# the timed passes (4N, N, 4N) fit a run.
QUERY_SET = (
    "warc_extract_match",
    "dedup_ngram_jaccard",
    "tpch_q21_waiting_supplier",
)
ORACLE_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "documents")
KERNEL_SAMPLE = 2000
# jobs on each side of trace.overhead_frac, which compares their medians
OVERHEAD_JOBS = 2
LOG_DIR = "eventlog"


def start_session(slots: int, scratch: str, event_log: str | None = None):
    conf = {"spark.sql.warehouse.dir": f"{scratch}/warehouse"}
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{event_log}",
                "spark.eventLog.compress": "false",
            }
        )
    return get_spark(app_name="perfbench", master=f"local[{slots}]", extra_conf=conf)


def first_row(spark, inputs: str) -> None:
    """First extracted row of the probe file: runs the scan, the Python
    worker spawn and the kernel import."""
    rows = extract_doc_text(spark.read.parquet(f"{inputs}/probe"), partition_id=0).limit(1).collect()
    if not rows:
        raise RuntimeError("the probe file produced no extracted row")


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


# ---------------------------------------------------------------------------
# workloads: each has prepare() and warmup() (untimed), job() -> (ops,
# detail), check(detail) -> (attempted, failed) and cleanup(detail)
# ---------------------------------------------------------------------------


class Extraction:
    """``run_extraction`` of one input into a fresh output directory per job,
    checked against the per-url ground truth ``truth``."""

    def __init__(self, spark, src: str, truth: dict, scratch: str, warc: bool = False,
                 chunk_partitions: int | None = None):
        self.spark, self.src, self.truth, self.scratch = spark, src, truth, scratch
        self.warc, self.chunk_partitions = warc, chunk_partitions
        self.snap = snapshot_id_for(src)
        self.reference_hash: str | None = None
        self.seq = 0

    def _run(self, out: str, **kw):
        return run_extraction(
            self.spark, self.src, out, self.snap, input_format="warc" if self.warc else "parquet", **kw
        )

    def job(self, tr: Tracer = Tracer(False)):
        self.seq += 1
        out = f"{self.scratch}/out-{self.seq}"
        r = self._run(out, chunk_partitions=self.chunk_partitions)
        return r.docs_processed, {"out": out, "commits": r.chunks}

    def warmup(self) -> None:
        """The first job of a session runs slower than the rest; untimed."""
        n, detail = self.job()
        self.cleanup(detail)

    def prepare(self) -> None:
        """The untimed reference job, which also warms the session up: two
        commit chunks of half the file groups each, stopped after the
        first, then resumed. Every timed job's output must hash the same
        as this one."""
        out = f"{self.scratch}/resumed"
        half = gen.CLEAN_FILES // 2
        self._run(out, chunk_partitions=half, max_chunks=1)
        self._run(out, chunk_partitions=half)
        self.reference_hash = self._hash(out)
        shutil.rmtree(out, ignore_errors=True)

    @staticmethod
    def _rows(out: str):
        import pyarrow.dataset as ds

        return ds.dataset(f"{out}/doc_text", format="parquet", partitioning="hive").to_table()

    def _hash(self, out: str) -> str:
        """Hash of the whole doc_text output, independent of file layout."""
        import hashlib

        import pyarrow as pa

        cols = ["url", "lang", "extracted_text", "n_blocks", "n_chars", "spans", "partition_id"]
        t = self._rows(out).select(cols).sort_by("url").combine_chunks()
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, t.schema) as w:
            w.write_table(t)
        return hashlib.sha256(sink.getvalue()).hexdigest()

    def check(self, detail: dict) -> tuple[int, int]:
        """Pages byte-identical per url and lineage doc_counts summing to
        the input rows. Adds the output's hash to ``detail``."""
        import pyarrow.parquet as pq

        out = detail["out"]
        t = self._rows(out)
        attempted, failed = stats.count_failures(
            self.truth, list(zip(t.column("url").to_pylist(), t.column("extracted_text").to_pylist()))
        )
        docs = sum(pq.read_table(f"{out}/lineage", columns=["doc_count"]).column(0).to_pylist())
        detail["hash"] = self._hash(out)
        return attempted + 1, failed + int(docs != len(self.truth))

    def cleanup(self, detail: dict) -> None:
        shutil.rmtree(detail["out"], ignore_errors=True)

    def source_df(self):
        if self.warc:
            from docling_ibm_models_spark.sources.warc_source import pages_from_warc

            return pages_from_warc(self.spark, self.src)
        return self.spark.read.parquet(self.src)

    def all_html(self) -> list[bytes]:
        import pyarrow.parquet as pq

        if not self.warc:
            return pq.read_table(self.src, columns=["html"]).column(0).to_pylist()
        from docling_ibm_models_spark.sources.warc_source import warc_records_to_rows

        pages = []
        for f in sorted(os.listdir(self.src)):
            if f.startswith(("_", ".")):
                continue
            with open(os.path.join(self.src, f), "rb") as fh:
                pages += [r[2] for r in warc_records_to_rows(f, fh.read())]
        return pages


def pages_clean(spark, inputs: str, scratch: str) -> Extraction:
    """The CLI's default job: the pages table in one commit chunk."""
    import pyarrow.parquet as pq

    src = f"{inputs}/pages"
    t = pq.read_table(src, columns=["url", "text"]).to_pydict()
    return Extraction(spark, src, dict(zip(t["url"], t["text"])), scratch)


class Queries:
    """One client running ``QUERY_SET`` in a seeded order, one pass per job,
    each query collected to the driver and checked against its DuckDB
    oracle. Its extraction layers are traced over the WARC archives that
    ``warc_extract_match`` reads, one commit per archive."""

    def __init__(self, spark, scratch: str, seed: int):
        from docling_ibm_models_spark.plans.queries import ORACLES, QUERIES

        self.spark, self.scratch = spark, scratch
        self.queries, self.oracles = QUERIES, ORACLES
        self.order = list(QUERY_SET)
        random.Random(seed).shuffle(self.order)
        self.expected: dict[str, list] = {}
        self.columns: dict[str, list[str]] = {}
        self.walls: dict[str, list[float]] = {n: [] for n in self.order}
        self.windows: dict[str, tuple[float, float]] = {}
        self.passes = 0

    def job(self, tr: Tracer = Tracer(False)):
        """One pass. Pass k starts k places further into the seeded order,
        so over len(order) passes every query runs once in every place."""
        results = {}
        k = self.passes % len(self.order)
        self.passes += 1
        for name in self.order[k:] + self.order[:k]:
            a = time.time()
            t0 = time.perf_counter()
            with tr.span(f"queries.{name}"):
                df = self.queries[name](self.spark, BASE_SF)
                results[name] = [tuple(r) for r in df.collect()]
            self.walls[name].append(time.perf_counter() - t0)
            self.windows[name] = (a, time.time())
            self.columns[name] = df.columns
        return len(self.order), {"results": results}

    def warmup(self) -> None:
        """The first pass of a session runs slower than the rest; untimed."""
        self.job()
        for walls in self.walls.values():
            walls.clear()

    prepare = warmup  # the queries have no reference job

    def _oracles(self) -> None:
        import duckdb

        con = duckdb.connect()
        for t in ORACLE_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{BASE_SF}/{t}.parquet')")
        for name in self.order:
            res = con.execute(self.oracles[name])
            self.expected[name] = _canon([d[0] for d in res.description], res.fetchall())
        con.close()

    def check(self, detail: dict) -> tuple[int, int]:
        if not self.expected:
            self._oracles()
        failed = sum(
            1
            for name, rows in detail["results"].items()
            if _canon(self.columns[name], rows) != self.expected[name]
        )
        return len(detail["results"]), failed

    def cleanup(self, detail: dict) -> None:
        pass

    def extraction(self) -> Extraction:
        import pyarrow.dataset as ds

        from docling_ibm_models_spark.sources.pages_source import cached_pages_path
        from docling_ibm_models_spark.sources.warc_source import cached_warc_dir

        t = ds.dataset(cached_pages_path(self.spark, BASE_SF), format="parquet")
        t = t.to_table(columns=["url", "text"]).to_pydict()
        return Extraction(
            self.spark, cached_warc_dir(self.spark, BASE_SF), dict(zip(t["url"], t["text"])),
            self.scratch, warc=True, chunk_partitions=1,
        )


def _norm(v):
    import decimal
    import math

    if v is None:
        return None
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, (float, decimal.Decimal)):
        v = float(v)
        return "nan" if math.isnan(v) else round(v, 4)
    if isinstance(v, int):
        return v
    return str(v)


def _canon(cols, rows) -> list:
    """Order-insensitive rows with columns sorted by name, values rounded
    as the repo's oracle test rounds them."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in idx) for r in rows)


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------


def make_workload(spark, args):
    if args.workload == "queries":
        return Queries(spark, args.scratch, args.seed)
    return pages_clean(spark, args.inputs, args.scratch)


def serve(spark, args, proto) -> None:
    """Untraced run: after ``go``, one untimed job (with ``--prepare`` the
    resume reference job, else a warm-up job), then one timed job per
    ``job`` line read from stdin, each answered with its result, until
    ``finish``."""
    if sys.stdin.readline().strip() != "go":
        raise ValueError("expected go")
    t0 = time.perf_counter()
    primed = os.path.join(os.path.dirname(args.scratch), "primed")
    if args.prepare:
        prime(spark, args.workload)
        open(primed, "w").close()
    else:
        wait_for(primed)
    w = make_workload(spark, args)
    t1 = time.perf_counter()
    w.prepare() if args.prepare else w.warmup()
    send(proto, {"reference": getattr(w, "reference_hash", None),
                 "prime_s": t1 - t0, "warmup_s": time.perf_counter() - t1})
    for line in sys.stdin:
        cmd = line.strip()
        if cmd == "job":
            t0 = time.perf_counter()
            n, detail = w.job()
            wall = time.perf_counter() - t0
            a, f = w.check(detail)
            w.cleanup(detail)
            send(proto, {"ops": n, "wall": wall, "attempted": a, "failed": f, "hash": detail.get("hash")})
        elif cmd == "finish":
            send(proto, {"query_walls": getattr(w, "walls", None)})
            break
        else:
            raise ValueError(f"unknown command {cmd!r}")


def prime(spark, workload: str) -> None:
    """Build the pages table and WARC archives the program caches for the
    queries, from one session, before any other process reads them."""
    if workload == "queries":
        from docling_ibm_models_spark.sources.warc_source import cached_warc_dir

        cached_warc_dir(spark, BASE_SF)


def wait_for(path: str, timeout: float = 150.0) -> None:
    deadline = time.time() + timeout
    while not os.path.exists(path):
        if time.time() > deadline:
            raise TimeoutError(f"{path} did not appear within {timeout} s")
        time.sleep(0.1)


def send(proto, msg: dict) -> None:
    proto.write(json.dumps(msg) + "\n")
    proto.flush()


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant of it, read from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue  # the process ended while the tree was read
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


class TreeRss:
    """Peak resident set of a process and all its descendants (the
    session's JVM and the Python workers it forks), summed over the tree
    and sampled from /proc every ``interval`` seconds while in use."""

    def __init__(self, pid: int, interval: float = 0.2):
        self.pid, self.interval = pid, interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def _run(self) -> None:
        while True:
            self.peak_kb = max(self.peak_kb, self.sample_kb())
            if self._stop.wait(self.interval):
                return

    def sample_kb(self) -> int:
        total = 0
        for pid in process_tree(self.pid):
            try:
                with open(f"/proc/{pid}/status") as f:
                    total += next((int(x.split()[1]) for x in f if x.startswith("VmRSS:")), 0)
            except OSError:
                pass  # ended since the tree was read
        return total


def stop_jvm(spark, timeout: float = 60.0) -> None:
    """Stop the session and end its JVM, which ``SparkSession.stop`` leaves
    running, then wait until the JVM and the Python workers it forked have
    all ended. The JVM exits once its stdin closes; its workers follow."""
    proc = spark.sparkContext._gateway.proc
    tree = process_tree(proc.pid)
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=timeout)
    deadline = time.time() + timeout
    while any(alive(p) for p in tree):
        if time.time() > deadline:
            raise TimeoutError(f"processes {[p for p in tree if alive(p)]} did not end")
        time.sleep(0.05)


def kernel_layer(pages: list[bytes]) -> dict:
    """One core, in-process: the kernel's phases over a page sample."""
    from docling_ibm_models_spark.functions import html_extract as hx

    t_total = t_cls = t_asm = 0.0
    seen = kept = fallbacks = 0
    for h in pages:
        t0 = time.perf_counter()
        hx.extract_main_content(h)
        t_total += time.perf_counter() - t0
        s = h.decode("utf-8", errors="replace")
        try:
            blocks = hx._scan_blocks(s)
        except Exception:  # the same fallback extract_main_content takes
            fallbacks += 1
            blocks = hx.extract_blocks_stdlib(s)
        t0 = time.perf_counter()
        labeled = hx.classify_blocks(blocks)
        t1 = time.perf_counter()
        hx.assemble(labeled)
        t2 = time.perf_counter()
        t_cls, t_asm = t_cls + (t1 - t0), t_asm + (t2 - t1)
        seen, kept = seen + len(blocks), kept + len(labeled)
    return {
        "kernel.pages_per_s_1core": len(pages) / t_total,
        "kernel.scan_blocks_s": t_total - t_cls - t_asm,
        "kernel.classify_s": t_cls,
        "kernel.assemble_s": t_asm,
        "kernel.blocks_seen": seen,
        "kernel.blocks_kept": kept,
        "kernel.keep_ratio": kept / seen if seen else 0.0,
        "kernel.fallbacks": fallbacks,
    }


def batch_build_s(pages: list[bytes], reps: int = 5) -> float:
    """``_extract_batches_arrow`` in-process over the sample, minus the
    time spent inside its own kernel calls, which are timed by wrapping
    the kernel function it calls; the median of ``reps`` passes."""
    import pyarrow as pa

    from docling_ibm_models_spark.pipeline import extract as ex_mod

    n = len(pages)
    rb = pa.RecordBatch.from_arrays(
        [pa.array([f"u{i}" for i in range(n)]), pa.array(["en"] * n), pa.array(pages, pa.binary()),
         pa.array([0] * n, pa.int32())],
        names=["url", "lang", "html", "partition_id"],
    )
    kernel = ex_mod.extract_main_content
    in_kernel = 0.0

    def timed_kernel(h):
        nonlocal in_kernel
        t0 = time.perf_counter()
        try:
            return kernel(h)
        finally:
            in_kernel += time.perf_counter() - t0

    walls = []
    ex_mod.extract_main_content = timed_kernel
    try:
        for _ in range(reps):
            in_kernel = 0.0
            t0 = time.perf_counter()
            for _ in ex_mod._extract_batches_arrow(iter([rb])):
                pass
            walls.append(time.perf_counter() - t0 - in_kernel)
    finally:
        ex_mod.extract_main_content = kernel
    return stats.median(walls)


def run_traced(spark, args, res: dict) -> None:
    """The run at 4N slots, with spans around each layer call and the Spark
    event log on. The ``spark.*`` metrics count the tasks of the traced job
    only, and ``session.peak_rss_mb`` is the JVM's process tree during it."""
    big = args.slots
    w = make_workload(spark, args)
    w.prepare()
    reference = getattr(w, "reference_hash", None)
    att = fail = 0

    def checked_job() -> float:
        nonlocal att, fail
        t0 = time.perf_counter()
        n, detail = w.job()
        wall = time.perf_counter() - t0
        a, f = w.check(detail)
        if reference is not None:
            a, f = a + 1, f + int(detail["hash"] != reference)
        att, fail = att + a, fail + f
        w.cleanup(detail)
        return wall

    def new_session(event_log: str | None = None):
        w.spark.stop()
        w.spark = start_session(big, args.scratch, event_log=event_log)
        w.warmup()
        return w.spark

    # The traced and, for the overhead, the untraced jobs each run in a
    # fresh session on the same JVM after a warm-up job. The untraced ones
    # run last, and the JVM only gets faster over a run, so
    # trace.overhead_frac is an upper bound.
    spark = new_session(event_log=f"{args.scratch}/{LOG_DIR}")
    # the traced job is the last of OVERHEAD_JOBS with the event log on
    walls_traced = [checked_job() for _ in range(OVERHEAD_JOBS - 1)]
    tr = Tracer(True)
    m: dict[str, float] = {}
    queries = isinstance(w, Queries)
    with tr.span("workload", workload=args.workload, seed=args.seed):
        job_start = time.time()
        t0 = time.perf_counter()
        with TreeRss(spark.sparkContext._gateway.proc.pid) as rss:
            with tr.span("queries.pass" if queries else "lineage.run_extraction"):
                n, detail = w.job(tr)
        walls_traced.append(time.perf_counter() - t0)
        job_window = (job_start, time.time())
        windows = dict(getattr(w, "windows", {}))  # the traced pass's queries
        with tr.span("check"):
            a, f = w.check(detail)
        att, fail = att + a, fail + f
        job_hash = detail.get("hash")
        # the extraction layers: pages_clean's own job, or run_extraction
        # over the WARC archives the queries' WARC on-ramp reads
        ex = w
        if queries:
            ex = w.extraction()
            with tr.span("lineage.run_extraction"):
                n, detail = ex.job()
            with tr.span("check"):
                a, f = ex.check(detail)
            att, fail = att + a, fail + f
        m["lineage.commits"] = detail["commits"]
        m["lineage.bytes_written"] = dir_bytes(detail["out"])
        with tr.span("lineage.resume"):
            ex._run(detail["out"], chunk_partitions=ex.chunk_partitions)
        ex.cleanup(detail)

        src = ex.source_df()
        proj = src.select("url", "lang", "html")
        with tr.span("sources.scan"):
            noop(proj)
        with tr.span("extract.arrow_cross"):
            noop(proj.mapInArrow(lambda it: it, proj.schema))
        with tr.span("extract.stage"):
            noop(extract_doc_text(src, partition_id=0))
        with tr.span("kernel.sample"):
            pages = ex.all_html()
            sample = random.Random(args.seed).sample(pages, min(KERNEL_SAMPLE, len(pages)))
            k = kernel_layer(sample)
        with tr.span("extract.batch_build"):
            bb = batch_build_s(sample)
    spark = new_session()
    walls_untraced = [checked_job() for _ in range(OVERHEAD_JOBS)]
    spark.stop()

    ev = read_event_log(f"{args.scratch}/{LOG_DIR}", job_window, windows)
    html_bytes = sum(len(p) for p in pages)
    n_pages = len(pages)
    scan_s = tr.total("sources.scan")
    # pages_clean's job span is itself the run_extraction call
    run_extraction_s = tr.total("lineage.run_extraction")
    stage_s = tr.total("extract.stage")
    root = tr.spans[0]
    root_wall = root["end"] - root["start"]
    selfs = tr.self_times()
    m.update(
        {
            "session.start_s": res["session_s"],
            "session.first_row_s": res["first_row_s"],
            "sources.scan_s": scan_s,
            "sources.scan_bytes": dir_bytes(ex.src),
            "sources.scan_records": n_pages,
            "extract.arrow_cross_s": tr.total("extract.arrow_cross") - scan_s,
            "extract.stage_s": stage_s,
            "extract.batch_build_s": bb,
            **k,
            "kernel.share": n_pages / (k["kernel.pages_per_s_1core"] * big) / stage_s,
            "lineage.commit_s": run_extraction_s - stage_s,
            "lineage.write_amp": m["lineage.bytes_written"] / html_bytes,
            "lineage.resume_s": tr.total("lineage.resume"),
            **ev["spark"],
            "trace.overhead_frac": stats.median(walls_traced) / stats.median(walls_untraced) - 1,
            "trace.unattributed_frac": selfs[0] / root_wall,
        }
    )
    m["session.peak_rss_mb"] = rss.peak_kb / 1024
    per_query = {name: {"s": b - a, **ev["windows"][name]} for name, (a, b) in windows.items()}
    os.makedirs(gen.CACHE_DIR + "/traces", exist_ok=True)
    span_file = f"{gen.CACHE_DIR}/traces/{args.workload}-s{args.seed}-{tr.run_id}.json"
    tr.write(span_file, {"metrics": m, "queries": per_query})
    if reference is not None:
        att, fail = att + 1, fail + int(job_hash != reference)
    res.update(attempted=att, failed=fail, metrics=m, detail={
        "span_file": span_file,
        "overhead_walls": {"untraced": walls_untraced, "traced": walls_traced},
        "queries": {n: {"s": q["s"], "shuffle_bytes": q["shuffle_bytes"]} for n, q in per_query.items()},
    })


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--role", choices=["serve", "trace"], required=True)
    ap.add_argument("--slots", type=int, required=True)
    ap.add_argument("--prepare", action="store_true", help="run the workload's reference job first")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--t0", type=float, required=True, help="epoch time the process was launched")
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--scratch", required=True)
    args = ap.parse_args()
    os.makedirs(args.scratch, exist_ok=True)
    # stdout is the protocol channel; everything else printed goes to stderr
    proto = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)

    spark = start_session(args.slots, args.scratch)
    session_s = time.time() - args.t0
    first_row(spark, args.inputs)
    setup_s = time.time() - args.t0
    send(proto, {"setup": setup_s})
    if args.role == "trace":
        res = {"session_s": session_s, "first_row_s": setup_s}
        run_traced(spark, args, res)
        send(proto, res)
    else:
        serve(spark, args, proto)
    stop_jvm(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main())
