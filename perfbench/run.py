"""Benchmark of the extraction engine on one host.

    python3 perfbench/run.py --workload pages_clean --seed 1 --seconds 8 --trace 0
    python3 perfbench/summary.py --seeds 10      # medians and quartiles over seeds

Workloads (one closed-loop client per slot count, one job at a time):

* ``pages_clean`` — ``run_extraction`` over the rendered pages table with
  the CLI's default of one commit chunk.
* ``queries`` — a fixed set of ``plans.queries`` entries at sf0.01, one
  pass per job, in an order the seed fixes.

Each run starts two worker processes one after the other, one at 4N =
nproc slots and then one at N = nproc/4 slots. Each reports the wall from
its launch to its first extracted row while the other is absent or idle,
so neither start-up shares the host with the benchmark's other work;
``setup_s`` is their median. Once both are up, the N worker warms up by
running an untimed reference job (pages_clean: committed in two chunks,
stopped after the first and resumed; queries: one pass), and the 4N worker
by running one untimed job. Timed jobs then alternate between the two
workers, starting and ending on the 4N side (4N, N, 4N, ...), until
``--seconds`` of job wall has passed and the 4N side has run ``MIN_JOBS``.

``--trace 0`` reports the end-to-end metrics: ``ops_per_s`` (pages or
queries committed per second of job wall at 4N slots, the median over the
timed jobs), ``scaling_eff`` (the same rate at 4N over 4 x the rate at N
slots; the north-rule target is >= 0.8, read on pages_clean) and
``setup_s``. ``--trace 1`` is a separate run of one 4N worker that reports
the per-layer metrics, turns on the Spark event log and writes a span file
under ``.perfbench/traces``.

Every output is checked outside the timed section: pages byte-identical to
the generator's ground truth per url, lineage doc counts summing to the
input rows, every timed output hashing the same as the interrupted-and-
resumed reference, query results equal to their DuckDB oracles. Each
mismatch is one failed operation. The last stdout line is the JSON result.
Everything the benchmark writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("pages_clean", "queries")
MIN_JOBS = 2


def slot_pair() -> tuple[int, int]:
    """(N, 4N) slots: N = nproc/4, so 4N = nproc on a host whose core
    count is a multiple of 4."""
    n = max(1, (os.cpu_count() or 4) // 4)
    return n, 4 * n


def recv(p: subprocess.Popen) -> dict:
    line = p.stdout.readline()
    if not line:
        raise RuntimeError(f"worker ended early with {p.wait()}")
    return json.loads(line)


def throughput(results: list[dict]) -> float:
    """Median over a side's jobs of the operations each committed per
    second of its wall."""
    return stats.median([r["ops"] / r["wall"] for r in results])


def interleave(workers, seconds: float, factor: int, marks: dict, t0: float) -> dict:
    """Timed jobs alternating between the 4N and the N worker, starting and
    ending on the 4N side (4N, N, 4N, ...), until ``seconds`` of job wall
    has passed and the 4N side has run ``MIN_JOBS`` jobs."""
    big, small = workers
    results: dict[str, list[dict]] = {"big": [], "small": []}
    attempted = failed = 0
    # ready: warmed up; the N side warmed up by running the interrupted-
    # and-resumed reference job that every timed job's output must hash
    # the same as
    readies = [recv(p) for p in workers]
    reference = readies[1]["reference"]
    marks["ready"] = time.time() - t0

    def job(side: str, p: subprocess.Popen) -> None:
        nonlocal attempted, failed
        p.stdin.write("job\n")
        p.stdin.flush()
        r = recv(p)
        results[side].append(r)
        attempted, failed = attempted + r["attempted"], failed + r["failed"]
        if reference is not None:
            attempted, failed = attempted + 1, failed + int(r["hash"] != reference)

    job("big", big)
    while sum(r["wall"] for rs in results.values() for r in rs) < seconds or len(results["big"]) < MIN_JOBS:
        job("small", small)
        job("big", big)
    marks["timed"] = time.time() - t0
    query_walls = None
    for p in workers:
        p.stdin.write("finish\n")
        p.stdin.flush()
        query_walls = query_walls or recv(p)["query_walls"]
    tput_big, tput_small = throughput(results["big"]), throughput(results["small"])
    return {
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            "ops_per_s": tput_big,
            "scaling_eff": stats.scaling_efficiency(tput_big, tput_small, factor),
        },
        "detail": {
            "job_walls": {side: [r["wall"] for r in rs] for side, rs in results.items()},
            "ops_per_s_small": tput_small,
            "query_walls_4n": query_walls,
            "ready": readies,
        },
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "docling_ibm_models_spark")):
        print("perfbench: the docling_ibm_models_spark package is not in this checkout", file=sys.stderr)
        return 2

    cache = os.path.join(ROOT, ".perfbench")
    scratch = os.path.join(cache, f"run-{os.getpid()}")
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        TMPDIR=os.path.join(cache, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(scratch, "spark-local"),
        # two driver JVMs share the host during a run; 2 GB each is ample
        # for these inputs, where the program's default is 8 GB
        SPARK_DRIVER_MEMORY="2g",
        # JVM temp files under the checkout too, and no /tmp/hsperfdata
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(cache, 'tmp')}",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    os.makedirs(env["TMPDIR"], exist_ok=True)
    os.environ.update(env)
    sys.path.insert(0, ROOT)
    import gen

    inputs = gen.inputs(args.workload, args.seed)

    small, big = slot_pair()
    roles = [("trace", big)] if args.trace else [("serve", big), ("serve", small)]
    t0 = time.time()
    workers: list[subprocess.Popen] = []
    setups: list[float] = []
    try:
        for i, (role, slots) in enumerate(roles):
            workers.append(subprocess.Popen(
                [sys.executable, os.path.join(HERE, "worker.py"), "--role", role, "--slots", str(slots),
                 "--workload", args.workload, "--seed", str(args.seed), "--t0", repr(time.time()),
                 "--inputs", inputs, "--scratch", f"{scratch}/{i}", *(["--prepare"] if i == 1 else [])],
                cwd=ROOT, env=env, stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
            ))
            setups.append(recv(workers[-1])["setup"])
        marks = {"setup": time.time() - t0}
        if args.trace:
            res = recv(workers[0])
        else:
            for p in workers:
                p.stdin.write("go\n")
                p.stdin.flush()
            res = interleave(workers, args.seconds, big // small, marks, t0)
        for p in workers:
            p.stdin.close()
            if p.wait(timeout=60):
                raise RuntimeError(f"worker exited with {p.returncode}")
        marks["end"] = time.time() - t0
    finally:
        for p in workers:
            if p.poll() is None:
                p.kill()
                p.wait()
        shutil.rmtree(scratch, ignore_errors=True)

    metrics = dict(res["metrics"])
    if not args.trace:
        metrics["setup_s"] = stats.median(setups)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    declared = {m["name"]: m["unit"] for m in bench["per_layer" if args.trace else "end_to_end"]}
    if set(metrics) != set(declared):
        raise RuntimeError(f"metrics {sorted(set(metrics) ^ set(declared))} differ from BENCHMARK.json")
    detail = dict(res.get("detail", {}), setup_samples=setups, marks=marks, workload=args.workload, seed=args.seed)
    print("perfbench detail " + json.dumps(detail), file=sys.stderr)
    for k in sorted(metrics):
        print(f"{k:32s} {metrics[k]:.6g} {declared[k]}")
    for name, q in sorted(detail.get("queries", {}).items()):
        print(f"{'queries.' + name + '.s':44s} {q['s']:.6g} s")
        print(f"{'queries.' + name + '.shuffle_bytes':44s} {q['shuffle_bytes']} bytes")
    out = {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": declared[k]} for k, v in metrics.items()},
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
