"""Run the benchmark over several seeds and print every end-to-end metric
by name, per workload, with its unit, median, quartiles and sample count,
plus the error rate and, on pages_clean, the scaling target.

    python3 perfbench/summary.py --seeds 10            # every workload
    python3 perfbench/summary.py --seeds 5 --workloads queries --trace 1

Seeds run 1..N, and the workloads alternate within each seed. Raw results
are kept in ``.perfbench/summary-<time>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402
from run import ROOT, WORKLOADS  # noqa: E402

SCALING_TARGET = 0.8  # the north rule: >= 0.8 from N to 4N slots
# the workload the north rule's scaling gate reads; the queries workload's
# scaling_eff is dominated by per-job overhead at sf0.01 and is no reading of it
SCALING_WORKLOAD = "pages_clean"
DETAIL = "perfbench detail "
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    RUN_SECONDS = json.load(_f)["run_seconds"]


def run_once(workload: str, seed: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(RUN_SECONDS), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return {"error": p.returncode}
    res = json.loads(lines[-1])
    for line in p.stderr.splitlines():
        if line.startswith(DETAIL):
            res["detail"] = json.loads(line[len(DETAIL):])
    return res


def summarize(runs: dict[str, list[dict]]) -> None:
    print(f"{'workload':12s} {'metric':28s} {'unit':6s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'n':>3s} {'iqr/med':>8s}"
          "  top percentile with >= 10 beyond")
    for workload, results in runs.items():
        ok = [r for r in results if "metrics" in r]
        attempted = sum(r["attempted"] for r in ok)
        failed = sum(r["failed"] for r in ok)
        for name in ok[0]["metrics"] if ok else []:
            xs = [r["metrics"][name]["value"] for r in ok]
            q1, q2, q3 = stats.quartiles(xs)
            unit = ok[0]["metrics"][name]["unit"]
            top = stats.top_percentile(xs)
            top_s = f"p{top[0]:.0f} = {top[1]:.6g}" if top else "(needs > 10 samples)"
            print(f"{workload:12s} {name:28s} {unit:6s} {q2:12.6g} {q1:12.6g} {q3:12.6g} {len(xs):3d}"
                  f" {stats.spread(xs):8.3f}  {top_s}")
            if name == "scaling_eff" and workload == SCALING_WORKLOAD:
                verdict = "met" if q2 >= SCALING_TARGET else "not met"
                print(f"{workload:12s} {'  target >= 0.8':28s} {'':6s} {verdict:>12s}")
        rate = stats.error_rate(attempted, failed) if attempted else float("nan")
        print(f"{workload:12s} {'error_rate':28s} {'ratio':6s} {rate:12.6g} {'':>12s} {'':>12s} {len(results):3d}"
              f"   ({failed} of {attempted} operations failed, {len(results) - len(ok)} runs without a result)")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", nargs="*", default=list(WORKLOADS))
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    runs: dict[str, list[dict]] = {w: [] for w in args.workloads}
    for seed in range(args.first_seed, args.first_seed + args.seeds):
        for w in args.workloads:
            runs[w].append(run_once(w, seed, args.trace))
            print(f"# {w} seed {seed}: {json.dumps(runs[w][-1])}", file=sys.stderr, flush=True)
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    with open(os.path.join(ROOT, ".perfbench", f"summary-{int(time.time())}.json"), "w") as f:
        json.dump(runs, f)
    summarize(runs)
    return 0


if __name__ == "__main__":
    sys.exit(main())
