"""Run one workload over several seeds and report each metric's median
and quartile spread against its bound in BENCHMARK.json:

    python3 perfbench/spread.py --workload serve --runs 10 [--first-seed 1]

The spread is (Q3 - Q1) / median of the per-run values, with
statistics.quantiles(values, n=4). Runs go one after another. It also
checks that every operation ran the same number of Spark jobs in every
run: the corpus shape does not depend on the seed, so neither should the
job counts. Exits 1 if a run fails or a job count differs between runs.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from stats import quartile_spread  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    values: dict[str, list[float]] = {}
    jobs: dict[str, set] = {}
    walls = []
    bad = 0
    for seed in range(args.first_seed, args.first_seed + args.runs):
        t0 = time.perf_counter()
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
             "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True,
        )
        walls.append(time.perf_counter() - t0)
        res = json.loads(p.stdout.strip().splitlines()[-1]) if p.returncode == 0 else None
        ok = bool(res and res["correct"] and res["failed"] == 0)
        print(f"seed {seed}: exit {p.returncode} correct {ok} wall {walls[-1]:.1f}s", flush=True)
        if not ok:
            bad += 1
            print(p.stderr[-2000:], file=sys.stderr)
            continue
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        record = p.stderr.rsplit("perfbench: record ", 1)[-1].strip()
        with open(record) as f:
            for op, counts in json.load(f)["jobs"].items():
                jobs.setdefault(op, set()).add(tuple(counts))
    print(f"wall per run: median {statistics.median(walls):.1f}s max {max(walls):.1f}s")
    for op, seen in sorted(jobs.items()):
        verdict = "same in every run" if len(seen) == 1 else "DIFFER"
        bad += len(seen) > 1
        print(f"jobs {op:20s} {sorted(seen)} {verdict}")
    for k, vs in values.items():
        if len(vs) < 2:
            continue
        spread = quartile_spread(vs)
        b = bounds[k]
        flag = "ok" if spread < b / 3 else "WIDE" if spread > b else "near"
        print(f"{k:32s} median {statistics.median(vs):10.4f} spread {spread:.4f} "
              f"bound {b} {flag}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
