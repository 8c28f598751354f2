"""Run-to-run spread of the end-to-end metrics.

    python3 e2ebench/spread.py --workload archive_reads --runs 10 --first-seed 100

Runs the benchmark once per seed, one run at a time, and prints for each
end-to-end metric its median and its quartile spread (the distance between
the first and third quartile as a share of the median) next to the bound
BENCHMARK.json declares. A spread within a third of its bound is steady.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from e2ebench import stats  # noqa: E402


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args(argv)
    root = os.path.dirname(HERE)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    results = []
    for seed in range(args.first_seed, args.first_seed + args.runs):
        cmd = spec["command"] + ["--workload", args.workload, "--seed", str(seed),
                                 "--seconds", str(spec["run_seconds"]), "--trace", "0"]
        t = time.perf_counter()
        proc = subprocess.run(cmd, cwd=root, capture_output=True, text=True, timeout=600)
        wall = time.perf_counter() - t
        if proc.returncode != 0:
            print(proc.stderr[-2000:], file=sys.stderr)
            return proc.returncode
        line = json.loads(proc.stdout.strip().splitlines()[-1])
        results.append(line)
        values = " ".join(f"{k}={v['value']:.4g}" for k, v in line["metrics"].items())
        print(f"seed {seed} wall {wall:.1f}s correct={line['correct']} {values}", flush=True)
        with open(os.path.join(root, ".e2ebench_work", f"result-{args.workload}-{seed}-0.json")) as f:
            result = json.load(f)
        d = result[args.workload]["details"]
        print(f"    session {result['session_s']:.1f}s warmup {d['warmup_s']:.1f}s "
              f"steal {d['cpu_steal_share']:.3f} load {d['load_before'][0]:.2f}", flush=True)
        for name, xs in result[args.workload]["samples"].items():
            print(f"    {name}: {' '.join(f'{x:.4g}' for x in xs[:40])}", flush=True)
    ok = True
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in results]
        spread = stats.quartile_spread(vals) if len(vals) >= 2 else float("nan")
        steady = spread <= m["bound"] / 3
        ok &= steady
        print(f"{m['name']:>14} median {stats.median(vals):10.4g} {m['unit']:<4} "
              f"spread {spread:6.3f} bound {m['bound']:.2f} {'steady' if steady else 'NOT STEADY'}")
    print("all correct" if all(r["correct"] for r in results) else "SOME RUNS INCORRECT")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
