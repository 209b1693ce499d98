"""Run the benchmark once per seed and report each end-to-end metric's median
and spread (inter-quartile distance as a share of the median), the figures a
change is judged against.

    python3 perfbench/spread.py --workload cdc_tail --seeds 1-10 [--seconds 7]

Runs are sequential. Each run's result line is appended to
``.perfbench_out/spread-<workload>.jsonl``.
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

import stats  # noqa: E402


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="7")
    args = ap.parse_args(argv)

    values: dict[str, list[float]] = {}
    out = os.path.join(ROOT, ".perfbench_out", f"spread-{args.workload}.jsonl")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    for seed in seeds(args.seeds):
        t0 = time.time()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                            "--workload", args.workload, "--seed", str(seed),
                            "--seconds", args.seconds, "--trace", "0"],
                           cwd=ROOT, capture_output=True, text=True)
        wall = time.time() - t0
        if p.returncode != 0:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
            return 1
        lines = p.stdout.strip().splitlines()
        result, record = json.loads(lines[-1]), json.loads(lines[-2])["record"]
        with open(out, "a") as f:
            f.write(json.dumps({"seed": seed, "wall_s": wall, "record": record,
                                **result}) + "\n")
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: {wall:.0f} s wall, correct={result['correct']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()),
              flush=True)
    for k, v in values.items():
        spread = stats.relative_spread(v) if len(v) >= 2 else float("nan")
        print(f"{k}: median {statistics.median(v):.4g}  spread {spread:.3f}  n={len(v)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
