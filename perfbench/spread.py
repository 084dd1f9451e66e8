"""Run-to-run spread of the end-to-end metrics, checked against the bounds.

    python3 perfbench/spread.py --workload index_lifecycle --seeds 1-10

Runs the benchmark once per seed (one after another, from the checkout
root) and prints, per end-to-end metric, the median and the
interquartile distance as a share of the median, next to the bound in
BENCHMARK.json and a third of it.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402
import stats  # noqa: E402


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    args = p.parse_args()
    bench = run.benchmark()
    values: dict[str, list[float]] = {}
    for seed in _seeds(args.seeds):
        cmd = [*bench["command"], "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        record, result = (json.loads(x) for x in out.stdout.strip().splitlines()[-2:])
        assert result["correct"], (seed, result)
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(json.dumps({"seed": seed, "steal_share": record["steal_share"],
                          "phase_s": record["phase_s"],
                          **{k: v["value"] for k, v in result["metrics"].items()}}),
              flush=True)
    for m in bench["end_to_end"]:
        vals = values[m["name"]]
        s = stats.spread(vals)
        print(f"{m['name']:14s} median={statistics.median(vals):.4f} spread={s:.3f} "
              f"bound={m['bound']} third={m['bound'] / 3:.3f} "
              f"{'ok' if s < m['bound'] / 3 else 'WIDE'}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
