"""Run one workload over several seeds and report each end-to-end
metric's median and interquartile spread (as a share of the median),
against the bounds in BENCHMARK.json.

    python3 perfbench/spread.py --workload online_serve --seeds 1-10

Runs go one after another from the checkout root, each a fresh
process, exactly as the benchmark command is run.
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

from stats import spread  # noqa: E402


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--trace", type=int, default=0)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {}
    for seed in _seeds(args.seeds):
        cmd = bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]),
                                  "--trace", str(args.trace)]
        t0 = time.perf_counter()
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        wall = time.perf_counter() - t0
        if out.returncode != 0:
            print(out.stderr[-3000:], file=sys.stderr)
            return 1
        res = json.loads(out.stdout.strip().splitlines()[-1])
        row = {"seed": seed, "wall_s": round(wall, 1), "correct": res["correct"],
               "attempted": res["attempted"], "failed": res["failed"]}
        row.update((k, round(v["value"], 4)) for k, v in res["metrics"].items())
        print(json.dumps(row), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    if len(next(iter(values.values()))) >= 2:
        for k, vs in values.items():
            s = spread(vs)
            line = f"{k:32s} median {statistics.median(vs):12.4f}  spread {s:7.4f}"
            b = bounds.get(k)
            if b is not None:
                verdict = "ok" if s < b / 3 else ("within" if s < b else "OVER")
                line += f"  bound {b}  {verdict}"
            print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
