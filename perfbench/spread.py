"""Run-to-run spread of the end-to-end metrics.

Runs ``run.py`` once per seed for each workload and prints, per metric,
the median and the quartile spread (Q3 - Q1) / median as
``statistics.quantiles(values, n=4)`` gives them, next to the metric's
bound from BENCHMARK.json. Exits 1 when a spread other than setup_s's
exceeds its bound, or a run fails.

    python3 perfbench/spread.py --seeds 101-110 [--workload NAME ...]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--seeds", type=_seeds, default=_seeds("1-10"))
    p.add_argument("--workload", action="append",
                   choices=[w["name"] for w in spec["workloads"]])
    args = p.parse_args()
    ok = True
    for workload in args.workload or [w["name"] for w in spec["workloads"]]:
        values: dict[str, list[float]] = {}
        for seed in args.seeds:
            proc = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", workload,
                 "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True,
            )
            lines = proc.stdout.strip().splitlines()
            result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
            if result is None or not result["correct"]:
                print(f"{workload} seed {seed}: FAILED (exit {proc.returncode})", flush=True)
                ok = False
                continue
            print(f"{workload} seed {seed}: " + " ".join(
                f"{k}={v['value']:.5g}" for k, v in result["metrics"].items()), flush=True)
            for k, v in result["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        for m in spec["end_to_end"]:
            xs = values.get(m["name"], [])
            if len(xs) < 2:
                continue
            q1, _q2, q3 = statistics.quantiles(xs, n=4)
            med = statistics.median(xs)
            spread = (q3 - q1) / med
            print(f"{workload:14s} {m['name']:24s} median {med:12.5g}  "
                  f"spread {spread:.3f}  bound {m['bound']}", flush=True)
            if m["name"] != "setup_s" and spread > m["bound"]:
                ok = False
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
