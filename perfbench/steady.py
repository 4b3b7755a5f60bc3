"""Steadiness mode: repeat workloads over several seeds on the same code.

    python3 perfbench/steady.py --seeds 10 [--workloads drift_check ...]
                                [--save runs.json] [--against earlier.json]

Runs ``perfbench/run.py`` once per (workload, seed), one run at a time,
with the ``run_seconds`` of ``BENCHMARK.json``.  For every end-to-end
metric it prints the median, the quartiles and the spread (quartile
distance over the median) next to the metric's bound; ``--against``
compares the medians with an earlier ``--save`` file, as a second set of
runs of the same code should agree within the bounds.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed",
         str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}:\n"
                           f"{proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def summarize(values: list[float]) -> tuple[float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3


def main(argv: list[str]) -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seeds", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--workloads", nargs="*",
                   default=[w["name"] for w in bench["workloads"]])
    p.add_argument("--save", type=Path)
    p.add_argument("--against", type=Path)
    args = p.parse_args(argv)

    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    results: dict[str, list[dict]] = {}
    for workload in args.workloads:
        results[workload] = []
        for seed in range(args.first_seed, args.first_seed + args.seeds):
            out = run_once(workload, seed, bench["run_seconds"], 0)
            results[workload].append(out)
            print(f"{workload} seed {seed}: correct={out['correct']} "
                  f"failed={out['failed']}/{out['attempted']} " + " ".join(
                      f"{k}={v['value']:.4g}" for k, v in out["metrics"].items()),
                  flush=True)
    if args.save:
        args.save.write_text(json.dumps(results))
    earlier = json.loads(args.against.read_text()) if args.against else {}

    steady = True
    for workload, runs in results.items():
        print(f"\n{workload} ({len(runs)} runs)")
        for name, bound in bounds.items():
            med, q1, q3 = summarize([r["metrics"][name]["value"] for r in runs])
            spread = (q3 - q1) / med if med else 0.0
            verdict = "ok" if spread <= bound / 3 or name == "setup_s" else (
                "WIDE" if spread > bound else "above bound/3")
            line = (f"  {name:18s} median {med:12.5g}  q1 {q1:12.5g}  q3 {q3:12.5g}"
                    f"  spread {spread:6.3f}  bound {bound:5.2f}  {verdict}")
            if workload in earlier:
                before, _, _ = summarize(
                    [r["metrics"][name]["value"] for r in earlier[workload]])
                shift = (med - before) / before if before else 0.0
                line += f"  shift {shift:+.3f}"
                steady &= abs(shift) <= bound
            steady &= verdict != "WIDE"
            print(line)
    return 0 if steady else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
