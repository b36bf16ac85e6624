"""Run one workload on several seeds and summarize each end-to-end
metric by its median and its spread (quartile distance / median).

    python3 perfbench/repeat.py --workload timeslice-scan --seeds 1-10 [--out FILE]

Each run's result object (plus its box fingerprint and wall time) is
appended to ``--out`` as one JSON line. Runs are sequential: the
benchmark needs the whole box.
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


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi) + 1)) if hi else [int(s) for s in text.split(",")]


def summarize(results: list[dict]) -> dict[str, tuple[float, float]]:
    """metric -> (median, (q3 - q1) / median) over the runs."""
    out = {}
    for name in results[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in results]
        q = statistics.quantiles(values, n=4)
        med = statistics.median(values)
        out[name] = (med, (q[2] - q[0]) / med if med else 0.0)
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="a range 1-10 or a list 1,5,9")
    ap.add_argument("--seconds", help="defaults to run_seconds of BENCHMARK.json")
    ap.add_argument("--out")
    args = ap.parse_args()
    if args.seconds is None:
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
            args.seconds = json.load(fh)["run_seconds"]
    results = []
    for seed in _seeds(args.seeds):
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"],
            capture_output=True, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode or len(lines) < 2:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        result = json.loads(lines[-1])
        result.update(seed=seed, wall_s=time.perf_counter() - t0, box=json.loads(lines[-2])["box"])
        results.append(result)
        if args.out:
            with open(args.out, "a") as fh:
                fh.write(json.dumps(result) + "\n")
        print(f"seed {seed}: {result['wall_s']:.1f}s " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), flush=True)
    if len(results) > 1:
        for name, (med, spread) in summarize(results).items():
            print(f"{name:16s} median {med:14.4f}  spread {spread:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
