"""Run one workload over several seeds and summarise each metric.

    python3 perfbench/repeat.py --workload batch --seeds 1-10 [--out FILE]

Runs are untraced. For every end-to-end metric it prints the median, the
quartiles and the spread (interquartile range over median) of the per-run
values, which is how a metric's regression bound in BENCHMARK.json is
judged. ``--out`` writes the same summary as JSON, for a recorded baseline.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    values: dict[str, list[float]] = {}
    units: dict[str, str] = {}
    runs = []
    for seed in seeds(args.seeds):
        cmd = [sys.executable, *spec["command"][1:], "--workload", args.workload, "--seed",
               str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"]
        t0 = time.perf_counter()
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        wall = time.perf_counter() - t0
        if out.returncode != 0:
            print(out.stdout[-3000:], out.stderr[-3000:], sep="\n")
            return 1
        res = json.loads(out.stdout.strip().splitlines()[-1])
        runs.append({"seed": seed, "wall_s": round(wall, 1), **{k: res[k] for k in ("correct", "attempted", "failed")}})
        print(f"seed {seed}: wall {wall:.1f} s correct={res['correct']} failed={res['failed']}/"
              f"{res['attempted']} " + " ".join(f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()),
              flush=True)
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
            units[k] = m["unit"]
    summary = {}
    for k, v in values.items():
        med = statistics.median(v)
        q1, _, q3 = statistics.quantiles(v, n=4) if len(v) > 1 else (v[0], v[0], v[0])
        summary[k] = {"unit": units[k], "median": med, "q1": q1, "q3": q3,
                      "spread": (q3 - q1) / med if med else 0.0, "n": len(v)}
        print(f"{k:34s} median {med:12.5g} {units[k]:6s} q1 {q1:12.5g} q3 {q3:12.5g} "
              f"spread {summary[k]['spread']:.3f}")
    if args.out:
        Path(args.out).parent.mkdir(parents=True, exist_ok=True)
        Path(args.out).write_text(json.dumps(
            {"workload": args.workload, "runs": runs, "metrics": summary},
            indent=1) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
