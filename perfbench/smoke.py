"""Quick check that the benchmark harness still works end to end.

    python3 perfbench/smoke.py

Runs every workload listed in BENCHMARK.json on tiny inputs for one
second, untraced and traced, and fails unless each run exits 0, reports
correct outputs and prints exactly the metrics BENCHMARK.json names.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = {0: {m["name"] for m in spec["end_to_end"]}, 1: {m["name"] for m in spec["per_layer"]}}
    failures = []
    for w in spec["workloads"]:
        for trace in (0, 1):
            cmd = [sys.executable, *spec["command"][1:], "--workload", w["name"], "--seed", "7",
                   "--seconds", "1", "--trace", str(trace), "--scale", "0.05"]
            out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
            lines = out.stdout.strip().splitlines()
            try:
                res = json.loads(lines[-1])
            except (IndexError, json.JSONDecodeError):
                res = None
            ok = (
                out.returncode == 0
                and res is not None
                and res["correct"]
                and set(res["metrics"]) == names[trace]
            )
            print(f"{w['name']} trace={trace}: {'ok' if ok else 'FAIL'}", flush=True)
            if not ok:
                failures.append((w["name"], trace, out.stdout[-2000:], out.stderr[-2000:]))
    for name, trace, so, se in failures:
        print(f"--- {name} trace={trace}\n{so}\n{se}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
