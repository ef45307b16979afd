"""The repository benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 16 --trace 0

Workloads (see BENCHMARK.json for why each is there):

  serve  HTTP API under 3 closed-loop readers and 1 open-loop writer
  batch  registry queries (tsdb and pipeline operators, builder call to
         last row) interleaved with streaming ingest drains

Every input is generated from ``--seed`` under ``.bench_work/`` in the
checkout; ``--cores`` (default: all) sets the ``local[n]`` master, the
shuffle width and the environment the session reads. Setup (session
start, data generation, warm-up and the single-client answers) is timed
up to the first timed operation. Outputs are checked; an operation whose
output fails its check counts as failed.

Human-readable tables come first: the environment, the workload's named
end-to-end metrics with units and sample counts, and with ``--trace 1``
the per-layer table. The last line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` — the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.

``--scale`` shrinks or grows every input (the smoke check uses a small
one). The process exits non-zero without a result when the program is
not in the checkout. It exits only after every process it started (the
JVMs, Spark's Python workers, the server and oracle processes) has ended,
also when it fails or receives SIGTERM.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import common  # noqa: E402

SPEC = json.loads((common.ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
END_TO_END = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in SPEC["per_layer"]}


def _workload_module(name: str):
    if name == "serve":
        from perfbench import serve as mod
    else:
        from perfbench import batch as mod
    return mod


def main(argv=None) -> int:
    clock = common.Clock()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=16.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    ap.add_argument("--scale", type=float, default=1.0)
    args = ap.parse_args(argv)
    common.require_program()

    # every process the run starts ends before it does, on every path out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    common.adopt_orphans()
    work = common.make_workdir(args.workload)
    common.pin_env(args.cores, work)
    try:
        with common.ProcessTree() as tree:
            res = _workload_module(args.workload).run(
                args.seed, args.seconds, args.cores, bool(args.trace), work, args.scale, clock, tree
            )
    finally:
        common.end_descendants()
        shutil.rmtree(work, ignore_errors=True)

    lat = res["latencies_ms"]
    e2e = {
        "setup_s": (res["setup_s"], 1),
        "mix_ms": (res["mix_ms"], len(lat)),
        "op_p90_ms": (res["p90_ms"], len(lat)),
        "ops_per_s": (res["ops_per_s"], len(lat)),
        "cpu_ms_per_op": (common.ratio(1000 * res["cpu_s"], len(lat)), len(lat)),
    }
    env = common.environment(args.seed, args.cores)
    print(f"\nworkload={args.workload} trace={args.trace} scale={args.scale} "
          + " ".join(f"{k}={v}" for k, v in env.items()))
    common.print_table(
        "end-to-end metrics",
        {
            **{k: {"value": v, "unit": END_TO_END[k], "n": n} for k, (v, n) in e2e.items()},
            "op_p50_ms": {"value": common.median(lat), "unit": "ms", "n": len(lat)},
            "peak_rss_mb": {"value": tree.peak_mb, "unit": "MB", "n": 1},
            **{k: {"value": v, "unit": u, "n": n} for k, (v, u, n) in res["named"].items()},
        },
    )
    for title, rows in res["tables"] + res.get("trace_tables", []):
        common.print_table(title, rows)

    if args.trace:
        # a layer off this workload's path reads 0 (no time, bytes or jobs in it)
        layers = {**res["layers"], "mem.peak_mb": (tree.peak_mb, "MB")}
        metrics = {
            k: {"value": layers[k][0] if k in layers else 0.0, "unit": u}
            for k, u in PER_LAYER.items()
        }
        common.print_table("per-layer metrics", metrics)
    else:
        metrics = {k: {"value": e2e[k][0], "unit": u} for k, u in END_TO_END.items()}
    ok = res["failed"] == 0 and res["attempted"] > 0
    print(json.dumps({
        "correct": ok,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
