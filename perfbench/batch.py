"""Batch workload: registry queries and streaming ingest drains.

An operation is either one registry query — call its builder (which may
run eager driver-side jobs) and write every row to the ``noop`` sink —
or one ingest drain (see ingest.py). A pass runs every operation once in
an order shuffled by the seed; a run measures a fixed number of passes,
about ``--seconds`` of them on 4 cores.

The queries are of two kinds. The tsdb queries read only ``events`` and
run no Python kernel: scan, aggregate, window and exchange work. The
pipeline queries run the document operators, where the mapInPandas
boundary and the builders' eager jobs dominate.

Setup generates the tables, starts the session, runs one pass that
collects every query's rows and compares them with the query's DuckDB
oracle (computed while the JVM starts), then one more untimed pass. A
mismatch marks every timed run of that query failed; a failed ingest
check marks every drain failed.
"""

from __future__ import annotations

import json
import random
import statistics
import subprocess
import sys
import time
from pathlib import Path

if __package__ in (None, ""):
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import common, datagen
from perfbench.ingest import LINES, Ingest

TSDB = [
    "q02_downsample_avg_1m",  # scan + hash-aggregate downsample
    "q195_interarrival",  # slice-partitioned lag + boundary stitch
]
PIPELINE = [
    "q34_minhash_lsh",  # MinHash banding kernel (mapInPandas)
    "q116_dsir_weights",  # builder with eager driver-side jobs
]
INGEST = "ingest_drain"
PASS_S = 4.0  # --seconds / PASS_S passes per run (4 at 16 s)
WARM_PASSES = 1  # untimed passes after the checked one: two warm passes in all
SIZES = {"events": 40_000, "documents": 400}
STREAM_PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
                 "commitOffsets", "triggerExecution")


def _oracles(data: Path, tables: list[str], names: list[str], out: Path) -> None:
    """Write canonical oracle rows per query, from DuckDB over the same
    files, to ``out`` as JSON. Runs in its own process (this file with
    ``--oracles``), so its memory is not counted as the program's."""
    import duckdb

    import ticktock_spark.pipeline.queries  # noqa: F401 — registers q3x+
    from ticktock_spark.queries import ORACLES

    expected = {}
    con = duckdb.connect()
    try:
        for t in tables:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data / t}.parquet'")
        for n in names:
            try:
                expected[n] = common.canonical_rows(con.sql(ORACLES[n]).df())
            except duckdb.Error as e:
                print(f"oracle {n}: {type(e).__name__}: {e}", flush=True)
    finally:
        con.close()
        out.write_text(json.dumps(expected))


def run(seed: int, seconds: float, cores: int, trace: bool, work: Path, scale: float,
        clock: common.Clock, tree: common.ProcessTree) -> dict:
    import ticktock_spark.pipeline.queries  # noqa: F401 — registers q3x+
    from ticktock_spark.queries import QUERIES as REGISTRY

    queries = TSDB + PIPELINE
    data = work / "data"
    sizes = {t: max(50, int(n * scale)) for t, n in SIZES.items()}
    tables = datagen.write_tables(seed, data, sizes)
    # the oracles run while the JVM starts
    out = work / "oracles.json"
    oracle = subprocess.Popen(
        [sys.executable, str(Path(__file__).resolve()), "--oracles", "--data", str(data),
         "--out", str(out), "--tables", *tables, "--queries", *queries],
    )
    tree.exclude.add(oracle.pid)
    try:
        spark = common.spark_session(cores, work, event_log=trace)
    finally:
        oracle.wait()
    # a missing oracle fails its query's check
    expected = json.loads(out.read_text()) if out.is_file() else {}
    sc = spark.sparkContext
    sf = str(data)
    ingest = Ingest(spark, work, seed, max(200, int(LINES * scale)))
    order = random.Random(seed)
    ops = queries + [INGEST]

    # setup: one pass that checks every query's output against its oracle
    bad: set[str] = set()
    digests: dict[str, str] = {}
    for name in order.sample(ops, len(ops)):
        if name == INGEST:
            ingest.land()
            ingest.drain()
            continue
        try:
            got = common.canonical_rows(REGISTRY[name](spark, sf).toPandas())
        except Exception as e:  # noqa: BLE001 — a failing query is a result
            print(f"check {name}: raised {type(e).__name__}: {e}")
            bad.add(name)
            continue
        digests[name] = f"{len(got[1])}:{common.digest(got[1])}"
        want = expected.get(name)
        if want is None or not common.close(got, want):
            print(f"check {name}: {len(got[1])} rows differ from the oracle's "
                  f"{len(want[1]) if want else 'missing'}")
            bad.add(name)

    # measurement: a fixed number of whole passes, so every run times the
    # same operations, after WARM_PASSES untimed ones (operations keep
    # speeding up for several passes as the JIT warms, so a clock-ended
    # window would mix warm and cold differently from run to run). In a
    # traced run each operation's samples alternate untraced and traced as
    # ABBA, so the drift as the JIT warms falls on both sides alike; the
    # untraced ones are the reference for the tracing overhead.
    passes = max(2 if trace else 1, round(seconds / PASS_S))
    samples: dict[str, list[tuple[float, float, bool]]] = {n: [] for n in ops}
    streams: list[tuple[str, list]] = []  # traced drains: (run id, progress)
    errors = 0
    for i in range(WARM_PASSES + passes):
        timed = i >= WARM_PASSES
        if i == WARM_PASSES:
            setup_s = clock.elapsed()
            cpu0 = tree.cpu_s()
        for name in order.sample(ops, len(ops)):
            tag = trace and timed and len(samples[name]) % 4 in (1, 2)
            try:
                if name == INGEST:
                    ingest.land()
                    t0 = t1 = time.perf_counter()
                    q = ingest.drain()
                    t2 = time.perf_counter()
                    if tag:
                        streams.append((str(q.runId), q.recentProgress))
                else:
                    if tag:
                        sc.setJobGroup(f"{name}:build", name)
                    t0 = time.perf_counter()
                    df = REGISTRY[name](spark, sf)
                    t1 = time.perf_counter()
                    if tag:
                        sc.setJobGroup(f"{name}:exec", name)
                    df.write.format("noop").mode("overwrite").save()
                    t2 = time.perf_counter()
            except Exception as e:  # noqa: BLE001
                print(f"op {name}: raised {type(e).__name__}: {e}")
                errors += 1
                continue
            finally:
                if tag:
                    sc.setLocalProperty("spark.jobGroup.id", None)
            if timed:
                samples[name].append((t1 - t0, t2 - t1, tag))
    cpu_s = tree.cpu_s() - cpu0
    if not ingest.check():
        bad.add(INGEST)
    common.stop_spark(spark)

    done = [(n, b, e, tag) for n, s in samples.items() for b, e, tag in s]
    latencies = [(b + e) * 1000 for _, b, e, _ in done]
    attempted = len(done) + errors
    failed = errors + sum(1 for n, *_ in done if n in bad)
    medians = {n: statistics.median([b + e for b, e, _ in s]) for n, s in samples.items() if s}
    drains = [e for _, e, _ in samples[INGEST]]
    result = {
        "setup_s": setup_s,
        "latencies_ms": latencies,
        "mix_ms": 1000 * sum(medians.values()),
        "p90_ms": 1000 * sum(common.p90([b + e for b, e, _ in s]) for s in samples.values() if s),
        "cpu_s": cpu_s,
        "ops_per_s": len(done) / sum(b + e for _, b, e, _ in done) if done else 0.0,
        "attempted": attempted,
        "failed": failed,
        "named": {
            "batch_s": (sum(medians.values()), "s", passes),
            "tsdb_batch_s": (sum(medians.get(n, 0.0) for n in TSDB), "s", len(TSDB)),
            "pipeline_batch_s": (sum(medians.get(n, 0.0) for n in PIPELINE), "s", len(PIPELINE)),
            "ingest_dps_per_s": (
                ingest.lines * len(drains) / sum(drains) if drains else 0.0, "1/s", len(drains)),
            "failed_frac": (failed / max(attempted, 1), "frac", attempted),
        },
        "tables": [(
            "per operation (medians over all passes)",
            {
                n: {
                    "n": len(s),
                    "build_ms": round(1000 * statistics.median([b for b, _, _ in s]), 1),
                    "exec_ms": round(1000 * statistics.median([e for _, e, _ in s]), 1),
                    "rows:digest": digests.get(n, "-"),
                    "check": "FAIL" if n in bad else "ok",
                }
                for n, s in samples.items() if s
            },
        )],
    }
    if trace:
        result.update(_trace(work, samples, streams, cores))
    return result


def _trace(work: Path, samples: dict, streams: list, cores: int) -> dict:
    groups = common.read_event_log(work / "eventlog")
    # the stream names its jobs with its run id; file them under the op
    run_ids = [rid for rid, _ in streams]
    groups[f"{INGEST}:exec"] = common.merge_groups(groups, run_ids)
    for rid in run_ids:
        groups.pop(rid, None)
    rows = {}
    mix_on = mix_off = 0.0  # sums of per-operation medians, traced and untraced
    n_traced = build_s = op_s = 0.0
    build_jobs = 0
    for name, s in samples.items():
        traced = [(b, e) for b, e, tag in s if tag]
        plain = [b + e for b, e, tag in s if not tag]
        if not traced:
            continue
        k = len(traced)
        gb = groups.get(f"{name}:build", dict.fromkeys(common.GROUP_FIELDS, 0))
        ge = groups.get(f"{name}:exec", dict.fromkeys(common.GROUP_FIELDS, 0))
        n_traced += k
        build_s += sum(b for b, _ in traced)
        op_s += sum(b + e for b, e in traced)
        build_jobs += gb["jobs"]
        if plain:
            mix_on += statistics.median([b + e for b, e in traced])
            mix_off += statistics.median(plain)
        g = common.merge_groups(groups, [f"{name}:build", f"{name}:exec"])
        rows[name] = {
            "n": k,
            "untraced.s": round(statistics.median(plain), 4) if plain else "-",
            "build.s": round(sum(b for b, _ in traced) / k, 4),
            "exec.s": round(sum(e for _, e in traced) / k, 4),
            "build.jobs": round(gb["jobs"] / k, 2),
            "exec.jobs": round(ge["jobs"] / k, 2),
            **{key: round(v / k, 4) for key, v in common.group_row(g).items()},
        }
    batches = [p for _, ps in streams for p in ps if p.get("numInputRows")]
    phase = {ph: sum(p["durationMs"].get(ph, 0) for p in batches) for ph in STREAM_PHASES}
    trig = phase["triggerExecution"]

    traced_groups = {g: groups[g] for n in samples for g in (f"{n}:build", f"{n}:exec") if g in groups}
    layers = common.layer_metrics(traced_groups, int(n_traced), op_s, cores)
    layers.update(
        {
            "trace.overhead_frac": (common.ratio(mix_on, mix_off) - 1 if mix_off else 0.0, "frac"),
            "build.frac": (common.ratio(build_s, op_s), "frac"),
            "build.jobs_per_op": (common.ratio(build_jobs, n_traced), "count"),
            "streaming.add_batch_frac": (common.ratio(phase["addBatch"], trig), "frac"),
            "streaming.planning_frac": (common.ratio(phase["queryPlanning"], trig), "frac"),
            "streaming.wal_commit_frac": (common.ratio(phase["walCommit"], trig), "frac"),
            "streaming.rows_per_batch": (
                statistics.fmean([p["numInputRows"] for p in batches]) if batches else 0.0,
                "count"),
        }
    )
    nb = max(len(batches), 1)
    stream_row = {
        "batches": len(batches),
        **{f"{ph}_ms": round(phase[ph] / nb, 1) for ph in STREAM_PHASES},
    }
    return {
        "layers": layers,
        "trace_tables": [
            ("per-layer table, per operation (means per traced op)", rows),
            ("streaming progress, per micro-batch (means)", {INGEST: stream_row}),
        ],
    }


if __name__ == "__main__":
    import argparse

    ap = argparse.ArgumentParser(description="batch workload oracle process")
    ap.add_argument("--oracles", action="store_true", required=True)
    ap.add_argument("--data", type=Path, required=True)
    ap.add_argument("--out", type=Path, required=True)
    ap.add_argument("--tables", nargs="+", required=True)
    ap.add_argument("--queries", nargs="+", required=True)
    a = ap.parse_args()
    _oracles(a.data, a.tables, a.queries, a.out)
