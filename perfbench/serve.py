"""Serve workload: the OpenTSDB-compatible HTTP path under mixed load.

The server (``TsdbHttpServer`` over a generated ``events`` table, one
tag ``host`` with eight values) runs in its own process, started from
this file with ``--server``. The load generator is this process: three
closed-loop readers take their reads from a shared, seeded deck of distinct reads
(``/api/query`` downsample, group-by, rate, tag filter and a long range
routed to the rollups built by ``/api/admin?cmd=rollup``, ``/api/analytics``
ops and ``/api/suggest``), and one open-loop writer sends ``/api/put``
batches on a fixed schedule, timed from when each was due.

Puts go to a metric and a month no read touches, so every read must
return the answer it gave a single client at setup (exact structure,
1e-9 relative tolerance on values); at the end a read-back of the put
month must return exactly the acknowledged points. Reads still pay for
the growing write buffer, which ``TsdbStore.dataframe()`` rebuilds on
every call, so a gain for reads that costs writes shows, and the reverse.

In a traced run the server wraps the program's layer functions (parse,
``TsdbContext.execute``, ``analytics.execute``, response shaping,
``TsdbStore.add`` and ``TsdbStore.dataframe``), names each request's Spark
jobs with a job group, and writes Spark's event log. Decks of reads
alternate untraced and traced (ABBA...); the sums of per-read medians of
the two give the overhead of the wrappers and job groups.
"""

from __future__ import annotations

import json
import random
import statistics
import subprocess
import sys
import threading
import time
import urllib.parse
import urllib.request
from collections import defaultdict
from pathlib import Path

if __package__ in (None, ""):
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import common, datagen

READERS = 3
READS_PER_S = 2.2  # about what 3 readers complete on 4 cores; sizes the window
QUERY_KINDS = ("downsample", "groupby", "rate", "tagfilter", "rollup")
PUT_EVERY_S = 0.2  # one put of PUT_POINTS points every 200 ms
PUT_POINTS = 4
PUT_METRIC = "bench.put"
PUT_T0_MS = datagen.T0_MS + 40 * datagen.DAY_MS  # February: no read covers it
EVENTS = 20_000


def read_requests(seed: int) -> list[tuple[str, str]]:
    """(op type, path) for each distinct read. The mix of op types and the
    window length are fixed; the seed picks the metrics, aggregators, tag
    values and window starts, all inside January."""
    rng = random.Random(seed)
    t0 = datagen.T0_MS // 1000
    day = 86_400

    def metric():
        return rng.choice(datagen.EVENT_TYPES)

    def window():
        start = t0 + rng.randrange(0, 14) * day
        return f"start={start}&end={start + 14 * day}"

    agg = rng.choice(["sum", "avg", "max"])
    a, b = rng.sample(range(8), 2)
    reqs = [
        ("downsample", f"/api/query?{window()}&m={agg}:1h-avg:{metric()}"),
        ("groupby", f"/api/query?{window()}&m=sum:1h-avg:{metric()}{{host=*}}"),
        ("rate", f"/api/query?{window()}&m=sum:rate:{metric()}"),
        ("tagfilter", f"/api/query?{window()}&m=avg:1h-avg:{metric()}{{host=h{a}|h{b}}}"),
        ("rollup", f"/api/query?start={t0}&end={t0 + 30 * day}&m=avg:1d-avg:{metric()}"),
        ("analytics", f"/api/analytics?op=histogram&m={metric()}&width=50"),
        ("analytics", f"/api/analytics?op=mad&m={metric()}&bucket_ms=3600000"),
        ("suggest", f"/api/suggest?type=metrics&q={rng.choice('cvpse')}&max=10"),
    ]
    return reqs


def _get_raw(port: int, path: str) -> bytes:
    with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}", timeout=120) as r:
        return r.read()


def _get(port: int, path: str):
    return json.loads(_get_raw(port, path))


def _post(port: int, path: str, body: bytes):
    req = urllib.request.Request(f"http://127.0.0.1:{port}{path}", data=body, method="POST")
    with urllib.request.urlopen(req, timeout=120) as r:
        return json.loads(r.read())


# -- server process ------------------------------------------------------------


class _Tracer:
    """Per-request spans from wrappers around the program's layer
    functions. A request starts when the handler counts it
    (``TsdbStore.note_http_request``); the handler thread then adds each
    phase's time to that request's record."""

    def __init__(self, spark, types: dict[str, str]):
        self.sc = spark.sparkContext
        self.types = types  # /api/query m= expression → op type
        self.on = False
        self.local = threading.local()
        self.lock = threading.Lock()
        self.n = 0
        self.done: list[dict] = []

    def install(self) -> None:
        import ticktock_spark.api.analytics as analytics
        import ticktock_spark.api.http as http
        from ticktock_spark.plans.planner import TsdbContext

        store = http.TsdbStore
        self._wrap(store, "note_http_request", self._begin)
        self._wrap(http, "parse_query_params", self._phase("parse_ms", self._classify))
        self._wrap(http, "parse_query_json", self._phase("parse_ms"))
        self._wrap(TsdbContext, "execute", self._phase("execute_ms", group=True))
        self._wrap(
            analytics, "execute", self._phase("execute_ms", self._classify_analytics, group=True)
        )
        self._wrap(http, "resultset_to_dict", self._phase("shape_ms"))
        self._wrap(store, "add", self._phase("add_ms"))
        self._wrap(store, "dataframe", self._phase("dataframe_ms"))
        dumps = self._phase("shape_ms")(json.dumps)
        # the handler serialises responses through its module's json
        http.json = type("json", (), {"dumps": staticmethod(dumps), "loads": staticmethod(json.loads),
                                      "JSONDecodeError": json.JSONDecodeError})

    @staticmethod
    def _wrap(owner, name, deco) -> None:
        setattr(owner, name, deco(getattr(owner, name)))

    def _begin(self, fn):
        def wrapper(*a, **kw):
            rec = None
            if self.on:
                with self.lock:
                    self.n += 1
                    rec = defaultdict(float, rid=self.n, type="other")
                    self.done.append(rec)
            self.local.rec = rec
            return fn(*a, **kw)

        return wrapper

    def _classify(self, params, *_) -> None:
        m = params.get("m") or [""]
        self.local.rec["type"] = self.types.get(m[0] if isinstance(m, list) else m, "other")

    def _classify_analytics(self, *_) -> None:
        self.local.rec["type"] = "analytics"

    def _phase(self, key: str, classify=None, group: bool = False):
        def deco(fn):
            def wrapper(*a, **kw):
                rec = getattr(self.local, "rec", None)
                if rec is None:
                    return fn(*a, **kw)
                if classify is not None:
                    classify(*a)
                if group:
                    self.sc.setJobGroup(f"r{rec['rid']}:{rec['type']}", rec["type"])
                t0 = time.perf_counter()
                try:
                    return fn(*a, **kw)
                finally:
                    rec[key] += (time.perf_counter() - t0) * 1000

            return wrapper

        return deco


def server_main(args) -> None:
    from pyspark.sql import functions as F

    from ticktock_spark.api.http import TsdbHttpServer
    from ticktock_spark.schema import load_table

    work = Path(args.work)
    spark = common.spark_session(args.cores, work, event_log=bool(args.trace))
    ev = load_table(spark, str(work / "data"), "events")
    base = ev.select(
        F.col("event_type").alias("metric"),
        F.unix_millis("ts").alias("ts"),
        F.col("value").cast("double").alias("value"),
        F.create_map(
            F.lit("host"), F.concat(F.lit("h"), (F.col("user_id") % 8).cast("string"))
        ).alias("tags"),
        F.col("event_id").cast("long").alias("seq"),
        F.to_date(F.timestamp_millis(F.unix_millis("ts"))).alias("dt"),
    )
    tracer = None
    if args.trace:
        types = {}
        for kind, path in read_requests(args.seed):
            q = urllib.parse.parse_qs(urllib.parse.urlparse(path).query)
            if "m" in q and path.startswith("/api/query"):
                types[q["m"][0]] = kind
        tracer = _Tracer(spark, types)
        tracer.install()
    srv = TsdbHttpServer(spark, base=base).start()
    print(f"PORT {srv.port}", flush=True)
    for line in sys.stdin:
        cmd = line.strip()
        if cmd in ("trace on", "trace off") and tracer is not None:
            tracer.on = cmd == "trace on"
        elif cmd == "stop":
            break
    srv.stop()
    if tracer is not None:
        (work / "server_spans.json").write_text(json.dumps(tracer.done))
    common.stop_spark(spark)


# -- load generator --------------------------------------------------------------


def run(seed: int, seconds: float, cores: int, trace: bool, work: Path, scale: float,
        clock: common.Clock, tree: common.ProcessTree) -> dict:
    datagen.write_tables(seed, work / "data", {"events": max(500, int(EVENTS * scale))})
    reqs = read_requests(seed)
    proc = subprocess.Popen(
        [sys.executable, str(Path(__file__).resolve()), "--server", "--work", str(work),
         "--cores", str(cores), "--seed", str(seed), "--trace", str(int(trace))],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
    )
    try:
        return _drive(proc, reqs, seed, seconds, trace, work, cores, clock, tree)
    finally:
        if proc.poll() is None:
            try:
                proc.stdin.write("stop\n")
                proc.stdin.flush()
                proc.wait(timeout=60)
            except (OSError, subprocess.TimeoutExpired):
                proc.kill()
                proc.wait()


def _drive(proc, reqs, seed, seconds, trace, work, cores, clock, tree) -> dict:
    line = proc.stdout.readline()
    if not line.startswith("PORT "):
        raise RuntimeError(f"server did not start: {line!r}")
    port = int(line.split()[1])
    acked: dict[tuple[str, int], float] = {}
    prng = random.Random(seed + 1)

    def put(n: int) -> bool:
        """Send put ``n``: PUT_POINTS points with seeded values."""
        pts = [
            (f"w{h}", PUT_T0_MS + n * 1000 + h, prng.randrange(0, 100_000) / 100)
            for h in range(PUT_POINTS)
        ]
        body = "\n".join(f"put {PUT_METRIC} {ts} {v:.2f} host={h}" for h, ts, v in pts)
        try:
            ok = _post(port, "/api/put", body.encode()) == {"success": PUT_POINTS, "failed": 0}
        except Exception as e:  # noqa: BLE001 — a failed put is a result
            print(f"put: {type(e).__name__}: {e}")
            return False
        if ok:
            acked.update({(h, ts): v for h, ts, v in pts})
        return ok

    # setup: rollups, one put (so the write-buffer path is warm too), then
    # every distinct read once, alone — the expected answers
    _post(port, "/api/admin?cmd=rollup", b"")
    setup_ok = put(0)
    expected = [_get(port, path) for _, path in reqs]
    setup_s = clock.elapsed()

    # the window is a fixed number of reads: whole decks, each a seeded
    # permutation of every distinct read, so every run times the same mix.
    # Readers take the next read from the shared deck. In a traced run the
    # decks alternate untraced/traced as ABBA, so the drift over the window
    # (the write buffer grows) falls on both sides alike.
    n_decks = max(2 if trace else 1, int(seconds * READS_PER_S / len(reqs)))
    rng = random.Random(seed)
    deck = [i for _ in range(n_decks) for i in rng.sample(range(len(reqs)), len(reqs))]
    lock = threading.Lock()
    stop = threading.Event()
    # (index, traced, start, ms, body or None); bodies are checked after
    # the window so the comparison does not compete with the server
    reads: list[tuple[int, bool, float, float, bytes | None]] = []
    puts: list[tuple[float, bool]] = []  # (ms from due, ok)
    lateness = [0.0]
    next_pos = [0]
    server_traced = [False]

    def reader() -> None:
        while True:
            with lock:
                pos = next_pos[0]
                if pos == len(deck):
                    return
                next_pos[0] += 1
                tag = trace and (pos // len(reqs)) % 4 in (1, 2)
                if tag != server_traced[0]:
                    server_traced[0] = tag
                    proc.stdin.write("trace on\n" if tag else "trace off\n")
                    proc.stdin.flush()
            idx = deck[pos]
            t0 = time.perf_counter()
            try:
                body = _get_raw(port, reqs[idx][1])
            except Exception as e:  # noqa: BLE001 — a failed request is a result
                print(f"read {reqs[idx][1]}: {type(e).__name__}: {e}")
                body = None
            with lock:
                reads.append((idx, tag, t0, (time.perf_counter() - t0) * 1000, body))

    def writer() -> None:
        n = 1
        while not stop.is_set():
            due = t_start + (n - 1) * PUT_EVERY_S
            delay = due - time.perf_counter()
            if delay > 0 and stop.wait(delay):
                return
            lateness[0] = max(lateness[0], time.perf_counter() - due)
            ok = put(n)
            puts.append(((time.perf_counter() - due) * 1000, ok))
            n += 1

    readers = [threading.Thread(target=reader) for _ in range(READERS)]
    put_thread = threading.Thread(target=writer)
    cpu0 = tree.cpu_s()
    t_start = time.perf_counter()
    for t in [*readers, put_thread]:
        t.start()
    for t in readers:
        t.join()
    stop.set()
    put_thread.join()
    window = time.perf_counter() - t_start
    cpu_s = tree.cpu_s() - cpu0

    # read-back of the put month: exactly the acknowledged points
    end = PUT_T0_MS + 20 * datagen.DAY_MS
    back = _get(port, f"/api/query?start={PUT_T0_MS}&end={end}&ms=true&m=none:{PUT_METRIC}{{host=*}}")
    got = {(r["tags"]["host"], int(ts)): v for r in back for ts, v in r["dps"].items()}
    readback_ok = got == acked
    if not readback_ok:
        print(f"read-back: {len(got)} points != {len(acked)} acknowledged")
    proc.stdin.write("stop\n")
    proc.stdin.flush()
    proc.wait(timeout=60)

    def check(idx, body) -> bool:
        ok = body is not None and common.close(json.loads(body), expected[idx])
        if body is not None and not ok:
            print(f"read {reqs[idx][1]}: answer differs from the single-client answer")
        return ok

    # (kind, traced, ms, ok, bytes)
    done = [(reqs[i][0], tag, ms, check(i, body), len(body or b"")) for i, tag, _, ms, body in reads]
    lat = [r[2] for r in done]
    ok_reads = sum(1 for r in done if r[3])
    put_ms = [ms for ms, _ in puts]
    attempted = len(done) + len(puts) + 2
    failed = (
        len(done) - ok_reads
        + sum(1 for _, ok in puts if not ok)
        + (not setup_ok)
        + (not readback_ok)
    )
    by_type = defaultdict(list)
    for kind, _, ms, *_ in done:
        by_type[kind].append(ms)
    by_read = defaultdict(list)
    for i, _, _, ms, _ in reads:
        by_read[i].append(ms)
    query = [ms for kind, _, ms, *_ in done if kind in QUERY_KINDS]
    result = {
        "setup_s": setup_s,
        "latencies_ms": lat,
        "mix_ms": sum(common.median(v) for v in by_read.values()),
        "p90_ms": sum(common.p90(v) for v in by_read.values()),
        "cpu_s": cpu_s,
        "ops_per_s": ok_reads / window,
        "attempted": attempted,
        "failed": failed,
        "named": {
            "query_p50_ms": (common.median(query), "ms", len(query)),
            "query_p90_ms": (common.p90(query), "ms", len(query)),
            "analytics_p50_ms": (common.median(by_type["analytics"]), "ms", len(by_type["analytics"])),
            "analytics_p90_ms": (common.p90(by_type["analytics"]), "ms", len(by_type["analytics"])),
            "read_rps": (ok_reads / window, "1/s", ok_reads),
            "put_p90_ms": (common.p90(put_ms), "ms", len(put_ms)),
            "put_generator_late_ms": (lateness[0] * 1000, "ms", len(put_ms)),
            "failed_frac": (failed / attempted, "frac", attempted),
        },
        "tables": [(
            "per read type (client latency)",
            {
                k: {"n": len(v), "p50_ms": round(common.median(v), 1), "p90_ms": round(common.p90(v), 1)}
                for k, v in sorted(by_type.items())
            },
        )],
    }
    if trace:
        result.update(_trace(work, reads, done, puts, cores))
    return result


def _trace(work: Path, reads, done, puts, cores: int) -> dict:
    spans = json.loads((work / "server_spans.json").read_text())
    groups = common.read_event_log(work / "eventlog")
    on = defaultdict(list)  # read type → client ms of traced reads
    sizes = defaultdict(list)
    for kind, tag, ms, _, nbytes in done:
        if tag:
            on[kind].append(ms)
        sizes[kind].append(nbytes)
    by_read = {False: defaultdict(list), True: defaultdict(list)}  # traced → read → ms
    for i, tag, _, ms, _ in reads:
        by_read[tag][i].append(ms)
    # sums of per-read medians, as mix_ms is, over reads sampled both ways
    both = by_read[False].keys() & by_read[True].keys()
    mix_off, mix_on = (sum(common.median(by_read[t][i]) for i in both) for t in (False, True))
    spans_by = defaultdict(list)
    for sp in spans:
        spans_by[sp["type"]].append(sp)
    groups_by = defaultdict(list)  # read type → its requests' job groups
    for g in groups:
        if g.startswith("r") and ":" in g:
            groups_by[g.split(":", 1)[1]].append(g)

    def mean(xs):
        return statistics.fmean(xs) if xs else 0.0

    def span_mean(rs, key):
        return mean([r.get(key, 0.0) for r in rs])

    phases = ("parse_ms", "dataframe_ms", "execute_ms", "shape_ms")
    rows = {}
    for kind, rs in sorted(spans_by.items()):
        if kind == "other":
            continue
        g = common.merge_groups(groups, groups_by[kind])
        server = sum(span_mean(rs, k) for k in phases)
        rows[kind] = {
            "n": len(rs),
            "client_ms": round(mean(on[kind]), 2),
            "http_overhead_ms": round(mean(on[kind]) - server, 2),
            **{k: round(span_mean(rs, k), 3) for k in phases},
            "response_kb": round(mean(sizes[kind]) / 1024, 1),
            **{k: round(v / len(rs), 4) for k, v in common.group_row(g).items()},
        }
    queries = [sp for k in QUERY_KINDS for sp in spans_by[k]]
    q_client = mean([ms for k in QUERY_KINDS for ms in on[k]])
    adds = [sp for sp in spans if sp.get("add_ms")]
    traced_all = [ms for v in on.values() for ms in v]
    traced_groups = {g: groups[g] for g in groups if g.startswith("r")}
    layers = common.layer_metrics(traced_groups, len(traced_all), sum(traced_all) / 1000, cores)
    q_jobs = sum(common.merge_groups(groups, groups_by[k])["jobs"] for k in QUERY_KINDS)
    layers.update(
        {
            "trace.overhead_frac": (common.ratio(mix_on, mix_off) - 1 if both else 0.0, "frac"),
            "api.http_overhead_frac": (
                common.ratio(q_client - sum(span_mean(queries, k) for k in phases), q_client), "frac"),
            "api.store_dataframe_frac": (common.ratio(span_mean(queries, "dataframe_ms"), q_client), "frac"),
            "api.response_kb": (mean([b for k in QUERY_KINDS for b in sizes[k]]) / 1024, "KB"),
            "api.analytics_execute_frac": (
                common.ratio(span_mean(spans_by["analytics"], "execute_ms"), mean(on["analytics"])), "frac"),
            "api.store_add_frac": (
                common.ratio(span_mean(adds, "add_ms"), mean([ms for ms, _ in puts])), "frac"),
            "plans.parse_frac": (common.ratio(span_mean(queries, "parse_ms"), q_client), "frac"),
            "plans.execute_frac": (common.ratio(span_mean(queries, "execute_ms"), q_client), "frac"),
            "plans.shape_frac": (common.ratio(span_mean(queries, "shape_ms"), q_client), "frac"),
            "plans.jobs_per_query": (common.ratio(q_jobs, len(queries)), "count"),
        }
    )
    put_row = {"n": len(adds), "add_ms": round(span_mean(adds, "add_ms"), 3),
               "client_ms": round(mean([ms for ms, _ in puts]), 2)}
    return {
        "layers": layers,
        "trace_tables": [
            ("per-layer table, per read type (means per traced request)", rows),
            ("per-layer table, /api/put (client time from when each put was due)", {"put": put_row}),
        ],
    }


if __name__ == "__main__":
    import argparse

    ap = argparse.ArgumentParser(description="serve workload server process")
    ap.add_argument("--server", action="store_true", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    server_main(ap.parse_args())
