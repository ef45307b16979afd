"""Shared pieces of the benchmark: environment pinning, the Spark session,
statistics, the process-tree memory sampler, ending every process a run
started, output comparison and the Spark event-log reader that feeds the
per-layer table.

Everything here is the benchmark's own code; the program under test is
reached only through its public entry points.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK_ROOT = ROOT / ".bench_work"


def require_program() -> None:
    """Exit non-zero before any work when the program is not beside us."""
    if not (ROOT / "ticktock_spark" / "__init__.py").is_file():
        print(
            f"perfbench: no ticktock_spark package under {ROOT}; "
            "run from a checkout of the repository",
            file=sys.stderr,
        )
        sys.exit(2)


def make_workdir(workload: str) -> Path:
    work = WORK_ROOT / f"{workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    (work / "local").mkdir()
    return work


def pin_env(cores: int, work: Path) -> None:
    """Set what the session and the Python workers read from the
    environment, before any JVM starts. Without SPARK_GRAFT_CPUS the
    session falls back to 32 shuffle partitions; without the repo on
    PYTHONPATH every mapInPandas worker fails to import ticktock_spark."""
    path = os.environ.get("PYTHONPATH", "")
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_LOCAL_DIRS=str(work / "local"),
        TMPDIR=str(work / "tmp"),
        PYTHONPATH=str(ROOT) + (os.pathsep + path if path else ""),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYTHONHASHSEED="0",
        # spark-submit's launcher JVM: no hsperfdata file under /tmp
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
    )
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def spark_session(cores: int, work: Path, event_log: bool):
    """A ``local[cores]`` session from the program's own factory, with the
    console progress bar off, scratch paths under ``work`` and, for a
    traced run, Spark's uncompressed event log. The driver heap is the
    program's default."""
    from ticktock_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # no hsperfdata file under /tmp: the run writes only in its checkout
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
    }
    if event_log:
        (work / "eventlog").mkdir(exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": (work / "eventlog").as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(
        app_name="ticktock-perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session and wait for its JVM to end. ``SparkContext.stop``
    leaves the JVM running until it reads end-of-file on its stdin, which
    otherwise happens only once this process has exited; closing that
    pipe here lets the caller end after its JVM, not before."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def environment(seed: int, cores: int) -> dict:
    import pyarrow
    import pyspark

    try:
        rev = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            cwd=ROOT, capture_output=True, text=True, timeout=10,
        ).stdout.strip()
    except OSError:
        rev = ""
    return {
        "seed": seed,
        "cores": cores,
        "nproc": os.cpu_count(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "git_rev": rev or "none",
    }


# -- statistics --------------------------------------------------------------


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def ratio(x: float, y: float) -> float:
    """x / y, or 0 when there is nothing to divide by."""
    return x / y if y else 0.0


def p90(xs: list[float]) -> float:
    """Inclusive 90th percentile; with one sample, that sample."""
    if len(xs) < 2:
        return xs[0] if xs else float("nan")
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


# -- the process tree: peak memory, CPU time and ending it ----------------------


def tree_members(root: int, exclude=frozenset()) -> dict[int, list[str]]:
    """/proc/<pid>/stat fields (after the command name) of ``root`` and
    its descendants, less those in ``exclude`` and their descendants."""
    children = defaultdict(list)
    stats = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields follow its ")"
        fields = stat[stat.rindex(")") + 2 :].split()
        stats[int(name)] = fields
        children[int(fields[1])].append(int(name))
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in exclude or pid not in stats:
            continue
        out[pid] = stats[pid]
        todo.extend(children.get(pid, ()))
    return out


PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the parent of any descendant whose own parent
    ends first (Linux ``PR_SET_CHILD_SUBREAPER``): a JVM that outlives the
    Python process that launched it then stays ours to wait for, instead
    of passing to init."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def end_descendants(grace: float = 10.0) -> None:
    """Return only when every descendant of this process has ended and
    been reaped. What is still running after ``grace`` seconds gets
    SIGTERM, and SIGKILL after as long again."""
    me = os.getpid()
    deadline = time.monotonic() + grace
    sig = signal.SIGTERM
    while True:
        while True:  # reap every ended child, adopted ones included
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                break
            if pid == 0:
                break
        left = [p for p in tree_members(me) if p != me]
        if not left:
            return
        if time.monotonic() >= deadline:
            print(f"perfbench: sending {sig.name} to {len(left)} leftover process(es)",
                  file=sys.stderr)
            for pid in left:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            sig = signal.SIGKILL
            deadline = time.monotonic() + grace
        time.sleep(0.05)


class ProcessTree:
    """This process and all its descendants (the JVM, Spark's Python
    workers, a server subprocess), less those in ``exclude`` (the
    benchmark's own helpers) and their descendants.

    Used as a context manager it samples the tree's summed PSS every
    ``interval`` seconds; PSS charges a page shared by n processes (the
    copy-on-write pages of Python workers forked from Spark's worker
    daemon) 1/n to each, so the sum counts it once. A child between
    ``vfork`` and ``exec`` shares its parent's address space and reports
    all of it again; that lasts far less than an interval, so the peak is
    the largest sum held over two consecutive samples. Reading a JVM's
    PSS walks its page tables (about 20 ms for a 1.3 GB JVM on 4 cores),
    so samples are 500 ms apart to keep the sampler's CPU small beside
    the tree's. ``cpu_s`` reads the CPU time the tree has used, which CPU
    steal on a shared host does not inflate the way it inflates wall time."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_bytes = 0
        self.exclude: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._tick = os.sysconf("SC_CLK_TCK")

    def __enter__(self) -> "ProcessTree":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def _members(self) -> dict[int, list[str]]:
        return tree_members(os.getpid(), self.exclude)

    def pss_bytes(self) -> int:
        total = 0
        for pid in self._members():
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:  # ended since it was listed
                continue
        return total

    def cpu_s(self) -> float:
        """User + system time of the tree, with that of its reaped children
        (Spark's worker daemon reaps its Python workers)."""
        return sum(sum(int(x) for x in f[11:15]) for f in self._members().values()) / self._tick

    def _loop(self) -> None:
        last = 0
        while True:
            now = self.pss_bytes()
            self.peak_bytes = max(self.peak_bytes, min(now, last))
            last = now
            if self._stop.wait(self.interval):
                return

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20


# -- output comparison -------------------------------------------------------


def close(a, b, rel: float = 1e-9) -> bool:
    """Structural equality with a relative tolerance on floats: a
    cross-series sum folds doubles in an order Spark does not fix, so the
    last ulp may differ between runs; anything else must match exactly."""
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(close(a[k], b[k], rel) for k in a)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(close(x, y, rel) for x, y in zip(a, b))
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return a == b or abs(a - b) <= rel * max(abs(a), abs(b))
    return a == b


def _plain(v):
    """A pandas/numpy cell as a plain Python value."""
    if v is None:
        return None
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, float) and math.isnan(v):
        return float("nan")
    if isinstance(v, list):
        return [_plain(x) for x in v]
    if isinstance(v, dict):
        return {k: _plain(x) for k, x in sorted(v.items())}
    try:
        import pandas as pd

        if v is pd.NaT or (not isinstance(v, (str, bytes)) and pd.isna(v)):
            return None
    except (TypeError, ValueError):
        pass
    if isinstance(v, (int, float, str, bool)):
        return v
    return str(v)


def _sort_key(row) -> str:
    """Order rows by a coarse rendering (floats to 6 significant digits)
    so ulp-level differences cannot change the pairing."""

    def r(v):
        if isinstance(v, float):
            return "nan" if math.isnan(v) else f"{v:.6g}"
        if isinstance(v, list):
            return "[" + ",".join(r(x) for x in v) + "]"
        return repr(v)

    return "|".join(r(v) for v in row)


def canonical_rows(pdf) -> tuple[list[str], list[list]]:
    """A result frame as (sorted column names, rows in a canonical order):
    comparison is insensitive to row and column order."""
    cols = sorted(pdf.columns)
    rows = [[_plain(v) for v in row] for row in pdf[cols].itertuples(index=False)]
    rows.sort(key=_sort_key)
    return cols, rows


def digest(rows: list[list]) -> str:
    """Short order-insensitive fingerprint of canonical rows, for the log."""
    h = hashlib.sha1()
    for row in rows:
        h.update(_sort_key(row).encode())
    return h.hexdigest()[:12]


# -- Spark event log -----------------------------------------------------------

# "time to initialize Python workers" is left out: on a reused worker it
# counts the time the worker sat idle since it started, not work
PY_METRICS = {
    "time to start Python workers": "py_start_ms",
    "time to run Python workers": "py_run_ms",
    "data sent to Python workers": "py_sent_b",
    "data returned from Python workers": "py_ret_b",
}

GROUP_FIELDS = (
    "jobs", "tasks", "failed_tasks", "run_ms", "cpu_ns", "max_task_ms",
    "input_b", "records", "shuffle_w_b", "shuffle_r_b", "spill_b",
    *PY_METRICS.values(),
)


def read_event_log(log_dir: Path) -> dict[str, dict]:
    """Per job group totals from a finished, uncompressed event log:
    job and task counts, task run/CPU time, the longest task, input,
    shuffle and spill bytes, and the MapInPandas SQL metrics."""
    files = [p for p in log_dir.iterdir() if p.is_file()]
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(lambda: dict.fromkeys(GROUP_FIELDS, 0))
    for path in files:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    group = (e.get("Properties") or {}).get("spark.jobGroup.id") or "-"
                    out[group]["jobs"] += 1
                    for sid in e["Stage IDs"]:
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    g = out[stage_group.get(e["Stage ID"], "-")]
                    info, m = e["Task Info"], e.get("Task Metrics") or {}
                    g["tasks"] += 1
                    g["failed_tasks"] += int(bool(info.get("Failed")))
                    run = m.get("Executor Run Time", 0)
                    g["run_ms"] += run
                    g["max_task_ms"] = max(g["max_task_ms"], run)
                    g["cpu_ns"] += m.get("Executor CPU Time", 0)
                    inp = m.get("Input Metrics") or {}
                    g["input_b"] += inp.get("Bytes Read", 0)
                    g["records"] += inp.get("Records Read", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    g["shuffle_r_b"] += sr.get("Local Bytes Read", 0) + sr.get(
                        "Remote Bytes Read", 0
                    )
                    g["shuffle_w_b"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    g["spill_b"] += m.get("Disk Bytes Spilled", 0)
                    for acc in info.get("Accumulables") or []:
                        key = PY_METRICS.get(acc.get("Name"))
                        if key and acc.get("Update") is not None:
                            g[key] += int(acc["Update"])
    return dict(out)


def merge_groups(groups: dict[str, dict], names) -> dict:
    total = dict.fromkeys(GROUP_FIELDS, 0)
    for n in names:
        g = groups.get(n)
        if g is None:
            continue
        for k in GROUP_FIELDS:
            total[k] = max(total[k], g[k]) if k == "max_task_ms" else total[k] + g[k]
    return total


def layer_metrics(groups: dict[str, dict], ops: int, busy_s: float, cores: int) -> dict:
    """The Spark-side per-layer metrics over the given (traced) groups, per op.

    ``busy_s`` is the wall time the traced ops took; core utilisation is
    task time over (that wall time x cores)."""
    t = merge_groups(groups, list(groups))
    mb = 2**20
    return {
        "spark.jobs_per_op": (ratio(t["jobs"], ops), "count"),
        "spark.tasks_per_op": (ratio(t["tasks"], ops), "count"),
        "spark.task_run_ms_per_op": (ratio(t["run_ms"], ops), "ms"),
        "spark.task_cpu_frac": (ratio(t["cpu_ns"] / 1e6, t["run_ms"]), "frac"),
        "spark.core_util": (ratio(t["run_ms"] / 1000, busy_s * cores), "frac"),
        "spark.max_task_share": (ratio(t["max_task_ms"], t["run_ms"]), "frac"),
        "spark.failed_tasks": (float(t["failed_tasks"]), "count"),
        "scan.input_mb_per_op": (ratio(t["input_b"] / mb, ops), "MB"),
        "scan.records_per_op": (ratio(t["records"], ops), "count"),
        "exchange.shuffle_write_mb_per_op": (ratio(t["shuffle_w_b"] / mb, ops), "MB"),
        "exchange.shuffle_read_mb_per_op": (ratio(t["shuffle_r_b"] / mb, ops), "MB"),
        "exchange.spill_mb": (t["spill_b"] / mb, "MB"),
        "python.run_share": (ratio(t["py_run_ms"], t["run_ms"]), "frac"),
        "python.sent_mb_per_op": (ratio(t["py_sent_b"] / mb, ops), "MB"),
        "python.returned_mb_per_op": (ratio(t["py_ret_b"] / mb, ops), "MB"),
    }


def group_row(g: dict) -> dict:
    """One row of the printed per-layer table, from one group's totals."""
    return {
        "jobs": g["jobs"],
        "tasks": g["tasks"],
        "task_s": round(g["run_ms"] / 1000, 3),
        "cpu_s": round(g["cpu_ns"] / 1e9, 3),
        "in_mb": round(g["input_b"] / 2**20, 3),
        "recs": g["records"],
        "shw_mb": round(g["shuffle_w_b"] / 2**20, 3),
        "shr_mb": round(g["shuffle_r_b"] / 2**20, 3),
        "spill_mb": round(g["spill_b"] / 2**20, 3),
        "py_start_s": round(g["py_start_ms"] / 1000, 3),
        "py_run_s": round(g["py_run_ms"] / 1000, 3),
        "py_sent_mb": round(g["py_sent_b"] / 2**20, 3),
        "py_ret_mb": round(g["py_ret_b"] / 2**20, 3),
    }


def print_table(title: str, rows: dict[str, dict]) -> None:
    """A fixed-width table: one row per key, one column per field."""
    if not rows:
        return
    cols = list(next(iter(rows.values())))
    width = max(len(k) for k in rows) + 2
    print(f"\n{title}")
    print("".ljust(width) + " ".join(f"{c:>11}" for c in cols))
    for k, r in rows.items():
        print(k.ljust(width) + " ".join(f"{_fmt(r.get(c)):>11}" for c in cols))


def _fmt(v) -> str:
    if isinstance(v, float):
        return f"{v:.4g}"
    return str(v)


class Clock:
    """Wall time since construction, for setup accounting."""

    def __init__(self):
        self.t0 = time.perf_counter()

    def elapsed(self) -> float:
        return time.perf_counter() - self.t0
