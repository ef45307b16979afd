"""Seeded inputs for every workload.

The tables follow the value contract of the repository's test data
(TESTDATA.md): ``events`` is a month of time-ordered points from
January 2024 with five event types, exponentially distributed 2-decimal
values and a ``{"k": n}`` props string; ``documents`` are 10-100 words
from a 30-word vocabulary in five languages over 20 sources, 5% of them
near-duplicates of an earlier document. The same seed gives the same bytes.
"""

from __future__ import annotations

import json
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
DAY_MS = 86_400_000
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def write_events(rng: np.random.Generator, out: Path, n: int, users: int) -> None:
    ts_us = np.sort(rng.integers(0, 30 * DAY_MS * 1000, n)) + T0_MS * 1000
    table = pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts_us, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2), pa.float64()),
            "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)]),
        }
    )
    pq.write_table(table, out / "events.parquet")


def write_documents(rng: np.random.Generator, out: Path, n: int) -> None:
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(VOCAB[w] for w in words))
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(table, out / "documents.parquet")


def write_tables(seed: int, out: Path, sizes: dict[str, int]) -> list[str]:
    """Write the tables named in ``sizes`` (rows each) under ``out`` as
    ``<table>.parquet``; returns the table names written."""
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(seed)
    if "events" in sizes:
        n = sizes["events"]
        write_events(rng, out, n, users=max(8, n // 60))
    if "documents" in sizes:
        write_documents(rng, out, sizes["documents"])
    return list(sizes)


def put_chunk(
    seed: int, index: int, lines: int, metrics: int = 8, hosts: int = 64
) -> tuple[list[str], dict]:
    """Backlog file ``index`` of telnet put lines, with its summary: the line
    count, the distinct (metric, host) series and the value total in cents.

    Timestamps advance through January at a few points a second, and 2%
    of the points arrive late (up to an hour behind the stream), which is
    the out-of-order share the ingest path must absorb."""
    rng = np.random.default_rng([seed, index])
    m = rng.integers(0, metrics, lines)
    h = rng.integers(0, hosts, lines)
    ts = T0_MS + int(rng.integers(0, 29 * DAY_MS)) + np.cumsum(rng.integers(1, 500, lines))
    late = rng.random(lines) < 0.02
    ts = np.where(late, ts - rng.integers(1, 3_600_000, lines), ts)
    cents = rng.integers(0, 100_000, lines)
    body = [
        f"put sys.m{mi} {ti} {ci // 100}.{ci % 100:02d} host=h{hi} dc=dc{hi % 4}"
        for mi, ti, ci, hi in zip(m.tolist(), ts.tolist(), cents.tolist(), h.tolist())
    ]
    series = set(zip(m.tolist(), h.tolist()))
    return body, {"lines": lines, "series": series, "cents": int(cents.sum())}
