"""Streaming ingest as a batch operation: drain a put-line backlog.

Each drain lands a new backlog file of telnet put lines (seeded
metrics, hosts, values and a 2% share of late points) in the source
directory, then runs the production write path —
``stream_put_lines`` → ``write_datapoints_stream_with_series`` with
``availableNow`` — which commits it to the dt-partitioned datapoints
table and the series dimension under one checkpoint for the whole run.

The check: the sink's row count, the number of distinct series in the
series dimension and the total of the committed values (in cents) must
equal what the generator wrote.
"""

from __future__ import annotations

import os
from pathlib import Path

from perfbench import datagen

LINES = 10_000  # per backlog file


class Ingest:
    def __init__(self, spark, work: Path, seed: int, lines: int):
        self.spark = spark
        self.seed = seed
        self.lines = lines
        self.inbox, self.sink, self.series, self.ckpt = (
            work / d for d in ("inbox", "sink", "series", "ckpt")
        )
        self.inbox.mkdir()
        self.landing = work / "landing.txt"
        self.n = 0
        self.expect = {"lines": 0, "series": set(), "cents": 0}

    def land(self) -> None:
        """Write the next seeded backlog file into the source directory."""
        body, summary = datagen.put_chunk(self.seed, self.n, self.lines)
        self.landing.write_text("\n".join(body) + "\n")
        os.replace(self.landing, self.inbox / f"backlog-{self.n:05d}.txt")
        self.n += 1
        self.expect["lines"] += summary["lines"]
        self.expect["series"] |= summary["series"]
        self.expect["cents"] += summary["cents"]

    def drain(self):
        """Commit everything landed so far; returns the finished query."""
        from ticktock_spark.streaming.ingest import (
            stream_put_lines,
            write_datapoints_stream_with_series,
        )

        q = write_datapoints_stream_with_series(
            stream_put_lines(self.spark, path=str(self.inbox)),
            str(self.sink), str(self.ckpt), str(self.series), trigger_once=True,
        )
        q.awaitTermination()
        return q

    def check(self) -> bool:
        from pyspark.sql import functions as F

        from ticktock_spark.streaming.ingest import load_series_dim

        row = self.spark.read.parquet(str(self.sink)).agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
        ).first()
        n_series = load_series_dim(self.spark, str(self.series)).count()
        got = (row["n"], n_series, row["cents"])
        want = (self.expect["lines"], len(self.expect["series"]), self.expect["cents"])
        if got != want:
            print(f"check ingest: (rows, series, cents) {got} != {want}")
        return got == want
