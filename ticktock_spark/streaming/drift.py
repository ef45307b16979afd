"""Streaming drift monitoring: every micro-batch is tested against a
FROZEN reference sample and one drift row per (epoch, test) appends to
the monitor table.

The batch operators (operators/drift.py) do the math; this wrapper only
unions the arriving batch with the pinned reference slice inside
foreachBatch — the reference never recomputes, the stream carries no
state, and epoch replay rewrites the same rows (epoch id is in the
output, dedup on read if the sink replays).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ticktock_spark.operators.drift import categorical_drift, ks_drift
from ticktock_spark.session import local_dataframe


def streaming_drift_monitor(
    stream: DataFrame,
    reference: DataFrame,
    out_path: str,
    checkpoint: str,
    value_col: str | None = "value",
    cat_col: str | None = None,
):
    """Monitor a stream's numeric and/or categorical distribution
    against ``reference`` (the pinned corpus slice / last good release).

    Per micro-batch: union(reference tagged True, batch tagged False) →
    ks_drift on ``value_col`` and/or categorical_drift on ``cat_col`` →
    append (epoch, test, n_ref, n_batch, statistic...) rows. The
    reference should be a bounded sample (it is re-scanned per epoch);
    at 100 TB pin a hash_sample of the release, not the release.

    Returns the StreamingQuery.
    """
    cols = [c for c in [value_col, cat_col] if c is not None]
    if not cols:
        raise ValueError("need value_col or cat_col")
    ref = reference.select(*cols).withColumn("__ref", F.lit(True))

    def test_batch(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        u = ref.unionByName(
            batch.select(*cols).withColumn("__ref", F.lit(False))
        )
        rows = []
        if value_col is not None:
            # driver-bound: one drift-stat row
            r = ks_drift(u, F.col("__ref"), value_col).collect()
            if r:
                rows.append(
                    (int(epoch_id), "ks:" + value_col, r[0]["n_a"],
                     r[0]["n_b"], float(r[0]["ks"]), float(r[0]["ks_at"]))
                )
        if cat_col is not None:
            # driver-bound: one drift-stat row
            r = categorical_drift(u, F.col("__ref"), cat_col).collect()
            if r:
                rows.append(
                    (int(epoch_id), "psi:" + cat_col, r[0]["n_a"],
                     r[0]["n_b"], float(r[0]["psi"]), float(r[0]["chi2"]))
                )
        if rows:
            local_dataframe(
                spark,
                rows,
                "epoch bigint, test string, n_ref bigint, n_batch bigint,"
                " stat double, aux double",
            ).write.mode("append").parquet(out_path)

    return (
        stream.writeStream.foreachBatch(test_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
