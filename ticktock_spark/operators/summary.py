"""Arrival/value summary statistics shared by the registry entries and
the `/api/analytics` endpoint — one implementation per statistic, the
discipline the Pearson machinery follows (`operators/correlate.py`):
q188/q189/q194 and op=fano/top_movers/histogram_quantile call THESE,
so the endpoint can never drift from the oracle-pinned spec.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from ticktock_spark.session import local_dataframe

MIN_MS = 60_000
DAY_MS = 86_400_000


def _q6(c):
    return F.floor(c * F.lit(1_000_000.0) + F.lit(0.5)) / F.lit(1_000_000.0)


def exact_bucket_means(
    df: DataFrame,
    series_cols: list[str],
    bucket_ms: int = MIN_MS,
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Per-series bucket means with the engine's exact-decimal sum
    discipline (the q157 `b` CTE: DECIMAL(18,2) sum ÷ count, so the
    mean is partial-aggregation-order-free and engine-identical). The
    ONE canonical implementation — `api/analytics.py` and the stress
    tools import this instead of re-stating the expression; the
    registry fixtures keep it inline next to their oracle SQL, which
    mirrors the same text."""
    return df.groupBy(
        *series_cols,
        (F.col(ts_col) - F.col(ts_col) % F.lit(int(bucket_ms))).alias(ts_col),
    ).agg(
        (
            F.sum(F.col(value_col).cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias(value_col)
    )


def fano_factor(
    df: DataFrame,
    series_cols: list[str],
    bucket_ms: int = MIN_MS,
    ts_col: str = "ts",
) -> DataFrame:
    """Index of dispersion of per-bucket event COUNTS over each series'
    active span (1.0 = Poisson, >1 bursty, <1 regular). Empty in-span
    buckets count as zeros WITHOUT a spine: they contribute nothing to
    Σc/Σc², so n = span/bucket + 1 from min/max alone — one scan, one
    bucket agg, one per-series reduction; exact DECIMAL(38) moments.

    Output: (series..., n_buckets, n_events, fano)."""
    b = df.groupBy(
        *series_cols,
        (F.col(ts_col) - F.col(ts_col) % F.lit(bucket_ms)).alias("b"),
    ).agg(F.count(F.lit(1)).alias("c"))
    dec = "decimal(38,0)"
    m = b.groupBy(*series_cols).agg(
        ((F.max("b") - F.min("b")) / F.lit(bucket_ms) + F.lit(1))
        .cast(dec)
        .alias("n"),
        F.sum(F.col("c").cast(dec)).alias("sc"),
        F.sum(F.col("c").cast(dec) * F.col("c").cast(dec)).alias("sc2"),
    )
    fano = (F.col("n") * F.col("sc2") - F.col("sc") * F.col("sc")).cast(
        "double"
    ) / (F.col("n") * F.col("sc")).cast("double")
    return m.filter(F.col("sc") > 0).select(
        *series_cols,
        F.col("n").cast("long").alias("n_buckets"),
        F.col("sc").cast("long").alias("n_events"),
        _q6(fano).alias("fano"),
    )


def daily_top_movers(
    df: DataFrame,
    series_cols: list[str],
    k: int = 3,
    ts_col: str = "ts",
    value_col: str = "value",
    day_ms: int = DAY_MS,
) -> DataFrame:
    """The ``k`` largest adjacent-day jumps of the exact-decimal daily
    mean per series (a gap day breaks the comparison rather than faking
    a jump). Daily means quantize to integer micro-units BEFORE the
    delta and the ranking, so |Δ| ordering is pure integer comparison.

    Output: (series..., ts [day], rank, prev_mean, mean, delta)."""
    day = (F.col(ts_col) - F.col(ts_col) % F.lit(day_ms)).alias("day")
    dd = df.groupBy(*series_cols, day).agg(
        F.floor(
            (
                F.sum(F.col(value_col).cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1))
            )
            * F.lit(1_000_000.0)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("m")
    )
    w = W.partitionBy(*series_cols).orderBy("day")
    lagged = dd.select(
        *series_cols,
        "day",
        "m",
        F.lag("day").over(w).alias("pday"),
        F.lag("m").over(w).alias("pm"),
    ).filter(F.col("pday") == F.col("day") - F.lit(day_ms))
    ranked = lagged.withColumn(
        "rank",
        F.row_number().over(
            W.partitionBy(*series_cols).orderBy(
                F.abs(F.col("m") - F.col("pm")).desc(), "day"
            )
        ),
    ).filter(F.col("rank") <= int(k))
    return ranked.select(
        *series_cols,
        F.col("day").alias("ts"),
        F.col("rank").cast("long").alias("rank"),
        (F.col("pm") / F.lit(1_000_000.0)).alias("prev_mean"),
        (F.col("m") / F.lit(1_000_000.0)).alias("mean"),
        ((F.col("m") - F.col("pm")) / F.lit(1_000_000.0)).alias("delta"),
    )


def value_histogram(
    df: DataFrame,
    series_cols: list[str],
    width: float = 10.0,
    value_col: str = "value",
) -> DataFrame:
    """Fixed-width value bins per series: (series..., bin, n) — the
    q174 aggregation, also the input shape of
    :func:`histogram_quantiles` (batch) and the state of
    `streaming/histogram.py` (live)."""
    return df.groupBy(
        *series_cols,
        F.floor(F.col(value_col) / F.lit(float(width)))
        .cast("long")
        .alias("bin"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))


def histogram_quantiles(
    hist: DataFrame,
    quantiles: list[float],
    width: float = 10.0,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Prometheus histogram_quantile semantics over a
    (group..., bin, n) histogram frame: cumulative counts + linear
    interpolation inside the landing bin — target = q·N, first bin with
    cum ≥ target, est = lo + width·(target − cum_prev)/c. Integer
    counts; the interpolation is four pinned IEEE ops, engine-exact.

    Output: (group..., q, n, est)."""
    groups = list(group_cols or ["metric"])
    cw = hist.select(
        *groups,
        "bin",
        F.col("n").alias("c"),
        F.sum("n").over(W.partitionBy(*groups).orderBy("bin")).alias("cum"),
        F.sum("n").over(W.partitionBy(*groups)).alias("nn"),
    )
    qs = local_dataframe(
        hist.sparkSession, [(float(q),) for q in quantiles], "q double"
    )
    cand = cw.join(F.broadcast(qs), F.col("cum") >= F.col("q") * F.col("nn"))
    first = cand.groupBy(*groups, "q", "nn").agg(
        F.min_by(F.struct("bin", "c", "cum"), F.col("bin")).alias("s")
    )
    s = F.col("s")
    est = s["bin"] * F.lit(float(width)) + F.lit(float(width)) * (
        F.col("q") * F.col("nn") - (s["cum"] - s["c"])
    ) / s["c"]
    return first.select(
        *groups,
        "q",
        F.col("nn").cast("long").alias("n"),
        _q6(est).alias("est"),
    )


def interarrival_percentiles(
    df: DataFrame,
    series_cols: list[str],
    quantiles: list[float] | None = None,
    ts_col: str = "ts",
    slice_ms: int = DAY_MS,
) -> DataFrame:
    """Inter-arrival-time percentiles per series: the distribution of
    deltas between CONSECUTIVE DISTINCT timestamps — p50 is the series'
    native reporting interval (the number `/api/analytics?op=
    suggest_grain` wants to know, read from the data instead of
    configuration: a p50 of 15_000 ms says scrape interval 15 s, so any
    downsample below 15 s fabricates buckets), p95 exposes jitter and
    collection stalls.

    Output: (series..., quantile, n, pct) — long format, one row per
    (series, quantile); ``pct`` in ms. Deltas are exact integer ms and
    the exact R-6 interpolation runs through
    operators/percentile.group_percentiles_r6 (rank + two-row
    interpolation, both-engine-pinned).

    Scale shape — SEGMENT-STITCHED lag, no raw-cardinality window: a
    naive ``partitionBy(series).orderBy(ts)`` lag puts a decade-long
    1 s-cadence series (~3×10⁸ rows) through ONE sort partition at
    100×. Instead the lag partitions on (series, ``slice_ms``-slice) —
    bounded by slice/cadence (86,400 rows/partition for 1 s cadence at
    the 1-day default) — and the slice-boundary deltas are stitched
    from a per-(series, slice) min/max-ts AGGREGATION via a lag over
    the SLICE frame (one row per present slice, span/slice_ms-bounded).
    Every consecutive distinct-timestamp pair is either within a slice
    (in-slice lag) or crosses a boundary where the previous point is
    its slice's last and the next is its slice's first (the stitch
    row), so the delta multiset — and the percentile answer — is
    EXACTLY the global-lag one. The percentile machinery then reuses
    the series partitioning; no collect, no per-series array.

    The stitch branch deliberately reads its slice first/last from a
    plain groupBy (map-side combinable, slice-cardinality exchange) and
    NOT from the window pass: ``within`` and ``stitch`` are two
    consumers of the same derived frame, so everything above the fork
    executes once per branch modulo AQE's runtime exchange reuse — the
    r11 form re-SORTED the full distinct frame a second time (plus a
    whole-partition max window) just to read two values per slice
    (r12 plan audit: 2 full Sort+Window subtrees → 1).
    """
    from ticktock_spark.operators.percentile import group_percentiles_r6

    qs = quantiles if quantiles is not None else [50.0, 95.0]
    step = int(slice_ms)
    pts = (
        df.select(*series_cols, ts_col)
        .distinct()
        .select(
            *series_cols,
            ts_col,
            # pmod, not %: Spark's % is sign-of-dividend, which would make the
            # slice at 0 span (-step, step) for negative epochs and double the
            # documented slice/cadence partition bound; pmod floor-aligns all ts.
            (F.col(ts_col) - F.pmod(F.col(ts_col), F.lit(step))).alias("__slice"),
        )
    )
    wsl = W.partitionBy(*series_cols, "__slice").orderBy(ts_col)
    within = pts.select(
        *series_cols,
        (F.col(ts_col) - F.lag(ts_col).over(wsl)).alias("delta"),
    ).filter(F.col("delta").isNotNull())
    # slice first/last: min/max over the DISTINCT timestamps of the
    # slice — identical to the rn==1 row's ts and the slice-max window
    # the r11 form read them from
    sliceframe = pts.groupBy(*series_cols, "__slice").agg(
        F.min(ts_col).alias("__first"), F.max(ts_col).alias("__last")
    )
    stitch = (
        sliceframe.select(
            *series_cols,
            (
                F.col("__first")
                - F.lag("__last").over(
                    W.partitionBy(*series_cols).orderBy("__slice")
                )
            ).alias("delta"),
        )
        .filter(F.col("delta").isNotNull())
    )
    return group_percentiles_r6(
        within.unionByName(stitch), series_cols, "delta", qs
    )


def flatline_runs(
    df: DataFrame,
    series_cols: list[str],
    min_run: int = 10,
    value_col: str = "value",
    ts_col: str = "ts",
) -> DataFrame:
    """Stuck-sensor audit per series: the longest run of CONSECUTIVE
    buckets with an identical value, and how many runs reach
    ``min_run`` — a gauge frozen at its last reading looks perfectly
    healthy to every mean/percentile monitor (zero variance is not an
    anomaly to a z-score), and a run-length is the only signal that
    catches it. Input contract: one row per (series, bucket), e.g. a
    1m bucket-mean frame; equality is exact on integer micro-units.

    Output: (series..., n_buckets, n_runs, longest_run,
    n_flat_runs >= min_run).

    Scale shape: gaps-and-islands — two row_numbers over the SAME
    per-series bucket sort (one exchange, one sort: same partitioning,
    subtracting ranks labels each constant island), then two
    bucket-scale groupBys. Window partitions hold a series' BUCKETS,
    never raw datapoints (the operators/robust.py contract).
    """
    y = F.floor(F.col(value_col) * F.lit(1_000_000.0) + F.lit(0.5)).cast(
        "long"
    )
    ws = W.partitionBy(*series_cols).orderBy(ts_col)
    wv = W.partitionBy(*series_cols, "y").orderBy(ts_col)
    runs = (
        df.select(*series_cols, ts_col, y.alias("y"))
        .select(
            *series_cols,
            "y",
            (F.row_number().over(ws) - F.row_number().over(wv)).alias(
                "island"
            ),
        )
        .groupBy(*series_cols, "y", "island")
        .agg(F.count(F.lit(1)).alias("run_len"))
    )
    return runs.groupBy(*series_cols).agg(
        F.sum("run_len").cast("long").alias("n_buckets"),
        F.count(F.lit(1)).cast("long").alias("n_runs"),
        F.max("run_len").cast("long").alias("longest_run"),
        F.count(F.when(F.col("run_len") >= int(min_run), 1))
        .cast("long")
        .alias("n_flat_runs"),
    )


def gap_report(
    df: DataFrame,
    series_cols: list[str],
    bucket_ms: int = MIN_MS,
    ts_col: str = "ts",
) -> DataFrame:
    """Data-completeness report per series: expected vs present buckets
    over the series' own active span, plus the single longest gap — the
    first question an on-call asks of a silent metric ("did it stop, or
    did it never report there?") and the coverage denominator behind
    availability SLOs. Complements fano_factor (which treats missing
    buckets as zeros in the dispersion): this names them.

    Output: (series..., n_expected, n_present, n_missing,
    longest_gap_ms) — longest_gap_ms = the widest distance between
    consecutive PRESENT bucket timestamps minus one bucket (0 when
    dense).

    Scale shape: bucket-distinct, then ONE per-series ordered window for
    the lead delta and a per-series agg on the same partitioning —
    bucket-scale everywhere (span/bucket_ms rows per series), no spine
    materialization: expected-bucket count comes from min/max alone,
    exactly the fano_factor trick.
    """
    b = (
        df.select(
            *series_cols,
            (F.col(ts_col) - F.col(ts_col) % F.lit(int(bucket_ms))).alias(
                "b"
            ),
        )
        .distinct()
    )
    return gap_report_over_buckets(b, series_cols, bucket_ms=bucket_ms)


def gap_report_over_buckets(
    b: DataFrame,
    series_cols: list[str],
    bucket_ms: int = MIN_MS,
) -> DataFrame:
    """The gap_report arithmetic over an already-distinct PRESENT-BUCKET
    frame (series..., b) — the shared read for the batch operator above
    and the streaming presence twin (streaming/liveness.py), so a live
    gap read can never drift from the q197 oracle-pinned spec."""
    w = W.partitionBy(*series_cols).orderBy("b")
    d = b.select(
        *series_cols,
        "b",
        (F.lead("b").over(w) - F.col("b") - F.lit(int(bucket_ms))).alias(
            "gap"
        ),
    )
    return d.groupBy(*series_cols).agg(
        (
            (F.max("b") - F.min("b")) / F.lit(int(bucket_ms)) + F.lit(1)
        )
        .cast("long")
        .alias("n_expected"),
        F.count(F.lit(1)).cast("long").alias("n_present"),
        (
            (F.max("b") - F.min("b")) / F.lit(int(bucket_ms))
            + F.lit(1)
            - F.count(F.lit(1))
        )
        .cast("long")
        .alias("n_missing"),
        F.coalesce(F.max("gap"), F.lit(0)).cast("long").alias(
            "longest_gap_ms"
        ),
    )


def value_precision_audit(
    df: DataFrame,
    series_cols: list[str],
    value_col: str = "value",
    value_scale: int = 100,
) -> DataFrame:
    """Decimal-precision histogram per series on the ``value_scale``
    grid (100 = 2-decimal): what fraction of values are whole integers,
    at most 1-decimal, and full-grid — the numbers that size a
    compressed store before migration (the reference's value
    compression keys on repeated/low-precision values:
    /root/reference/src/core/compress.cpp XOR-encodes doubles, and
    integer-valued series compress an order of magnitude tighter) and
    that justify a wasserstein/ks ``value_scale`` choice from data
    rather than convention.

    Output: (series..., n, frac_integer, frac_1dp, frac_2dp) —
    fractions 6-decimal; frac_2dp counts values needing the FULL grid.

    Scale shape: one scan, one map-side-combinable per-series groupBy.
    """
    scale = int(value_scale)
    if scale < 10 or scale % 10:
        # the 1-decimal tier is scale // 10; below 10 (or off a power
        # step) that grid is meaningless and `v % 0` is NULL-per-row /
        # an ANSI DIVIDE_BY_ZERO — fail loudly at build time instead
        raise ValueError(
            f"value_precision_audit: value_scale={value_scale} must be a"
            " multiple of 10 and >= 10 (the 1-decimal tier is"
            " value_scale // 10)"
        )
    v = F.floor(
        F.col(value_col).cast("double") * F.lit(float(value_scale))
        + F.lit(0.5)
    ).cast("long")
    agg = (
        df.select(*series_cols, v.alias("v"))
        .filter(F.col("v").isNotNull())
        .groupBy(*series_cols)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.count(F.when(F.col("v") % scale == 0, 1)).alias("n_int"),
            F.count(F.when(F.col("v") % (scale // 10) == 0, 1)).alias(
                "n_1dp"
            ),
        )
    )
    frac = lambda c: _q6(c.cast("double") / F.col("n"))  # noqa: E731
    return agg.select(
        *series_cols,
        "n",
        frac(F.col("n_int")).alias("frac_integer"),
        frac(F.col("n_1dp")).alias("frac_1dp"),
        frac(F.col("n") - F.col("n_1dp")).alias("frac_2dp"),
    )


def compressibility_audit(
    df: DataFrame,
    series_cols: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    seq_col: str | None = None,
    slice_ms: int = DAY_MS,
) -> DataFrame:
    """Gorilla-compressibility audit per series: the fraction of points
    whose timestamp delta-of-delta is zero (regular cadence → the
    reference's timestamp encoding spends ~1 bit/point,
    /root/reference/src/core/compress.cpp Compressor_v2) and the
    fraction whose value repeats the previous value exactly on the
    2-decimal grid (the XOR-equal case → 1 bit/point). Together they
    predict the on-disk bytes/point a TickTock-style store — or
    Parquet delta/RLE encodings — will achieve for this series, from a
    plain scan of the data.

    Output: (series..., n, frac_ts_regular, frac_val_repeat) —
    fractions 6-decimal over the points that HAVE the required lags
    (n ≥ 3 series only).

    Scale shape — SEGMENT-STITCHED lags, no raw-cardinality window:
    the delta-of-delta and value-repeat lags partition on (series,
    ``slice_ms``-slice) — bounded by slice/cadence, never the whole
    series — covering every row with two in-slice predecessors (rn ≥ 3
    for dod, rn ≥ 2 for rep). In-slice contributions reduce to per-
    (series, slice) COUNTS in the same pass (a groupBy that reuses the
    window's hash partitioning — no extra exchange), and that same
    aggregation reads off the slice's boundary values (first/second/
    last/second-to-last ts, first/last value). Lags over the resulting
    slice frame (one row per present slice, span/slice_ms-bounded)
    supply the ≤2 boundary contributions per slice: the slice-first
    row's predecessors are the previous present slice's last two
    (falling back to the slice before when that one is single-row —
    ``coalesce(p.last2, q.last)``), the slice-second row's are its own
    first + the previous slice's last. Each global consecutive
    pair/triple is counted exactly once, so the four counts — and the
    fractions — are EXACTLY the global-lag answer.

    Everything is ONE lineage: the r11 form forked the windowed frame
    into three branches (in-slice rows / slice-first / slice-second)
    and re-executed the full scan+sort+window subtree per branch
    modulo AQE's exchange reuse (r12 plan audit: 3 full Sort+Window
    passes, a 3-way Union, 44 plan nodes → 1 pass, no Union, ~22).
    """
    order = ["__ts"] + (["__seq"] if seq_col else [])
    step = int(slice_ms)
    v = F.floor(
        F.col(value_col).cast("double") * F.lit(100.0) + F.lit(0.5)
    ).cast("long")
    base = df.select(
        *series_cols,
        F.col(ts_col).alias("__ts"),
        v.alias("__v"),
        *([F.col(seq_col).alias("__seq")] if seq_col else []),
        # pmod, not %: Spark's % is sign-of-dividend, which would make the
        # slice at 0 span (-step, step) for negative epochs and double the
        # documented slice/cadence partition bound; pmod floor-aligns all ts.
        (F.col(ts_col) - F.pmod(F.col(ts_col), F.lit(step))).alias("__slice"),
    )
    wsl = W.partitionBy(*series_cols, "__slice").orderBy(*order)
    marked = base.select(
        *series_cols,
        "__slice",
        "__ts",
        "__v",
        F.row_number().over(wsl).alias("__rn"),
        F.lag("__ts", 1).over(wsl).alias("__l1"),
        F.lag("__ts", 2).over(wsl).alias("__l2"),
        F.lag("__v", 1).over(wsl).alias("__lv"),
        # past-partition-end sentinel: NULL exactly on the slice's last
        # row (a lead of the TS column would also be NULL when the next
        # row's ts is NULL, which NULLS-FIRST ordering cannot produce
        # mid-partition, but the literal form is unconditionally safe)
        F.lead(F.lit(1), 1).over(wsl).alias("__nx"),
    )
    # in-slice contributions: dod valid from rn>=3, rep from rn>=2
    # (null lags contribute zero to every count, exactly as the global
    # form's first-two rows did); boundary values are picked by exact
    # row predicates (rn==1 / rn==2 / last row) so a NULL ts or value
    # on those rows stays NULL, exactly as the window first/nth/lag
    # reads they replace
    dod_w = F.col("__ts") - 2 * F.col("__l1") + F.col("__l2")
    rep_w = F.col("__v") == F.col("__lv")
    is_last = F.col("__nx").isNull()
    slice_agg = marked.groupBy(*series_cols, "__slice").agg(
        F.count(F.when(dod_w.isNotNull(), 1)).alias("__nd"),
        F.count(F.when(dod_w == 0, 1)).alias("__nd0"),
        F.count(F.when(rep_w.isNotNull(), 1)).alias("__nr"),
        F.count(F.when(rep_w, 1)).alias("__nr1"),
        F.max(F.when(F.col("__rn") == 1, F.col("__ts"))).alias("__first_ts"),
        F.max(F.when(F.col("__rn") == 2, F.col("__ts"))).alias("__second_ts"),
        F.max(F.when(F.col("__rn") == 1, F.col("__v"))).alias("__first_v"),
        F.max(F.when(is_last, F.col("__ts"))).alias("__last_ts"),
        F.max(F.when(is_last, F.col("__l1"))).alias("__last2_ts"),
        F.max(F.when(is_last, F.col("__v"))).alias("__last_v"),
    )
    ws = W.partitionBy(*series_cols).orderBy("__slice")
    b = slice_agg.select(
        *series_cols,
        "__nd",
        "__nd0",
        "__nr",
        "__nr1",
        "__first_ts",
        "__second_ts",
        "__first_v",
        F.lag("__last_ts").over(ws).alias("__p_last"),
        F.lag("__last2_ts").over(ws).alias("__p_last2"),
        F.lag("__last_v").over(ws).alias("__p_lastv"),
        F.lag("__last_ts", 2).over(ws).alias("__q_last"),
    )
    # slice-first row: preds = prev slice's last two (or the slice
    # before's last when prev is single-row — its last2 lag is NULL);
    # slice-second row: preds = own first + prev slice's last (its rep
    # is in-slice and already counted; __second_ts is NULL for
    # single-row slices, so dod2 self-gates by null propagation)
    dod1 = (
        F.col("__first_ts")
        - 2 * F.col("__p_last")
        + F.coalesce(F.col("__p_last2"), F.col("__q_last"))
    )
    rep1 = F.col("__first_v") == F.col("__p_lastv")
    dod2 = F.col("__second_ts") - 2 * F.col("__first_ts") + F.col("__p_last")
    one = lambda c: F.when(c, 1).otherwise(0)  # noqa: E731
    totals = b.select(
        *series_cols,
        (F.col("__nd") + one(dod1.isNotNull()) + one(dod2.isNotNull())).alias(
            "__td"
        ),
        (F.col("__nd0") + one(dod1 == 0) + one(dod2 == 0)).alias("__td0"),
        (F.col("__nr") + one(rep1.isNotNull())).alias("__tr"),
        (F.col("__nr1") + one(rep1)).alias("__tr1"),
    )
    agg = totals.groupBy(*series_cols).agg(
        F.sum("__td").alias("n_dod"),
        F.sum("__td0").alias("n_dod0"),
        F.sum("__tr").alias("n_rep"),
        F.sum("__tr1").alias("n_rep1"),
    )
    return agg.filter(F.col("n_dod") > 0).select(
        *series_cols,
        (F.col("n_dod") + F.lit(2)).cast("long").alias("n"),
        _q6(F.col("n_dod0").cast("double") / F.col("n_dod")).alias(
            "frac_ts_regular"
        ),
        # a series whose values are ALL NULL has n_dod > 0 but n_rep == 0
        # (every rep comparison is NULL) — frac_val_repeat is then NULL
        # ("fractions over the points that HAVE the required lags"),
        # matching DuckDB's x/0 → NULL; an unguarded divide is an ANSI
        # DIVIDE_BY_ZERO (found by the hypothesis shrinker)
        _q6(
            F.when(
                F.col("n_rep") > 0,
                F.col("n_rep1").cast("double") / F.col("n_rep"),
            )
        ).alias("frac_val_repeat"),
    )


def rollup_error_audit(
    df: DataFrame,
    series_cols: list[str],
    fine_ms: int = 3_600_000,
    coarse_ms: int = DAY_MS,
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Rollup-bias audit per series: how far the avg-of-hourly-avgs
    (what a rollup-routed query computes) drifts from the exact
    raw-data average per day — the two differ whenever bucket
    populations are uneven (a busy hour counts once in the rollup but
    thousands of times in the raw mean), which is exactly the error a
    user accepts when `/api/query` routes to the rollup table
    (plans/planner.py rollupUsage). Read this before trusting a grain.

    Output: (series..., n_coarse, max_abs_err, mean_abs_err) — errors
    in value units, 6-decimal.

    Exactness: fine-bucket means round to integer micro-units (the q157
    pattern) so the naive coarse mean is an order-free long sum ÷
    count; the exact coarse mean divides DECIMAL(38,2) sums once. Both
    error aggregates are then max/mean over per-coarse-bucket doubles
    computed in pinned order.

    Scale shape: ONE scan → fine-bucket groupBy (map-side combinable)
    → coarse groupBy on the same keys → per-series agg. No window, no
    join, bucket-scale after the first agg.
    """
    fine = (
        df.groupBy(
            *series_cols,
            (F.col(ts_col) - F.col(ts_col) % F.lit(int(fine_ms))).alias(
                "fb"
            ),
        )
        .agg(
            F.sum(F.col(value_col).cast("decimal(18,2)")).alias("s"),
            F.count(F.lit(1)).alias("c"),
        )
        .select(
            *series_cols,
            (F.col("fb") - F.col("fb") % F.lit(int(coarse_ms))).alias("cb"),
            "s",
            "c",
            F.floor(
                F.col("s").cast("double") / F.col("c") * F.lit(1_000_000.0)
                + F.lit(0.5)
            )
            .cast("long")
            .alias("m_micro"),
        )
    )
    coarse = fine.groupBy(*series_cols, "cb").agg(
        (
            F.sum("m_micro").cast("double")
            / F.count(F.lit(1))
            / F.lit(1_000_000.0)
        ).alias("naive"),
        (F.sum("s").cast("double") / F.sum("c")).alias("exact"),
    )
    # per-coarse errors quantize to micro-units BEFORE the cross-row
    # aggregates: max over longs and a long sum ÷ count are order-free,
    # where summing raw doubles would depend on partial-agg order
    err_u = F.floor(
        F.abs(F.col("naive") - F.col("exact")) * F.lit(1_000_000.0)
        + F.lit(0.5)
    ).cast("long")
    pre = coarse.select(*series_cols, err_u.alias("e"))
    return pre.groupBy(*series_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n_coarse"),
        (F.max("e") / F.lit(1_000_000.0)).alias("max_abs_err"),
        _q6(
            F.sum("e").cast("double")
            / F.count(F.lit(1))
            / F.lit(1_000_000.0)
        ).alias("mean_abs_err"),
    )
