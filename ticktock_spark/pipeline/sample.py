"""Deterministic sampling / splitting for training-data pipelines.

All operators here are pure scan-side Column expressions: the sampling
decision for a row is a function of md5(seed || ':' || id) alone, so

- no shuffle, no state, no RNG — the filter runs inside whole-stage
  codegen at the scan and composes with parquet predicate/column pruning;
- the same row always lands in the same sample/split regardless of
  partitioning, executor count, or retries (idempotent under task
  re-execution — critical at 100 TB where stragglers re-run);
- adding data never reassigns existing rows (stable train/test splits
  across dataset versions).

Mechanism: the first 8 hex chars of md5 are a uniform draw over
[0, 16^8); a rate r keeps rows whose hex prefix is lexicographically
below the 8-hex threshold floor(r * 16^8). Pure string comparison —
bit-identical in any engine with md5 (the DuckDB oracles in
pipeline/queries.py embed the same thresholds as literals).

The reference has no sampling surface (it is a TSDB); these are the
beyond-reference operators SURVEY §7 phase 11 calls for.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from ticktock_spark.session import local_dataframe

_SPACE = 16**8  # 8 hex chars


def hash_hex(id_col: Column, seed: str = "s0") -> Column:
    """The uniform 8-hex draw for a row id. Shared by all operators so
    sample/split decisions are consistent for the same (seed, id)."""
    return F.substring(F.md5(F.concat(F.lit(seed + ":"), id_col.cast("string"))), 1, 8)


def _thr(rate: float) -> str:
    # 'ffffffff' < 'g', so 'gggggggg' keeps everything (rate 1.0) and
    # '00000000' keeps nothing (every draw is >= it ... draws start at
    # '00000000' so rate 0 must compare strictly below).
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate {rate} outside [0, 1]")
    if rate >= 1.0:
        return "g" * 8
    return format(int(rate * _SPACE), "08x")


def hash_sample(
    df: DataFrame, rate: float, id_col: str = "doc_id", seed: str = "s0"
) -> DataFrame:
    """Keep a deterministic ~rate fraction of rows, keyed by id."""
    return df.filter(hash_hex(F.col(id_col), seed) < F.lit(_thr(rate)))


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    strata_col: str = "lang",
    default_rate: float = 0.0,
    id_col: str = "doc_id",
    seed: str = "s0",
) -> DataFrame:
    """Per-stratum deterministic sampling (e.g. language rebalancing:
    downsample dominant languages, keep the tail). One scan, no shuffle:
    the stratum column picks the threshold via a CASE chain and the hash
    filter runs scan-side. Skew-proof by construction — there is no
    groupBy on the stratum, so a 90%-English corpus costs the same as a
    uniform one."""
    thr: Column = F.lit(_thr(default_rate))
    for value, rate in sorted(rates.items()):
        thr = F.when(F.col(strata_col) == value, F.lit(_thr(rate))).otherwise(thr)
    return df.filter(hash_hex(F.col(id_col), seed) < thr)


def per_source_cap(
    df: DataFrame,
    cap: int,
    source_col: str = "source",
    id_col: str = "doc_id",
    seed: str = "cap",
) -> DataFrame:
    """Per-source document caps — the crawl-pipeline "domain cap"
    (CommonCrawl-derived corpora cap pages per domain so link farms and
    mega-sites can't dominate the training mix): keep at most ``cap``
    docs per source, chosen by deterministic md5 order (ties by id), and
    report each kept doc's rank plus its source's total size so the
    caller can audit what the cap actually cut.

    Fully deterministic → SQL-oracle-checkable. Scale shape: the cap is
    one window whose rank ≤ k filter Catalyst turns into
    WindowGroupLimit — each map task forwards at most ``cap`` rows per
    source, so the window shuffle never carries a mega-domain's tail.
    ``source_total`` deliberately comes from a SEPARATE map-side-combined
    count agg joined back (sources are few, the agg side broadcasts):
    computing it as a second window over the same partition would force
    the full partition through the shuffle and defeat the group limit.
    """
    h = hash_hex(F.col(id_col), seed)
    w = Window.partitionBy(source_col).orderBy(h.asc(), F.col(id_col).asc())
    totals = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("source_total"))
    return (
        df.withColumn("pick", F.row_number().over(w))
        .filter(F.col("pick") <= cap)
        .join(F.broadcast(totals), source_col)
        .select(id_col, source_col, "pick", "source_total")
    )


def split_assign(
    df: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    seed: str = "split",
    out_col: str = "split",
) -> DataFrame:
    """Deterministic disjoint split assignment (train/valid/test).

    Weights are normalized; split names are assigned to contiguous
    [lo, hi) hash ranges in sorted-name order so the mapping is stable
    and engine-independent. Every row gets exactly one split.
    """
    total = sum(weights.values())
    if total <= 0:
        raise ValueError("weights must sum to a positive number")
    names = sorted(weights)
    cum = 0.0
    expr: Column | None = None
    h = hash_hex(F.col(id_col), seed)
    for name in names[:-1]:
        cum += weights[name] / total
        cond = h < F.lit(_thr(cum))
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = F.lit(names[-1])
    out = last if expr is None else expr.otherwise(last)
    return df.withColumn(out_col, out)


def split_boundaries(weights: dict[str, float]) -> list[tuple[str, str]]:
    """(name, upper-threshold-hex) pairs in assignment order — used by the
    DuckDB oracle to embed the identical CASE chain."""
    total = sum(weights.values())
    names = sorted(weights)
    out: list[tuple[str, str]] = []
    cum = 0.0
    for name in names[:-1]:
        cum += weights[name] / total
        out.append((name, _thr(cum)))
    out.append((names[-1], "g" * 8))
    return out


def temperature_rebalance_rates(
    df: DataFrame, strata_col: str = "lang", alpha: float = 0.5
) -> dict[str, float]:
    """Temperature-scaled per-stratum keep-rates: sample stratum ``l``
    proportionally to ``count_l ** alpha`` (the multilingual-training
    convention — alpha=1 keeps the natural mix, alpha=0 flattens to
    uniform, 0<alpha<1 up-weights tail languages without erasing the
    head). Rates are normalized so the largest is exactly 1.0 (no
    stratum is ever upsampled): ``r_l = (c_min / c_l) ** (1 - alpha)``,
    which for alpha=0 degenerates to uniform_rebalance_rates.

    alpha=0.5 (the default, and the oracle-pinned case) needs only
    ``sqrt`` — correctly-rounded IEEE in every engine, so the rates and
    the derived md5 thresholds are bit-identical to a SQL twin. The
    counts aggregation is one tiny map-side-combined groupBy; apply the
    result with stratified_sample for the scan-side filter.
    """
    import math

    # driver-bound: one row per stratum (map-side combined)
    counts = {r[0]: r[1] for r in df.groupBy(strata_col).count().collect()}
    if not counts:
        return {}
    mn = min(counts.values())
    if alpha == 0.5:
        return {k: math.sqrt(mn / v) for k, v in counts.items()}
    return {k: (mn / v) ** (1.0 - alpha) for k, v in counts.items()}


def token_budget_cap(
    df: DataFrame,
    budget: int,
    strata_col: str = "lang",
    token_col: str = "n_tokens",
    id_col: str = "doc_id",
    seed: str = "budget",
) -> DataFrame:
    """Per-stratum token budgeting: walk each stratum's docs in
    deterministic hash order and keep rows while the running token total
    stays within ``budget`` (the doc that would cross the line is
    dropped, as is everything after it). Output: the kept rows with
    their running total — integer-exact, so oracle-stable.

    Hash order (not doc_id order) makes the kept set an unbiased sample
    of the stratum, and stable under corpus growth *up to the budget
    boundary*: a new doc displaces only docs hashing after it.

    Scale shape: one shuffle on the stratum key + a per-stratum sort for
    the running-sum window — the same cost as any per-stratum ranking.
    A 90%-one-language corpus concentrates that language's window in
    one task; if that bites, pre-filter with stratified_sample to the
    approximate budget first and budget-cap the survivors.
    """
    h = hash_hex(F.col(id_col), seed)
    w = (
        Window.partitionBy(strata_col)
        .orderBy(h.asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = df.withColumn("cum_tokens", F.sum(token_col).over(w))
    return out.filter(F.col("cum_tokens") <= budget)


def uniform_rebalance_rates(
    df: DataFrame, strata_col: str = "lang"
) -> dict[str, float]:
    """Per-stratum keep-rates that downsample every stratum to the size
    of the smallest one (uniform mix). The counts aggregation is tiny
    (one row per stratum — map-side combined, #strata rows collected);
    apply the result with stratified_sample for the scan-side filter, so
    the whole rebalance is one cheap counting scan + one filtered scan.
    """
    # driver-bound: one row per stratum (map-side combined)
    counts = {r[0]: r[1] for r in df.groupBy(strata_col).count().collect()}
    if not counts:
        return {}
    mn = min(counts.values())
    return {k: mn / v for k, v in counts.items()}


def shard_assign(
    df: DataFrame,
    tokens_per_shard: int,
    strata_col: str = "lang",
    token_col: str = "n_tokens",
    id_col: str = "doc_id",
    seed: str = "shard",
) -> DataFrame:
    """Assign every doc to a token-balanced output shard: within each
    stratum, walk docs in deterministic hash order and cut a new shard
    each time the running token total crosses ``tokens_per_shard``
    (shard_idx = floor((cum - n) / budget) — the shard a doc STARTS in,
    so each shard holds ~budget tokens and a doc is never split).

    Integer-exact, deterministic, stable under partitioning — the
    assignment a distributed writer needs so re-runs produce identical
    shards (idempotent materialization). Scale: same per-stratum window
    as token_budget_cap; at extreme per-stratum cardinality swap the
    window for the classic two-pass prefix sum (per-partition partials +
    driver-side offsets).
    """
    h = hash_hex(F.col(id_col), seed)
    w = (
        Window.partitionBy(strata_col)
        .orderBy(h.asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(token_col).over(w)
    return df.withColumns(
        {
            "cum_tokens": cum,
            "shard_idx": F.floor(
                (cum - F.col(token_col)).cast("double") / F.lit(tokens_per_shard)
            ).cast("int"),
        }
    )


def write_training_shards(
    df: DataFrame,
    path: str,
    tokens_per_shard: int,
    strata_col: str = "lang",
    token_col: str = "n_tokens",
    id_col: str = "doc_id",
    seed: str = "shard",
) -> None:
    """Terminal materialization: shard_assign then write parquet
    partitioned by (stratum, shard_idx) — the layout a training loader
    consumes (one directory per ~tokens_per_shard of one language).
    Deterministic end-to-end: re-running produces byte-identical shard
    membership, so overwrite-mode re-materialization is safe."""
    out = shard_assign(
        df, tokens_per_shard, strata_col=strata_col, token_col=token_col,
        id_col=id_col, seed=seed,
    )
    (
        out.write.mode("overwrite")
        .partitionBy(strata_col, "shard_idx")
        .parquet(path)
    )


def mixture_plan(
    df: DataFrame,
    weights: dict[str, float],
    token_budget: int,
    strata_col: str = "lang",
    token_col: str = "n_tokens",
) -> DataFrame:
    """Training-mixture planner: given target mixture ``weights`` per
    stratum and a total ``token_budget``, compute each stratum's
    available tokens, its target share, and the deterministic sampling
    rate that realizes it (capped at 1 — a stratum can't contribute
    more than it has; the report's ``shortfall`` column says how many
    target tokens the cap forfeits, so the caller can re-weight or
    lower the budget).

    The output's ``rate`` feeds ``stratified_sample`` directly: plan →
    rates → one scan-side hash filter, so planning the mixture costs
    one tiny aggregation (rows = strata) and sampling stays
    shuffle-free. Strata absent from ``weights`` get target 0 (rate 0).
    All arithmetic is sums + one division, exact across engines.
    """
    total_w = sum(weights.values())
    tgt: Column = F.lit(0.0)
    for value, w in sorted(weights.items()):
        tgt = F.when(F.col(strata_col) == value, F.lit(w / total_w)).otherwise(tgt)
    per = df.groupBy(strata_col).agg(F.sum(token_col).alias("available_tokens"))
    target = (tgt * F.lit(float(token_budget))).alias("target_tokens")
    return per.select(
        strata_col,
        "available_tokens",
        target,
        F.least(
            F.lit(1.0),
            F.col("target_tokens") / F.col("available_tokens").cast("double"),
        ).alias("rate"),
        F.greatest(
            F.lit(0.0),
            F.col("target_tokens") - F.col("available_tokens").cast("double"),
        ).alias("shortfall"),
    ).select(
        strata_col, "available_tokens", "target_tokens", "rate", "shortfall"
    )


def curriculum_weights(
    start_weights: dict[str, float],
    end_weights: dict[str, float],
    n_phases: int,
) -> list[tuple[int, str, float]]:
    """Per-phase normalized stratum weights, linearly interpolated from
    ``start_weights`` to ``end_weights`` over ``n_phases`` training
    phases (the data-curriculum convention: e.g. anneal from a
    diversity-heavy mix toward a quality-heavy mix late in training).

    Computed driver-side and returned as plain literals so EVERY
    consumer — the Spark schedule, the sampling filters, and the SQL
    oracles — shares bit-identical weight values (repr round-trips a
    double exactly). Strata missing from either dict interpolate
    from/to 0. Each phase is renormalized to sum to 1.

    Phase 0 is always the START mix (frac=0): a single-phase curriculum
    returns the normalized ``start_weights``, matching the p=0 phase of
    any multi-phase run; ``end_weights`` is reached only at the final
    phase of an ``n_phases >= 2`` schedule."""
    if n_phases < 1:
        raise ValueError("n_phases must be >= 1")
    strata = sorted(set(start_weights) | set(end_weights))
    out: list[tuple[int, str, float]] = []
    for p in range(n_phases):
        frac = p / (n_phases - 1) if n_phases > 1 else 0.0
        raw = {
            s: start_weights.get(s, 0.0)
            + (end_weights.get(s, 0.0) - start_weights.get(s, 0.0)) * frac
            for s in strata
        }
        tot = sum(raw.values())
        if tot <= 0:
            raise ValueError(f"phase {p} weights sum to {tot}")
        out += [(p, s, raw[s] / tot) for s in strata]
    return out


def curriculum_schedule(
    df: DataFrame,
    start_weights: dict[str, float],
    end_weights: dict[str, float],
    n_phases: int,
    phase_token_budget: int,
    strata_col: str = "lang",
    token_col: str = "n_tokens",
) -> DataFrame:
    """Multi-phase training-mixture planner: ``mixture_plan`` per
    curriculum phase, with the phase weights annealed linearly from
    ``start_weights`` to ``end_weights`` (``curriculum_weights``).

    Output rows = phases × strata: (phase, stratum, weight,
    available_tokens, target_tokens, rate, shortfall). ``rate`` feeds
    ``stratified_sample`` with a per-phase seed (e.g. ``f"phase{p}"``)
    so each phase draws its own deterministic subset — planning costs
    ONE tiny availability aggregation (rows = strata) broadcast-joined
    against the model-scale weight literals; the per-phase sampling
    stays a scan-side hash filter exactly like the single-phase plan.
    A stratum with no available tokens gets rate 0 and its full target
    as shortfall (no division by zero)."""
    spark = df.sparkSession
    wrows = curriculum_weights(start_weights, end_weights, n_phases)
    wdf = local_dataframe(
        spark, wrows, f"phase int, {strata_col} string, weight double"
    )
    per = df.groupBy(strata_col).agg(F.sum(token_col).alias("available_tokens"))
    j = wdf.join(F.broadcast(per), strata_col, "left").select(
        "phase",
        strata_col,
        "weight",
        F.coalesce(F.col("available_tokens"), F.lit(0)).alias(
            "available_tokens"
        ),
        (F.col("weight") * F.lit(float(phase_token_budget))).alias(
            "target_tokens"
        ),
    )
    avail = F.col("available_tokens")
    return j.select(
        "phase",
        strata_col,
        "weight",
        "available_tokens",
        "target_tokens",
        F.when(
            avail > 0,
            F.least(
                F.lit(1.0), F.col("target_tokens") / avail.cast("double")
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("rate"),
        F.greatest(
            F.lit(0.0), F.col("target_tokens") - avail.cast("double")
        ).alias("shortfall"),
    )


def prepare_corpus(
    docs: DataFrame,
    source_cap: int = 40,
    weights: dict[str, float] | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """End-to-end corpus release: the composition a training-data
    pipeline actually ships — Gopher quality filter → exact dedup
    (min-id canonical survives, copies counted) → per-source cap →
    deterministic train/valid/test split. One call, one auditable
    metadata table out: (id, lang, source, n_words, n_copies, pick,
    source_total, split).

    Every stage is the already-oracle-pinned operator (q66, q33, q101,
    q45); this entry pins the COMPOSITION — stage order (filter before
    dedup: don't pay digest shuffles for docs quality will drop; dedup
    before cap: a mega-duplicated page mustn't consume its source's
    cap) and the column handoffs between stages.

    Scale shape: ONE text scan — quality (gopher_struct evaluated in
    the same projection as the md5 digest, not a joined-back frame)
    and the digest are computed together and text is dropped before
    the first shuffle; the dedup windows and the cap windows each
    share one metadata-width exchange (the cap's rank and its
    source_total ride the same source partitioning, trading
    per_source_cap's WindowGroupLimit for not re-executing the
    upstream scan+window subtree in a totals branch — re-scanning is
    the right call for the standalone operator, the wrong one mid-
    pipeline). Audited: 1 scan, 2 exchanges total (was 6 scans as the
    naive operator chain).
    """
    from ticktock_spark.pipeline.text import gopher_struct

    base = (
        docs.select(
            F.col(id_col), "lang", "source",
            F.md5(F.col(text_col)).alias("_digest"),
            gopher_struct(F.col(text_col)).alias("_g"),
        )
        .filter(F.col("_g.keep"))
        .select(id_col, "lang", "source", "_digest",
                F.col("_g.n_words").alias("n_words"))
    )
    wd = Window.partitionBy("_digest")
    dd = base.withColumns(
        {
            "_rn": F.row_number().over(wd.orderBy(F.col(id_col).asc())),
            "n_copies": F.count(F.lit(1)).over(wd),
        }
    ).filter(F.col("_rn") == 1)
    ws = Window.partitionBy("source")
    h = hash_hex(F.col(id_col), "cap")
    out = (
        dd.withColumns(
            {
                "pick": F.row_number().over(ws.orderBy(h.asc(), F.col(id_col).asc())),
                "source_total": F.count(F.lit(1)).over(ws),
            }
        )
        .filter(F.col("pick") <= source_cap)
        .select(id_col, "lang", "source", "n_words", "n_copies",
                "pick", "source_total")
    )
    return split_assign(out, weights or {"train": 0.8, "valid": 0.1, "test": 0.1},
                        id_col=id_col)

def dsir_weights(
    df: DataFrame,
    target: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Data Selection via Importance Resampling weights (Xie et al.
    2023, arXiv:2302.03169, public method): score every raw document by
    how target-like its hashed-unigram distribution is.

    Features are the classifier module's portable hex-pair buckets
    (substr(md5(tok),1,2) — 256 buckets). Two add-one-smoothed unigram
    LMs are fit from bucket counts — target = rows where `target` holds,
    raw = the whole corpus — and each doc's weight is its token-wise
    log-likelihood ratio Σ_tok ln(p_target(b)/p_raw(b)). High weight =
    target-like; feed the weights into hash-order sampling or a
    threshold cut for the actual resample.

    Scale shape: TWO passes, no retained cache. The fit pass (at call
    time) persists the per-(doc, bucket) tf table just long enough to
    aggregate the two 256-bucket LMs, collects the resulting ≤256-float
    LLR dict to the driver, and unpersists — so the returned frame
    holds NO reference to session cache and a long-lived session
    accumulates nothing (r5 advice: CacheManager pins cached plans
    until explicit unpersist; at 100 TB, keeping a corpus-derived tf
    table pinned in executor storage for the caller's eventual action
    is worse than the second scan). The scoring pass (at action time)
    rebuilds the tf table in one scan (shuffle bounded by docs × 256)
    and joins the broadcast LLR literals — the same frozen-model
    scan-side shape as dsir_score_snapshot.
    """
    from ticktock_spark.pipeline.classify import token_bucket
    from ticktock_spark.pipeline.text import tokens

    tk = F.coalesce(tokens(F.col(text_col)), F.array().cast("array<string>"))
    base = df.select(
        F.col(id_col), target.alias("is_t"), tk.alias("__tk")
    ).select(id_col, "is_t", F.explode("__tk").alias("tok"))

    def tf_table():
        return base.groupBy(
            id_col, "is_t", token_bucket(F.col("tok")).alias("b")
        ).agg(F.count(F.lit(1)).alias("tf"))

    per_doc = tf_table().persist()
    try:
        lm = per_doc.groupBy("b").agg(
            F.sum("tf").alias("c_raw"),
            F.sum(
                F.when(F.col("is_t"), F.col("tf")).otherwise(F.lit(0))
            ).alias("c_tgt"),
        )
        # driver-bound: two totals
        tot = lm.agg(
            F.sum("c_raw").alias("t_raw"), F.sum("c_tgt").alias("t_tgt")
        ).collect()[0]
        t_raw, t_tgt = float(tot["t_raw"] or 0), float(tot["t_tgt"] or 0)
        llr = F.log(
            (F.col("c_tgt").cast("double") + F.lit(1.0)) / F.lit(t_tgt + 256.0)
        ) - F.log(
            (F.col("c_raw").cast("double") + F.lit(1.0)) / F.lit(t_raw + 256.0)
        )
        # driver-bound: ≤256 token-bucket LM rows
        lm_rows = lm.select("b", llr.alias("llr")).collect()
    finally:
        per_doc.unpersist()
    spark = df.sparkSession
    lmw = local_dataframe(spark, lm_rows, "b string, llr double")
    # Scoring pass WITHOUT the doc-spine outer join (r11): explode_outer
    # keeps token-less docs as one (doc, tok=NULL) row, whose bucket is
    # NULL — the left join then gives it llr=NULL, sum() skips it
    # (log_w NULL, n_tokens 0), which is exactly what the removed
    # `spine LEFT JOIN scores` emitted. Every REAL token's bucket exists
    # in lmw (it was fit from this corpus), so the (tf · llr) multiset
    # per doc is unchanged. Saves one corpus scan, one doc-keyed
    # exchange, and a SortMergeJoin of the whole spine — at 100 TB that
    # join was the plan's only corpus-wide sort.
    base_all = df.select(
        F.col(id_col), tk.alias("__tk")
    ).select(id_col, F.explode_outer("__tk").alias("tok"))
    tf_all = base_all.groupBy(
        id_col, token_bucket(F.col("tok")).alias("b")
    ).agg(F.count(F.lit(1)).alias("tf"))
    return (
        tf_all.join(F.broadcast(lmw), "b", "left")
        .groupBy(id_col)
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("b").isNotNull(), F.col("tf"))), F.lit(0)
            ).alias("n_tokens"),
            F.sum(F.col("tf").cast("double") * F.col("llr")).alias("log_w"),
        )
    )


def weighted_sample(
    df: DataFrame,
    weight: Column,
    k: int,
    id_col: str = "doc_id",
    seed: str = "w0",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis &
    Spirakis 2006, public algorithm A-ES): each row draws u ~ U(0,1)
    from its id hash and ranks by ln(u)/w — the top-k ranks are an
    exact weighted sample without replacement.

    The draw is the samplers' md5 device (24 bits of the (seed, id)
    hash → u = (v + 0.5)/2^24, never 0 or 1), so the sample is
    idempotent under retries, stable across partitionings, and
    reproducible in the SQL oracle. ln(u) ≤ 0, so dividing by a LARGER
    weight moves the key toward 0 = better: rank by key desc, id asc.

    Rows with NULL or non-positive weight are excluded (they cannot be
    drawn — matching the algorithm's w > 0 domain). Scale shape: one
    scan computing a codegen'd key expression, then TakeOrdered top-k —
    no shuffle beyond the final k-row collect, no RNG state anywhere.
    """
    v = F.conv(F.substring(hash_hex(F.col(id_col), seed), 1, 6), 16, 10).cast(
        "double"
    )
    u = (v + F.lit(0.5)) / F.lit(float(1 << 24))
    key = F.log(u) / weight.cast("double")
    out = (
        df.withColumn("__w", weight.cast("double"))
        .filter(F.col("__w") > 0)
        .withColumn("sample_key", key)
        .drop("__w")
    )
    return out.orderBy(F.col("sample_key").desc(), F.col(id_col).asc()).limit(k)


def dsir_score_expr(
    df: DataFrame,
    llr_map: dict[str, float],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Scan-side DSIR scoring against a FROZEN bucket-LLR snapshot: the
    256-entry {hex-pair bucket: ln(p_t/p_r)} table inlines as a map
    literal and the per-doc weight folds over the token array — no
    explode, no shuffle, no join (lr_score_expr's shape).

    This is the production split of dsir_weights: fit the LMs ONCE on a
    reference corpus (dsir_llr_table), then score any batch — or a
    STREAM, statelessly — against that snapshot. Zero-token docs score
    NULL (no evidence), matching dsir_weights.
    """
    from ticktock_spark.pipeline.text import tokens

    pairs: list = []
    for bkt, v in sorted(llr_map.items()):
        pairs += [F.lit(bkt), F.lit(float(v))]
    m = F.create_map(*pairs) if pairs else F.create_map()
    tk = F.coalesce(tokens(F.col(text_col)), F.array().cast("array<string>"))
    base = df.select(F.col(id_col), tk.alias("__tk"))

    def step(acc, t):
        return acc + F.coalesce(m[F.substring(F.md5(t), 1, 2)], F.lit(0.0))

    s = F.aggregate(F.col("__tk"), F.lit(0.0), step)
    n = F.size("__tk")
    return base.select(
        id_col,
        n.cast("bigint").alias("n_tokens"),
        F.when(n == 0, F.lit(None).cast("double")).otherwise(s).alias("log_w"),
    )


def dsir_llr_table(
    df: DataFrame,
    target: Column,
    text_col: str = "text",
) -> dict[str, float]:
    """Fit the DSIR bucket-LLR snapshot on a reference corpus: the
    ≤256-entry driver-held dict dsir_score_expr consumes. One text
    scan; only the bucket aggregate reaches the driver."""
    from ticktock_spark.pipeline.classify import token_bucket
    from ticktock_spark.pipeline.text import tokens as _tokens

    base = df.select(
        target.alias("is_t"),
        F.explode(
            F.coalesce(_tokens(F.col(text_col)), F.array().cast("array<string>"))
        ).alias("tok"),
    )
    lm = base.groupBy(token_bucket(F.col("tok")).alias("b")).agg(
        F.count(F.lit(1)).alias("c_raw"),
        F.count(F.when(F.col("is_t"), 1)).alias("c_tgt"),
    )
    # driver-bound: one row per token bucket (hashed LM, ≤ n_buckets)
    rows = lm.collect()
    t_raw = float(sum(r["c_raw"] for r in rows))
    t_tgt = float(sum(r["c_tgt"] for r in rows))
    import math

    return {
        r["b"]: math.log((r["c_tgt"] + 1.0) / (t_tgt + 256.0))
        - math.log((r["c_raw"] + 1.0) / (t_raw + 256.0))
        for r in rows
    }


def intake_report(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
) -> DataFrame:
    """One-row intake gate for a new document batch against the
    standing corpus — the go/no-go report an ingest pipeline computes
    before merging a delivery:

    - n_new, n_dup_exact (new docs whose normalized fingerprint already
      exists in the corpus), n_dup_internal (duplicated WITHIN the
      batch beyond first occurrence);
    - lang_psi: Population Stability Index of the batch's language mix
      vs the corpus (operators/drift.py categorical_drift);
    - len_ks: exact KS statistic between the batch's and corpus's
      per-doc token-count distributions (length drift — truncation or
      boilerplate deliveries show up here);
    - gopher_pass_frac: fraction of the batch passing the Gopher
      quality conjunction.

    Scale shape: the batch (small side by construction) is scanned per
    screen; the corpus contributes its digest set (semi-join — in
    production this is the standing digest index, not a text rescan),
    its language counts, and its token-count distribution. Every
    statistic is a scalar — the output is literally one row.
    """
    from ticktock_spark.operators.drift import categorical_drift, ks_drift
    from ticktock_spark.pipeline.text import (
        fingerprint,
        gopher_quality_flags,
        tokens,
    )

    ndig = new_df.select(
        F.col(id_col), fingerprint(F.col(text_col)).alias("dig")
    )
    cdig = corpus_df.select(fingerprint(F.col(text_col)).alias("dig")).distinct()
    n_new = new_df.groupBy().agg(F.count(F.lit(1)).alias("n_new"))
    dup_exact = (
        ndig.join(cdig, "dig", "left_semi")
        .groupBy()
        .agg(F.count(F.lit(1)).alias("n_dup_exact"))
    )
    dup_internal = (
        ndig.filter(F.col("dig").isNotNull())
        .groupBy("dig")
        .agg((F.count(F.lit(1)) - 1).alias("extra"))
        .groupBy()
        .agg(F.coalesce(F.sum("extra"), F.lit(0)).alias("n_dup_internal"))
    )
    tagged = new_df.select(
        F.lit(False).alias("__ref"),
        F.col(lang_col).alias("lang"),
        F.size(tokens(F.col(text_col))).cast("double").alias("nt"),
    ).unionByName(
        corpus_df.select(
            F.lit(True).alias("__ref"),
            F.col(lang_col).alias("lang"),
            F.size(tokens(F.col(text_col))).cast("double").alias("nt"),
        )
    )
    psi = categorical_drift(tagged, F.col("__ref"), "lang").select(
        F.col("psi").alias("lang_psi")
    )
    ks = ks_drift(tagged, F.col("__ref"), "nt").select(
        F.col("ks").alias("len_ks")
    )
    gp = (
        gopher_quality_flags(new_df, text_col=text_col, id_col=id_col)
        .groupBy()
        .agg(
            (
                F.floor(
                    (
                        F.count(F.when(F.col("keep"), 1)).cast("double")
                        / F.count(F.lit(1)).cast("double")
                    )
                    * 1000000.0
                    + F.lit(0.5)
                )
                / 1000000.0
            ).alias("gopher_pass_frac")
        )
    )
    return (
        n_new.crossJoin(dup_exact)
        .crossJoin(dup_internal)
        .crossJoin(psi)
        .crossJoin(ks)
        .crossJoin(gp)
    )


def perplexity_buckets(
    docs: DataFrame,
    lo: float = 33.0,
    hi: float = 67.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al., LREC 2020):
    score every document by cross-entropy under the corpus's own bigram
    LM, then cut each language at its R-6 ``lo``/``hi`` percentiles into
    head (most fluent third) / middle / tail (gibberish, boilerplate,
    wrong-language shards). Downstream mixtures keep head+middle, or
    sample the tail at a reduced rate (compose with stratified_sample on
    the bucket column).

    Per-language thresholds matter: absolute cross-entropy is not
    comparable across languages (different corpus mass per language), so
    the cut is relative within each language — exactly CCNet's design.

    Output: (id, lang, cross_entropy, bucket) for every doc with >= 2
    tokens (others have no bigrams, hence no defined score).

    Scale shape: bigram_perplexity is ONE corpus text scan (linear
    window plan, no self-joins); attaching lang re-reads only the
    (id, lang) projection (column-pruned second scan). Thresholds are 2
    rows per language from group_percentiles_r6 (rank-based — no
    per-group collected arrays) and broadcast back onto the scored
    frame. Quantize-then-compare: scores and thresholds are both
    canonicalized to 6 decimals before the bucket CASE, so the cut is
    engine-stable (DuckDB oracle q138).
    """
    from ticktock_spark.operators.percentile import group_percentiles_r6
    from ticktock_spark.pipeline.text import bigram_perplexity
    from ticktock_spark.queries import q6

    ce = bigram_perplexity(docs, text_col=text_col, id_col=id_col)
    # The scored projection (id, lang, ce — three narrow columns, no
    # text) is consumed twice: once to derive the thresholds, once for
    # the final bucket assignment. Persist it so the perplexity scan
    # runs ONCE (unpersisted shape re-executed the whole LM subtree —
    # measured 8 corpus scans vs 4). Same CacheManager ownership rule
    # as bm25_topk: long-lived sessions reclaim via
    # spark.catalog.clearCache() once done with the corpus.
    scored = (
        docs.select(id_col, lang_col)
        .join(ce, id_col)
        .select(id_col, lang_col, q6(F.col("cross_entropy")).alias("__ce"))
        .persist()
    )
    th = group_percentiles_r6(scored, [lang_col], "__ce", [lo, hi])
    piv = th.groupBy(lang_col).agg(
        F.max(F.when(F.col("quantile") == lo, q6(F.col("pct")))).alias("__lo"),
        F.max(F.when(F.col("quantile") == hi, q6(F.col("pct")))).alias("__hi"),
    )
    return scored.join(F.broadcast(piv), lang_col).select(
        id_col,
        lang_col,
        F.col("__ce").alias("cross_entropy"),
        F.when(F.col("__ce") <= F.col("__lo"), F.lit("head"))
        .when(F.col("__ce") <= F.col("__hi"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


def epoch_shuffle(
    df: DataFrame,
    n_shards: int = 8,
    epoch: int = 0,
    id_col: str = "doc_id",
) -> DataFrame:
    """Reproducible epoch-level global shuffle into training shards:
    every row gets a (shard, pos) training-order coordinate that is a
    pure function of (epoch, id) — re-running the job, resuming
    mid-epoch, or regenerating one lost shard reproduces the identical
    order, and bumping ``epoch`` reshuffles with no carried state. This
    is the data-loader contract for multi-epoch pretraining: a global
    random permutation per epoch, materialized as shard files.

    shard = first-3-hex-digits of md5('ep<epoch>:' || id) mod n_shards
    (uniform over ids); pos = 1-based rank of the full digest within the
    shard (digest order is a uniform random permutation; id breaks the
    measure-zero digest-collision ties).

    Scale shape: one scan + ONE exchange, hash-partitioned on shard; the
    rank window is per-shard (n_shards-way parallel — there is never a
    global single-partition ordering step). At 100 TB, n_shards is sized
    to the downstream loader (thousands), so each window partition is a
    bounded slice; the sort-within-shard is the write you were going to
    do anyway to produce loader shards.
    """
    key = F.md5(F.concat(F.lit(f"ep{int(epoch)}:"), F.col(id_col).cast("string")))
    d = df.select(F.col(id_col), key.alias("__k")).select(
        id_col,
        "__k",
        (F.conv(F.substring("__k", 1, 3), 16, 10).cast("long") % F.lit(int(n_shards)))
        .cast("int")
        .alias("shard"),
    )
    w = Window.partitionBy("shard").orderBy("__k", id_col)
    return d.select(
        F.col(id_col), F.col("shard"), F.row_number().over(w).cast("long").alias("pos")
    )


def curation_gate(
    docs: DataFrame,
    emb: DataFrame,
    min_quality: float = 0.4,
    min_margin: int = 2,
    id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
    text_col: str = "text",
    vec_col: str = "embedding",
) -> DataFrame:
    """Joint text+embedding curation gate: one row per document with its
    quality score, language-ID confidence, embedding-health flag, and
    the combined keep decision — the cross-modal admission filter run
    before a (text, embedding) pair enters a training mixture or an ANN
    index. A document passes only if ALL of:

    - heuristic quality >= ``min_quality`` (pipeline/text.quality_score),
    - language ID is confident (labeled and margin >= ``min_margin``,
      pipeline/text.langid_margin semantics),
    - its embedding exists, is all-finite, and has nonzero norm
      (pipeline/similarity.embedding_hygiene's per-vector checks).

    Scale shape: two scans (documents and embeddings are separate
    tables) joined once on the shared id — everything else is
    scan-side row expressions; no aggregation at all, so the gate
    streams. Missing embeddings LEFT-join to norm_ok = false (text-only
    docs fail the joint gate by definition; gate the tables separately
    if that is not the intent).
    """
    from ticktock_spark.pipeline.similarity import norm
    from ticktock_spark.pipeline.text import langid_margin, quality_score
    from ticktock_spark.queries import q6

    lid = langid_margin(docs, min_margin=min_margin, text_col=text_col, id_col=id_col)
    scored = docs.select(
        F.col(id_col), q6(quality_score(F.col(text_col))).alias("quality")
    ).join(lid.select(id_col, "lang_pred", "confident"), id_col)

    nrm = norm(F.col(vec_col))
    bad = F.size(
        F.filter(F.col(vec_col), lambda x: x.isNaN() | (F.abs(x) == float("inf")))
    )
    vec_ok = emb.select(
        F.col(vec_id_col).alias(id_col),
        ((bad == 0) & ~nrm.isNaN() & (nrm > 0.0)).alias("norm_ok"),
    )
    out = scored.join(vec_ok, id_col, "left").select(
        id_col,
        "quality",
        "lang_pred",
        "confident",
        F.coalesce(F.col("norm_ok"), F.lit(False)).alias("norm_ok"),
    )
    return out.select(
        "*",
        (
            (F.col("quality") >= F.lit(float(min_quality)))
            & F.col("confident")
            & F.col("norm_ok")
        ).alias("keep"),
    )


def ccnet_mixture(
    docs: DataFrame,
    tail_rate: float = 0.1,
    lo: float = 33.0,
    hi: float = 67.0,
    seed: str = "ppl",
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
) -> DataFrame:
    """The CCNet selection recipe end to end: bucket every document by
    per-language bigram-LM perplexity (perplexity_buckets) and keep
    head + middle in full while deterministically sampling the tail at
    ``tail_rate`` — high-perplexity text is mostly noise but not all
    noise, so production pipelines keep a slice rather than dropping it.

    The tail draw is the repo-standard md5(seed:id) threshold, so the
    selection is idempotent under retries and reproducible across
    engines. Output: the kept (id, lang, bucket) rows.

    Scale shape: perplexity_buckets' one scoring scan + broadcast
    thresholds, then a pure scan-side filter — no new shuffle.
    """
    b = perplexity_buckets(
        docs, lo=lo, hi=hi, text_col=text_col, id_col=id_col, lang_col=lang_col
    )
    keep = (F.col("bucket") != "tail") | (
        hash_hex(F.col(id_col), seed) < F.lit(_thr(tail_rate))
    )
    return b.filter(keep).select(id_col, lang_col, "bucket")
