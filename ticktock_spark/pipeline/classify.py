"""Distributed linear text classification: hashed bag-of-tokens
features, full-batch logistic-regression training with driver-held
weights, and scan-side scoring.

This is the fastText-style quality/language filter stage of an LLM data
pipeline (public lineage: Joulin et al. 2016 "Bag of Tricks for
Efficient Text Classification"; CCNet's quality filtering) re-expressed
Spark-first:

- features are hashed token buckets (`substr(md5(tok), 1, 2)` — 256
  string buckets, reproducible in ANY engine including the SQL oracle,
  the same portability trick as the MinHash catalog);
- the model is a ~257-float driver-held vector (bucket weights + bias),
  exactly the kmeans_lloyd pattern: per-iteration work is ONE pass over
  a persisted vocab-bounded feature table, the shuffle is bounded by
  (docs × distinct buckets per doc) then by 256, and only the 257
  gradient partials ever reach the driver;
- scoring joins the broadcast weight table against the feature table —
  no Python anywhere.

Full-batch gradient descent (not SGD) keeps every step deterministic
and engine-reproducible: grad_b = Σ_docs (σ(w·x) − y)·x_b / N, with
x_b = tf_b / dl (L1-normalized counts, the fastText convention).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ticktock_spark.pipeline.text import tokens
from ticktock_spark.session import local_dataframe

#: hex-pair bucket of a token: 256 buckets, portable across engines.
BIAS_BUCKET = "__bias__"


def token_bucket(tok) -> F.Column:
    return F.substring(F.md5(tok), 1, 2)


def hashed_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    label: F.Column | None = None,
) -> DataFrame:
    """(doc_id, bucket, x [, y]) hashed L1-normalized token features,
    plus one constant bias feature per doc (x = 1).

    One corpus scan; the groupBy shuffles at most one row per
    (doc, distinct bucket) — bounded by docs × 256 regardless of corpus
    text volume. Docs with no tokens still get the bias row, so the
    model sees them.
    """
    cols = [F.col(id_col)]
    if label is not None:
        cols.append(label.cast("double").alias("y"))
    tk = F.coalesce(tokens(F.col(text_col)), F.array().cast("array<string>"))
    base = df.select(*cols, tk.alias("__tk")).select(
        *[F.col(c) for c in ([id_col, "y"] if label is not None else [id_col])],
        F.size("__tk").alias("dl"),
        F.explode(
            F.concat(F.array(F.lit(None).cast("string")), F.col("__tk"))
        ).alias("tok"),
    )
    # the injected NULL token is the bias carrier: bucket __bias__, x=1
    keep = [id_col] + (["y"] if label is not None else [])
    feats = (
        base.withColumn(
            "bucket",
            F.when(F.col("tok").isNull(), F.lit(BIAS_BUCKET)).otherwise(
                token_bucket(F.col("tok"))
            ),
        )
        .groupBy(*keep, "bucket")
        .agg(F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl"))
        .withColumn(
            "x",
            F.when(F.col("bucket") == BIAS_BUCKET, F.lit(1.0)).otherwise(
                F.col("tf").cast("double") / F.col("dl").cast("double")
            ),
        )
        .drop("tf", "dl")
    )
    return feats


def lr_train(
    feats: DataFrame,
    steps: int = 2,
    lr: float = 1.0,
    id_col: str = "doc_id",
) -> dict[str, float]:
    """Full-batch logistic regression on (doc_id, bucket, x, y) features.

    Returns {bucket: weight}. Each step: broadcast the current weights
    (≤257 rows), one pass over the persisted feature table computes
    per-doc margins (shuffle keyed on doc), per-doc error joins back to
    the features (co-keyed on doc), and the 256-key gradient aggregate
    map-side-combines down to ≤257 rows collected to the driver. Zero
    row-scale driver traffic; iteration count is the only sequential
    axis (2–5 steps are the curation regime — the signal is a filter
    threshold, not a converged LM).
    """
    spark = feats.sparkSession
    owns_cache = feats.storageLevel == StorageLevel.NONE
    if owns_cache:
        feats = feats.persist()
    n_docs = feats.select(id_col).distinct().count()
    weights: dict[str, float] = {}
    for _ in range(steps):
        wdf = local_dataframe(
            spark, list(weights.items()), "bucket string, w double"
        )
        margins = (
            feats.join(F.broadcast(wdf), "bucket", "left")
            .groupBy(id_col, "y")
            .agg(F.sum(F.coalesce(F.col("w"), F.lit(0.0)) * F.col("x")).alias("z"))
        )
        err = margins.select(
            id_col,
            (F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("z"))) - F.col("y")).alias(
                "err"
            ),
        )
        # driver-bound: one gradient row per hash bucket (model-scale)
        grad_rows = (
            feats.join(err, id_col)
            .groupBy("bucket")
            .agg((F.sum(F.col("err") * F.col("x")) / F.lit(float(n_docs))).alias("g"))
            .collect()
        )
        for r in grad_rows:
            # g is NULL iff every doc carrying the bucket has a NULL
            # label — no information, leave the weight unchanged
            if r["g"] is not None:
                weights[r["bucket"]] = weights.get(r["bucket"], 0.0) - lr * r["g"]
    if owns_cache:
        feats.unpersist()
    return weights


def lr_score(
    feats: DataFrame, weights: dict[str, float], id_col: str = "doc_id"
) -> DataFrame:
    """σ(w·x) per doc from a trained weight table (broadcast join —
    the inference pass a 100 TB corpus runs scan-side)."""
    spark = feats.sparkSession
    wdf = local_dataframe(spark, list(weights.items()), "bucket string, w double")
    return (
        feats.join(F.broadcast(wdf), "bucket", "left")
        .groupBy(id_col)
        .agg(F.sum(F.coalesce(F.col("w"), F.lit(0.0)) * F.col("x")).alias("z"))
        .select(
            id_col,
            (F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("z")))).alias("p"),
        )
    )


def lr_quality_scores(
    df: DataFrame,
    label: F.Column,
    steps: int = 2,
    lr: float = 1.0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Train-and-score composition: fit the hashed-feature LR on
    `label` (e.g. lang == 'en') and return (doc_id, p) for every doc.

    The feature table is persisted only for the duration of training
    (each GD step scans it) and unpersisted once the ≤257-float weight
    dict is on the driver; scoring recomputes features scan-side — the
    same one-pass shape a 100 TB inference run uses — so the returned
    frame holds no reference to session cache and a long-lived session
    accumulates nothing (r5 advice: CacheManager pins cached plans
    until explicit unpersist)."""
    feats = hashed_features(df, text_col, id_col, label=label).persist()
    try:
        w = lr_train(feats, steps=steps, lr=lr, id_col=id_col)
    finally:
        feats.unpersist()
    return lr_score(
        hashed_features(df, text_col, id_col), w, id_col=id_col
    )


def lr_score_expr(
    df: DataFrame,
    weights: dict[str, float],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Scan-side σ(w·x): the whole inference collapses into one
    codegen'd row expression — no explode, no shuffle, no join.

    Because x is L1-normalized counts, w·x = bias + (Σ_tok
    w[bucket(tok)]) / n_tokens, so a per-token map lookup folded over
    the token array computes the margin in place. The ≤257-entry model
    inlines as a map literal (the cap_to_vocab size regime — far under
    the expression-tree hazard threshold). This is the form a 100 TB
    inference pass wants (pure scan, composes with pushdown) and it is
    STATELESS — apply it directly to a streaming DataFrame, no
    watermark, no state store (tests pin stream parity with lr_score).
    """
    pairs: list = []
    for bkt, w in sorted(weights.items()):
        if bkt != BIAS_BUCKET:
            pairs += [F.lit(bkt), F.lit(float(w))]
    wmap = F.create_map(*pairs) if pairs else F.create_map()
    bias = float(weights.get(BIAS_BUCKET, 0.0))
    tk = F.coalesce(tokens(F.col(text_col)), F.array().cast("array<string>"))
    base = df.select(F.col(id_col), tk.alias("__tk"))

    def step(acc, t):
        return acc + F.coalesce(
            wmap[F.substring(F.md5(t), 1, 2)], F.lit(0.0)
        )

    tok_sum = F.aggregate(F.col("__tk"), F.lit(0.0), step)
    n_tok = F.size("__tk")
    z = F.lit(bias) + F.when(n_tok == 0, F.lit(0.0)).otherwise(
        tok_sum / n_tok.cast("double")
    )
    return base.select(
        id_col, (F.lit(1.0) / (F.lit(1.0) + F.exp(-z))).alias("p")
    )


def classifier_eval(
    scored: DataFrame,
    score_col: str = "score",
    label_col: str = "y",
    threshold: float = 0.5,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Exact classifier evaluation: tie-corrected ROC-AUC plus the
    confusion matrix and derived metrics at ``threshold`` — the
    threshold-picking report a curation pipeline runs before turning a
    quality/language signal into a filter. With ``group_cols`` the
    whole report is computed per group (per-source / per-language
    slice evaluation — the fairness table that catches a filter that
    works on average but fails one slice); the cumulative window then
    partitions by group, so no single partition ever holds more than
    one group's distinct scores.

    AUC is the Mann-Whitney rank statistic computed entirely in the
    INTEGER domain so every engine agrees bit-for-bit (the ks_drift
    integer-argmax rationale): group rows by distinct score value
    (counts ``pos``/``neg``), take a cumulative ``neg_below`` over
    score order, and sum ``U2 = Σ pos·(2·neg_below + neg)`` — twice
    the U statistic, with the tie term ``0.5·pos·neg`` kept integral.
    ``AUC = U2 / (2·P·N)`` is then a single double division of exact
    integers. Products are decimal(38,0) so P, N up to ~1e18 cannot
    overflow.

    Scale: the only shuffle is the groupBy on score value; the
    cumulative window is over DISTINCT scores only, which callers keep
    bounded by quantizing the score (a [0,1] score at 1e-6 resolution
    is ≤ 1,000,001 rows no matter the corpus size), so the unpartitioned
    window never sees data-scale rows. Rows with a NULL score or label
    are excluded (they cannot be ranked or counted).

    Returns one row: n_pos, n_neg, auc, tp, fp, fn, tn, precision,
    recall, f1, accuracy. Ratio columns are NULL when their denominator
    is empty (e.g. auc with a single-class corpus) rather than NaN.
    """
    from pyspark.sql import Window

    groups = list(group_cols or [])
    s = scored.filter(
        F.col(score_col).isNotNull() & F.col(label_col).isNotNull()
    )
    by = (
        s.groupBy(*groups, score_col)
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col(label_col).cast("long")).alias("pos"),
        )
        .withColumn("neg", F.col("cnt") - F.col("pos"))
    )
    w = (
        Window.partitionBy(*groups)
        .orderBy(score_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    per = by.withColumn(
        "neg_below", F.coalesce(F.sum("neg").over(w), F.lit(0))
    )

    def dec(c):
        return c.cast("decimal(38,0)")

    hit = F.col(score_col) >= F.lit(float(threshold))
    agg = per.groupBy(*groups).agg(
        F.sum("pos").alias("n_pos"),
        F.sum("neg").alias("n_neg"),
        F.sum(
            dec(F.col("pos"))
            * (dec(F.lit(2)) * dec(F.col("neg_below")) + dec(F.col("neg")))
        ).alias("u2"),
        F.sum(F.when(hit, F.col("pos")).otherwise(F.lit(0))).alias("tp"),
        F.sum(F.when(hit, F.col("neg")).otherwise(F.lit(0))).alias("fp"),
    )
    np_, nn = F.col("n_pos"), F.col("n_neg")
    tp, fp = F.col("tp"), F.col("fp")
    fn, tn = np_ - tp, nn - fp
    auc = F.when(
        (np_ > 0) & (nn > 0),
        F.col("u2").cast("double")
        / (F.lit(2.0) * np_.cast("double") * nn.cast("double")),
    )
    precision = F.when(tp + fp > 0, tp.cast("double") / (tp + fp).cast("double"))
    recall = F.when(np_ > 0, tp.cast("double") / np_.cast("double"))
    f1 = F.when(
        precision.isNotNull() & recall.isNotNull() & (precision + recall > 0),
        F.lit(2.0) * precision * recall / (precision + recall),
    )
    accuracy = F.when(
        np_ + nn > 0, (tp + tn).cast("double") / (np_ + nn).cast("double")
    )
    zl = F.lit(0).cast("long")
    return agg.select(
        *[F.col(g) for g in groups],
        F.coalesce(np_, zl).alias("n_pos"),
        F.coalesce(nn, zl).alias("n_neg"),
        auc.alias("auc"),
        F.coalesce(tp, zl).alias("tp"),
        F.coalesce(fp, zl).alias("fp"),
        F.coalesce(fn, zl).alias("fn"),
        F.coalesce(tn, zl).alias("tn"),
        precision.alias("precision"),
        recall.alias("recall"),
        f1.alias("f1"),
        accuracy.alias("accuracy"),
    )


def calibration_bins(
    scored: DataFrame,
    score_col: str = "score",
    label_col: str = "y",
    n_bins: int = 10,
) -> DataFrame:
    """Reliability-diagram table for a [0,1] score: equal-width bins
    with observed positive rate vs mean predicted score — the
    calibration check run next to ``classifier_eval`` before a score
    is used as a probability (e.g. temperature-sampling on it).

    Engine-exactness: the mean score per bin is computed by summing the
    score in integer MICRO-UNITS (the score is q6-quantized by
    convention, so ``floor(score·1e6 + 0.5)`` recovers an exact
    integer), then ONE double division — a plain double sum would
    round differently under Spark's partial aggregation order vs a
    sequential engine. ``pos_rate`` is likewise a single division of
    counts. One groupBy on the bin id (≤ n_bins groups); rows with a
    NULL score or label are excluded.

    Columns: bin, lo, hi, n, n_pos, pos_rate, mean_score.
    """
    s = scored.filter(
        F.col(score_col).isNotNull() & F.col(label_col).isNotNull()
    )
    b = F.least(
        F.floor(F.col(score_col) * F.lit(float(n_bins))).cast("int"),
        F.lit(n_bins - 1),
    )
    micro = F.floor(
        F.col(score_col) * F.lit(1_000_000.0) + F.lit(0.5)
    ).cast("long")
    agg = (
        s.select(
            b.alias("bin"),
            F.col(label_col).cast("long").alias("__y"),
            micro.alias("__m"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("__y").alias("n_pos"),
            F.sum("__m").alias("__sm"),
        )
    )
    return agg.select(
        "bin",
        (F.col("bin").cast("double") / F.lit(float(n_bins))).alias("lo"),
        ((F.col("bin") + 1).cast("double") / F.lit(float(n_bins))).alias("hi"),
        "n",
        "n_pos",
        (F.col("n_pos").cast("double") / F.col("n").cast("double")).alias(
            "pos_rate"
        ),
        (
            F.col("__sm").cast("double")
            / (F.col("n").cast("double") * F.lit(1_000_000.0))
        ).alias("mean_score"),
    )


def threshold_sweep(
    scored: DataFrame,
    thresholds: tuple[float, ...] = (0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9),
    score_col: str = "score",
    label_col: str = "y",
) -> DataFrame:
    """Operating-point sweep for a binary filter score: at each
    candidate threshold t, the confusion counts for the rule
    "keep iff score >= t" plus precision / recall / kept fraction —
    the one-table report behind choosing a quality-filter cut
    (pairs with ``classifier_eval``'s threshold-free AUC and
    ``calibration_bins``' probability check).

    Scale shape: ONE scan; each row contributes to every threshold via
    a literal-array explode (|thresholds| rows per doc — a constant
    fan-out, grouped by threshold into <= |thresholds| result rows).
    All outputs are exact integer counts or single divisions of them,
    so results are engine-identical regardless of aggregation order.
    Rows with a NULL score or label are excluded.
    """
    t = F.explode(
        F.array(*[F.lit(float(x)) for x in thresholds])
    ).alias("threshold")
    base = scored.filter(
        F.col(score_col).isNotNull() & F.col(label_col).isNotNull()
    ).select(
        F.col(score_col).alias("__s"),
        F.col(label_col).cast("boolean").alias("__y"),
        t,
    )
    kept = F.col("__s") >= F.col("threshold")
    agg = base.groupBy("threshold").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(kept & F.col("__y"), 1).otherwise(0)).alias("tp"),
        F.sum(F.when(kept & ~F.col("__y"), 1).otherwise(0)).alias("fp"),
        F.sum(F.when(~kept & F.col("__y"), 1).otherwise(0)).alias("fn"),
        F.sum(F.when(~kept & ~F.col("__y"), 1).otherwise(0)).alias("tn"),
    )
    div = lambda a, b: F.when(  # noqa: E731 — tiny local ratio helper
        b > 0, a.cast("double") / b.cast("double")
    )
    return agg.select(
        "threshold",
        "n",
        "tp",
        "fp",
        "fn",
        "tn",
        div(F.col("tp"), F.col("tp") + F.col("fp")).alias("precision"),
        div(F.col("tp"), F.col("tp") + F.col("fn")).alias("recall"),
        ((F.col("tp") + F.col("fp")).cast("double") / F.col("n").cast("double")).alias(
            "kept_frac"
        ),
    )
