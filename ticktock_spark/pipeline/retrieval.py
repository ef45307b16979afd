"""Distributed keyword retrieval: exact BM25 scoring and a persisted,
term-bucket-partitioned inverted index.

Beyond-reference operator family (the reference is a TSDB with no text
search; a training-data pipeline needs corpus retrieval for
decontamination audits, targeted subset extraction, and eval-neighbor
mining). Spark-first shape:

- tokenization / tf / df / dl are codegen'd JVM expressions over ONE
  corpus scan (`_postings`);
- corpus-level stats (N, total tokens) are a two-number driver
  aggregate, the same pattern as tfidf_top_terms;
- document frequencies derive from a count window over the term-bounded
  postings themselves (|terms| partitions — no extra scan, no join);
- the persisted index is a parquet layout partitioned by a hash bucket
  of the term, so a query's term set becomes PartitionFilters — a
  q-term query against a 100 TB corpus reads q/n_buckets of the
  postings, never the raw text.

Scoring is Okapi BM25 (Robertson/Sparck Jones, public formula):
    idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))
    s(d, t) = idf(t) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl/avgdl))
Scores are quantized to 6 decimals BEFORE ranking (both here and in the
SQL oracle), so the top-k cut is deterministic across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ticktock_spark.pipeline.text import tokens
from ticktock_spark.queries import q6
from ticktock_spark.session import local_dataframe


def _postings(
    df: DataFrame, text_col: str, id_col: str, terms: list[str] | None = None
) -> DataFrame:
    """(doc_id, tok, tf, dl) in one scan: the token array is projected
    once, then size() and explode() both consume the projected column.

    With ``terms``, the array is filtered BEFORE the explode (the
    lambda touches only its own argument — no computed-expression
    re-inlining), so a 3-term query generates ~tf rows per doc instead
    of materializing every token: the explode+shuffle volume drops from
    corpus-token scale to matched-term scale. dl still comes from the
    unfiltered array."""
    tok_arr = F.col("__tk")
    if terms is not None:
        tok_arr = F.filter("__tk", lambda x: x.isin(list(terms)))
    base = df.select(F.col(id_col), tokens(F.col(text_col)).alias("__tk")).select(
        id_col, F.size("__tk").alias("dl"), F.explode(tok_arr).alias("tok")
    )
    return base.groupBy("tok", id_col).agg(
        F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl")
    )


def corpus_stats(df: DataFrame, text_col: str = "text") -> tuple[int, float]:
    """(N, avgdl) from one tiny aggregate action (two numbers to the
    driver — metadata-scale, same as tfidf_top_terms's corpus count)."""
    # driver-bound: two scalars (N, total length)
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.size(tokens(F.col(text_col)))).alias("tl"),
    ).collect()[0]
    n = row["n"] or 0
    return n, (float(row["tl"] or 0) / n if n else 0.0)


def _bm25_score(n_docs: int, avgdl: float, k1: float, b: float):
    """Per-(doc, term) BM25 contribution as a JVM column expression."""
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tf = F.col("tf").cast("double")
    denom = tf + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl").cast("double") / F.lit(avgdl)
    )
    return idf * tf * F.lit(k1 + 1.0) / denom


def _rank_topk(scored: DataFrame, id_col: str, k: int) -> DataFrame:
    """Deterministic top-k: quantized score desc, id asc. TakeOrdered
    via orderBy+limit — no global sort materialized."""
    out = scored.select(
        id_col,
        F.col("n_terms"),
        q6(F.col("score")).alias("score"),
    )
    return out.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)


def bm25_topk(
    df: DataFrame,
    terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    require_all: bool = False,
) -> DataFrame:
    """Exact BM25 top-k over the corpus for a bag of query terms.

    Scale shape: ONE corpus text scan total. The scan projects each doc
    down to (id, dl, tokens) and persists that projection: the
    (N, avgdl) aggregate materializes it, then postings read from cache
    instead of re-tokenizing the text (measured 2x at 80k docs). The
    token array is filtered to the query terms BEFORE the explode, so
    post-cache volume is matched-term scale, not corpus-token scale.

    Cache ownership: the persisted projection is deliberately
    TERM-INDEPENDENT, so Spark's CacheManager dedups it across repeated
    calls on the same corpus — a long-lived query server accumulates
    ONE cache entry per corpus (reused by every query), not one per
    query. (A term-filtered cache would be smaller per entry but leak a
    new entry for every distinct term set — CacheManager pins cached
    plans until explicit unpersist.) Callers that are done with a
    corpus reclaim the entry with ``spark.catalog.clearCache()``; for
    standing corpora prefer the persisted inverted index
    (``write_inverted_index`` + ``bm25_topk_indexed``).

    Document frequencies come from a count window over the postings
    (partitioned by term — |terms| partitions, no self-join
    recomputation); ranking is TakeOrdered. No Python, no driver data
    beyond (N, avgdl).
    """
    tk = tokens(F.col(text_col))
    base = (
        df.select(F.col(id_col), tk.alias("__tk"))
        .select(id_col, F.size("__tk").alias("dl"), F.col("__tk"))
        .persist()
    )
    # driver-bound: two scalars (N, total length)
    row = base.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("tl")
    ).collect()[0]
    n_docs = row["n"] or 0
    avgdl = float(row["tl"] or 0) / n_docs if n_docs else 0.0
    post = base.select(
        id_col,
        "dl",
        F.explode(F.filter("__tk", lambda x: x.isin(list(terms)))).alias("tok"),
    ).groupBy(
        "tok", id_col
    ).agg(F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl"))
    scored = (
        post.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("tok")))
        .withColumn("s", _bm25_score(n_docs, avgdl, k1, b))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_terms"), F.sum("s").alias("score"))
    )
    if require_all:
        # AND semantics: only docs matching EVERY distinct query term.
        # The filter runs on the aggregated (doc, n_terms) rows — the
        # scan/shuffle shape is unchanged, the cut is exact.
        scored = scored.filter(F.col("n_terms") == len(set(terms)))
    return _rank_topk(scored, id_col, k)


N_TERM_BUCKETS = 64


def term_bucket(tok) -> F.Column:
    """Stable term → partition bucket: xxhash64 mod N_TERM_BUCKETS.
    JVM-native; reproduced at query time for the probe literals."""
    return F.pmod(F.xxhash64(tok), F.lit(N_TERM_BUCKETS))


def _write_segment(
    df: DataFrame,
    path: str,
    segment: str,
    text_col: str,
    id_col: str,
    dynamic: bool,
) -> None:
    # dynamic=False: static overwrite — the whole table is replaced
    # (full rebuild). dynamic=True: only segment=<segment> partitions
    # are replaced — other segments untouched (append / epoch replay).
    mode = "dynamic" if dynamic else "static"
    post = _postings(df, text_col, id_col)
    (
        post.withColumn("segment", F.lit(segment))
        .withColumn("bucket", term_bucket(F.col("tok")))
        .write.partitionBy("segment", "bucket")
        .option("partitionOverwriteMode", mode)
        .mode("overwrite")
        .parquet(f"{path}/postings")
    )
    # driver-bound: two scalars (N, total length)
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.size(tokens(F.col(text_col)))), F.lit(0)).alias("tl"),
    ).collect()[0]
    spark = df.sparkSession
    (
        local_dataframe(
            spark,
            [(segment, row["n"], row["tl"])],
            "segment string, n_docs bigint, sum_dl bigint",
        )
        .write.partitionBy("segment")
        .option("partitionOverwriteMode", mode)
        .mode("overwrite")
        .parquet(f"{path}/stats")
    )


def write_inverted_index(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    segment: str = "seg0",
) -> None:
    """Materialize the inverted index: postings partitioned by
    (segment, bucket), mergeable per-segment corpus stats
    (n_docs, sum_dl) alongside.

    The 100 TB layout: one full shuffle at build time (groupBy tok —
    the same cost every search engine pays once), then every query
    reads |query terms| buckets out of N_TERM_BUCKETS via
    PartitionFilters and never touches the raw text again.

    The layout is SEGMENT-MERGEABLE, which is what makes
    append_inverted_index cheap and idempotent: document frequency is
    NOT baked into the rows (a new segment would stale it) — queries
    derive df with a count window over the pruned scan — and the stats
    table holds one additive (n_docs, sum_dl) row per segment, summed
    at read time. This call is the full rebuild: it wipes every
    existing segment.
    """
    _write_segment(df, path, segment, text_col, id_col, dynamic=False)


def append_inverted_index(
    df_new: DataFrame,
    path: str,
    segment: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Add a document batch to a standing index as its own segment,
    WITHOUT rewriting the standing corpus: dynamic partition overwrite
    replaces only ``segment=<segment>`` directories. Cost is one scan
    of the NEW batch.

    Segment semantics make this idempotent AND replayable: re-running
    the same (batch, segment) REPLACES that segment instead of
    double-counting it — which is exactly what a Structured Streaming
    epoch replay needs (see streaming/retrieval.py) and what a
    corrected re-ingest of a bad batch wants. Contract: doc ids are
    disjoint ACROSS segments (route re-ingests through
    incremental_exact_dedup first) — a doc repeated in two segments
    would double-count itself in df and tf.
    """
    _write_segment(df_new, path, segment, text_col, id_col, dynamic=True)


def bm25_index_topk(
    spark,
    path: str,
    terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 top-k against a written index with STATIC partition pruning.

    The query terms' buckets are computed driver-side (|terms| xxhash64
    calls through a 1-row Spark job, so the hash is the engine's own)
    and inlined as a `bucket IN (...)` literal → PartitionFilters lists
    only those directories. Ranking is identical to bm25_topk (same
    quantize-then-rank rule), pinned by a parity test.
    """
    # driver-bound: ≤ |terms| bucket ids
    bucket_rows = local_dataframe(
        spark, [(t,) for t in terms], "tok string"
    ).select(term_bucket(F.col("tok")).alias("b")).distinct().collect()
    buckets = sorted(r["b"] for r in bucket_rows)
    # stats rows are additive per segment — merging them here is what
    # lets append_inverted_index skip touching the standing corpus
    srow = (
        # driver-bound: merged (n, tl) scalars across segments
        spark.read.parquet(f"{path}/stats")
        .agg(F.sum("n_docs").alias("n"), F.sum("sum_dl").alias("tl"))
        .collect()[0]
    )
    n_docs = int(srow["n"])
    avgdl = float(srow["tl"]) / n_docs if n_docs else 0.0
    post = (
        spark.read.parquet(f"{path}/postings")
        .filter(F.col("bucket").isin(buckets))
        .filter(F.col("tok").isin(list(terms)))
    )
    # df from a count window over the pruned scan: spans every segment,
    # so it is correct immediately after an append — and the partition
    # is a single term's postings, the same rows the score reads anyway
    scored = (
        post.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("tok")))
        .withColumn("s", _bm25_score(n_docs, avgdl, k1, b))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_terms"), F.sum("s").alias("score"))
    )
    return _rank_topk(scored, id_col, k)


def hybrid_rrf(
    docs: DataFrame,
    emb: DataFrame,
    terms: list[str],
    query: DataFrame,
    k: int = 10,
    k_lex: int = 20,
    k_dense: int = 20,
    c: int = 60,
    id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
) -> DataFrame:
    """Hybrid lexical+dense retrieval fused by Reciprocal Rank Fusion:
    rrf(d) = sum over lists of 1/(c + rank_d) (Cormack, Clarke &
    Buettcher, SIGIR 2009 — the standard no-tuning fusion for RAG /
    eval-neighbor-mining stacks; c=60 is the paper's constant).

    One hybrid query: ``terms`` is its keyword bag (BM25 list over
    ``docs``) and ``query`` a ONE-ROW (query_id, embedding) frame (dense
    cosine list over ``emb``, whose ``vec_id`` shares the id space of
    ``docs.doc_id``). The dense list excludes the query's own vector
    (cosine_scores drops self-pairs); the lexical list may contain it.

    Output: (id, lex_rank, dense_rank, rrf) for the top ``k`` fused
    candidates; rank 0 means "absent from that list".

    Scale shape: one corpus text scan (bm25_topk) + one embedding scan
    (cosine_topk_partials against the broadcast query matrix — per-block
    top-k inside the kernel), each cut to its
    top list via quantize-then-rank TakeOrdered (orderBy+limit — no
    single-partition window over corpus rows). Everything downstream of
    the two cuts — rank windows, the full-outer fusion join, the final
    sort — runs on <= k_lex + k_dense rows, bounded by constants, not
    data.
    """
    lex = bm25_topk(docs, terms, k=k_lex, id_col=id_col)
    wl = Window.orderBy(F.col("score").desc(), F.col(id_col))
    lex_r = lex.select(F.col(id_col), F.row_number().over(wl).alias("lex_rank"))

    from ticktock_spark.pipeline.similarity import cosine_topk_partials

    # per-block top-k_dense inside the Arrow kernel (r12): the global
    # TakeOrdered below ranks by the same (cosine DESC, id ASC) total
    # order the kernel keeps per block, so the cut is exactly the full
    # score table's — with blocks x k rows crossing Arrow, not |emb|.
    scored = cosine_topk_partials(emb, query, k_dense, id_col=vec_id_col)
    cand = scored.orderBy(F.col("cosine").desc(), F.col(vec_id_col)).limit(k_dense)
    wd = Window.orderBy(F.col("cosine").desc(), F.col(vec_id_col))
    dense_r = cand.select(
        F.col(vec_id_col).alias(id_col), F.row_number().over(wd).alias("dense_rank")
    )
    return rrf_fuse(lex_r, dense_r, k=k, c=c, id_col=id_col)


def rrf_fuse(
    lex_r: DataFrame,
    dense_r: DataFrame,
    k: int = 10,
    c: int = 60,
    id_col: str = "doc_id",
) -> DataFrame:
    """Fuse two already-ranked candidate lists by Reciprocal Rank
    Fusion. ``lex_r`` is (id, lex_rank) and ``dense_r`` (id,
    dense_rank), both 1-based ranks over candidate-list-sized frames —
    from any retriever pair: the scan operators (bm25_topk /
    cosine_scores), the persisted indexes (bm25_index_topk /
    ivf_index_knn), or an external list. RRF only consumes ranks, so
    the production index-backed path fuses identically to the scan
    path (parity pinned in tests/test_retrieval.py).

    Everything here is candidate-list-sized: a full-outer join of the
    two lists, rank contributions 1/(c + rank) (rank 0 = absent), a
    final TakeOrdered cut to ``k``.
    """
    fused = lex_r.join(dense_r, id_col, "full_outer").select(
        id_col,
        F.coalesce(F.col("lex_rank").cast("long"), F.lit(0)).alias("lex_rank"),
        F.coalesce(F.col("dense_rank").cast("long"), F.lit(0)).alias("dense_rank"),
    )

    def contrib(rank: str):
        return F.when(
            F.col(rank) > 0, F.lit(1.0) / (F.lit(float(c)) + F.col(rank))
        ).otherwise(F.lit(0.0))

    out = fused.select(
        id_col,
        "lex_rank",
        "dense_rank",
        q6(contrib("lex_rank") + contrib("dense_rank")).alias("rrf"),
    )
    return out.orderBy(F.col("rrf").desc(), F.col(id_col)).limit(k)
