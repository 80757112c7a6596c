"""Ops-side diagnostics for partitioning / skew decisions.

The engine's scale levers (salted repartition in assembly.py, skew-join
AQE, ``max_shingle_freq``, LSH bucket caps) all need the same input: the
key-frequency profile of the data actually flowing through. This module
computes it as a first-class operator so pipelines can record it per run
(plans/checkpoint.py counters record per-partition rows; this records
per-KEY mass) and pick salting factors from measurements instead of
guesses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from waka_spark.functions.text_norm import norm_words


def key_skew_profile(
    df: DataFrame, key_col: str, top_n: int = 20
) -> DataFrame:
    """Top-``top_n`` heaviest keys with their share of total rows and a
    skew ratio vs the mean key mass.

    One hash-agg on the key (map-side partials) + a single-row total
    joined back by crossJoin of a 1-row aggregate (broadcast by
    definition) + a global top-k (TakeOrdered — never a full sort).
    Output: (key, n_rows, share, skew_vs_mean, rank); a key with
    ``skew_vs_mean`` ≫ salt factor is the one that needs salting.
    """
    counts = (
        df.select(F.col(key_col).cast("string").alias("key"))
        .groupBy("key")
        .agg(F.count("*").cast("long").alias("n_rows"))
    )
    totals = counts.agg(
        F.sum("n_rows").alias("_total"),
        F.count("*").alias("_n_keys"),
    )
    # top-k FIRST via orderBy+limit (TakeOrderedAndProject — never a global
    # sort of all keys); the rank window then runs over <= top_n rows
    top = (
        counts.crossJoin(F.broadcast(totals))
        .withColumn("share", F.round(F.col("n_rows") / F.col("_total"), 6))
        .withColumn(
            "skew_vs_mean",
            F.round(F.col("n_rows") / (F.col("_total") / F.col("_n_keys")), 6),
        )
        .orderBy(F.col("n_rows").desc(), F.col("key").asc())
        .limit(top_n)
    )
    w = Window.orderBy(F.col("n_rows").desc(), F.col("key").asc())
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select("key", "n_rows", "share", "skew_vs_mean", "rank")
    )


def corpus_profile(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    rsd: float = 0.02,
) -> DataFrame:
    """One-pass sketch profile of a corpus — the numbers a mix designer
    reads before configuring dedup/curation thresholds, at a cost that
    holds at 100 TB: HyperLogLog++ for distinct counts (``rsd`` relative
    error, fixed ~KB state per partition instead of a distinct shuffle)
    and KLL/GK approximate percentiles for the length distribution
    (``percentile_approx``, mergeable fixed-size sketch).

    Exact ``countDistinct(word)`` on a 10^12-turn corpus is itself a
    full-vocabulary shuffle; the sketches keep this a single scan +
    single-row reduce. Accuracy is pinned by unit test against exact
    values at test scale (no DuckDB oracle on purpose: sketch internals
    are engine-specific, so cross-engine value-hash equality is the wrong
    contract — the error BOUND is the contract).

    Output: one row (n_docs, n_distinct_docs_approx,
    n_distinct_words_approx, n_words_total, p50_words, p95_words,
    p99_words).
    """
    words = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(norm_words(F.col(text_col))).alias("word"),
    ).filter(F.col("word") != "")
    per_doc = words.groupBy("doc_id").agg(F.count("*").alias("n_words"))
    word_stats = words.agg(
        F.approx_count_distinct("word", rsd).alias("n_distinct_words_approx"),
        F.count("*").cast("long").alias("n_words_total"),
    )
    doc_stats = df.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.approx_count_distinct(
            F.md5(F.col(text_col)), rsd).alias("n_distinct_docs_approx"),
    )
    length_stats = per_doc.agg(
        F.percentile_approx("n_words", 0.5, 10_000).alias("p50_words"),
        F.percentile_approx("n_words", 0.95, 10_000).alias("p95_words"),
        F.percentile_approx("n_words", 0.99, 10_000).alias("p99_words"),
    )
    return doc_stats.crossJoin(word_stats).crossJoin(length_stats)


def cms_top_words(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    d: int = 4,
    w: int = 64,
    k: int = 20,
) -> DataFrame:
    """Count-Min sketch frequency estimation (Cormode & Muthukrishnan
    2005) expressed as relational algebra, validated against exact counts
    for the top-``k`` words.

    The sketch is a d×w counter grid: cell (j, h_j(word)) += 1 per token,
    estimate(word) = min_j cell(j, h_j(word)) — always ≥ the true count
    (collisions only inflate). Why it matters at 100 TB: the sketch is
    FIXED SIZE (d·w cells) regardless of vocabulary, partial-aggregates
    map-side, and two sketches merge by cell-wise addition — frequency
    estimation with no vocabulary-sized shuffle, the same reason the HLL
    profiler above exists. Here d·w cells come from ONE hash-agg whose
    key cardinality is d·w, not |vocab|.

    Hashes are md5 over ``j ':' word`` — engine-portable, independent
    rows of the grid. Output: (word, exact_count, cms_estimate) for the
    top-k exact words (exact side exists to measure the sketch error;
    production reads only the sketch).
    """
    from pyspark.sql import Window

    toks = df.select(
        F.explode(norm_words(F.col(text_col))).alias("word")
    ).filter(F.col("word") != "")

    def bucket(j: int, word) -> object:
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"{j}:"), word)), 1, 8),
                16, 10,
            ).cast("long") % w
        ).cast("int")

    rows = F.array(*[
        F.struct(F.lit(j).cast("int").alias("j"),
                 bucket(j, F.col("word")).alias("bucket"))
        for j in range(d)
    ])
    sketch = (
        toks.select(F.explode(rows).alias("_c"))
        .groupBy(F.col("_c.j").alias("j"), F.col("_c.bucket").alias("bucket"))
        .agg(F.count("*").cast("long").alias("cell"))
    )

    exact = toks.groupBy("word").agg(
        F.count("*").cast("long").alias("exact_count"))
    # orderBy+limit compiles to TakeOrderedAndProject (per-partition
    # heaps + driver merge of k rows), never a single-partition sort of
    # the vocabulary — same shape as key_skew_profile above
    top = exact.orderBy(
        F.col("exact_count").desc(), F.col("word").asc()).limit(k)

    probes = top.select(
        "word", "exact_count",
        F.explode(F.array(*[
            F.struct(F.lit(j).cast("int").alias("j"),
                     bucket(j, F.col("word")).alias("bucket"))
            for j in range(d)
        ])).alias("_p"),
    ).select("word", "exact_count",
             F.col("_p.j").alias("j"), F.col("_p.bucket").alias("bucket"))
    return (
        probes.join(F.broadcast(sketch), ["j", "bucket"])
        .groupBy("word", "exact_count")
        .agg(F.min("cell").alias("cms_estimate"))
    )


def salt_recommendation(
    df: DataFrame,
    key_col: str,
    target_rows_per_task: int = 1_000_000,
) -> DataFrame:
    """Skew-salting advisor: for each join/agg key, the salt factor that
    caps its per-task row count at ``target_rows_per_task`` —
    ``ceil(n_rows / target)`` — plus its corpus share. The bridge from
    :func:`key_skew_profile` (which says "these keys are hot") to
    ``operators/joins.salted_join`` (which needs a number): feed the max
    emitted factor in as ``n_salts``, or salt per-key with the factor
    column directly. Only keys needing a salt (factor > 1) are emitted —
    at Zipf scale that is a handful of rows, broadcastable next to the
    join.

    One hash-agg keyed by ``key_col`` + one single-row total broadcast —
    the same two-pass shape as the profiler, nothing quadratic.

    Output: (key, n_rows, share, salt_factor), factor > 1 only.
    """
    counts = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count("*").cast("long").alias("n_rows"))
    total = counts.agg(F.sum("n_rows").alias("_total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "key", "n_rows",
            F.round(F.col("n_rows") / F.col("_total"), 6).alias("share"),
            F.ceil(F.col("n_rows") / F.lit(target_rows_per_task))
            .cast("long").alias("salt_factor"),
        )
        .filter(F.col("salt_factor") > 1)
    )
