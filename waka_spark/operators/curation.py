"""Corpus-curation operators for training-data pipelines: PII scrubbing,
repetition statistics (Gopher-rule family), benchmark-contamination
checks, and fixed-chunk substring dedup.

These extend the dedup/textstats families (operators/dedup.py,
operators/textstats.py) with the filters a 100 TB pre-training corpus
pass actually runs before tokenization. Scale shapes:

- pii_scrub: pure regexp column ops — whole-stage codegen, zero shuffle.
- repetition_stats: word/bigram explode → two hash-aggs keyed by doc_id
  (map-side partial combine; key cardinality == corpus size, no skew
  beyond document length).
- contamination_check: the benchmark side (an eval set) is tiny by
  construction, so its shingle set is BROADCAST — the corpus never
  shuffles; cost is one scan + hash probes.
- chunk_dedup: non-overlapping fixed-width chunks approximate
  suffix-array substring dedup (Lee et al., "Deduplicating Training Data
  Makes Language Models Better") with one explode + one hash-agg on the
  chunk hash.

All hashes are md5 and all regexes are RE2-compatible so the DuckDB
oracle computes identical values. Word n-grams and chunks slice the
normalized word array that ``functions/text_norm.with_words`` builds once
per row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from waka_spark.functions.text_norm import norm_words, with_words, word_runs
from waka_spark.plans.parallel import parallel_floor
from waka_spark.plans.pins import pin

# RE2-compatible (no lookaround/backrefs) so Spark's Java regex and the
# DuckDB oracle's RE2 agree on every match
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PHONE_RE = r"\+\d[\d ]{7,}\d"


def pii_scrub(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Redact emails / IPv4s / international phone numbers; count each.

    Counts are taken on the SAME progressively-redacted text the
    replacement chain (email → ip → phone) sees, so every count equals
    the number of placeholders actually inserted at that step. Counting
    everything on the original text instead would over-report when the
    patterns nest — PHONE_RE matches '+12345678901' inside
    'a+12345678901@mail.com' (the '+' is legal in the email local part)
    and IPV4_RE matches dotted quads inside 'user@1.2.3.4.com', even
    though the email redaction already consumed both. Pure column
    expressions — no UDF, no shuffle.
    """
    df = parallel_floor(df, id_col)
    text = F.col(text_col)

    def n_matches(col: Column, pattern: str) -> Column:
        return F.size(F.regexp_extract_all(col, F.lit(pattern), 0)).cast("long")

    after_email = F.regexp_replace(text, EMAIL_RE, "<EMAIL>")
    after_ip = F.regexp_replace(after_email, IPV4_RE, "<IP>")
    clean = F.regexp_replace(after_ip, PHONE_RE, "<PHONE>")
    return df.select(
        F.col(id_col).alias("doc_id"),
        n_matches(text, EMAIL_RE).alias("n_emails"),
        n_matches(after_email, IPV4_RE).alias("n_ipv4"),
        n_matches(after_ip, PHONE_RE).alias("n_phones"),
        clean.alias("clean_text"),
    )


def word_ngrams(text: Column, n: int) -> Column:
    """Sliding n-gram word shingles WITH duplicates (array<string>) —
    repetition statistics need multiplicity, unlike dedup.word_shingles.
    A text shorter than ``n`` words has none (not one truncated gram,
    which would bias repetition/DSIR features of short documents)."""
    grams = with_words(text, lambda words: word_runs(words, n))
    return F.filter(grams, lambda s: s != "")


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition signals per document:

    - top_word_frac:   occurrences of the most frequent word / n_words
    - dup_word_frac:   (n_words - n_distinct_words) / n_words
    - dup_bigram_frac: (n_bigrams - n_distinct_bigrams) / n_bigrams

    Two explode+agg passes (words, bigrams), each a single hash-agg keyed
    by (doc_id, gram) then doc_id — map-side partials apply, key skew is
    bounded by document length. The input goes through the shared
    parallel-floor first (plans/parallel.py): the n-gram expressions are
    higher-order functions, which Spark evaluates INTERPRETED (no
    whole-stage codegen for lambdas), so an under-split scan serializes
    the whole corpus through one core. (A fully narrow sorted-fold
    rewrite was measured and rejected: per-element struct accumulators in
    interpreted `aggregate` were 4× slower than the explode+codegen'd
    hash-agg shape.)
    """
    from waka_spark.plans.parallel import parallel_floor

    df = parallel_floor(df, id_col)
    words = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_ngrams(F.col(text_col), 1)).alias("gram"),
    )
    word_stats = (
        words.groupBy("doc_id", "gram")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_words"),
            F.count("*").alias("n_distinct_words"),
            F.max("c").alias("top_word_count"),
        )
    )
    bigrams = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_ngrams(F.col(text_col), 2)).alias("gram"),
    )
    bigram_stats = (
        bigrams.groupBy("doc_id", "gram")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_bigrams"),
            F.count("*").alias("n_distinct_bigrams"),
        )
    )
    return (
        word_stats.join(bigram_stats, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_words").cast("long").alias("n_words"),
            F.round(F.col("top_word_count") / F.col("n_words"), 6)
            .alias("top_word_frac"),
            F.round(
                (F.col("n_words") - F.col("n_distinct_words"))
                / F.col("n_words"), 6,
            ).alias("dup_word_frac"),
            F.round(
                F.coalesce(
                    (F.col("n_bigrams") - F.col("n_distinct_bigrams"))
                    / F.col("n_bigrams"),
                    F.lit(0.0),
                ), 6,
            ).alias("dup_bigram_frac"),
        )
    )


def contamination_check(
    df: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Benchmark-contamination flag: corpus docs sharing ≥1 word n-gram
    with any benchmark document.

    The benchmark's distinct shingle set is BROADCAST (eval sets are tiny
    relative to a 100 TB corpus), so the corpus side stays shuffle-free:
    one scan, narrow shingling, hash-probe join, one agg keyed by doc_id.
    Output: (doc_id, n_hits, contaminated) for every corpus doc.
    """
    from waka_spark.operators.dedup import _doc_shingles

    corpus_sh = _doc_shingles(df, id_col, text_col, n)
    bench_sh = (
        _doc_shingles(benchmark, id_col, text_col, n)
        .select("shingle").distinct()
    )
    hits = (
        corpus_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) > 0).cast("int")
            .alias("contaminated"),
        )
    )


def _fixed_chunks(text: Column, chunk_words: int) -> Column:
    """The distinct non-empty non-overlapping ``chunk_words``-word chunks
    of the normalized text (the tail chunk runs shorter)."""
    chunks = with_words(text, lambda words: F.transform(
        F.sequence(F.lit(0), F.greatest(
            F.floor((F.size(words) - 1) / chunk_words).cast("int"), F.lit(0))),
        lambda i: F.array_join(
            F.slice(words, i * chunk_words + 1, chunk_words), " "),
    ))
    return F.array_distinct(F.filter(chunks, lambda s: s != ""))


def chunk_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_words: int = 10,
) -> DataFrame:
    """Fixed-chunk substring dedup: split each doc into non-overlapping
    ``chunk_words``-word chunks, hash them, and report per doc how many of
    its chunks also occur in ANOTHER doc.

    The fixed-width chunking is the scalable approximation of
    suffix-array substring dedup: one explode + one agg on the chunk hash
    (count distinct docs per chunk), then one agg back to doc_id.
    Output: (doc_id, n_chunks, n_dup_chunks, dup_chunk_frac).
    """
    df = parallel_floor(df, id_col)
    doc_chunks = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(_fixed_chunks(F.col(text_col), chunk_words))
            .alias("chunk"),
        )
        .withColumn("chunk_hash", F.md5("chunk"))
        .select("doc_id", "chunk_hash")
    )
    freq = (
        doc_chunks.groupBy("chunk_hash")
        .agg(F.count("*").alias("n_docs_with"))
    )
    return (
        doc_chunks.join(freq, "chunk_hash")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(F.when(F.col("n_docs_with") > 1, 1).otherwise(0))
            .alias("n_dup_chunks"),
        )
        .select(
            "doc_id",
            F.col("n_chunks").cast("long").alias("n_chunks"),
            F.col("n_dup_chunks").cast("long").alias("n_dup_chunks"),
            F.round(F.col("n_dup_chunks") / F.col("n_chunks"), 6)
            .alias("dup_chunk_frac"),
        )
    )


def split_by_hash(
    df: DataFrame,
    id_col: str = "doc_id",
    weights: tuple[float, float, float] = (0.9, 0.05, 0.05),
) -> DataFrame:
    """Deterministic train/val/test assignment by id hash.

    ``frac = int(md5(id)[:8], 16) / 2^32`` is uniform on [0,1) and stable
    across runs/engines, so the split is reproducible without a stored
    assignment table and new docs never reshuffle old ones (the property
    random-split lacks). Pure column ops — zero shuffle at any scale.
    """
    train_w, val_w, _ = weights
    frac = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
        .cast("double") / F.lit(float(1 << 32))
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.round(frac, 6).alias("split_frac"),
        F.when(frac < train_w, "train")
        .when(frac < train_w + val_w, "val")
        .otherwise("test")
        .alias("split"),
    )


def filter_verdict(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 20,
    max_words: int = 100_000,
    max_top_word_frac: float = 0.20,
    max_dup_bigram_frac: float = 0.30,
    max_punct_ratio: float = 0.10,
) -> DataFrame:
    """Composite Gopher/C4-style keep/drop verdict per document: the
    length, repetition, and punctuation gates a pre-training pass applies
    after dedup and before tokenization, with one boolean flag per gate so
    drops are attributable (the ops requirement real filter pipelines
    have — an unexplained 40% drop rate is undebuggable at 100 TB).

    Composes :func:`repetition_stats` (explode+agg passes) with the pure
    column-op punctuation ratio of ``textstats.quality_scores``; one join
    on doc_id. Output: per-gate flags (1 = violated) + ``keep``.
    """
    df = parallel_floor(df, id_col)
    text = F.col(text_col)
    # Unicode-aware: \w is ASCII-only in both Java regex and the
    # oracle's RE2, so [^\w\s] branded every CJK/Cyrillic/accented
    # character as punctuation and dropped non-Latin documents wholesale
    # (round-3 review fix). \p{L}\p{N} match letters/digits in ANY
    # script in both engines.
    punct_ratio = F.size(
        F.regexp_extract_all(text, F.lit(r"[^\p{L}\p{N}_\s]"), 0)
    ) / F.greatest(F.length(text), F.lit(1))
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
    )
    rep = repetition_stats(df, id_col, text_col)
    # LEFT join: a doc whose normalized text has zero words produces no
    # repetition_stats row (nothing to explode); an inner join would drop
    # it from the verdict with no flag at all — the one un-attributable
    # drop this operator exists to prevent. It is a length violation.
    flags = base.join(rep, "doc_id", "left").select(
        "doc_id",
        (~F.coalesce(F.col("n_words"), F.lit(0))
         .between(min_words, max_words)).cast("int")
        .alias("bad_length"),
        (F.coalesce(F.col("top_word_frac"), F.lit(0.0))
         > max_top_word_frac).cast("int")
        .alias("bad_top_word"),
        (F.coalesce(F.col("dup_bigram_frac"), F.lit(0.0))
         > max_dup_bigram_frac).cast("int")
        .alias("bad_dup_bigram"),
        (F.col("punct_ratio") > max_punct_ratio).cast("int")
        .alias("bad_punct"),
    )
    return flags.withColumn(
        "keep",
        (
            (F.col("bad_length") + F.col("bad_top_word")
             + F.col("bad_dup_bigram") + F.col("bad_punct")) == 0
        ).cast("int"),
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    rates: dict[str, float],
    id_col: str = "doc_id",
    default_rate: float = 1.0,
) -> DataFrame:
    """Deterministic stratified sampling: keep each row with a
    per-stratum probability (e.g. downsample the dominant language of a
    crawl to rebalance a pre-training mix).

    The keep decision is ``int(md5('strat:' || id)[:8], 16) / 2^32 <
    rate(stratum)`` — uniform, reproducible across engines/runs, and
    independent of :func:`split_by_hash`'s stream (different salt), so
    sampling never correlates with the train/val/test assignment. Pure
    column ops (a literal CASE on the stratum + one hash): zero shuffle,
    trivially scan-parallel at any corpus size — unlike ``df.sample``,
    whose per-partition RNG changes membership whenever partitioning
    changes.
    """
    frac = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("strat:"), F.col(id_col).cast("string"))),
                1, 8,
            ), 16, 10,
        ).cast("double") / F.lit(float(1 << 32))
    )
    rate = F.lit(float(default_rate))
    for value, r in rates.items():
        rate = F.when(F.col(strata_col) == value, F.lit(float(r))).otherwise(rate)
    return (
        df.withColumn("_keep_frac", F.round(frac, 6))
        .withColumn("_rate", rate)
        .filter(frac < rate)
        .select(
            F.col(id_col).alias("doc_id"),
            F.col(strata_col).alias("stratum"),
            F.col("_rate").alias("rate"),
            F.col("_keep_frac").alias("keep_frac"),
        )
    )


def balanced_resample(
    df: DataFrame,
    domain_col: str = "lang",
    id_col: str = "doc_id",
    share: int | None = None,
) -> DataFrame:
    """Balanced domain resampling: cap every domain at an equal share of
    the corpus (head domains downsampled, tail domains kept whole) — the
    standard rebalancing pass before pre-training mixture weighting.

    ``share`` is the per-domain row budget; default = ceil(total / k)
    where k = number of domains, computed engine-side (one tiny agg
    broadcast back onto the domain dimension — no driver collect).

    Determinism at any scale: the keep decision is pure INTEGER
    arithmetic — ``u * n_domain < min(share, n_domain) * 10^6`` with
    ``u = int(md5('mix:' || id)[:8], 16) mod 10^6`` — so there is no
    float rounding to drift between engines (the DuckDB oracle recomputes
    membership exactly), no RNG state, and membership is independent of
    partitioning. Salted differently from stratified_sample /
    split_by_hash so the streams never correlate.

    Scale shape: one count agg on the (small) domain dimension, broadcast
    back; the scan itself filters with zero shuffle.
    """
    counts = df.groupBy(domain_col).agg(F.count("*").cast("long").alias("_n"))
    if share is None:
        tot = counts.agg(
            F.sum("_n").alias("_tot"), F.count("*").alias("_k"))
        counts = (
            counts.crossJoin(F.broadcast(tot))
            .withColumn(
                "_share",
                F.ceil(F.col("_tot") / F.col("_k")).cast("long"))
            .drop("_tot", "_k")
        )
    else:
        counts = counts.withColumn("_share", F.lit(int(share)).cast("long"))

    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("mix:"), F.col(id_col).cast("string"))),
                1, 8,
            ), 16, 10,
        ).cast("long") % F.lit(1_000_000)
    )
    return (
        df.join(F.broadcast(counts), domain_col)
        .filter(
            u * F.col("_n")
            < F.least(F.col("_share"), F.col("_n")) * F.lit(1_000_000))
        .select(
            F.col(id_col).alias("doc_id"),
            F.col(domain_col).alias("domain"),
            F.col("_n").alias("domain_rows"),
            F.least(F.col("_share"), F.col("_n")).alias("domain_budget"),
        )
    )


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    budget: int = 512,
    n_buckets: int = 64,
) -> DataFrame:
    """Concat-and-chunk sequence packing (GPT-style): document token
    streams are concatenated in id order and cut every ``budget`` tokens;
    each doc reports the sequence its first token lands in.

    Scale shape: a single global concatenation would serialize the corpus
    through one window partition, so docs are first routed to
    ``n_buckets`` independent packing streams by id hash (deterministic),
    and the running-offset window runs per bucket — n_buckets parallel
    packers, one shuffle, no skew beyond token-count variance. Output:
    (doc_id, bucket, n_tokens, start_offset, seq_idx).
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.size(
            F.filter(F.split(F.trim(F.col(text_col)), r"\s+"),
                     lambda w: w != "")
        ).cast("long").alias("n_tokens"),
        (
            F.conv(
                F.substring(F.md5(F.col(id_col).cast("string")), 1, 4), 16, 10
            ).cast("int") % n_buckets
        ).alias("bucket"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return toks.select(
        "doc_id",
        "bucket",
        "n_tokens",
        (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("start_offset"),
    ).withColumn(
        "seq_idx", F.floor(F.col("start_offset") / budget).cast("long")
    )


def hashed_linear_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 256,
    weights: DataFrame | None = None,
    bias: float = 0.0,
) -> DataFrame:
    """fastText-style linear quality-classifier INFERENCE as relational
    algebra — no UDF anywhere: score = sigmoid(bias + mean over words of
    weight[bucket(word)]), with bucket(word) = md5-hash(word) mod
    ``n_buckets`` (the hashing trick; Weinberger et al. 2009).

    This is the shape production quality classifiers run at 100 TB: the
    model is a TABLE (bucket → weight), broadcast to every executor, and
    inference is explode → broadcast hash-join → one hash-agg keyed by
    doc_id — fully whole-stage-codegen'd, map-side combinable, and
    linearly scan-parallel. Swapping in real fastText weights is a table
    swap, not a code change.

    ``weights`` (bucket:int, weight:double) defaults to a deterministic
    md5-derived table (weight ∈ [-1, 1)) so tests and the DuckDB oracle
    reproduce it exactly. Output: (doc_id, n_words, raw_score, prob).
    """
    spark = df.sparkSession
    if weights is None:
        weights = spark.range(n_buckets).select(
            F.col("id").cast("int").alias("bucket"),
            (
                F.conv(
                    F.substring(F.md5(F.concat(F.lit("w:"), F.col("id"))), 1, 8),
                    16, 10,
                ).cast("double") / F.lit(float(2 ** 32)) * 2.0 - 1.0
            ).alias("weight"),
        )
    df = parallel_floor(df, id_col)
    words = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(norm_words(F.col(text_col))).alias("word"),
    ).filter(F.col("word") != "")
    bucketed = words.select(
        "doc_id",
        (
            F.conv(F.substring(F.md5("word"), 1, 8), 16, 10).cast("long")
            % n_buckets
        ).cast("int").alias("bucket"),
    )
    scored = (
        bucketed.join(F.broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.avg("weight").alias("_mean_w"),
        )
    )
    raw = F.col("_mean_w") + F.lit(bias)
    return scored.select(
        "doc_id",
        "n_words",
        F.round(raw, 6).alias("raw_score"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-raw)), 6).alias("prob"),
    )


def dsir_importance(
    df: DataFrame,
    target: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1024,
    alpha: float = 1.0,
) -> DataFrame:
    """DSIR importance scoring (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every document by
    how target-like its hashed-bigram distribution is, so a resampling
    pass can upweight raw web data that looks like the curated target.

    Features are word bigrams hashed to ``n_buckets`` via the hashing
    trick (md5 — oracle-portable); the importance model is the
    Laplace-smoothed log-likelihood ratio per bucket::

        w[b] = ln((t_b + α) / (T + α·B)) − ln((r_b + α) / (R + α·B))

    with t/r = bucket counts over target / ALL docs and T/R their totals.
    A document's score is the mean w over its bigram occurrences — the
    per-token-normalized form of DSIR's summed log ratio (length-invariant,
    so long documents don't dominate selection).

    Scale shape — the same three-piece layout as ``hashed_linear_score``:
    one bigram explode (token-scale, the cost of any tokenize pass), one
    hash-agg to the B-row weight table (map-side partials; B is fixed, so
    the shuffle is O(partitions × B) regardless of corpus size), then a
    BROADCAST join of that table back onto the exploded features and one
    hash-agg keyed by doc_id. The corpus is never shuffled wide; the
    "model" is a table, exactly how production DSIR runs at 100 TB.

    ``target`` is a boolean Column over ``df``'s rows (e.g.
    ``F.col("lang") == "en"``). Output: (doc_id, n_feats, score),
    score rounded 1e-6; documents with no non-empty words are absent.
    """
    df = parallel_floor(df, id_col)
    feats = df.select(
        F.col(id_col).alias("doc_id"),
        target.alias("_is_target"),
        F.explode(word_ngrams(F.col(text_col), 2)).alias("feat"),
    ).select(
        "doc_id",
        "_is_target",
        (
            F.conv(F.substring(F.md5("feat"), 1, 8), 16, 10).cast("long")
            % n_buckets
        ).cast("int").alias("bucket"),
    )

    # DSIR is inherently two-pass (fit the weight table, then score), so
    # the bigram explode runs twice — but the B-row counts table must be
    # persisted or the weight lineage (weights ⋅ totals) replays the
    # corpus explode a third and fourth time
    counts = pin(feats.groupBy("bucket").agg(
        F.sum(F.when(F.col("_is_target"), 1).otherwise(0))
        .cast("long").alias("t_cnt"),
        F.count("*").cast("long").alias("r_cnt"),
    ))
    totals = counts.agg(
        F.sum("t_cnt").alias("t_tot"), F.sum("r_cnt").alias("r_tot"))
    ab = F.lit(alpha * n_buckets)
    weights = counts.crossJoin(F.broadcast(totals)).select(
        "bucket",
        (
            F.log((F.col("t_cnt") + F.lit(alpha)) / (F.col("t_tot") + ab))
            - F.log((F.col("r_cnt") + F.lit(alpha)) / (F.col("r_tot") + ab))
        ).alias("weight"),
    )

    return (
        feats.join(F.broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_feats"),
            F.round(F.avg("weight"), 6).alias("score"),
        )
    )


def _sliding_chunks(text: Column, chunk_words: int, stride: int) -> Column:
    """array<struct<chunk_idx, chunk_text, n_words>>: one chunk per
    ``stride`` words of the normalized text, ``chunk_words`` long or to
    the end; NULL text has none, an empty one a single empty chunk."""
    def chunks(words: Column) -> Column:
        n = F.size(words)
        return F.when(n > 0, F.transform(
            F.sequence(F.lit(0), F.floor((n - 1) / stride).cast("int")),
            lambda i: F.struct(
                i.cast("int").alias("chunk_idx"),
                F.array_join(F.slice(words, i * stride + 1, chunk_words), " ")
                .alias("chunk_text"),
                F.least(n - i * stride, F.lit(chunk_words)).cast("int")
                .alias("n_words"),
            ),
        ))

    return with_words(text, chunks)


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_words: int = 20,
    stride: int = 10,
) -> DataFrame:
    """Overlapping sliding-window chunking — the RAG/embedding-indexing
    fan-out every retrieval corpus build runs: chunk i covers words
    [i*stride, i*stride + chunk_words), one chunk row per window whose
    start lies inside the document (tail chunks run shorter).

    Pure column ops: the window starts are an in-row ``sequence`` +
    ``transform`` (no join, no shuffle); ``explode`` is the only fan-out
    and its multiplicity is ~n_words/stride per doc, the same bound the
    downstream embedding pass pays anyway. Output: (doc_id, chunk_idx,
    chunk_text, n_words).
    """
    return (
        parallel_floor(df, id_col)
        .select(F.col(id_col).alias("doc_id"), F.explode(
            _sliding_chunks(F.col(text_col), chunk_words, stride)).alias("_c"))
        .select("doc_id", "_c.chunk_idx", "_c.chunk_text", "_c.n_words")
    )


def prepare_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    budget: int = 512,
    n_buckets: int = 64,
) -> DataFrame:
    """End-to-end training-corpus preparation — the production composition
    the individual curation/dedup operators exist for, as one lineage:

    1. exact dedup, keep one copy per normalized text (min id keeps),
    2. Gopher/C4 quality gates (:func:`filter_verdict`, keep == 1),
    3. deterministic hash split, train split only,
    4. token-budget sequence packing of the survivors.

    This is the training-data mirror of the KG side's ``kg_e2e_triples``
    flagship: every stage is the already-tested operator, chained by
    left-semi joins on the id (the cheapest possible composition — the
    text column never moves through the dedup/filter/split shuffles, only
    ids do). Output: pack_sequences' shape (doc_id, bucket, n_tokens,
    start_offset, seq_idx) over the surviving train docs.
    """
    from waka_spark.operators.dedup import exact_dedup

    # Funnel as an ID CHAIN: each gate runs on the previous gate's
    # survivors (dedup first, so the quality gates never score duplicate
    # copies), but later gates consume only the surviving-ID frame, never
    # the full document frame. The former composition used each stage's
    # full frame both as the next gate's input AND as the next semi-join
    # left side — two consumers per stage, doubling the upstream plan at
    # every level (16 corpus Scan nodes in the physical plan). Here every
    # frame has exactly one consumer (the hash split needs only the id
    # column, so it reads the verdict-survivor id frame directly) and the
    # full documents are touched three times total: the dedup agg, the
    # verdict pass over dedup survivors, and the final semi join.
    # train_ids ⊆ verdict-survivors ⊆ keepers, so the last semi join alone
    # reproduces the nested-filter result.
    keepers = exact_dedup(df, id_col, text_col).select(
        F.col("keeper_id").alias(id_col))
    kept = df.join(keepers, id_col, "left_semi")
    good_ids = (
        filter_verdict(kept, id_col, text_col)
        .filter(F.col("keep") == 1)
        .select(F.col("doc_id").alias(id_col))
    )
    train_ids = (
        split_by_hash(good_ids, id_col)
        .filter(F.col("split") == "train")
        .select(F.col("doc_id").alias(id_col))
    )
    train = df.join(train_ids, id_col, "left_semi")
    return pack_sequences(train, id_col, text_col, budget, n_buckets)


def calibration_bins(
    scored: DataFrame,
    score_col: str = "score",
    label_col: str = "label",
    n_bins: int = 10,
) -> DataFrame:
    """Reliability-diagram bins for a [0,1] score against a boolean label:
    per equal-width score bin, the count, mean score (confidence), and
    observed positive rate — AUC (:func:`score_auc`) says whether the
    score RANKS well; this says whether its VALUES mean what they claim
    (a 0.9 bucket should be ~90% positive before anyone thresholds on it).

    Scale shape: ONE hash-agg on the bin id (n_bins groups, map-side
    partials absorb any score skew); the corpus is scanned once and never
    shuffled beyond n_bins partial rows per task.
    """
    s = F.col(score_col)
    bin_id = F.least(
        F.floor(s * n_bins).cast("int"), F.lit(n_bins - 1))
    return (
        scored.select(
            bin_id.alias("bin"),
            s.alias("_s"),
            F.col(label_col).cast("int").alias("_y"),
        )
        .groupBy("bin")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.round(F.avg("_s"), 6).alias("mean_score"),
            F.round(F.avg("_y"), 6).alias("pos_rate"),
        )
    )


def score_auc(
    scored: DataFrame,
    score_col: str = "score",
    label_col: str = "label",
) -> DataFrame:
    """Exact ROC-AUC of a score against a boolean label, computed as
    rank-sum over DISTINCT SCORE GROUPS — the calibration number a
    curation pass reads before trusting a quality classifier's threshold
    (AUC 0.5 = the score is noise; ties handled exactly via the standard
    midrank convention).

    AUC = Σ_s  p_s · (N⁻_below(s) + n_s/2)  /  (P · N)

    over distinct score values s (p_s/n_s = positives/negatives at s,
    N⁻_below = negatives with strictly lower score).

    Scale shape: one hash-agg corpus → (distinct score, p, n) — the ONLY
    pass over the data; the running sum then runs over the aggregated
    score table, whose cardinality is bounded by score granularity (a
    rounded score has thousands of distinct values regardless of corpus
    size), so the unpartitioned window is over a small frame by
    construction, never the corpus. Totals fold in the final single-row
    agg — no driver collect.

    Output: one row (n_pos, n_neg, auc).
    """
    # rows with NULL label carry no ground truth: exclude them instead
    # of silently counting them as negatives (round-3 review fix)
    scored = scored.filter(F.col(label_col).isNotNull())
    by_score = (
        scored.groupBy(F.col(score_col).alias("s"))
        .agg(
            F.sum(F.when(F.col(label_col), 1).otherwise(0))
            .cast("long").alias("p"),
            F.sum(F.when(F.col(label_col), 0).otherwise(1))
            .cast("long").alias("n"),
        )
    )
    # exclusive prefix count of negatives under the score order via the
    # zipWithIndex plan (round-3): distinct-score cardinality is corpus-
    # sized for continuous scores, so the unpartitioned running-sum
    # window is replaced by range partition + per-partition running sum
    # + broadcast offsets (plans/zipindex.py) — identical integer sums.
    from waka_spark.plans.zipindex import with_global_order_stats

    ranked = with_global_order_stats(
        by_score, [F.col("s").asc()], rank_col=None,
        prefix_sums={"n": "n_below"})
    return ranked.agg(
        F.sum("p").cast("long").alias("n_pos"),
        F.sum("n").cast("long").alias("n_neg"),
        F.round(
            F.sum(F.col("p") * (F.col("n_below") + F.col("n") / 2.0))
            / (F.sum("p") * F.sum("n")),
            6,
        ).alias("auc"),
    )


def sample_k_per_group(
    df: DataFrame,
    group_col: str,
    k: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic EXACT-k uniform sample per group (e.g. "inspect 50
    random docs per source"): rank rows inside each group by
    ``md5('kpg:' || id)`` — a uniform, engine-portable permutation — and
    keep rank ≤ k. The fixed-count contract :func:`stratified_sample`'s
    rate-based contract can't give (a rare stratum under a rate yields a
    random COUNT; audits and eval sets need exactly k).

    One window shuffle keyed by the group column; the hash salt is
    distinct from the split/sample salts so membership never correlates
    with train/test assignment. Output: input columns + ``sample_rank``.
    """
    w = Window.partitionBy(group_col).orderBy(
        F.md5(F.concat(F.lit("kpg:"), F.col(id_col).cast("string"))).asc(),
        F.col(id_col).asc(),
    )
    return (
        df.withColumn("sample_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("sample_rank") <= k)
    )


def weighted_sample_k_per_group(
    df: DataFrame,
    group_col: str,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic weighted sample-without-replacement, exactly k per
    group (Efraimidis & Spirakis, IPL'06 A-ES): each row draws key
    ln(u)/w for a uniform u ∈ (0,1] and weight w > 0, and the k largest
    keys per group win — inclusion probability proportional to weight,
    the standard one-pass distributed weighted reservoir. The curation
    use: "k docs per language for review, longer/higher-quality docs
    proportionally more likely" — :func:`sample_k_per_group`'s uniform
    contract can't bias toward quality.

    u is md5-derived (salt ``wkpg:``, distinct from the uniform-sample /
    split salts), so the draw is engine-portable and reproducible; keys
    round to 1e-9 with an id tie-break so rank order — hence membership —
    replays exactly in the DuckDB oracle despite libm ulp differences.
    Same scale shape as :func:`sample_k_per_group`: ONE window shuffle
    keyed by the group column, no per-group state beyond the heap Spark's
    window sort already maintains. Rows with non-positive weight are
    excluded (ln(u)/w flips sign: they would otherwise always win).

    Output: input columns + ``sample_rank``.
    """
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("wkpg:"), F.col(id_col).cast("string"))),
            1, 8,
        ),
        16, 10,
    ).cast("long")
    u = (h + 1) / F.lit(float(2 ** 32))
    key = F.round(F.log(u) / F.col(weight_col), 9)
    w = Window.partitionBy(group_col).orderBy(
        key.desc(), F.col(id_col).asc())
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("sample_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("sample_rank") <= k)
    )


def quality_expectations(
    df: DataFrame,
    rules: list[tuple[str, Column]],
) -> DataFrame:
    """Schema/content contract validation (the dbt-test / Great
    Expectations pattern) as ONE aggregate: each rule is (name, boolean
    Column that must hold per row); output is one row per rule with its
    violation count and rate — the gate a 100 TB ingest runs before
    promoting a batch from staging to the curated table.

    Scale shape: a single scan computing every rule as a conditional sum
    in one hash-free global agg (partial-aggregated map-side to one row),
    then a literal explode to (rule, ...) rows — cost is one corpus scan
    regardless of rule count, never a scan per rule.

    Output: (rule, n_rows, n_violations, violation_rate, passed).
    """
    aggs = [F.count(F.lit(1)).cast("long").alias("_n")]
    for i, (_, cond) in enumerate(rules):
        # a NULL rule result is a VIOLATION (dbt / Great Expectations
        # semantics): `score < 1.0` on a NULL score must not silently
        # pass the gate — count a row as passing only when the condition
        # is definitively true (round-3 review fix)
        aggs.append(
            F.sum(F.when(F.coalesce(cond, F.lit(False)), 0).otherwise(1))
            .cast("long").alias(f"_v{i}"))
    one = df.agg(*aggs)
    rows = F.array(*[
        F.struct(
            F.lit(name).alias("rule"),
            F.col(f"_v{i}").alias("n_violations"),
        )
        for i, (name, _) in enumerate(rules)
    ])
    return one.select(
        F.explode(rows).alias("_r"), F.col("_n").alias("n_rows")
    ).select(
        F.col("_r.rule").alias("rule"),
        "n_rows",
        F.col("_r.n_violations").alias("n_violations"),
        F.round(
            F.col("_r.n_violations") / F.greatest("n_rows", F.lit(1)), 6
        ).alias("violation_rate"),
        (F.col("_r.n_violations") == 0).alias("passed"),
    )


def nll_outlier_screen(
    df: DataFrame,
    pct: float = 0.95,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Perplexity-gate outlier screen: flag documents whose mean unigram
    NLL (``textstats.unigram_logprob`` — the CCNet-style cheap
    perplexity proxy) exceeds the corpus ``pct`` percentile. The
    relative-threshold form a curation pass actually ships — an absolute
    NLL cut drifts with every corpus refresh, "worst 5% of THIS corpus"
    does not. High-NLL docs are the garbled/mojibake/off-vocabulary tail
    an LM filter would reject anyway, caught at unigram cost.

    Scale shape: the NLL pass's own two hash-aggs, then ONE single-row
    exact-percentile aggregate broadcast back onto the per-doc frame —
    the corpus never re-shuffles for the threshold. Exact ``percentile``
    interpolates identically to DuckDB ``quantile_cont`` over the
    round-6 NLL values, and the flag compares round-6 against round-6 —
    engine-deterministic end to end.

    Output: (doc_id, n_tokens, avg_nll, threshold, is_outlier).
    """
    from waka_spark.operators.textstats import unigram_logprob

    nll = unigram_logprob(df, id_col=id_col, text_col=text_col)
    thr = nll.agg(
        F.round(F.percentile("avg_nll", F.lit(pct)), 6).alias("threshold"))
    return (
        nll.crossJoin(F.broadcast(thr))
        .select(
            "doc_id", "n_tokens", "avg_nll", "threshold",
            (F.col("avg_nll") > F.col("threshold")).cast("int")
            .alias("is_outlier"),
        )
    )


def curriculum_deciles(
    df: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
    n_buckets: int = 10,
) -> DataFrame:
    """Curriculum bucketing: assign every document a quality decile via
    ``ntile`` over (score, id) — the easy→hard ordering a curriculum
    trainer samples stages from, with the id tiebreak making bucket
    membership deterministic across engines and runs (plain ntile over
    a non-unique score is partitioning-dependent).

    ONE global sort (ntile's unavoidable total order — this is the one
    operator family where a corpus-wide sort is the semantics; at 100 TB
    you run it per-shard on the hash split, not corpus-global, and the
    shard-local deciles are statistically identical). No joins.

    Output: (doc_id, score, decile), decile 1 = lowest scores.
    """
    w = Window.orderBy(F.col(score_col).asc(), F.col(id_col).asc())
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.col(score_col).alias("score"),
        F.ntile(n_buckets).over(w).alias("decile"),
    )


def mixture_plan(
    df: DataFrame,
    weights: dict[str, float],
    token_budget: int,
    domain_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Training-mixture sampling plan: given target domain weights and a
    total token budget, compute per-domain availability and the sampling
    rate / epoch count that realizes the mix — the DoReMi/Llama-style
    "how many passes over each source" table a pretraining run is
    launched with (complement of :func:`mixture_sample`, which EXECUTES a
    per-domain rate; this PLANS the rates from a token budget).

    Per target domain: ``target_tokens = budget·weight``;
    ``sampling_rate = min(1, target/available)`` (downsample rate for
    over-supplied domains); ``n_epochs = target/available`` (>1 ⇒ the
    repeat factor for under-supplied domains — the number the curriculum
    keeps below ~4 before quality degrades, Muennighoff et al. 2023).

    Scale shape: ONE domain-keyed hash agg over in-row token counts
    (map-side partials); the plan-table join afterwards is
    domain-count-sized (tens of rows) on both sides. Domains outside the
    target mix are excluded — they get no budget share. Target domains
    ABSENT from the corpus are PRESERVED as (0 docs, 0 tokens,
    NULL rates) rows: a launch-plan table must alarm on a supply gap,
    not silently drop the domain (the round-3 inner join did).

    Output: (domain, n_docs, n_tokens, weight, target_tokens,
    sampling_rate, n_epochs), ordered keys; rates round-6; NULL rates
    flag an unsatisfiable target.
    """
    # split on \s+ after trim, matching pack_sequences' accounting —
    # splitting on a literal space undercounted newline/tab-separated
    # tokens, inflating epochs vs what the packer actually packs
    toks = F.size(
        F.filter(F.split(F.trim(F.col(text_col)), r"\s+"),
                 lambda w: w != ""))
    per = (
        df.groupBy(F.col(domain_col).alias("domain"))
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(toks).cast("long").alias("n_tokens"),
        )
    )
    spark = df.sparkSession
    wdf = spark.createDataFrame(
        sorted(weights.items()), "domain string, weight double")
    target = F.round(F.lit(float(token_budget)) * F.col("weight"))
    # left join FROM the weight table so every target domain appears even
    # with zero supply; availability nulls → explicit zeros. Spark's
    # least() skips NULLs (least(1.0, NULL) = 1.0), so the rate columns
    # are gated on supply explicitly rather than left to try_divide.
    return (
        wdf.join(per, "domain", "left")
        .select(
            "domain",
            F.coalesce("n_docs", F.lit(0)).cast("long").alias("n_docs"),
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            "weight",
            target.cast("long").alias("target_tokens"),
            F.when(
                F.coalesce(F.col("n_tokens"), F.lit(0)) > 0,
                F.round(
                    F.least(F.lit(1.0),
                            F.try_divide(target, F.col("n_tokens"))),
                    6),
            ).alias("sampling_rate"),
            F.when(
                F.coalesce(F.col("n_tokens"), F.lit(0)) > 0,
                F.round(F.try_divide(target, F.col("n_tokens")), 6),
            ).alias("n_epochs"),
        )
    )
