"""Text-analysis operators for training-data pipelines: language ID,
quality scoring, token counting, document fingerprinting.

All pure-column expressions (whole-stage codegen, no UDFs); each has a
DuckDB-oracle-expressible form so the driver's correctness gate covers it.
Words are the normalized words of ``functions/text_norm``; bigrams and
k-grams slice the word array that ``with_words`` builds once per row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from waka_spark.functions.text_norm import norm_words, with_words, word_runs
from waka_spark.plans.parallel import parallel_floor

# compact English stopword core — enough signal for n-gram-heuristic
# language ID over web text
EN_STOPWORDS = (
    "the of and to a in is it you that he was for on are as with his they i "
    "at be this have from or one had by word but not what all were we when "
    "your can said there use an each which she do how their if"
).split()


def token_counts(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Whitespace token count + BPE-ish subtoken count (letter runs, digit
    runs, and single punctuation marks — the pre-tokenizer split every BPE
    vocabulary starts from)."""
    df = parallel_floor(df, id_col)
    text = F.col(text_col)
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.size(norm_words(text)).alias("ws_tokens"),
        F.size(
            F.regexp_extract_all(
                text, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0
            )
        ).alias("bpe_tokens"),
        F.length(text).alias("n_chars"),
    )


def quality_scores(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Length / punctuation / stopword-ratio quality features + a composite
    score in [0,1] (a Gopher-rules-style filter surface)."""
    df = parallel_floor(df, id_col)
    text = F.col(text_col)
    words = norm_words(text)
    n_words = F.size(words)
    stop_ratio = F.size(
        F.filter(words, lambda w: w.isin(EN_STOPWORDS))
    ) / F.greatest(n_words, F.lit(1))
    punct_ratio = F.size(
        # Unicode classes (\p{L}\p{N}): ASCII-only \w branded every
        # non-Latin character as punctuation (round-3 review fix; RE2
        # oracle agrees on \p classes)
        F.regexp_extract_all(text, F.lit(r"[^\p{L}\p{N}_\s]"), 0)
    ) / F.greatest(F.length(text), F.lit(1))
    mean_word_len = (
        F.aggregate(words, F.lit(0), lambda acc, w: acc + F.length(w))
        / F.greatest(n_words, F.lit(1))
    )
    score = (
        F.least(n_words / F.lit(100.0), F.lit(1.0)) * 0.4
        + F.least(stop_ratio * 5.0, F.lit(1.0)) * 0.4
        + (1.0 - F.least(punct_ratio * 10.0, F.lit(1.0))) * 0.2
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        n_words.alias("n_words"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(mean_word_len, 6).alias("mean_word_len"),
        F.round(score, 6).alias("quality_score"),
    )


def lang_id(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    en_threshold: float = 0.05,
) -> DataFrame:
    """Stopword-ratio heuristic language ID (the n-gram-frequency family):
    predict 'en' when the English stopword mass clears the threshold."""
    df = parallel_floor(df, id_col)
    words = norm_words(F.col(text_col))
    ratio = F.size(
        F.filter(words, lambda w: w.isin(EN_STOPWORDS))
    ) / F.greatest(F.size(words), F.lit(1))
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.round(ratio, 6).alias("en_stopword_ratio"),
        F.when(ratio >= en_threshold, F.lit("en"))
        .otherwise(F.lit("unk")).alias("pred_lang"),
    )


def tfidf_topk(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    min_len: int = 3,
) -> DataFrame:
    """Top-``k`` TF-IDF terms per document (the classic keyword-extraction
    / quality-signal surface over a crawl).

    tf = term count within the doc; idf = ln((N+1)/(df+1)) with df = number
    of docs containing the term. Terms shorter than ``min_len`` chars are
    dropped (stopword-ish noise).

    Scale shape: one explode → hash-agg keyed by (doc_id, term) for tf
    (map-side partial combine), one hash-agg keyed by term for df, an
    equi-join tf⋈df on term, and a per-doc top-k window partitioned by
    doc_id (never a global sort). N is a single-row aggregate joined in by
    broadcast — no driver collect in the plan. Key skew is bounded by
    vocabulary Zipf on the df agg, which partial aggregation absorbs.
    """
    from pyspark.sql import Window

    df = parallel_floor(df, id_col)
    terms = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(norm_words(F.col(text_col))).alias("term"),
    ).filter(F.length("term") >= min_len)
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = df.select(
        F.countDistinct(F.col(id_col)).alias("n_docs")
    )
    scored = (
        tf.join(dfreq, "term")
        .join(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)),
                6,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "doc_id", "term",
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            "tfidf",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def unigram_logprob(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document mean negative log-probability under a corpus-trained
    unigram LM — the cheap perplexity proxy used to rank crawl text before
    an expensive LM-based quality filter (CCNet-style, trained on the
    corpus itself here; production swaps in a reference-corpus model table
    through the same join).

    avg_nll = mean over tokens of -ln(count(word)/total_tokens). Every
    token has count ≥ 1 by construction (model == corpus), so no smoothing
    branch. Scale shape: one explode feeding (a) the model hash-agg keyed
    by word (map-side partials absorb Zipf) and (b) the scoring side,
    which equi-joins the model on word and re-aggregates by doc — two
    shuffles total; the corpus-total is a single-row agg broadcast in.
    """
    df = parallel_floor(df, id_col)
    words = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(norm_words(F.col(text_col))).alias("word"),
    ).filter(F.col("word") != "")
    model = words.groupBy("word").agg(F.count("*").alias("wc"))
    total = model.select(F.sum("wc").alias("total"))
    return (
        words.join(model, "word")
        .join(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.round(
                F.avg(-F.log(F.col("wc") / F.col("total"))), 6
            ).alias("avg_nll"),
        )
    )


def _bigrams(text: Column) -> Column:
    """array<struct<w1, w2>>: the adjacent pairs of non-empty normalized
    words (empty words are only ever first or last, so dropping the pairs
    that hold one equals pairing the non-empty words)."""
    return with_words(text, lambda words: F.filter(
        F.when(F.size(words) >= 2, F.transform(
            F.sequence(F.lit(1), F.size(words) - 1),
            lambda i: F.struct(
                F.element_at(words, i).alias("w1"),
                F.element_at(words, i + 1).alias("w2"),
            ),
        )),
        lambda p: (p["w1"] != "") & (p["w2"] != ""),
    ))


def bigram_logprob(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document mean negative log-probability under a corpus-trained
    bigram LM: avg over bigrams of -ln(c(w1,w2)/c(w1·)) — the next step up
    from :func:`unigram_logprob` in the CCNet-style quality ladder
    (bigram NLL separates fluent text from word salad that unigram
    frequency alone cannot). Model == corpus, so every scored bigram has
    count ≥ 1 and no smoothing branch is needed; c(w1·) counts w1 as a
    bigram *context* (all positions but the last), keeping the
    conditional a true probability.

    Scale shape: bigrams are built narrowly inside the row (one
    ``transform`` over the word array — no self-join, no posexplode
    alignment shuffle), then ONE explode feeds ONE hash-agg keyed by
    (doc_id, w1, w2) — per-doc bigram counts, the smallest frame that can
    still answer everything downstream. That frame is persisted and reused
    three ways: the bigram model c(w1,w2) and the context model c(w1·)
    both roll up from it (never re-scanning the corpus), and the scoring
    side equi-joins the two models back onto it — so the instance-level
    token stream is shuffled exactly once, and every later shuffle moves
    only *distinct* per-doc bigrams (bounded by vocabulary², in practice
    ~n_tokens/2 under Zipf). The per-doc mean re-weights by the local
    count n, which is exactly the instance-level average.
    """
    df = parallel_floor(df, id_col)
    pairs = _bigrams(F.col(text_col))
    from waka_spark.plans.pins import cut

    # EAGER (not lazy persist): doc_bg feeds the model agg AND the scoring
    # join — sibling branches of one action would race to populate a cold
    # cache and each replay the explode+agg (see graph.random_walks)
    doc_bg = cut(
        df.select(F.col(id_col).alias("doc_id"), F.explode(pairs).alias("p"))
        .groupBy("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .agg(F.count("*").alias("n"))
    )
    model = doc_bg.groupBy("w1", "w2").agg(F.sum("n").alias("c12"))
    ctx = model.groupBy("w1").agg(F.sum("c12").alias("c1"))
    nll = -F.log(F.col("c12") / F.col("c1"))
    return (
        doc_bg.join(model, ["w1", "w2"])
        .join(ctx, "w1")
        .groupBy("doc_id")
        .agg(
            F.sum("n").cast("long").alias("n_bigrams"),
            F.round(
                (F.sum(F.col("n") * nll) / F.sum("n")), 6
            ).alias("avg_nll"),
        )
    )


def typo_pairs(
    df: DataFrame,
    text_col: str = "text",
    max_edit: int = 2,
    min_len: int = 4,
) -> DataFrame:
    """Fuzzy vocabulary self-join: distinct word pairs within Levenshtein
    distance ``max_edit`` (1 or 2) — typo/variant mining over a corpus
    vocabulary (the normalization table a curation pass builds before
    frequency thresholding splits "recieve" from "receive").

    Scale shape: SymSpell deletion neighborhoods, NOT all-pairs. Every
    word generates its ≤``max_edit``-deletion variants narrowly in-row
    (nested ``transform`` over positions — O(L²) variants per word, zero
    shuffle), and two words within edit distance k share at least one
    variant (deletions compose: align the edit script and delete the
    edited positions on both sides), so the candidate join is a plain
    equi-join on variant — linear in vocabulary size, never |V|².
    Candidates then verify with the exact ``levenshtein`` (sharing a
    variant is necessary, not sufficient — e.g. transposed bigrams).
    A pathologically hot variant (many words sharing one delete) is the
    LSH-hot-bucket analog; vocabulary distributions keep it bounded, and
    ``min_len`` drops the short words that generate the hottest ones.
    """
    df = parallel_floor(df, text_col)
    words = (
        df.select(F.explode(norm_words(F.col(text_col))).alias("w"))
        .filter(F.length("w") >= min_len)
        .distinct()
    )
    w = F.col("w")
    L = F.length(w)
    singles = F.transform(
        F.sequence(F.lit(1), L),
        lambda i: F.concat(w.substr(F.lit(1), i - 1), w.substr(i + 1, L)),
    )
    variants = F.concat(F.array(w), singles)
    if max_edit >= 2:
        # delete positions i < j: outer i in 1..L-1, inner j in i+1..L —
        # bounds are non-empty for every L >= min_len, so sequence()
        # never flips descending
        doubles = F.flatten(
            F.transform(
                F.sequence(F.lit(1), L - 1),
                lambda i: F.transform(
                    F.sequence(i + F.lit(1), L),
                    lambda j: F.concat(
                        w.substr(F.lit(1), i - 1),
                        w.substr(i + 1, j - i - 1),
                        w.substr(j + 1, L),
                    ),
                ),
            )
        )
        variants = F.concat(variants, doubles)
    cand = words.select(w, F.explode(F.array_distinct(variants)).alias("v"))
    a = cand.alias("a")
    b = cand.alias("b")
    pairs = (
        a.join(
            b, (F.col("a.v") == F.col("b.v")) & (F.col("a.w") < F.col("b.w"))
        )
        .select(F.col("a.w").alias("w1"), F.col("b.w").alias("w2"))
        .distinct()
    )
    dist = F.levenshtein("w1", "w2")
    return pairs.filter(dist <= max_edit).select(
        "w1", "w2", dist.cast("int").alias("dist")
    )


def fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Winnowing-style document fingerprint: the minimum md5 over rolling
    n-gram word shingles (one representative hash per document; equal
    fingerprints ⇒ near-certain shared window)."""
    from waka_spark.operators.dedup import word_shingles

    df = parallel_floor(df, id_col)
    sh = word_shingles(F.col(text_col), n)
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.array_min(F.transform(sh, F.md5)).alias("fingerprint"),
    )


def _kgrams(text: Column, kgram: int) -> Column:
    """array<struct<pos, _kg, _n_kg>>: every stride-1 ``kgram``-word run
    of the normalized text, its 0-based position and the number of runs;
    none when the text is shorter than ``kgram`` words."""
    return with_words(text, lambda words: F.transform(
        word_runs(words, kgram),
        lambda run, i: F.struct(
            i.alias("pos"), run.alias("_kg"),
            (F.size(words) - (kgram - 1)).alias("_n_kg")),
    ))


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    kgram: int = 3,
    window: int = 4,
) -> DataFrame:
    """Full MOSS winnowing (Schleimer, Wilkerson & Aiken 2003): select the
    rightmost-minimum k-gram hash in every sliding window of ``window``
    consecutive k-grams — the guaranteed-coverage local fingerprint set
    (any shared substring of ≥ window+kgram-1 words produces at least one
    shared fingerprint), vs :func:`fingerprints` which keeps only the one
    global minimum per document.

    Implementation is selection-by-window-argmin, not a per-row scan: each
    k-gram row fans out to the ≤``window`` window-starts that contain it
    (a bounded explode, like the MinHash band fan-out), then ONE hash-agg
    per (doc, window-start) takes ``min(struct(hash, -pos))`` — min-hash
    with rightmost tie-break in a single map-side-combinable aggregate —
    and a distinct collapses adjacent windows that picked the same k-gram.
    No window-function sort, no self-join, no UDF; shuffle volume is
    window× the k-gram count, with keys as fine as (doc, window-start) so
    hot docs still spread. Documents shorter than one window emit their
    single best k-gram (the standard short-input degeneracy).

    Hashes are ``int(md5(kgram)[:8], 16)`` — oracle-portable. Output:
    (doc_id, pos, fp_hash), one row per *selected* k-gram position.
    """
    tagged = (
        parallel_floor(df, id_col)
        .select(F.col(id_col).alias("doc_id"),
                F.inline(_kgrams(F.col(text_col), kgram)))
        .select(
            "doc_id", "_n_kg", "pos",
            F.conv(F.substring(F.md5("_kg"), 1, 8), 16, 10)
            .cast("long").alias("fp_hash"),
        )
    )

    # window-starts containing pos: [max(pos-window+1, 0), min(pos, last)]
    # where last = max(n_kg - window, 0); when n_kg < window there is a
    # single window 0 covering everything
    last = F.greatest(F.col("_n_kg") - window, F.lit(0))
    starts = F.sequence(
        F.greatest(F.col("pos") - (window - 1), F.lit(0)),
        F.least(F.col("pos"), last),
    )
    return (
        tagged.select(
            "doc_id", "pos", "fp_hash", F.explode(starts).alias("_w"))
        .groupBy("doc_id", "_w")
        # min sorts a NULL field first: fp_hash is an md5 prefix, never NULL
        .agg(F.min(F.struct(
            F.col("fp_hash"), (-F.col("pos")).alias("_negpos"))).alias("_m"))
        .select(
            "doc_id",
            (-F.col("_m._negpos")).cast("int").alias("pos"),
            F.col("_m.fp_hash").alias("fp_hash"),
        )
        .distinct()
    )


def bpe_pair_counts(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 50,
) -> DataFrame:
    """First iteration of BPE vocabulary training at corpus scale: the
    top-``k`` adjacent character pairs weighted by corpus word frequency
    (Sennrich et al. 2016's merge-candidate count — each further merge
    round is this same op over the re-segmented symbol stream).

    Scale shape: the corpus collapses to its VOCABULARY first (one
    hash-agg: distinct word → total occurrences), so the character-level
    fan-out runs over ~10^6 vocab rows, not 10^12 word tokens; pair
    extraction is a narrow in-row transform, and the final count is one
    hash-agg + a top-k TakeOrdered. Output: (pair, n_words, n_total),
    n_total = occurrence-weighted pair count, ordered n_total desc.
    """
    df = parallel_floor(df, id_col)
    vocab = (
        df.select(
            F.explode(norm_words(F.col(text_col))).alias("word"),
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    pairs = vocab.select(
        "word",
        "freq",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("word") - 1),
                lambda i: F.substr(F.col("word"), i, F.lit(2)),
            )
        ).alias("pair"),
    ).filter(F.length("word") >= 2)
    return (
        pairs.groupBy("pair")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum("freq").cast("long").alias("n_total"),
        )
        .orderBy(F.col("n_total").desc(), F.col("pair").asc())
        .limit(k)
    )


def slice_kl_divergence(
    df: DataFrame,
    slice_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 256,
    alpha: float = 1.0,
) -> DataFrame:
    """Distribution drift per corpus slice: KL(P_slice ‖ P_corpus) over
    hashed-unigram buckets — the monitoring number that flags a source /
    language / time-window whose token distribution departs from the
    blend (new crawl gone wrong, a source flipping language, template
    spam). Complements curation.dsir_importance: DSIR *scores documents*
    against a target; this scores *slices* against the corpus.

    Both distributions are Laplace-smoothed over the same ``n_buckets``
    support, so KL is finite even for buckets a slice never emits::

        P_s(b) = (c_sb + α) / (n_s + α·B);  Q(b) = (c_b + α) / (n + α·B)
        KL(s)  = Σ_b P_s(b) · ln(P_s(b) / Q(b))

    Scale shape: ONE token explode → one hash-agg keyed by (slice,
    bucket) — map-side combinable, key cardinality = slices × B regardless
    of corpus size; corpus-level bucket counts derive from a second agg of
    that small table (not a rescan); totals broadcast. The Σ_b fold runs
    over the (slice × B) table — driver never collects.

    Output: (slice, n_tokens, kl), kl rounded 1e-6.
    """
    df = parallel_floor(df, id_col)
    toks = df.select(
        F.col(slice_col).alias("slice"),
        F.explode(norm_words(F.col(text_col))).alias("word"),
    ).filter(F.col("word") != "")
    # sb is the ONLY product of the token scan and feeds four consumers
    # (corpus marginals, totals, slice totals, the dense left join) —
    # persist it or each consumer replays the corpus explode; it is a
    # slices × B table, kilobytes at any corpus size
    sb = toks.select(
        "slice",
        (
            F.conv(F.substring(F.md5("word"), 1, 8), 16, 10).cast("long")
            % n_buckets
        ).cast("int").alias("bucket"),
    ).groupBy("slice", "bucket").agg(
        F.count("*").cast("long").alias("c_sb"))
    from waka_spark.plans.pins import cut

    # EAGER: sb feeds the corpus marginal and the per-slice fold —
    # sibling branches of one action (lazy-persist race, see
    # graph.random_walks)
    sb = cut(sb)

    corpus = sb.groupBy("bucket").agg(F.sum("c_sb").alias("c_b"))
    n_total = corpus.agg(F.sum("c_b").alias("n_corpus"))

    ab = F.lit(alpha * n_buckets)
    # the Σ_b fold must run over ALL n_buckets cells, not just observed
    # ones: the smoothed P and Q are positive on the full support, and a
    # truncated sum is not a KL (it can go negative). slices × range(B)
    # is the dense frame; both count columns coalesce to 0. Every join
    # side here is an aggregated kilobyte-scale table — broadcast them
    # so no sort-merge exchange appears anywhere above the token scan.
    slices = sb.groupBy("slice").agg(F.sum("c_sb").alias("n_slice"))
    buckets = df.sparkSession.range(n_buckets).select(
        F.col("id").cast("int").alias("bucket"))
    dense = (
        slices.crossJoin(F.broadcast(buckets))
        .join(F.broadcast(corpus), "bucket", "left")
        .withColumn("c_b", F.coalesce("c_b", F.lit(0)))
        .join(F.broadcast(sb), ["slice", "bucket"], "left")
        .withColumn("c_sb", F.coalesce("c_sb", F.lit(0)))
        .crossJoin(F.broadcast(n_total))
    )
    p = (F.col("c_sb") + F.lit(alpha)) / (F.col("n_slice") + ab)
    q = (F.col("c_b") + F.lit(alpha)) / (F.col("n_corpus") + ab)
    return (
        dense.select(
            "slice", "n_slice", (p * F.log(p / q)).alias("_term"))
        .groupBy("slice")
        .agg(
            F.first("n_slice").cast("long").alias("n_tokens"),
            F.round(F.sum("_term"), 6).alias("kl"),
        )
    )


def keyness_terms(
    df: DataFrame,
    slice_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """Distinctive vocabulary per corpus slice via Monroe et al. 2008
    ("Fightin' Words") informative-Dirichlet log-odds z-scores — the
    drift diagnostic that NAMES the words behind a KL spike
    (:func:`slice_kl_divergence` gives the magnitude; this gives the
    evidence), and the standard slice-vs-rest keyword surface for corpus
    audits.

        δ_w(s) = ln[(y_sw+1)/(n_s+V−y_sw−1)] − ln[(y_rw+1)/(n_r+V−y_rw−1)]
        z_w(s) = δ_w / sqrt(1/(y_sw+1) + 1/(y_rw+1))

    with r = the rest of the corpus and V = vocabulary size (α_w = 1,
    α0 = V).

    Scale shape: ONE token explode → one hash-agg keyed by (slice, word);
    corpus word totals come from a window over the SAME word-partitioned
    table (reusing its exchange, not rescanning the corpus); slice totals
    from a window over the slice partition of that vocab-scale table; V
    and the corpus total are one single-row agg broadcast in. The final
    top-k window is per-slice over vocab-scale rows. The corpus is
    scanned exactly once.

    Output: (slice, word, y_sw, z, rank) — top-k positive-z (slice-
    distinctive) words per slice.
    """
    from pyspark.sql import Window

    df = parallel_floor(df, id_col)
    sw = (
        df.select(
            F.col(slice_col).alias("slice"),
            F.explode(norm_words(F.col(text_col))).alias("word"),
        )
        .filter(F.col("word") != "")
        .groupBy("slice", "word")
        .agg(F.count("*").cast("long").alias("y_sw"))
    )
    w_word = Window.partitionBy("word")
    w_slice = Window.partitionBy("slice")
    enriched = (
        sw.withColumn("c_w", F.sum("y_sw").over(w_word))
        .withColumn("n_s", F.sum("y_sw").over(w_slice))
    )
    totals = sw.agg(
        F.sum("y_sw").alias("n_total"),
        F.countDistinct("word").cast("long").alias("v"),
    )
    t = enriched.crossJoin(F.broadcast(totals))
    y_rw = F.col("c_w") - F.col("y_sw")
    n_r = F.col("n_total") - F.col("n_s")
    delta = (
        F.log((F.col("y_sw") + 1) / (F.col("n_s") + F.col("v") - F.col("y_sw") - 1))
        - F.log((y_rw + 1) / (n_r + F.col("v") - y_rw - 1))
    )
    z = delta / F.sqrt(1.0 / (F.col("y_sw") + 1) + 1.0 / (y_rw + 1))
    scored = t.select(
        "slice", "word", "y_sw", F.round(z, 6).alias("z"))
    w_top = Window.partitionBy("slice").orderBy(
        F.col("z").desc(), F.col("word").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w_top))
        .filter(F.col("rank") <= k)
        .select("slice", "word", "y_sw", "z",
                F.col("rank").cast("int").alias("rank"))
    )


def script_profile(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document character-class profile: fractions of Latin letters,
    digits, whitespace, and everything else (CJK, Cyrillic, emoji,
    control bytes — the catch-all a multilingual/web corpus audit splits
    further once it matters). The cheap first-pass signal for routing
    documents to language-specific pipelines and catching mojibake /
    binary-in-text ingestion bugs BEFORE tokenization spends money on
    them.

    Pure narrow column ops: each class count is one regexp_replace
    length (no explode, no arrays, no shuffle at all) — whole-stage
    codegen end to end; a ~TB/hour-per-core scan shape.

    Output: (doc_id, n_chars, latin_frac, digit_frac, space_frac,
    other_frac, dominant) — fractions round-6 over max(n_chars, 1);
    ``dominant`` is the argmax class (ties: latin > digit > space >
    other, the declaration order).
    """
    df = parallel_floor(df, id_col)
    text = F.col(text_col)
    n_chars = F.length(text)
    denom = F.greatest(n_chars, F.lit(1))

    def frac(cls: str) -> Column:
        return (
            F.length(F.regexp_replace(text, f"[^{cls}]", "")) / denom
        )

    latin = frac("A-Za-z")
    digit = frac("0-9")
    space = frac(r"\s")
    out = df.select(
        F.col(id_col).alias("doc_id"),
        n_chars.cast("long").alias("n_chars"),
        F.round(latin, 6).alias("latin_frac"),
        F.round(digit, 6).alias("digit_frac"),
        F.round(space, 6).alias("space_frac"),
        F.round(
            (n_chars - F.length(F.regexp_replace(text, "[^A-Za-z]", ""))
             - F.length(F.regexp_replace(text, "[^0-9]", ""))
             - F.length(F.regexp_replace(text, r"[^\s]", ""))) / denom,
            6,
        ).alias("other_frac"),
    )
    dominant = (
        F.when(
            (F.col("latin_frac") >= F.col("digit_frac"))
            & (F.col("latin_frac") >= F.col("space_frac"))
            & (F.col("latin_frac") >= F.col("other_frac")), "latin")
        .when(
            (F.col("digit_frac") >= F.col("space_frac"))
            & (F.col("digit_frac") >= F.col("other_frac")), "digit")
        .when(F.col("space_frac") >= F.col("other_frac"), "space")
        .otherwise("other")
    )
    return out.withColumn("dominant", dominant)


def vocab_novelty(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    day_col: str = "day",
) -> DataFrame:
    """Per-day vocabulary novelty: of the distinct words active on day
    d, what fraction is appearing for the FIRST time in the corpus —
    the drift/burstiness counterpart of the per-slice KL screen (KL says
    "this slice's distribution shifted"; novelty says "and here is when
    the new vocabulary actually arrived"). Heaps-law-style curves made
    queryable: a healthy growing corpus decays smoothly; an ingestion
    bug (new spam source, encoding break) spikes.

    Scale shape: one explode → (word, day) DISTINCT (the only big
    shuffle, keyed by word+day), per-word min-day hash agg, then the
    per-day rollup counts first-appearances vs active words in ONE agg
    over the distinct pairs joined to their word's first day. No
    windows, no self-joins.

    Output: (day, n_active_words, n_new_words, novelty), novelty
    round-6.
    """
    df = parallel_floor(df, id_col)
    pairs = (
        df.select(
            F.col(day_col).alias("day"),
            F.explode(norm_words(F.col(text_col))).alias("word"),
        )
        .filter(F.col("word") != "")
        .distinct()
    )
    first = pairs.groupBy("word").agg(F.min("day").alias("_first_day"))
    return (
        pairs.join(first, "word")
        .groupBy("day")
        .agg(
            F.count("*").cast("long").alias("n_active_words"),
            F.sum((F.col("day") == F.col("_first_day")).cast("long"))
            .alias("n_new_words"),
        )
        .select(
            "day", "n_active_words", "n_new_words",
            F.round(
                F.col("n_new_words") / F.col("n_active_words"), 6
            ).alias("novelty"),
        )
    )


def readability_scores(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Flesch-style readability surface: words/sentence, syllables/word
    (vowel-group proxy — the standard dictionary-free approximation),
    and the Flesch Reading Ease formula over them. The classic
    complexity gate a curation mix applies alongside Gopher rules:
    pathologically "easy" text is boilerplate/lists, pathologically
    "hard" text is code/garbage, both worth routing differently.

    Everything is narrow column arithmetic on regexp counts — zero
    shuffle, zero UDF, whole-stage codegen (same scan-bound shape as
    ``script_profile``). Sentences = runs ending in ``[.!?]`` (min 1);
    syllables = vowel groups ``[aeiouy]+`` per lowercased word (min 1
    per word).

    Output: (doc_id, n_sentences, n_words, n_syllables,
    words_per_sentence, syllables_per_word, flesch), ratios round-6,
    flesch = 206.835 − 1.015·w/s − 84.6·syl/w (round-4 — the formula's
    customary precision).
    """
    df = parallel_floor(df, id_col)
    text = F.col(text_col)
    words = F.filter(norm_words(text), lambda w: w != "")
    n_words = F.greatest(F.size(words), F.lit(1))
    n_sent = F.greatest(
        F.size(F.regexp_extract_all(text, F.lit(r"[.!?]+"), 0)), F.lit(1))
    syl = F.aggregate(
        words,
        F.lit(0),
        lambda acc, w: acc + F.greatest(
            F.size(F.regexp_extract_all(w, F.lit("[aeiouy]+"), 0)),
            F.lit(1)),
    )
    wps = n_words / n_sent
    spw = syl / n_words
    return df.select(
        F.col(id_col).alias("doc_id"),
        n_sent.cast("long").alias("n_sentences"),
        n_words.cast("long").alias("n_words"),
        syl.cast("long").alias("n_syllables"),
        F.round(wps, 6).alias("words_per_sentence"),
        F.round(spw, 6).alias("syllables_per_word"),
        F.round(
            F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw, 4
        ).alias("flesch"),
    )


def zipf_fit(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    min_count: int = 2,
) -> DataFrame:
    """Zipf-law fit of the corpus rank-frequency curve: the slope of
    ln(frequency) on ln(rank) over the word vocabulary (natural text
    ≈ −1; a flat slope says synthetic/templated text, a cliff says
    boilerplate domination — the single-number sanity check on corpus
    naturalness next to :func:`vocab_novelty`'s time axis).

    One explode → word hash-agg, then rank + regression over the
    VOCABULARY-sized table only (the global rank window sorts |V| rows,
    never the corpus; ``min_count`` trims the hapax tail that a finite
    corpus always bends). Built-in ``regr_slope``/``regr_r2`` — the
    same aggregate DuckDB ships, so the oracle replays it.

    Output: one row (n_words_ranked, zipf_slope, r2), round-6.
    """
    df = parallel_floor(df, id_col)
    words = (
        df.select(F.explode(norm_words(F.col(text_col))).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
        .filter(F.col("freq") >= min_count)
    )
    # global frequency rank via the zipWithIndex plan (round-3): the
    # vocabulary is 10^8-ish rows at corpus scale, and Zipf needs EVERY
    # word's rank (not a top-k), so the single-partition Window.orderBy
    # funnel is replaced by range partition + per-partition rank +
    # broadcast offsets (plans/zipindex.py) — same ranks exactly.
    from waka_spark.plans.zipindex import with_global_order_stats

    ranked = with_global_order_stats(
        words, [F.col("freq").desc(), F.col("word").asc()],
        rank_col="rank")
    lf = F.log(F.col("freq").cast("double"))
    lr = F.log(F.col("rank").cast("double"))
    return ranked.agg(
        F.count("*").cast("long").alias("n_words_ranked"),
        F.round(F.regr_slope(lf, lr), 6).alias("zipf_slope"),
        F.round(F.regr_r2(lf, lr), 6).alias("r2"),
    )


def collocations(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 5,
    top_k: int = 50,
) -> DataFrame:
    """Collocation mining: adjacent word pairs ranked by pointwise
    mutual information — pmi = ln(c₁₂·N / (c₁·c₂)) over corpus bigram /
    unigram counts (Church & Hanks 1990). The multi-word-term discovery
    pass (named entities, domain phrases) that feeds tokenizer merges
    and gazetteer candidates; ``min_count`` removes the
    low-count-high-PMI noise the raw statistic is notorious for.

    Scale shape: bigrams built narrowly IN-ROW (transform over the word
    array, no self-join), ONE explode feeding the bigram hash-agg; the
    unigram marginals reuse the same word explode; two broadcast-sized
    joins on the word keys against the (already aggregated) vocabulary;
    global top-k via TakeOrderedAndProject — never a full sort. N is a
    single-row broadcast.

    Output: (word_1, word_2, n_pair, pmi, rank), top_k by (pmi desc,
    pair asc), pmi round-6.
    """
    df = parallel_floor(df, id_col)
    words_arr = norm_words(F.col(text_col))
    toks = F.filter(words_arr, lambda w: w != "")
    bigrams = df.select(
        F.explode(
            F.zip_with(
                toks,
                F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("bg")
    ).select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2")).filter(
        F.col("w2").isNotNull())
    pair_counts = bigrams.groupBy("w1", "w2").agg(
        F.count("*").cast("long").alias("n_pair"))
    uni = (
        df.select(F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("n_word"))
    )
    total = uni.agg(F.sum("n_word").cast("double").alias("_n"))
    scored = (
        pair_counts.filter(F.col("n_pair") >= min_count)
        .join(uni.withColumnsRenamed({"word": "w1", "n_word": "c1"}), "w1")
        .join(uni.withColumnsRenamed({"word": "w2", "n_word": "c2"}), "w2")
        .crossJoin(F.broadcast(total))
        .select(
            F.col("w1").alias("word_1"), F.col("w2").alias("word_2"),
            "n_pair",
            F.round(
                F.log(
                    F.col("n_pair") * F.col("_n")
                    / (F.col("c1") * F.col("c2"))
                ), 6
            ).alias("pmi"),
        )
    )
    # Global top-k as orderBy+limit (round-3 fix): compiles to
    # TakeOrderedAndProject — per-partition heaps + one k-row merge —
    # instead of an unpartitioned row_number() window that funnels the
    # whole scored-bigram table (vocab² candidates at corpus scale)
    # through a single task. The rank is then assigned on the k-row
    # result, where a single partition is the POINT.
    order = [F.col("pmi").desc(), F.col("word_1").asc(),
             F.col("word_2").asc()]
    top = scored.orderBy(*order).limit(top_k)
    w = Window.orderBy(*order)
    return top.withColumn("rank", F.row_number().over(w).cast("int"))
