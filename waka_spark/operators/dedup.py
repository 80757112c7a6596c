"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference's per-document ``set()`` dedups (P6/P10/P22), a
100 TB corpus engine needs corpus-level dedup. All variants below are
shuffle-bounded compositions of built-in ops (no UDFs in the hot path):

- exact:       one hash-agg on md5(text)
- n-gram Jaccard: shingle-explode → exact prefix-filter join on each
  document's rarest shingles (a qualifying pair shares one there) →
  in-row verification of the distinct candidates
- MinHash+LSH: per-band min-hash signatures → bucket join (pairs collide in
  ≥1 band) → verify with exact Jaccard on the candidates only
- SimHash:     per-word 16-bit hashes → bit-majority fingerprint, one agg

Each near-duplicate step has one implementation here, which
``transcripts.conv_near_dups`` composes over conversations as well:
``_digest`` (two md5s per shingle or turn) and ``_band_signatures`` (the
in-row per-band minimum), ``_bucket_pairs`` (the (band, sig) self-join),
``_jaccard_check`` (set Jaccard of candidate pairs by
``array_intersect``), and ``_canonical`` with ``_label`` (component id,
cluster size and canonical flag).

Texts are keyed and cut into words by ``functions/text_norm``; shingles
and span windows slice the word array that ``with_words`` builds once
per row, so a document costs time linear in its words.

Hashes are md5-derived so results are engine-portable (the DuckDB oracle
computes the identical values). At scale: stopword-like shingles are the
standard skew hazard of a shingle join — one in k documents emits k² rows.
The Jaccard join sorts each document's shingles rarest first and joins
only on a prefix of them (prefix filtering), so frequent shingles rarely
join at all and the result is unchanged. ``max_shingle_freq`` drops
super-frequent shingles as a semantic filter (it changes which pairs
qualify), not as the Jaccard join's skew guard.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from waka_spark.functions.text_norm import (
    norm_key, norm_words, with_words, word_runs)
from waka_spark.plans.parallel import parallel_floor


def exact_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """One row per distinct normalized text: keeper = min id, n_dupes count."""
    return (
        df.select(F.col(id_col), F.md5(norm_key(F.col(text_col))).alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count("*").alias("n_docs"),
        )
    )


def word_shingles(text: Column, n: int = 3) -> Column:
    """Sliding n-gram word shingles as array<string> (distinct); a text
    shorter than ``n`` words is one shingle."""
    return with_words(text, lambda words: F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0))),
            lambda i: F.array_join(F.slice(words, i + 1, n), " "),
        )
    ))


def _doc_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    # word_shingles is array_distinct per row; rows sharing a doc_id may
    # repeat a shingle, which _shingle_sets' per-document set unions
    return (
        parallel_floor(df, id_col)
        .select(F.col(id_col).alias("doc_id"),
                F.explode(word_shingles(F.col(text_col), n)).alias("shingle"))
        .filter(F.col("shingle") != "")
    )


def _shingle_sets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    max_shingle_freq: int | None,
    rarest_first: bool,
) -> DataFrame:
    """(doc_id, sh): one row per document holding its distinct shingles.
    Rows sharing a doc_id are unioned, as the set of distinct (doc_id,
    shingle) is. With ``rarest_first`` they are sorted by (document
    frequency, shingle) — the one global order every prefix filter below
    relies on; without it the set is unordered.

    Document frequency is ONE exchange on shingle: ``dense_rank`` over the
    doc ids counts every document once, even one spread over several
    rows. ``max_shingle_freq`` then drops shingles in more documents than
    that (a semantic filter: it changes which pairs qualify). Without the
    order and the filter the window is skipped."""
    rows = _doc_shingles(df, id_col, text_col, n)
    if rarest_first or max_shingle_freq is not None:
        by_shingle = Window.partitionBy("shingle")
        rows = (
            rows.withColumn("_r", F.dense_rank().over(by_shingle.orderBy("doc_id")))
            .withColumn("_df", F.max("_r").over(by_shingle))
        )
        if max_shingle_freq is not None:
            rows = rows.filter(F.col("_df") <= max_shingle_freq)
    if not rarest_first:
        return rows.groupBy("doc_id").agg(F.collect_set("shingle").alias("sh"))
    return rows.groupBy("doc_id").agg(
        F.transform(
            F.array_sort(F.collect_set(F.struct("_df", "shingle"))),
            lambda x: x["shingle"],
        ).alias("sh")
    )


def _candidates(docs: DataFrame, threshold: float) -> DataFrame:
    """(shingle, doc_a, n_a, p_a, doc_b, n_b, p_b) rows of the prefix
    self-join over :func:`_shingle_sets`: each document's first p of
    its n shingles against every other's. Self matches and repeated pairs
    are left to the caller.

    A pair with overlap ≥ ⌈t·|x|⌉ shares a shingle within x's first
    |x| − ⌈t·|x|⌉ + 1 shingles of the global order, so no qualifying pair
    is lost. The prefix is sized from t − 1e-6: scores are rounded to 6
    places before ``>= threshold``, and the margin also absorbs the float
    ``ceil``. A longer prefix only adds candidates; a shorter one loses
    pairs. The most frequent shingles sort last, so a shingle shared by k
    documents joins only where it falls within a prefix, not k² times."""
    size = F.size("sh")
    p = F.least(size, F.greatest(
        size - F.ceil(F.lit(threshold - 1e-6) * size) + 1, F.lit(0)
    )).cast("int")

    def side(s):
        return docs.select(F.col("doc_id").alias(f"doc_{s}"),
                           size.alias(f"n_{s}"), p.alias(f"p_{s}"),
                           F.explode(F.slice("sh", 1, p)).alias("shingle"))

    return side("a").join(side("b"), "shingle")


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Candidate pairs (doc_a < doc_b) with n-gram Jaccard ≥ threshold.

    Exact prefix-filter join: documents join only on the shingles in
    their prefixes under the rarest-first order (:func:`_candidates`),
    the candidate pairs that can still qualify are verified with
    ``size(array_intersect)``, and the result equals the all-shingle
    equi-join's — pairs sharing zero shingles never materialize either
    way. A shingle in every document sorts last in each of them, so it
    joins only where a document's prefix reaches its last shingle.
    ``max_shingle_freq`` drops shingles appearing in more than that many
    docs before the join; it changes the result, and the prefix join does
    not need it to keep hot shingles out of the join.
    """
    docs = _shingle_sets(df, id_col, text_col, n, max_shingle_freq,
                         rarest_first=True)
    # Before the in-row verification, drop pairs whose overlap cannot reach
    # the threshold. Shared shingles missed by the prefix join all lie past
    # the prefix of the document whose prefix ends first in the global
    # order, so overlap ≤ (shared prefix shingles) + max(n − p) and
    # ≤ min(n); J ≥ t′ needs overlap·(1 + t′) > t′·(n_a + n_b).
    t = threshold - 1e-6
    a_n, b_n = F.col("n_a"), F.col("n_b")
    bound = F.least(
        F.col("count") + F.greatest(a_n - F.col("p_a"), b_n - F.col("p_b")),
        a_n, b_n)
    pairs = (
        _candidates(docs, threshold)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "n_a", "p_a", "doc_b", "n_b", "p_b").count()
        .filter(bound * (1 + t) > (a_n + b_n) * t)
        .select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    )
    sets = docs.select(F.col("doc_id").alias("id"), F.size("sh").alias("n"),
                       F.col("sh").alias("set"))
    return _jaccard_check(pairs, sets, threshold).withColumnsRenamed(
        {"a": "doc_a", "b": "doc_b"})


def _jaccard_check(
    pairs: DataFrame, sets: DataFrame, threshold: float
) -> DataFrame:
    """(a, b, n_common, jaccard): the candidate pairs ``(a, b)`` whose
    sets share at least one element and have Jaccard ≥ ``threshold``.

    ``sets`` holds one ``(id, n, set)`` row per id: ``n`` is the size the
    Jaccard denominator uses, which may count an element ``set`` cannot
    hold (a NULL turn). ``n_common = size(array_intersect)`` is computed
    in-row after both sides are joined on, once per pair: a one-element
    explode binds it, and Spark keeps a filter on a generated column above
    the generator. Written as a plain column, it is substituted into the
    Jaccard cut that Spark pushes into the join condition, once per use
    (4 calls per pair, not 1). jaccard is rounded to 6 places
    before the cut, so both engines compare the same value. A pair with
    nothing in common (a 32-bit signature collision) has no score."""
    def side(s):
        return sets.select(F.col("id").alias(s), F.col("n").alias(f"n_{s}"),
                           F.col("set").alias(f"set_{s}"))

    n_common = F.col("n_common")
    return (
        pairs.join(side("a"), "a").join(side("b"), "b")
        .select("a", "b", "n_a", "n_b", F.explode(F.array(
            F.size(F.array_intersect("set_a", "set_b")).cast("long"),
        )).alias("n_common"))
        .withColumn("jaccard", F.when(n_common > 0, F.round(
            n_common / (F.col("n_a") + F.col("n_b") - n_common), 6)))
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "n_common", "jaccard")
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    n_bands: int = 8,
) -> DataFrame:
    """(doc_id, band, sig): per-band min over 8-hex-char (32-bit) slices of
    the shingle digest.

    Hash-family economics: one md5 per shingle yields 32 hex chars = four
    independent 32-bit band hashes; bands 4+ draw from a second salted
    digest, so ``n_bands=8`` costs TWO md5 calls per shingle (the former
    shape paid one md5 per (shingle, band) — 8x the digest CPU, which
    profiling showed dominated the whole operator). 32-bit slices keep the
    per-band min collision-safe: P(min_A = min_B | disjoint shingle sets)
    ~ n_shingles/2^31 — negligible; narrower slices (e.g. 16-bit) would
    false-positive at corpus scale because mins concentrate near zero.
    Fixed-width lowercase hex compares lexicographically == numerically.
    """
    # Empty-doc filter: `norm_key(text) != ''` is equivalent to
    # `size(array_remove(word_shingles(text), '')) > 0` (the shingle array
    # is empty iff the normalized text is empty/null) but costs one regex
    # instead of the whole shingle pipeline — the pushed-down size() filter
    # made the optimizer evaluate the full split/slice/join expression tree
    # TWICE per row (once in the Filter, once in the Project), which
    # profiling showed doubled the operator's scan-stage CPU.
    base = parallel_floor(df, id_col).filter(
        norm_key(F.col(text_col)) != ""
    ).select(
        F.col(id_col).alias("doc_id"),
        F.array_remove(word_shingles(F.col(text_col), n), "").alias("_sh"),
    )
    # _hex is its own projection so the digests compute once per shingle,
    # not once per band
    hexes = base.select("doc_id", F.transform("_sh", _digest).alias("_hex"))
    return _band_signatures(hexes, "doc_id", n_bands)


def _digest(s: Column) -> Column:
    """The MinHash digest of one shingle or turn: ``md5(s) || md5('#' ||
    s)``, 64 hex chars, i.e. eight independent 32-bit band slices. NULL
    for a NULL ``s``."""
    return F.concat(F.md5(s), F.md5(F.concat(F.lit("#"), s)))


def _band_signatures(df: DataFrame, key: str, n_bands: int) -> DataFrame:
    """(key, band, sig) from ``df``'s ``(key, _hex)`` rows, ``_hex`` an
    array of :func:`_digest` values: band b's signature is the minimum of
    the digests' b-th 8-hex slice.

    The per-band min is computed NARROW with nested higher-order
    functions over the in-row digest array — no (row x digest x band)
    explode, no groupBy shuffle; only ``n_bands`` signature rows per key
    ever materialize (for the downstream bucket join). A row without a
    digest gets NULL signatures, which join no bucket."""
    assert n_bands <= 8, "widen the digest chain for more than 8 bands"
    band_sigs = F.transform(
        F.sequence(F.lit(0), F.lit(n_bands - 1)),
        lambda b: F.struct(
            b.cast("int").alias("band"),
            F.array_min(
                F.transform(
                    F.col("_hex"),
                    lambda h: F.substring(h, b * 8 + 1, 8),
                )
            ).alias("sig"),
        ),
    )
    return (
        df.select(key, F.explode(band_sigs).alias("_bs"))
        .select(key, F.col("_bs.band").alias("band"),
                F.col("_bs.sig").alias("sig"))
    )


def _bucket_pairs(sigs: DataFrame, key: str) -> DataFrame:
    """(a, b, n_bands_hit): the pairs of ``key`` values (a < b) whose
    ``(key, band, sig)`` rows share at least one (band, sig) bucket, with
    the number of buckets they share."""
    def side(s):
        return sigs.select(F.col(key).alias(s), "band", "sig")

    return (
        side("a").join(side("b"), ["band", "sig"])
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_bands_hit"))
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    n_bands: int = 8,
) -> DataFrame:
    """Candidate near-dup pairs: docs colliding in ≥1 band bucket.

    The signature table is pinned before the self-join: without it each
    side of the join re-runs the whole corpus shingle+digest pass (the
    planner broadcasts one side, so there is no Exchange to reuse), i.e.
    2x the most expensive stage. The pinned frame is n_bands rows/doc of
    (id, int, 8-char hex) — the lightweight proxy, negligible next to the
    corpus it summarizes.
    """
    from waka_spark.plans.pins import pin

    sigs = pin(minhash_signatures(df, id_col, text_col, n, n_bands))
    return _bucket_pairs(sigs, "doc_id").withColumnsRenamed(
        {"a": "doc_a", "b": "doc_b"})


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 16,
) -> DataFrame:
    """(doc_id, simhash): bit-majority fingerprint over 16-bit word hashes
    (md5 leading nibbles → int, engine-portable). Near-dups differ in few
    bits; ``simhash_pairs`` generates those pairs by fingerprint banding."""
    words = parallel_floor(df, id_col).select(
        F.col(id_col).alias("doc_id"),
        F.explode(norm_words(F.col(text_col))).alias("word"),
    ).filter(F.col("word") != "")
    hashed = words.withColumn(
        "h", F.conv(F.substring(F.md5("word"), 1, 4), 16, 10).cast("long")
    )
    # one aggregation with `bits` conditional sums (map-side partials) —
    # NOT an explode per (word, bit), which would shuffle 16x the rows
    tallies = [
        F.sum(
            F.when(F.shiftright("h", i).bitwiseAND(F.lit(1)) == 1, 1)
            .otherwise(-1)
        ).alias(f"_t{i}")
        for i in range(bits)
    ]
    per_doc = hashed.groupBy("doc_id").agg(*tallies)
    fingerprint = None
    for i in range(bits):
        term = F.when(F.col(f"_t{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        fingerprint = term if fingerprint is None else fingerprint + term
    return per_doc.select(
        "doc_id", fingerprint.cast("long").alias("simhash")
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 16,
    n_bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs (doc_a < doc_b, hamming) with fingerprint Hamming
    distance ≤ ``max_hamming``.

    Candidate generation pivots on fingerprint *bands* exactly like the
    MinHash operator above: the ``bits``-bit fingerprint splits into
    ``n_bands`` equal slices, docs colliding on ≥1 slice become candidates,
    and an exact ``bit_count(xor)`` verifies. With
    ``max_hamming < n_bands`` the banding is *lossless* (pigeonhole: ≤
    ``n_bands - 1`` differing bits leave at least one band identical), so
    this is the all-pairs Hamming join without the all-pairs cross join —
    the Manku/Jain/Sarma WWW'07 rotate-and-band scheme expressed as an
    equi-join.
    """
    assert bits % n_bands == 0, "bits must split evenly into bands"
    band_width = bits // n_bands
    mask = (1 << band_width) - 1
    from waka_spark.plans.pins import pin

    # both band-join sides consume the fingerprint table — pin it, or the
    # word-explode + md5 + 16-way tally agg runs once per side (the same
    # duplicate-subtree hazard as minhash_lsh_pairs above)
    fp = pin(simhash(df, id_col, text_col, bits))
    band_keys = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright("simhash", b * band_width)
            .bitwiseAND(F.lit(mask)).alias("key"),
        )
        for b in range(n_bands)
    ])
    tagged = fp.select(
        "doc_id", "simhash", F.explode(band_keys).alias("_b")
    ).select("doc_id", "simhash",
             F.col("_b.band").alias("band"), F.col("_b.key").alias("key"))

    # Salted self-join (round 6): a band key is only ``band_width`` bits
    # wide, so the join has at most n_bands * 2**band_width distinct
    # groups (64 here) — parallelism is capped there regardless of
    # cluster size, and the per-bucket pair enumeration is quadratic in
    # the bucket. Slice the left side by a deterministic doc hash and
    # replicate the right side once per slice (guide-standard hot-key
    # salting): the pair set is unchanged, per-task work drops by
    # n_salt, and the only cost is shuffling the (12-byte-row)
    # fingerprint table n_salt more times. Sized so the scheduler sees
    # ~4 slices per core over the fixed group count — a constant salt
    # either overshoots small runs (pure shuffle overhead) or
    # undershoots big clusters.
    sc = df.sparkSession.sparkContext
    n_groups = n_bands * (1 << band_width)
    n_salt = max(1, -(-4 * sc.defaultParallelism // n_groups))
    a = tagged.select(F.col("doc_id").alias("doc_a"),
                      F.col("simhash").alias("fp_a"), "band", "key",
                      F.pmod(F.xxhash64("doc_id"), F.lit(n_salt))
                      .alias("_salt"))
    b = tagged.select(F.col("doc_id").alias("doc_b"),
                      F.col("simhash").alias("fp_b"), "band", "key")
    b = b.withColumn(
        "_salt", F.explode(F.array(
            *[F.lit(s).cast("long") for s in range(n_salt)])))
    return (
        a.join(b, ["band", "key", "_salt"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn(
            "hamming",
            F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))).cast("int"),
        )
        .filter(F.col("hamming") <= max_hamming)
        # verify-then-dedup: hamming is a pure pair function, so only
        # surviving scalar rows reach the multi-band dedup shuffle
        .groupBy("doc_a", "doc_b")
        .agg(F.max("hamming").alias("hamming"))
    )


def dedup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep-one-copy step: near-dup pairs → clusters → canonical doc.

    ``pairs(doc_a, doc_b)`` from any candidate generator in this module
    become equivalence edges; connected components (plans/unionfind.py)
    give every member the minimum doc id of its cluster, and docs in no
    pair stay singleton clusters.
    Output: one row per input doc — ``(id_col, canonical_id, cluster_size,
    is_canonical)``; filtering ``is_canonical`` materializes the
    deduplicated corpus.

    Scale: the pair set is typically tiny relative to the corpus — within
    the broadcast budget it is solved on the driver, above it components
    converge in O(log diameter) rounds; the full-corpus cost
    is one left join on the id plus one shuffle on ``canonical_id`` for the
    size count.
    """
    return _label(_canonical(df.select(id_col), id_col, pairs), id_col)


def _canonical(ids: DataFrame, key: str, pairs: DataFrame) -> DataFrame:
    """``ids`` plus ``canonical_id``: the minimum id of the connected
    component of ``pairs(doc_a, doc_b)`` that holds ``key``, or ``key``
    itself when no pair does (one left join on ``key``)."""
    from waka_spark.plans.unionfind import connected_components

    comp = connected_components(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    ).withColumnRenamed("node", key)
    return ids.join(comp, key, "left").select(
        *ids.columns,
        F.coalesce("component", F.col(key)).alias("canonical_id"),
    )


def _label(labeled: DataFrame, key: str) -> DataFrame:
    """Adds ``cluster_size`` (rows per ``canonical_id``, one shuffle on it)
    and ``is_canonical`` (``key == canonical_id``) to ``labeled``."""
    return (
        labeled
        .withColumn("cluster_size",
                    F.count("*").over(Window.partitionBy("canonical_id")))
        # int not boolean: engine-portable (value-hash oracles normalize
        # numpy vs Python bools differently)
        .withColumn(
            "is_canonical",
            (F.col(key) == F.col("canonical_id")).cast("int"),
        )
    )


def dedup_pipeline(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    n_bands: int = 8,
) -> DataFrame:
    """Production two-tier dedup: exact collapse → MinHash-LSH near-dup on
    the exact-canonical texts → connected components → keep-one-copy labels
    for EVERY input doc (same output shape as ``dedup_clusters``).

    Why the tiers matter at 100 TB: web/training corpora carry heavy exact
    duplication (mirrors, boilerplate); candidate-pair generators are
    inherently quadratic *within a duplicate group* (a group of k identical
    docs is k(k-1)/2 pairs — that is the answer, not a plan flaw). The
    exact tier collapses those groups with ONE hash-agg on md5(normalized
    text), so the near-dup tier only sees distinct texts and its pair count
    reflects genuine near-duplication. Measured on the 10x-replicated sf1
    bench corpus: raw ``minhash_lsh_pairs`` 704s vs the full two-tier
    pipeline ~linear (each text's copies collapse before signatures are
    ever computed).

    Cluster identity: exact-group keeper = min doc id; component canonical
    = min keeper id — so every doc's ``canonical_id`` is the global min doc
    id of its merged (exact ∪ near-dup) cluster, and exact-dup members
    inherit their keeper's near-dup component. Documents with a NULL text
    form one exact group (their hash is NULL) and keep their rows.
    """
    groups = exact_dedup(df, id_col, text_col)
    keepers = df.join(
        groups.select(F.col("keeper_id").alias(id_col)), id_col, "left_semi"
    )
    pairs = minhash_lsh_pairs(keepers, id_col, text_col, n, n_bands)
    keeper_canon = _canonical(groups, "keeper_id", pairs).select(
        F.col("text_hash").alias("_h"), "canonical_id")
    hashed = df.select(
        F.col(id_col).alias("doc_id"),
        F.md5(norm_key(F.col(text_col))).alias("text_hash"),
    )
    # null-safe: NULL texts hash to NULL and form one exact group, whose
    # members must find it
    return _label(
        hashed.join(keeper_canon, F.col("text_hash").eqNullSafe(F.col("_h")))
        .select("doc_id", "canonical_id"),
        "doc_id",
    ).withColumnRenamed("doc_id", id_col)


def _windows(text: Column, window: int) -> Column:
    """array<struct<pos, whash>>: every stride-1 ``window``-word run of the
    normalized text; none when the text is shorter than ``window``."""
    return with_words(text, lambda words: F.transform(
        word_runs(words, window),
        lambda run, i: F.struct(i.alias("pos"), F.md5(run).alias("whash")),
    ))


def _window_hashes(
    df: DataFrame, id_col: str, text_col: str, window: int
) -> DataFrame:
    """(doc_id, pos, whash): md5 of every stride-1 sliding ``window``-word
    run, tagged with its 0-based start position. Narrow per-row work (one
    transform over the in-row word array) — the explode is the only
    fan-out, ~n_words rows per doc."""
    return (
        parallel_floor(df, id_col)
        .select(F.col(id_col).alias("doc_id"),
                F.explode(_windows(F.col(text_col), window)).alias("_w"))
        .select("doc_id", F.col("_w.pos").alias("pos"),
                F.col("_w.whash").alias("whash"))
    )


def duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 6,
    min_docs: int = 2,
) -> DataFrame:
    """Exact-substring duplicate spans, Lee et al. 2022 style ("Deduplicating
    Training Data Makes Language Models Better"): every ``window``-word run
    occurring in ≥ ``min_docs`` distinct documents marks its word positions
    as duplicated; overlapping marked runs merge into maximal spans.

    The fixed-width sliding window is the shuffle-bounded substitute for
    the paper's suffix array: a duplicated substring of length L ≥ window
    is covered by L - window + 1 colliding windows, so the merged spans
    recover the full duplicated extent (start/end accurate to the word).

    Dataflow: one explode (stride-1 windows) → distinct (doc, hash) →
    hash-agg document frequency → join back → per-doc interval merge via
    one running-max window. No UDFs; the interval merge is the same
    sessionization shape as ``events_sessionize``.

    Output: (doc_id, span_start, span_end, n_words) — word-position spans,
    end exclusive. Reference analog: the per-document ``set()`` dedups
    (kg.py:224-225) are row-level; this is the corpus-level substring form
    a 100 TB pre-training pass needs.
    """
    wins = _window_hashes(df, id_col, text_col, window)
    wdf = (
        wins.select("doc_id", "whash").distinct()
        .groupBy("whash").agg(F.count("*").alias("_n_docs"))
        .filter(F.col("_n_docs") >= min_docs)
        .select("whash")
    )
    dup = wins.join(wdf, "whash").select("doc_id", "pos")

    w_ord = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + window).over(
        w_ord.rowsBetween(Window.unboundedPreceding, -1)
    )
    spans = (
        dup
        .withColumn(
            "_new", F.when(
                prev_end.isNull() | (F.col("pos") > prev_end), 1
            ).otherwise(0),
        )
        .withColumn("_span", F.sum("_new").over(w_ord))
        .groupBy("doc_id", "_span")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + window).alias("span_end"),
        )
    )
    return spans.select(
        "doc_id",
        F.col("span_start").cast("int").alias("span_start"),
        F.col("span_end").cast("int").alias("span_end"),
        (F.col("span_end") - F.col("span_start")).cast("int").alias("n_words"),
    )


def scrub_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 6,
    min_docs: int = 2,
) -> DataFrame:
    """Rebuild each document with its corpus-duplicated spans removed —
    the *apply* half of :func:`duplicate_spans` (Lee et al. 2022 drop the
    duplicated extent from all-but-one occurrence; we drop it everywhere,
    the C4/RefinedWeb boilerplate-removal variant, which keeps the op
    deterministic and order-free at any partitioning).

    Dataflow: duplicate_spans → per-doc covered-position ARRAY via one
    sequence-explode-free groupBy (spans stay intervals; coverage tests
    are ``exists(spans, s -> start <= pos < end)`` over the in-row span
    array) → one left join onto the corpus → narrow per-row rebuild with
    higher-order functions. Docs with no duplicate span pass through with
    a null-join fast path. Output: (doc_id, clean_text, n_words,
    n_removed).
    """
    spans = (
        duplicate_spans(df, id_col, text_col, window, min_docs)
        .groupBy("doc_id")
        .agg(F.collect_list(F.struct("span_start", "span_end")).alias("_spans"))
    )
    covered = lambda pos: F.exists(  # noqa: E731
        F.col("_spans"),
        lambda s: (s["span_start"] <= pos) & (pos < s["span_end"]),
    )

    def rebuild(words: Column) -> Column:
        indexed = F.transform(
            words, lambda w, i: F.struct(i.alias("pos"), w.alias("w"))
        )
        kept = F.when(F.col("_spans").isNull(), indexed).otherwise(
            F.filter(indexed, lambda x: ~covered(x["pos"]))
        )
        return F.struct(
            F.array_join(F.transform(kept, lambda x: x["w"]), " ")
            .alias("clean_text"),
            F.size(words).cast("long").alias("n_words"),
            (F.size(words) - F.size(kept)).cast("long").alias("n_removed"),
        )

    return (
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_t"))
        .join(spans, "doc_id", "left")
        .select("doc_id", with_words(F.col("_t"), rebuild).alias("_r"))
        .select("doc_id", "_r.clean_text", "_r.n_words", "_r.n_removed")
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Shingle-containment near-dup pairs: containment(A→B) =
    |shingles(A) ∩ shingles(B)| / |shingles(A)| — the asymmetric measure
    that catches SUBSET duplication (a doc quoted wholesale inside a
    longer one), which Jaccard suppresses because the union is dominated
    by the longer doc (Broder 1997 distinguishes resemblance vs
    containment for exactly this case).

    Emits one row per unordered pair with BOTH directions' containment;
    kept if either direction ≥ ``threshold``. The shingle equi-join IS the
    candidate generation (zero-overlap pairs never materialize), over the
    same distinct per-document shingle sets and semantic
    ``max_shingle_freq`` filter as :func:`ngram_jaccard_pairs`. It joins on
    every shingle, so a shingle in k documents still emits k² rows: the
    one-sided prefix filter containment admits (a shared shingle lies in
    A's prefix, nothing bounds B's) keeps most of each document at usual
    thresholds and would verify nearly every sharing pair one by one.

    Output: (doc_a, doc_b, n_common, cont_a, cont_b) with doc_a < doc_b;
    cont_a = containment of A in B, cont_b = containment of B in A.
    """
    shingles = _shingle_sets(
        df, id_col, text_col, n, max_shingle_freq, rarest_first=False
    ).select("doc_id", F.size("sh").alias("n"), F.explode("sh").alias("shingle"))

    def side(s):
        return shingles.select(F.col("doc_id").alias(f"doc_{s}"),
                               F.col("n").alias(f"n_{s}"), "shingle")

    return (
        side("a").join(side("b"), "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "n_a", "doc_b", "n_b")
        .agg(F.count("*").alias("n_common"))
        .withColumn("cont_a", F.round(F.col("n_common") / F.col("n_a"), 6))
        .withColumn("cont_b", F.round(F.col("n_common") / F.col("n_b"), 6))
        .filter(
            (F.col("cont_a") >= threshold) | (F.col("cont_b") >= threshold))
        .select("doc_a", "doc_b", "n_common", "cont_a", "cont_b")
    )


def delta_dedup(
    base: DataFrame,
    delta: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental-ingest dedup: flag each DELTA document that duplicates
    the existing BASE corpus — the shape a daily crawl-ingest pipeline
    actually runs (the full-corpus pair generators rebuild everything;
    production dedups the new batch against the standing corpus and only
    periodically re-runs the global pass).

    Two independent signals per delta doc:

    - ``exact_dup``: normalized-text md5 exists in base — a LEFT SEMI
      probe against the base hash set (the base side reduces to distinct
      hashes; no payload moves).
    - ``near_dup``: shares ≥1 MinHash band signature with any base doc —
      the banded LSH collision test (minhash_signatures), again a semi
      join on (band, sig), so candidate *pairs* never materialize: cost
      is delta-size, not delta × base.

    Output: (doc_id, exact_dup, near_dup) for every delta doc.
    """
    base_hashes = base.select(
        F.md5(norm_key(F.col(text_col))).alias("_h")).distinct()
    delta_h = delta.select(
        F.col(id_col).alias("doc_id"),
        F.md5(norm_key(F.col(text_col))).alias("_h"),
    )
    exact = (
        delta_h.join(base_hashes, "_h", "left_semi")
        .select("doc_id").withColumn("_exact", F.lit(True))
    )

    base_sigs = minhash_signatures(
        base, id_col, text_col).select("band", "sig").distinct()
    delta_sigs = minhash_signatures(delta, id_col, text_col)
    near = (
        delta_sigs.join(base_sigs, ["band", "sig"], "left_semi")
        .select("doc_id").distinct().withColumn("_near", F.lit(True))
    )

    return (
        delta.select(F.col(id_col).alias("doc_id"))
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("_exact", F.lit(False)).alias("exact_dup"),
            F.coalesce("_near", F.lit(False)).alias("near_dup"),
        )
    )


def jaccard_threshold_curve(
    df: DataFrame,
    thresholds: tuple = (0.5, 0.7, 0.9),
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Near-dup threshold tuning curve: pair and affected-document
    counts at each candidate Jaccard cut — the number a dedup deployment
    picks its θ against (too low eats distinct documents, too high
    leaves templated near-dups in; this table shows the elbow). Same
    spirit as the ANN recall curves: measure the knob, don't guess it.

    The pair table is computed ONCE at the loosest threshold (by
    :func:`ngram_jaccard_pairs`, whose prefix sized from that threshold
    loses no pair of a stricter cut), then fanned out ×|thresholds| by an
    in-row literal explode — per-θ work is two hash-aggs over the
    (already tiny) pair set, never a re-scan of the corpus.

    Output: (threshold, n_pairs, n_docs) per threshold — one row for
    EVERY requested threshold: cuts with zero qualifying pairs report
    (threshold, 0, 0) rather than silently vanishing from the curve
    (round-3 fix: the aggregates left-join onto the literal threshold
    frame; a tuning curve with holes reads as "forgot to measure").
    """
    pairs = ngram_jaccard_pairs(
        df, threshold=min(thresholds), id_col=id_col, text_col=text_col,
        n=n,
    ).select("doc_a", "doc_b", "jaccard")
    tagged = pairs.select(
        "doc_a", "doc_b", "jaccard",
        F.explode(F.array(*[F.lit(float(t)) for t in thresholds]))
        .alias("threshold"),
    ).filter(F.col("jaccard") >= F.col("threshold"))
    n_pairs = tagged.groupBy("threshold").agg(
        F.count("*").cast("long").alias("n_pairs"))
    n_docs = (
        tagged.select(
            "threshold",
            F.explode(F.array("doc_a", "doc_b")).alias("doc"))
        .distinct()
        .groupBy("threshold")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )
    grid = df.sparkSession.createDataFrame(
        [(float(t),) for t in thresholds], "threshold double")
    return (
        grid.join(n_pairs, "threshold", "left")
        .join(n_docs, "threshold", "left")
        .select(
            "threshold",
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
            F.coalesce("n_docs", F.lit(0)).cast("long").alias("n_docs"),
        )
    )


def minhash_recall(
    df: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    n_bands: int = 8,
    sample_fraction: float | None = None,
    seed: int = 7,
) -> DataFrame:
    """Measured recall of MinHash-LSH candidate generation against the
    exact Jaccard truth — the companion of :func:`jaccard_threshold_curve`
    (which tunes θ) and the dedup twin of ann's ``lsh_recall``/
    ``ivf_recall``: given the banding config actually deployed, what
    fraction of TRUE near-dup pairs (exact Jaccard ≥ θ) collide in at
    least one band bucket? The number that decides whether to add bands
    before a production pass, measured on a sample instead of guessed
    from the S-curve formula (which assumes independent uniform hashes
    the 32-bit md5-slice minhash only approximates).

    Truth side = the prefix-filter join's exact pairs (never all-pairs);
    candidate side = the banded signature join; both are bucketed joins,
    and the final comparison is one left join on the (tiny) true-pair set
    + a single-row aggregate.

    SAMPLING CONTRACT: the truth side is the semantic cost of the
    measurement — an exact-Jaccard shingle join over whatever corpus it
    is given (the most expensive query in the sf0.1 bench). At
    production scale recall is measured on a CORPUS SAMPLE, not the full
    table: pass ``sample_fraction`` (e.g. 0.001 at 10^12 docs) and both
    the truth and candidate sides are computed over the same
    deterministic Bernoulli sample — recall is a per-pair probability,
    so a uniform document sample gives an unbiased estimate with
    ~1/sqrt(n_true_pairs_in_sample) relative error, at the sample's
    quadratic cost instead of the corpus's. ``sample_fraction=None``
    (tests, small corpora) measures exactly.

    Output: one row (threshold, n_true_pairs, n_caught, recall); recall
    is NULL when there are no true pairs (nothing to measure).

    CACHE LIFETIME (round-5 ADVICE / round-6): when ``sample_fraction``
    is set, the pinned sample persists for the session unless this call
    runs inside a ``plans.pins.pin_scope`` (the serve path does) or the
    caller clears it (``spark.catalog.clearCache()``, as bench.py does
    after every query). Long-lived processes issuing many sampled calls
    should wrap each in a ``pin_scope`` — outside one, each call leaks a
    CacheManager entry for the session's lifetime by design (the
    returned frame is lazy, so the pin cannot be released here without
    destroying the one-sample guarantee it exists to provide).
    """
    if sample_fraction is not None:
        # The sample is consumed by TWO lineages (truth + candidate).
        # Bernoulli sampling is deterministic only given a stable
        # per-partition row order; a nondeterministic upstream (e.g. a
        # shuffle) could hand the two sides DIFFERENT samples, biasing
        # measured recall (round-5, ADVICE). Pinning materializes one
        # sample that both sides read.
        from waka_spark.plans.pins import pin

        df = pin(df.sample(fraction=float(sample_fraction), seed=seed))
    truth = ngram_jaccard_pairs(
        df, id_col=id_col, text_col=text_col, n=n, threshold=threshold,
    ).select("doc_a", "doc_b")
    cand = (
        minhash_lsh_pairs(df, id_col=id_col, text_col=text_col, n=n,
                          n_bands=n_bands)
        .select("doc_a", "doc_b")
        .withColumn("_hit", F.lit(1))
    )
    joined = truth.join(cand, ["doc_a", "doc_b"], "left")
    n_caught = F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
    return joined.agg(
        F.lit(float(threshold)).alias("threshold"),
        F.count("*").cast("long").alias("n_true_pairs"),
        n_caught.cast("long").alias("n_caught"),
        F.round(F.try_divide(n_caught, F.count("*")), 6).alias("recall"),
    )
