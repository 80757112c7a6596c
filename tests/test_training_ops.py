"""Dedup family, text stats, ANN, multimodal plumbing — unit level."""

import hashlib
import importlib
import re

import pytest
from pyspark.sql import functions as F


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")


def test_exact_dedup(spark):
    from waka_spark.operators.dedup import exact_dedup

    docs = _docs(spark, ["a b c", "a  B C", "x y z"])  # ws+case normalize
    got = {r.keeper_id: r.n_docs for r in exact_dedup(docs).collect()}
    assert got == {0: 2, 2: 1}


def test_ngram_jaccard(spark):
    from waka_spark.operators.dedup import ngram_jaccard_pairs

    base = "the quick brown fox jumps over the lazy dog again and again"
    near = base + " yes"
    far = "completely different words everywhere nothing shared here at all"
    got = ngram_jaccard_pairs(
        _docs(spark, [base, near, far]), threshold=0.5).collect()
    assert [(r.doc_a, r.doc_b) for r in got] == [(0, 1)]
    assert got[0].jaccard > 0.8


def test_word_shingles_split_once(spark):
    """The text is split once per row, not once per shingle, and the
    shingles are the distinct sliding windows of the normalized words."""
    from waka_spark.operators.dedup import word_shingles

    assert str(word_shingles(F.col("text"), 3)).count("split(") == 1

    def windows(t):
        if t is None:
            return [None]
        w = re.sub(r"\s+", " ", t.strip().lower()).split(" ")
        out = [" ".join(w[i:i + 3]) for i in range(max(len(w) - 3, 0) + 1)]
        return list(dict.fromkeys(out))

    texts = [None, "", "   ", "one", "one two", "a b c", " A  b c a b c d",
             "x y x y x y"]
    got = [r.sh for r in _docs(spark, texts).orderBy("doc_id").select(
        word_shingles(F.col("text"), 3).alias("sh")).collect()]
    assert got == [windows(t) for t in texts]


def _py_words(t):
    # Spark's trim strips spaces only; Java's \s is [ \t\n\x0B\f\r]
    return re.sub(r"[ \t\n\x0b\f\r]+", " ", t.lower().strip(" ")).split(" ")


def _runs(w, k):
    return [" ".join(w[i:i + k]) for i in range(len(w) - k + 1)]


def _md5(s):
    return hashlib.md5(s.encode()).hexdigest()


# (module, builder, args, plain-Python reference over the word list or None)
WORD_WINDOWS = [
    ("dedup", "word_shingles", (3,), lambda w: [None] if w is None else list(
        dict.fromkeys(_runs(w, 3) or [" ".join(w)]))),
    ("curation", "word_ngrams", (3,), lambda w: [] if w is None else [
        g for g in _runs(w, 3) if g]),
    ("curation", "_fixed_chunks", (3,), lambda w: [] if w is None else list(
        dict.fromkeys(c for c in (" ".join(w[i:i + 3])
                                  for i in range(0, len(w), 3)) if c))),
    ("curation", "_sliding_chunks", (3, 2), lambda w: None if w is None else [
        (i, " ".join(w[s:s + 3]), min(len(w) - s, 3))
        for i, s in enumerate(range(0, len(w), 2))]),
    ("dedup", "_windows", (3,), lambda w: [] if w is None else [
        (i, _md5(g)) for i, g in enumerate(_runs(w, 3))]),
    ("textstats", "_bigrams", (), lambda w: None if w is None or len(w) < 2
     else [(a, b) for a, b in zip(w, w[1:]) if a and b]),
    ("textstats", "_kgrams", (3,), lambda w: [] if w is None else [
        (i, g, len(w) - 2) for i, g in enumerate(_runs(w, 3))]),
]


@pytest.mark.parametrize(
    "module,name,args,ref", WORD_WINDOWS, ids=[b[1] for b in WORD_WINDOWS])
def test_word_windows_split_once(spark, module, name, args, ref):
    """Every word-window builder splits the text once per row, not once
    per window, and its windows equal a plain-Python reference on NULL,
    empty, blank, tab-led, tab-ended, shorter-than-window, exact-window
    and repeating texts."""
    build = getattr(importlib.import_module(f"waka_spark.operators.{module}"),
                    name)
    col = build(F.col("text"), *args)
    assert str(col).count("split(") == 1

    texts = [None, "", "   ", "\tA b c", "one", "one two", "a b c",
             " A  b c a b c d", "x y x y x y", "p q r\t"]
    got = [r.w for r in _docs(spark, texts).orderBy("doc_id").select(
        col.alias("w")).collect()]
    assert got == [ref(None if t is None else _py_words(t)) for t in texts]


def test_minhash_lsh_catches_neardups(spark):
    from waka_spark.operators.dedup import minhash_lsh_pairs

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    got = minhash_lsh_pairs(
        _docs(spark, [base, base + " mu", "unrelated totally other words x y z"]),
        n_bands=8,
    ).collect()
    pairs = {(r.doc_a, r.doc_b): r.n_bands_hit for r in got}
    assert (0, 1) in pairs and pairs[(0, 1)] >= 4
    assert (0, 2) not in pairs


def test_simhash_neardup_close(spark):
    from waka_spark.operators.dedup import simhash

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    fp = {r.doc_id: r.simhash for r in simhash(
        _docs(spark, [base, base + " mu", "qq ww ee rr tt yy uu ii oo pp"])
    ).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")
    assert ham(fp[0], fp[1]) <= 4
    assert ham(fp[0], fp[2]) > ham(fp[0], fp[1])


def test_token_counts_and_quality(spark):
    from waka_spark.operators.textstats import quality_scores, token_counts

    docs = _docs(spark, ["The quick fox, it jumps!", "x"])
    tc = {r.doc_id: r for r in token_counts(docs).collect()}
    assert tc[0].ws_tokens == 5
    assert tc[0].bpe_tokens == 7  # 5 words + ',' + '!'
    q = {r.doc_id: r for r in quality_scores(docs).collect()}
    assert q[0].n_words == 5
    assert 0 < q[0].quality_score <= 1
    assert q[0].stop_ratio == 0.4  # 'the', 'it'


def test_lang_id(spark):
    from waka_spark.operators.textstats import lang_id

    docs = _docs(spark, ["the cat is on the mat and it is happy",
                         "zzz qqq www rrr ttt"])
    got = {r.doc_id: r.pred_lang for r in lang_id(docs).collect()}
    assert got == {0: "en", 1: "unk"}


def test_cosine_topk_exact(spark):
    from waka_spark.operators.ann import cosine_topk

    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.9, 0.1, 0.0]),   # closest to 0
            (2, [0.0, 1.0, 0.0]),
            (3, [-1.0, 0.0, 0.0]),  # antipodal
        ],
        "vec_id long, embedding array<double>",
    )
    q = emb.filter("vec_id = 0").select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    got = cosine_topk(emb, q, k=2).collect()
    assert [r.vec_id for r in got] == [1, 2]
    assert got[0].rank == 1 and got[0].cos > 0.99


def test_lsh_ann_same_bucket_for_neardups(spark):
    from waka_spark.operators.ann import hyperplanes, lsh_bucket

    emb = spark.createDataFrame(
        [(0, [1.0] * 8), (1, [0.99] * 8), (2, [-1.0] * 8)],
        "vec_id long, embedding array<double>",
    )
    planes = hyperplanes(spark, dim=8, n_planes=4)
    comps = F.array(*[
        F.lit(r["components"]).cast("array<double>")
        for r in planes.orderBy("plane").collect()
    ])
    got = {r.vec_id: r.b for r in emb.select(
        "vec_id", lsh_bucket(F.col("embedding"), comps).alias("b")).collect()}
    assert got[0] == got[1]      # parallel vectors share every sign
    assert got[0] != got[2]      # antipodal flips every sign


def test_multimodal_plumbing(spark):
    from waka_spark.operators.multimodal import (
        attach_binary_payload,
        decode_image_features,
        sample_frames,
    )

    docs = _docs(spark, ["abcd" * 40, "xy"])
    assets = attach_binary_payload(docs)
    meta = {r.asset_id: r.meta.n_bytes for r in assets.collect()}
    assert meta == {0: 160, 1: 2}

    feats = {r.asset_id: r for r in decode_image_features(assets).collect()}
    assert feats[0].n_bytes == 160
    assert len(feats[0].feature) == 16
    assert abs(sum(feats[0].feature) - 1.0) < 1e-9

    frames = sample_frames(assets, every_n_bytes=64, max_frames=8)
    by_asset = {}
    for r in frames.collect():
        by_asset.setdefault(r.asset_id, []).append(r.frame_len)
    assert by_asset[0] == [64, 64, 32]
    assert by_asset[1] == [2]


def test_transformer_backends_gated(spark):
    """Without torch/transformers the production backends raise a clear
    NotImplementedError (the gate, not a crash)."""
    import pytest

    from waka_spark.operators.transformer_backends import (
        hf_token_classification_ner,
    )

    docs = _docs(spark, ["hello world"]).withColumnRenamed("doc_id", "conv_id")
    df = hf_token_classification_ner(docs.select(
        F.col("conv_id").cast("string"), "text"))
    with pytest.raises(Exception) as exc_info:
        df.collect()
    assert "NotImplementedError" in str(exc_info.value) or \
        isinstance(exc_info.value, NotImplementedError)


def test_embedding_cosine_pairs_within_buckets(spark):
    """Near-dup pairs: parallel vectors pair up; antipodal ones never meet
    (different bucket) even though |cos| is high."""
    from waka_spark.operators.ann import embedding_cosine_pairs

    emb = spark.createDataFrame(
        [(0, [1.0] * 8), (1, [0.98] * 8), (2, [-1.0] * 8), (3, [0.5] * 8)],
        "vec_id long, embedding array<double>",
    )
    got = embedding_cosine_pairs(
        emb, threshold=0.9, n_bands=2, band_planes=2).collect()
    pairs = {(r.id_a, r.id_b) for r in got}
    assert (0, 1) in pairs and (0, 3) in pairs and (1, 3) in pairs
    assert all(2 not in p for p in pairs)
    assert all(r.cos > 0.99 for r in got)
    # multi-band collisions dedup to one row per pair
    assert len(got) == len(pairs)


def test_lsh_bucket_ann_matches_bruteforce_in_bucket(spark):
    """lsh_bucket_ann returns the brute-force ranking restricted to the
    query's shared buckets."""
    from waka_spark.operators.ann import lsh_bucket_ann

    rows = [(i, [1.0 - 0.01 * i] * 8) for i in range(5)] + [(9, [-1.0] * 8)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter("vec_id = 0").select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    got = lsh_bucket_ann(emb, q, n_bands=1, band_planes=3, k=10).collect()
    ids = [r.vec_id for r in got]
    assert set(ids) == {1, 2, 3, 4}  # bucket mates only; 9 is antipodal
    assert all(r.cos > 0.99 for r in got)
    assert [r.rank for r in sorted(got, key=lambda r: r.rank)] == [1, 2, 3, 4]


def test_embedding_bucket_cap_drops_hot_bucket(spark):
    """max_bucket_size excludes oversized buckets from pair generation:
    a 20-vector parallel clique (hot in every band) vanishes, the small
    cluster survives. lsh_bucket_stats reports the occupancy the cap acted
    on."""
    from waka_spark.operators.ann import embedding_cosine_pairs, lsh_bucket_stats

    hot = [(i, [1.0 + 0.001 * i] * 8) for i in range(20)]
    cold = [(100, [-1.0] * 8), (101, [-0.99] * 8)]
    emb = spark.createDataFrame(
        hot + cold, "vec_id long, embedding array<double>")

    uncapped = embedding_cosine_pairs(
        emb, threshold=0.9, n_bands=2, band_planes=2)
    assert uncapped.count() == 20 * 19 // 2 + 1

    capped = embedding_cosine_pairs(
        emb, threshold=0.9, n_bands=2, band_planes=2, max_bucket_size=5)
    pairs = {(r.id_a, r.id_b) for r in capped.collect()}
    assert pairs == {(100, 101)}

    stats = lsh_bucket_stats(emb, n_bands=2, band_planes=2)
    occupancies = sorted(r.n_vectors for r in stats.collect())
    assert occupancies == [2, 2, 20, 20]  # hot bucket visible pre-cap


def test_simhash_pairs_lossless_banding(spark):
    """simhash_pairs equals the brute-force Hamming-<=k pair set: banding
    with max_hamming < n_bands is candidate-lossless (pigeonhole)."""
    from waka_spark.operators.dedup import simhash, simhash_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    fps = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    ids = sorted(fps)
    expect = {
        (a, b, bin(fps[a] ^ fps[b]).count("1"))
        for i, a in enumerate(ids) for b in ids[i + 1:]
        if bin(fps[a] ^ fps[b]).count("1") <= 3
    }
    got = {(r.doc_a, r.doc_b, r.hamming)
           for r in simhash_pairs(docs, n_bands=4, max_hamming=3).collect()}
    assert got == expect
    assert expect, "fixture produced no near-dup pairs; test is vacuous"


def test_ngram_jaccard_skew_guard(spark):
    """Boilerplate shingles shared by >max_shingle_freq docs carry no dedup
    signal and must be dropped before the candidate join."""
    from waka_spark.operators.dedup import ngram_jaccard_pairs

    boiler = "standard header text repeated in every single document here"
    docs = _docs(spark, [f"{boiler} unique tail {i}" for i in range(6)])
    unguarded = ngram_jaccard_pairs(docs, threshold=0.5).collect()
    assert len(unguarded) == 15  # all pairs look similar via boilerplate
    guarded = ngram_jaccard_pairs(
        docs, threshold=0.5, max_shingle_freq=4).collect()
    assert guarded == []  # boilerplate dropped; tails share nothing


def test_dedup_clusters(spark):
    from waka_spark.operators.dedup import dedup_clusters, ngram_jaccard_pairs

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = _docs(spark, [base, base + " yes", base + " no",
                         "completely different words everywhere here"])
    pairs = ngram_jaccard_pairs(docs, threshold=0.5)
    rows = {r.doc_id: r for r in dedup_clusters(docs, pairs).collect()}
    assert len(rows) == 4  # every doc keeps a row
    assert [rows[i].canonical_id for i in range(4)] == [0, 0, 0, 3]
    assert [rows[i].cluster_size for i in range(4)] == [3, 3, 3, 1]
    assert [rows[i].is_canonical for i in range(4)] == [True, False, False, True]


def _reference_overlap(docs, n=3, max_shingle_freq=None):
    """The all-shingle self-join the prefix join replaced, kept here as
    the reference: (doc_a, doc_b, n_common, n_a, n_b) over the distinct
    (doc_id, shingle) rows, for every pair sharing a shingle."""
    from waka_spark.operators.dedup import word_shingles

    s = (
        docs.select("doc_id",
                    F.explode(word_shingles(F.col("text"), n)).alias("shingle"))
        .filter(F.col("shingle") != "")
        .distinct()
    )
    if max_shingle_freq is not None:
        keep = (s.groupBy("shingle").count()
                .filter(F.col("count") <= max_shingle_freq).select("shingle"))
        s = s.join(keep, "shingle")
    sizes = s.groupBy("doc_id").agg(F.count("*").alias("n"))
    inter = (
        s.select(F.col("doc_id").alias("doc_a"), "shingle")
        .join(s.select(F.col("doc_id").alias("doc_b"), "shingle"), "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        inter
        .join(sizes.select(F.col("doc_id").alias("doc_a"),
                           F.col("n").alias("n_a")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"),
                           F.col("n").alias("n_b")), "doc_b")
    )


def _reference_jaccard(docs, threshold, max_shingle_freq=None):
    return (
        _reference_overlap(docs, max_shingle_freq=max_shingle_freq)
        .withColumn("jaccard", F.round(
            F.col("n_common")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_common", "jaccard")
    )


def _reference_containment(docs, threshold, max_shingle_freq=None):
    return (
        _reference_overlap(docs, max_shingle_freq=max_shingle_freq)
        .withColumn("cont_a", F.round(F.col("n_common") / F.col("n_a"), 6))
        .withColumn("cont_b", F.round(F.col("n_common") / F.col("n_b"), 6))
        .filter((F.col("cont_a") >= threshold)
                | (F.col("cont_b") >= threshold))
        .select("doc_a", "doc_b", "n_common", "cont_a", "cont_b")
    )


def _adversarial_docs(spark):
    """The NULL-doc_id row and every document from 5 on share the shingle
    "shared boiler plate"; the rest covers the prefix filter's edges."""
    import random

    rng = random.Random(7)
    vocab = ["ab", "cd", "ef", "gh", "ij", "kl"]
    head = "Shared  boiler plate"
    rows = [
        (None, f"{head} a b c d"),         # NULL doc_id
        (1, None),                          # NULL text
        (2, ""),                            # empty text
        (3, "   "),
        (4, "hi there"),                    # shorter than n words
        (5, f"{head} a b c"),              # 4 shingles ...
        (6, f"{head} a b c d"),            # ... of 6's 5: Jaccard 4/5
        (7, f"{head} q"),                  # 2 shingles ...
        (7, f"{head} q r s"),              # ... doc 7 spans two rows
        (8, f"{head} q r s"),              # 8 equals 7's union: Jaccard 1
        (9, f"{head} Q  R S"),
        (10, f"{head} q"),                 # 10 in 8: Jaccard 2/4
    ]
    for i in range(11, 41):
        words = [rng.choice(vocab) for _ in range(rng.randint(1, 7))]
        rows.append((i, " ".join([head] + words)))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _same(got, want):
    assert [(f.name, f.dataType) for f in got.schema.fields] == [
        (f.name, f.dataType) for f in want.schema.fields]
    assert sorted(got.collect()) == sorted(want.collect())


def test_prefix_join_identical_to_all_shingle_self_join(spark):
    """The prefix-filter join returns the all-shingle self-join's rows and
    schema at the threshold edges, with and without the frequency filter."""
    from waka_spark.operators.dedup import containment_pairs, ngram_jaccard_pairs

    docs = _adversarial_docs(spark).cache()
    for max_freq in (None, 5):
        for t in (0.0, 0.5, 0.8, 1.0):
            got = ngram_jaccard_pairs(docs, threshold=t,
                                      max_shingle_freq=max_freq)
            want = _reference_jaccard(docs, t, max_freq)
            _same(got, want)
            if t == 0.8 and max_freq is None:
                # the exact-threshold pair survives
                assert (5, 6, 4, 0.8) in [tuple(r) for r in got.collect()]
            _same(containment_pairs(docs, threshold=t,
                                    max_shingle_freq=max_freq),
                  _reference_containment(docs, t, max_freq))
    docs.unpersist()


def test_prefix_join_is_linear_in_a_hot_shingle(spark):
    """k documents sharing one shingle and nothing else: the prefix join
    emits rows linear in k, where the all-shingle self-join emits k²."""
    from waka_spark.operators.dedup import (
        _candidates, _shingle_sets, ngram_jaccard_pairs)

    def docs(k):
        return spark.createDataFrame(
            [(i, f"hot shared phrase u{i}a u{i}b u{i}c u{i}d")
             for i in range(k)], "doc_id long, text string")

    def join_rows(k):
        ranked = _shingle_sets(docs(k), "doc_id", "text", 3, None,
                               rarest_first=True)
        return _candidates(ranked, 0.8).count()

    # n = 5 shingles, prefix 2 at 0.8: the two rarest are each document's
    # own, so every prefix row joins only itself — 2k rows, not k²
    assert join_rows(50) == 100
    assert join_rows(200) == 400
    assert _reference_overlap(docs(200)).count() == 200 * 199 // 2
    assert ngram_jaccard_pairs(docs(200), threshold=0.8).count() == 0


def test_jaccard_threshold_curve_matches_reference_join(spark):
    """The curve builds its pairs once at min(thresholds); each cut's
    counts equal the reference join's at that threshold."""
    from waka_spark.operators.dedup import jaccard_threshold_curve

    docs = _adversarial_docs(spark).cache()
    curve = {r.threshold: (r.n_pairs, r.n_docs)
             for r in jaccard_threshold_curve(docs, (0.5, 0.7, 0.9)).collect()}
    for t in (0.5, 0.7, 0.9):
        pairs = _reference_jaccard(docs, t).collect()
        n_docs = len({r.doc_a for r in pairs} | {r.doc_b for r in pairs})
        assert curve[t] == (len(pairs), n_docs)
    assert curve[0.5][0] > curve[0.9][0] > 0
    docs.unpersist()


def test_minhash_recall_sample_fraction(spark):
    """The sampling contract: recall measured on a deterministic
    Bernoulli corpus sample; fraction 1.0 equals the exact measurement,
    and a real fraction cuts the doc set it considers."""
    from waka_spark.operators.dedup import minhash_recall

    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog " + ("x" * (i % 3)))
         for i in range(30)],
        "doc_id long, text string",
    )
    exact = minhash_recall(docs, threshold=0.5).collect()[0]
    full = minhash_recall(docs, threshold=0.5, sample_fraction=1.0).collect()[0]
    assert (exact.n_true_pairs, exact.n_caught) == (
        full.n_true_pairs, full.n_caught)
    assert exact.n_true_pairs > 0
    sampled = minhash_recall(
        docs, threshold=0.5, sample_fraction=0.4, seed=11).collect()[0]
    assert sampled.n_true_pairs < exact.n_true_pairs
    # recall stays a valid probability (NULL only when nothing to measure)
    if sampled.n_true_pairs:
        assert 0.0 <= sampled.recall <= 1.0


def test_dedup_pipeline_two_tier(spark):
    """Exact copies collapse BEFORE near-dup signatures, and exact-dup
    members inherit their keeper's near-dup component."""
    from waka_spark.operators.dedup import dedup_pipeline

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = _docs(spark, [
        base,                 # 0: keeper of the exact group {0, 2}
        base + " yes",        # 1: near-dup of 0 (minhash band collision)
        base,                 # 2: exact copy of 0
        "completely different words everywhere here",  # 3: singleton
    ])
    rows = {r.doc_id: r for r in dedup_pipeline(docs).collect()}
    assert len(rows) == 4
    # 0,1,2 merge: {0,2} exactly, {0,1} by near-dup via keeper 0
    assert [rows[i].canonical_id for i in range(4)] == [0, 0, 0, 3]
    assert [rows[i].cluster_size for i in range(4)] == [3, 3, 3, 1]
    assert [rows[i].is_canonical for i in range(4)] == [1, 0, 0, 1]


def test_dedup_pipeline_keeps_null_text_docs(spark):
    """Every input document gets a row: NULL texts hash to NULL, form one
    exact group with the smallest of their ids as its keeper, and take
    no part in the near-duplicate tier."""
    from waka_spark.operators.dedup import dedup_pipeline

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [(0, base), (1, None), (2, base), (3, None), (4, "other words here"),
         (5, None)],
        "doc_id long, text string")
    rows = {r.doc_id: r for r in dedup_pipeline(docs).collect()}
    assert len(rows) == docs.count()
    assert [rows[i].canonical_id for i in range(6)] == [0, 1, 0, 1, 4, 1]
    assert [rows[i].cluster_size for i in range(6)] == [2, 3, 2, 3, 1, 3]
    assert [rows[i].is_canonical for i in range(6)] == [1, 1, 0, 0, 1, 0]


def test_sparknlp_backend_gated(spark):
    import pytest

    from waka_spark.operators.transformer_backends import sparknlp_ner

    with pytest.raises(NotImplementedError, match="sparknlp"):
        sparknlp_ner(None)


def test_ivf_topk_recall_on_clustered_vectors(spark):
    from waka_spark.operators.ann import (
        cosine_topk, ivf_assign, ivf_centroids, ivf_topk)

    centers = [(1.0, 0.0, 0.0, 0.0), (0.0, 1.0, 0.0, 0.0), (0.0, 0.0, 1.0, 0.0)]
    rows, vid = [], 0
    for _ in range(8):
        for c in centers:
            v = [x + 0.01 * ((vid * 7 + d) % 5) for d, x in enumerate(c)]
            rows.append((vid, v))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.filter("vec_id < 3").selectExpr(
        "vec_id as q_id", "embedding as q_vec")

    # every corpus vector lands in exactly one cell
    assigned = ivf_assign(emb, ivf_centroids(emb, n_cells=3)).collect()
    assert len(assigned) == 24
    assert {r.cell for r in assigned} <= {0, 1, 2}

    # tight clusters + probe-own-cell: IVF top-3 == exact top-3
    ivf = ivf_topk(emb, queries, n_cells=3, n_probe=1, k=3).collect()
    exact = cosine_topk(emb, queries, k=3).collect()
    key = lambda r: (r.q_id, r.rank)
    assert sorted(map(tuple, ivf)) == sorted(map(tuple, exact))
    assert len({key(r) for r in ivf}) == 9


def test_quantize_embeddings(spark):
    """Int8 quantization: max-abs maps to ±127, zero vectors stay zero,
    reconstruction error bounded by scale/2."""
    from waka_spark.operators.ann import quantize_embeddings

    df = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.25, 0.0]), (2, [0.0, 0.0, 0.0, 0.0])],
        "vec_id int, embedding array<float>",
    )
    rows = {r["vec_id"]: r for r in quantize_embeddings(df).collect()}
    q1 = rows[1]
    assert q1["qvec"] == [127, -64, 32, 0]        # 127*0.5=63.5 → HALF_UP 64
    assert abs(q1["scale"] - 1.0 / 127) < 1e-6   # scale is rounded to 6dp
    assert q1["recon_mae"] <= q1["scale"] / 2 + 1e-6
    q2 = rows[2]
    assert q2["qvec"] == [0, 0, 0, 0] and q2["scale"] == 0.0
    assert q2["recon_mae"] == 0.0


def test_tfidf_topk_ranks_discriminative_terms(spark):
    from waka_spark.operators.textstats import tfidf_topk

    docs = spark.createDataFrame(
        [
            (1, "common common common zebra zebra quokka"),
            (2, "common words words words appear everywhere"),
            (3, "common appear appear unrelated filler filler"),
        ],
        "doc_id long, text string",
    )
    out = tfidf_topk(docs, k=2)
    rows = {(r["doc_id"], r["rank"]): r for r in out.collect()}
    # per-doc top-k only
    assert all(r["rank"] <= 2 for r in rows.values())
    # 'common' occurs in every doc -> idf = ln(4/4) = 0 -> never ranks
    # above a doc-specific term
    top1 = rows[(1, 1)]
    assert top1["term"] == "zebra"          # tf=2, df=1 beats quokka tf=1
    assert rows[(1, 2)]["term"] == "quokka"
    assert top1["df"] == 1 and top1["tf"] == 2
    assert rows[(2, 1)]["term"] == "words"


def test_matmul_topk_matches_bruteforce(spark):
    """The GEMM path is a physical rewrite of cosine_topk — answers must be
    identical, including tie-breaks, across many partitions (per-batch
    prune must not lose global winners). The second input has a zero
    corpus vector and a zero query: both paths give them cos NULL,
    ranked last."""
    import random

    from waka_spark.operators.ann import cosine_topk, matmul_topk

    rnd = random.Random(7)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(200)]
    # exact duplicates force cos=1.0 ties -> exercises the tie-break prune
    rows += [(200 + j, list(rows[0][1])) for j in range(6)]
    zero_rows = [(0, [1.0, 0.0]), (1, [0.0, 0.0]), (2, [0.6, 0.8]),
                 (3, [0.0, 1.0])]
    for rows, n_parts, k in ((rows, 16, 7), (zero_rows, 2, 3)):
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        ).repartition(n_parts)
        q = emb.filter("vec_id < 2").selectExpr(
            "vec_id as q_id", "embedding as q_vec")

        want = sorted(
            (r["q_id"], r["rank"], r["vec_id"], r["cos"])
            for r in cosine_topk(emb, q, k=k).collect()
        )
        got = sorted(
            (r["q_id"], r["rank"], r["vec_id"], r["cos"])
            for r in matmul_topk(emb, q, k=k).collect()
        )
        assert got == want
    assert got == [
        (0, 1, 2, 0.6), (0, 2, 3, 0.0), (0, 3, 1, None),
        (1, 1, 0, None), (1, 2, 2, None), (1, 3, 3, None),
    ]


def test_unigram_logprob_ranks_rare_words_higher(spark):
    from math import log

    from waka_spark.operators.textstats import unigram_logprob

    docs = spark.createDataFrame(
        [(1, "the the the the"), (2, "the quokka")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in unigram_logprob(docs).collect()}
    # corpus: the x5, quokka x1, total 6
    assert out[1]["n_tokens"] == 4
    assert abs(out[1]["avg_nll"] - (-log(5 / 6))) < 1e-6
    # doc 2 contains the rare word -> higher mean NLL (more surprising)
    assert out[2]["avg_nll"] > out[1]["avg_nll"]


def test_centroid_cohesion_hand_case(spark):
    """Two labels: one tight (identical vectors, cohesion 1.0), one spread
    (orthogonal unit vectors: centroid [.5,.5], each cos = 1/sqrt(2))."""
    from waka_spark.operators.ann import centroid_cohesion

    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 0),
            (2, [1.0, 0.0], 0),
            (3, [1.0, 0.0], 1),
            (4, [0.0, 1.0], 1),
        ],
        "vec_id long, embedding array<double>, label int",
    )
    got = {r["label"]: (r["n_vecs"], r["avg_cos"])
           for r in centroid_cohesion(emb).collect()}
    assert got[0] == (2, 1.0)
    assert got[1][0] == 2
    assert abs(got[1][1] - 0.707107) < 1e-6


def test_centroid_cohesion_never_explodes_corpus(spark):
    """The corpus must not be exploded/shuffled: only the tiny centroid
    agg exchanges; the join back is broadcast."""
    from waka_spark.operators.ann import centroid_cohesion

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0], 0)], "vec_id long, embedding array<double>, label int"
    )
    plan = (
        centroid_cohesion(emb)._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "Generate" not in plan  # no posexplode of vectors anywhere


def test_typo_pairs_edit_classes(spark):
    """Deletion-neighborhood candidates cover substitution, insertion,
    deletion, and double edits; verify keeps only lev <= max_edit."""
    from waka_spark.operators.textstats import typo_pairs

    docs = spark.createDataFrame(
        [
            (1, "receive recieve"),      # transposition: lev 2
            (2, "spark spark sparks"),   # insertion: lev 1
            (3, "charts charms"),        # substitution: lev 1
            (4, "window winnow zzzzzzz"),  # substitution: lev 1; zzz isolated
        ],
        "doc_id long, text string",
    )
    got = {(r.w1, r.w2): r.dist for r in typo_pairs(docs, max_edit=2).collect()}
    assert got[("receive", "recieve")] == 2
    assert got[("spark", "sparks")] == 1
    assert got[("charms", "charts")] == 1
    assert got[("window", "winnow")] == 1
    assert not any("zzzzzzz" in p for p in got)


def test_typo_pairs_k1_excludes_distance_2(spark):
    from waka_spark.operators.textstats import typo_pairs

    docs = spark.createDataFrame(
        [(1, "receive recieve spark sparks")], "doc_id long, text string")
    got = {(r.w1, r.w2) for r in typo_pairs(docs, max_edit=1).collect()}
    assert got == {("spark", "sparks")}


def test_typo_pairs_candidate_join_is_equi(spark):
    """The candidate join must be a hash join on the deletion variant —
    never a nested-loop over the vocabulary cross product."""
    from waka_spark.operators.textstats import typo_pairs

    docs = spark.createDataFrame([(1, "abcd bcde")], "doc_id long, text string")
    plan = typo_pairs(docs)._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_sample_frames_empty_payload_emits_no_frames(spark):
    """VERDICT #6: sequence(0, -1) is a DESCENDING sequence in Spark —
    zero-byte assets used to emit two phantom frames; now zero rows."""
    from waka_spark.operators.multimodal import sample_frames

    assets = spark.createDataFrame(
        [("a0", bytearray(b"")), ("a1", bytearray(b"x" * 100))],
        "asset_id string, payload binary",
    ).select(
        "asset_id", "payload",
        F.struct(F.octet_length("payload").alias("n_bytes")).alias("meta"),
    )
    rows = sample_frames(assets, every_n_bytes=64).collect()
    by_asset = {}
    for r in rows:
        by_asset.setdefault(r.asset_id, []).append(r)
    assert "a0" not in by_asset          # no phantom frames
    assert len(by_asset["a1"]) == 2      # 100 bytes / stride 64 → 2 frames
    assert sorted(r.frame_idx for r in by_asset["a1"]) == [0, 1]
    assert [r.frame_len for r in sorted(
        by_asset["a1"], key=lambda r: r.frame_idx)] == [64, 36]
