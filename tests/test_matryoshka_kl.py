"""matryoshka_recall / hard_negatives / slice_kl_divergence tests."""

import math


def test_matryoshka_full_dim_recall_is_one(spark):
    from waka_spark.operators.ann import matryoshka_recall

    emb = spark.createDataFrame(
        [(i, [float((i * 7 + j * 3) % 11) for j in range(8)])
         for i in range(20)],
        "vec_id long, embedding array<double>")
    q = emb.filter("vec_id < 2").selectExpr(
        "vec_id as q_id", "embedding as q_vec")
    got = {r["dim"]: r for r in
           matryoshka_recall(emb, q, dims=(4, 8), k=3).collect()}
    assert got[8]["avg_recall"] == 1.0      # no truncation => identical
    assert got[8]["n_queries"] == 2
    assert 0.0 <= got[4]["avg_recall"] <= 1.0


def test_hard_negatives_excludes_same_label(spark):
    from waka_spark.operators.ann import hard_negatives

    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0], 0),
            (1, [0.99, 0.1], 0),   # same label as query — excluded
            (2, [0.98, 0.2], 1),   # closest cross-label
            (3, [0.0, 1.0], 1),
            (4, [0.5, 0.5], 2),
        ],
        "vec_id long, embedding array<double>, label int")
    q = emb.filter("vec_id = 0").selectExpr(
        "vec_id as q_id", "embedding as q_vec", "label as q_label")
    rows = hard_negatives(emb, q, k=3).orderBy("rank").collect()
    assert [r["vec_id"] for r in rows] == [2, 4, 3]
    assert all(r["neg_label"] != 0 for r in rows)


def test_hard_negatives_is_cosine_topk_without_query_label(spark):
    """hard_negatives == cosine_topk over the corpus minus each query's
    label, rank for rank, on random vectors with exact duplicates (cos
    ties across labels, broken by vec_id)."""
    import random

    from waka_spark.operators.ann import cosine_topk, hard_negatives

    rnd = random.Random(5)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(6)], i % 3)
            for i in range(60)]
    rows += [(60 + j, list(rows[0][1]), j % 3) for j in range(5)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    ).repartition(5)
    q = emb.filter("vec_id < 3").selectExpr(
        "vec_id as q_id", "embedding as q_vec", "label as q_label")
    got = sorted(
        (r["q_id"], r["rank"], r["vec_id"], r["cos"], r["neg_label"])
        for r in hard_negatives(emb, q, k=6).collect())
    labels = {i: lab for i, _, lab in rows}
    want = []
    for q_id in range(3):
        corpus = emb.filter(emb.label != labels[q_id])
        want += [
            (r["q_id"], r["rank"], r["vec_id"], r["cos"], labels[r["vec_id"]])
            for r in cosine_topk(
                corpus, q.filter(q.q_id == q_id).select("q_id", "q_vec"),
                k=6).collect()
        ]
    assert got == sorted(want)
    assert len(got) == 18


def test_slice_kl_zero_for_identical_slices_positive_for_skewed(spark):
    from waka_spark.operators.textstats import slice_kl_divergence

    # slices 'a' and 'b' have identical word distributions; 'c' disjoint
    docs = spark.createDataFrame(
        [
            (0, "x y z x y z", "a"),
            (1, "x y z x y z", "b"),
            (2, "q r s q r s", "c"),
        ],
        "doc_id long, text string, lang string")
    got = {r["slice"]: r for r in
           slice_kl_divergence(docs, n_buckets=32).collect()}
    assert got["a"]["n_tokens"] == 6
    assert got["a"]["kl"] == got["b"]["kl"]
    # the disjoint slice diverges more than the majority-pattern slices
    assert got["c"]["kl"] > got["a"]["kl"] > 0
    for r in got.values():           # KL is non-negative
        assert r["kl"] >= 0


def test_slice_kl_matches_hand_computation(spark):
    from waka_spark.operators.textstats import slice_kl_divergence

    docs = spark.createDataFrame(
        [(0, "x x", "a"), (1, "y y", "b")],
        "doc_id long, text string, lang string")
    B, alpha = 4, 1.0
    import hashlib

    def bucket(w):
        return int(hashlib.md5(w.encode()).hexdigest()[:8], 16) % B

    bx, by = bucket("x"), bucket("y")
    # corpus: 2 x in bx, 2 y in by (possibly same bucket)
    corpus = {}
    corpus[bx] = corpus.get(bx, 0) + 2
    corpus[by] = corpus.get(by, 0) + 2
    n_corpus = 4

    def kl(slice_counts, n_slice):
        tot = 0.0
        for b in range(B):  # full smoothed support, not just observed
            p = (slice_counts.get(b, 0) + alpha) / (n_slice + alpha * B)
            q = (corpus.get(b, 0) + alpha) / (n_corpus + alpha * B)
            tot += p * math.log(p / q)
        return round(tot, 6)

    got = {r["slice"]: r["kl"] for r in
           slice_kl_divergence(docs, n_buckets=B).collect()}
    assert abs(got["a"] - kl({bx: 2}, 2)) < 2e-6
    assert abs(got["b"] - kl({by: 2}, 2)) < 2e-6
