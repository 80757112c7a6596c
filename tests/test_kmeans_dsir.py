"""k-means / SemDeDup / DSIR / winnowing operator tests."""

import pytest
from pyspark.sql import functions as F


def _emb(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>")


def test_kmeans_separates_obvious_clusters(spark):
    from waka_spark.operators.ann import kmeans_assign, kmeans_fit

    # two tight direction bundles in 3d; k=2 must put them in
    # different cells and n_vecs must account for every vector
    rows = [
        (0, [1.0, 0.0, 0.05]), (1, [0.9, 0.1, 0.0]), (2, [1.0, 0.05, 0.1]),
        (3, [0.0, 1.0, 0.05]), (4, [0.1, 0.9, 0.0]), (5, [0.0, 1.0, 0.1]),
    ]
    emb = _emb(spark, rows)
    cents = kmeans_fit(emb, k=2, n_iters=2)
    assert cents.count() == 2 * 3  # k x dim rows
    n_by_cell = {
        r["cell"]: r["n_vecs"]
        for r in cents.select("cell", "n_vecs").distinct().collect()
    }
    assert sum(n_by_cell.values()) == 6
    assigned = {
        r["vec_id"]: r["cell"]
        for r in kmeans_assign(emb, cents).collect()
    }
    assert assigned[0] == assigned[1] == assigned[2]
    assert assigned[3] == assigned[4] == assigned[5]
    assert assigned[0] != assigned[3]


def test_kmeans_empty_cell_keeps_previous_centroid(spark):
    from waka_spark.operators.ann import kmeans_fit

    # vec 0 and vec 1 are the two init centroids but every vector
    # (including vec 1) is closer to centroid 0's direction after the
    # first update — cell 1 goes empty and must keep a centroid row
    rows = [
        (0, [1.0, 0.0]), (1, [0.9, 0.44]),
        (2, [1.0, 0.02]), (3, [1.0, 0.03]), (4, [1.0, 0.01]),
    ]
    cents = kmeans_fit(_emb(spark, rows), k=2, n_iters=2)
    cells = {r["cell"] for r in cents.collect()}
    assert cells == {0, 1}
    assert cents.count() == 2 * 2


def test_semantic_dedup_marks_larger_id_of_near_identical(spark):
    from waka_spark.operators.ann import semantic_dedup

    rows = [
        (0, [1.0, 0.0, 0.0]), (1, [1.0, 0.001, 0.0]),   # near-identical
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.0, 1.0]), (4, [0.0, 0.001, 1.0]),   # near-identical
    ]
    got = {
        r["vec_id"]: r["is_dup"]
        for r in semantic_dedup(
            _emb(spark, rows), k=2, n_iters=1, threshold=0.999).collect()
    }
    assert got == {0: False, 1: True, 2: False, 3: False, 4: True}


def test_kmeans_zero_vector_moves_no_centroid(spark):
    """A zero vector has no cell (its cosines are NULL). When it is not
    among the k init ids, it must neither fail the Lloyd loop nor move a
    centroid: the codebook and the cell counts equal the corpus alone's,
    and the operators that train through the loop complete."""
    from waka_spark.operators.ann import (
        kmeans_assign, kmeans_fit, semantic_dedup, simplified_silhouette)

    rows = [
        (0, [1.0, 0.0, 0.05]), (1, [0.9, 0.1, 0.0]), (2, [1.0, 0.05, 0.1]),
        (3, [0.0, 1.0, 0.05]), (4, [0.1, 0.9, 0.0]), (5, [0.0, 1.0, 0.1]),
    ]
    with_zero = _emb(spark, rows + [(6, [0.0, 0.0, 0.0])])
    for n_iters in (1, 2):
        want = sorted(kmeans_fit(_emb(spark, rows), k=2, n_iters=n_iters)
                      .collect())
        got = kmeans_fit(with_zero, k=2, n_iters=n_iters)
        assert sorted(got.collect()) == want
    cells = {r["vec_id"]: r["cell"]
             for r in kmeans_assign(with_zero, got).collect()}
    assert cells[6] is None
    dups = {r["vec_id"]: (r["cell"], r["is_dup"])
            for r in semantic_dedup(
                with_zero, k=2, n_iters=2, threshold=0.999).collect()}
    assert dups[6] == (None, False) and len(dups) == 7
    sil = {r["cell"]: r["n_vecs"]
           for r in simplified_silhouette(with_zero, k=2).collect()}
    assert sil[None] == 1 and sum(sil.values()) == 7


def test_dsir_upweights_target_like_documents(spark):
    from waka_spark.operators.curation import dsir_importance

    # target docs share the bigram vocabulary "good clean data text";
    # raw-only docs live on disjoint bigrams
    docs = spark.createDataFrame(
        [
            (0, "good clean data text good clean", True),
            (1, "clean data text good data text", True),
            (2, "junk spam noise junk spam noise", False),
            (3, "good clean data text clean data", False),  # target-like
            (4, "spam noise junk noise spam junk", False),
        ],
        "doc_id long, text string, is_target boolean",
    )
    got = {
        r["doc_id"]: r["score"]
        for r in dsir_importance(
            docs, target=F.col("is_target"), n_buckets=64).collect()
    }
    assert len(got) == 5
    # the target-like raw doc scores above both spam docs
    assert got[3] > got[2] and got[3] > got[4]
    assert got[0] > got[2]


def test_winnowing_matches_bruteforce_reference(spark):
    from waka_spark.operators.textstats import winnowing_fingerprints

    import hashlib

    texts = [
        (0, "a b c d e f g h i j"),
        (1, "x y z"),                      # exactly one k-gram
        (2, "one two three four five one two three four"),
        (3, "w1 w2"),                      # shorter than one k-gram
    ]
    kgram, window = 3, 4

    def brute(text):
        ws = text.split()
        kgs = [" ".join(ws[i:i + kgram]) for i in range(len(ws) - kgram + 1)]
        hs = [int(hashlib.md5(k.encode()).hexdigest()[:8], 16) for k in kgs]
        n = len(hs)
        if n == 0:
            return set()
        sel = set()
        last = max(n - window, 0)
        for t in range(0, last + 1):
            win = hs[t:t + window]
            m = min(win)
            # rightmost minimum
            pos = t + max(i for i, h in enumerate(win) if h == m)
            sel.add((pos, hs[pos]))
        return sel

    docs = spark.createDataFrame(texts, "doc_id long, text string")
    got = {}
    for r in winnowing_fingerprints(docs, kgram=kgram, window=window).collect():
        got.setdefault(r["doc_id"], set()).add((r["pos"], r["fp_hash"]))

    for doc_id, text in texts:
        assert got.get(doc_id, set()) == brute(text), f"doc {doc_id}"


def test_winnowing_guarantee_every_window_covered(spark):
    """Any window of `window` consecutive k-grams contains >=1 selected
    fingerprint — the MOSS coverage guarantee."""
    from waka_spark.operators.textstats import winnowing_fingerprints

    text = " ".join(f"tok{i % 7}" for i in range(40))
    docs = spark.createDataFrame([(0, text)], "doc_id long, text string")
    sel = {
        r["pos"]
        for r in winnowing_fingerprints(docs, kgram=3, window=4).collect()
    }
    n_kg = 40 - 2
    for t in range(0, n_kg - 4 + 1):
        assert any(p in sel for p in range(t, t + 4)), f"window {t} uncovered"


def test_winnowing_no_nested_loop_join(spark):
    from waka_spark.operators.textstats import winnowing_fingerprints

    docs = spark.createDataFrame(
        [(0, "a b c d e f")], "doc_id long, text string")
    plan = (
        winnowing_fingerprints(docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "NestedLoop" not in plan and "Cartesian" not in plan
