"""pq_encode / mad_outliers tests."""

import datetime


def test_pq_codes_and_reconstruction(spark):
    from waka_spark.operators.ann import pq_encode

    # two tight direction bundles per subspace: vectors 0-2 vs 3-5
    rows = [
        (0, [1.0, 0.0, 0.0, 1.0]), (1, [0.99, 0.01, 0.02, 0.98]),
        (2, [1.0, 0.02, 0.01, 1.0]),
        (3, [0.0, 1.0, 1.0, 0.0]), (4, [0.01, 0.99, 0.98, 0.02]),
        (5, [0.0, 1.0, 1.0, 0.01]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r["vec_id"]: (list(r["code"]), r["recon_mse"])
           for r in pq_encode(emb, m=2, k=2, n_iters=2).collect()}
    assert len(got) == 6
    assert all(len(c) == 2 for c, _ in got.values())
    # bundle members share codes; the two bundles differ
    assert got[0][0] == got[1][0] == got[2][0]
    assert got[3][0] == got[4][0] == got[5][0]
    assert got[0][0] != got[3][0]
    # tight bundles reconstruct well
    assert all(mse < 0.01 for _, mse in got.values())


def test_pq_identical_vectors_zero_error(spark):
    from waka_spark.operators.ann import pq_encode

    emb = spark.createDataFrame(
        [(i, [2.0, -1.0, 0.5, 3.0]) for i in range(5)],
        "vec_id long, embedding array<double>")
    rows = pq_encode(emb, m=2, k=2, n_iters=1).collect()
    assert all(r["recon_mse"] == 0.0 for r in rows)


def test_mad_outliers_flags_spike_not_masked_by_it(spark):
    from waka_spark.operators.temporal import mad_outliers

    t = datetime.datetime(2024, 1, 1)
    # 9 values near 10, one absurd spike; the spike must be flagged and
    # must not drag the center (which a mean/stddev screen would allow)
    vals = [9.0, 9.5, 10.0, 10.0, 10.0, 10.5, 11.0, 9.8, 10.2, 1000.0]
    events = spark.createDataFrame(
        [(i, t, 1, "click", v) for i, v in enumerate(vals)],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double")
    flagged = mad_outliers(events, threshold=3.0).collect()
    assert [r["id"] for r in flagged] == [9]
    assert flagged[0]["med"] == 10.0
    assert flagged[0]["dev_ratio"] > 100


def test_mad_zero_mad_degeneracy_kept_with_null_ratio(spark):
    from waka_spark.operators.temporal import mad_outliers

    t = datetime.datetime(2024, 1, 1)
    vals = [5.0] * 6 + [7.0]     # MAD = 0, the 7.0 deviates
    events = spark.createDataFrame(
        [(i, t, 1, "view", v) for i, v in enumerate(vals)],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double")
    flagged = mad_outliers(events).collect()
    assert [r["id"] for r in flagged] == [6]
    assert flagged[0]["dev_ratio"] is None
    assert flagged[0]["mad"] == 0.0


def test_pq_adc_matches_exact_on_separable_data(spark):
    from waka_spark.operators.ann import pq_adc_topk

    # 12 vectors in 4d, two subspaces; candidates cover the whole corpus
    # so ADC prune cannot drop the true top-k -> result == exact L2 top-k
    rows = [(i, [float((i * 3) % 5), float((i + 1) % 7),
                 float((i * 2 + 3) % 4), float(i % 3)])
            for i in range(12)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter("vec_id < 2").selectExpr(
        "vec_id as q_id", "embedding as q_vec")
    got = pq_adc_topk(emb, q, m=2, k=4, n_iters=2,
                      n_candidates=12, topk=3).collect()

    import numpy as np
    vecs = {i: np.array(v) for i, v in rows}
    for q_id in (0, 1):
        dists = sorted(
            (round(float(((vecs[q_id] - vecs[i]) ** 2).sum()), 6), i)
            for i in vecs if i != q_id)
        expect = [i for _, i in dists[:3]]
        mine = [r["vec_id"] for r in sorted(
            (r for r in got if r["q_id"] == q_id), key=lambda r: r["rank"])]
        assert mine == expect, q_id


def test_pq_codebook_is_kmeans_fit_per_subspace(spark):
    """Subspace s of a PQ build is kmeans_fit over the s-th slice: the
    codes are kmeans_assign's cells against that codebook, and recon_mse
    is the squared error to its centroids. Vectors 0 and 1 share their
    first slice, so cell 1 of subspace 0 starts as a copy of cell 0 and
    the first iteration leaves it empty (ties go to the lowest cell);
    vector 2's second slice [1, 1] ties between the init centroids
    [1, 0] and [0, 1]."""
    from pyspark.sql import functions as F

    from waka_spark.operators.ann import kmeans_assign, kmeans_fit, pq_encode

    rows = [
        (0, [1.0, 0.0, 1.0, 0.0]), (1, [1.0, 0.0, 0.0, 1.0]),
        (2, [1.0, 1.0, 1.0, 1.0]), (3, [0.2, 1.0, 0.0, 1.0]),
        (4, [1.0, 0.1, 0.3, 1.0]), (5, [0.5, 0.5, 2.0, 0.0]),
        (6, [0.5, 0.5, 1.0, 1.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    for n_iters in (1, 3):
        got = {r["vec_id"]: (list(r["code"]), r["recon_mse"])
               for r in pq_encode(emb, m=2, k=2, n_iters=n_iters).collect()}
        codes: dict[int, list[int]] = {i: [] for i, _ in rows}
        err = {i: 0.0 for i, _ in rows}
        for s in range(2):
            piece = emb.select(
                "vec_id", F.slice("embedding", 2 * s + 1, 2).alias("embedding"))
            cents = kmeans_fit(piece, k=2, n_iters=n_iters)
            book = {}
            for r in cents.collect():
                book.setdefault(r["cell"], [0.0, 0.0])[r["dim_idx"]] = (
                    r["centroid_val"])
            if s == 0 and n_iters == 1:
                assert {r["cell"]: r["n_vecs"] for r in cents.collect()}[1] == 0
            for r in kmeans_assign(piece, cents).collect():
                codes[r["vec_id"]].append(r["cell"])
                err[r["vec_id"]] += sum(
                    (x - c) ** 2
                    for x, c in zip(r["embedding"], book[r["cell"]]))
        assert codes[2][1] == 0
        assert {i: c for i, (c, _) in got.items()} == codes
        for i, (_, mse) in got.items():
            assert abs(mse - err[i] / 4) < 1.5e-6, (n_iters, i)


def test_pq_zero_vector_moves_no_centroid(spark):
    """A zero vector (not among the init ids) has no cell in either
    subspace: the build completes, its code is NULL, and every other
    vector codes exactly as without it. A zero sub-slice gets NULL in
    that subspace only."""
    from waka_spark.operators.ann import pq_adc_topk, pq_encode

    rows = [(i, [float((i * 3) % 5), float((i + 1) % 7),
                 float((i * 2 + 3) % 4), float(i % 3) + 1.0])
            for i in range(12)]
    schema = "vec_id long, embedding array<double>"

    def codes(extra):
        emb = spark.createDataFrame(rows + extra, schema)
        return {r["vec_id"]: (r["code"], r["recon_mse"])
                for r in pq_encode(emb, m=2, k=3, n_iters=2).collect()}

    base = codes([])
    got = codes([(99, [0.0] * 4)])
    assert got.pop(99) == ([None, None], None)
    assert got == base
    got = codes([(98, [0.0, 0.0, 1.0, 2.0])])
    assert got[98][0][0] is None and got[98][0][1] is not None

    emb = spark.createDataFrame(rows + [(99, [0.0] * 4)], schema)
    q = emb.filter("vec_id < 2").selectExpr(
        "vec_id as q_id", "embedding as q_vec")
    assert pq_adc_topk(emb, q, m=2, k=3, n_iters=2,
                       n_candidates=6, topk=3).count() == 6

    # the zero vector's NULL ADC distance ranks last: it takes no
    # candidate slot, so the search returns what it returns without it
    def adc(extra):
        emb = spark.createDataFrame(rows + extra, schema)
        q = emb.filter("vec_id < 2").selectExpr(
            "vec_id as q_id", "embedding as q_vec")
        return sorted(tuple(r) for r in pq_adc_topk(
            emb, q, m=2, k=3, n_iters=2, n_candidates=3, topk=3).collect())

    assert adc([(99, [0.0] * 4)]) == adc([])
