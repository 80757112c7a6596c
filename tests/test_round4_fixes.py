"""Round-4 fixes (VERDICT r3 "Next round" #1-#8): decimal accumulators,
Unicode salience tokens, empty-payload frame sampling, supply-gap mixture
rows, sampled recall."""

import pytest
from pyspark.sql import functions as F


def test_assortativity_accumulates_in_decimal_past_long_range(spark):
    """VERDICT #1: the Pearson sums must ACCUMULATE in decimal(38,0) —
    a 3M-leaf star's Σdx² is 3e6·(3e6)² ≈ 2.7e19 > 2^63, so a LongType
    sum buffer (the round-3 bug: result-side cast) dies with
    ARITHMETIC_OVERFLOW under ANSI mode before any outer cast runs.
    The star's statistic is exactly -1, so correctness is checked too."""
    from waka_spark.operators.graph import degree_assortativity

    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    n = 3_000_000
    edges = spark.range(n).select(
        F.lit("hub").alias("src"),
        F.concat(F.lit("leaf"), F.col("id").cast("string")).alias("dst"),
    )
    r = degree_assortativity(edges).collect()[0]
    assert r["n_edges"] == n
    assert r["assortativity"] == pytest.approx(-1.0)


def test_kcore_zero_degree_survivor_is_reported(spark):
    """ADVICE r3: on a NON-converged run, a survivor whose last-round
    neighbors were all peeled has zero surviving edges — it must appear
    with degree 0, not vanish (the survivor set may not silently shrink
    beyond the documented 'degrees recomputed' semantics). Star x-(p,q)
    at k=2, n_iter=1: x survives round 1 (entering degree 2), p and q
    are peeled, so x's induced degree is 0."""
    from waka_spark.operators.graph import k_core, symmetrize

    edges = symmetrize(spark.createDataFrame(
        [("x", "p"), ("x", "q")], "doc_a string, doc_b string"))
    got = {r["node"]: r["degree"]
           for r in k_core(edges, k=2, n_iter=1).collect()}
    assert got == {"x": 0}


def test_mention_salience_non_latin_tokens_survive(spark):
    """VERDICT #3: edge punctuation is stripped with Unicode classes —
    a fully non-Latin token ("москва", "東京") must keep its letters and
    match a non-Latin alias (ASCII \\w collapsed it to "" and dropped
    every mention on non-Latin corpora)."""
    from waka_spark.operators.linking import mention_salience

    turns = spark.createDataFrame(
        [
            ("c1", 0, "еду в Москва, завтра"),
            ("c1", 1, "поездка (東京) отлично"),
            ("c1", 2, "plain latin tail"),
        ],
        "conv_id string, turn_idx int, text string",
    )
    aliases = spark.createDataFrame(
        [("москва", "Q649"), ("東京", "Q1490")],
        "alias_key string, url string",
    )
    got = {r.url: r for r in mention_salience(turns, aliases).collect()}
    assert set(got) == {"Q649", "Q1490"}
    assert got["Q649"].n_mentions == 1 and got["Q649"].first_turn == 0
    # ("東京") is stripped of both parens despite no ASCII word chars
    assert got["Q1490"].first_turn == 1
    # salience = n * (max_t+1-first) / (max_t+1) with max_t = 2
    assert got["Q649"].salience == pytest.approx(1.0)
    assert got["Q1490"].salience == pytest.approx(2.0 / 3.0, abs=1e-6)


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


def test_mixture_plan_surfaces_missing_target_domain(spark):
    """VERDICT #7: a target domain absent from the corpus appears as a
    (0 docs, 0 tokens, NULL rates) supply-gap row instead of silently
    vanishing from the launch plan."""
    from waka_spark.operators.curation import mixture_plan

    df = spark.createDataFrame(
        [("en", "one two three four"), ("en", "five six"),
         ("de", "eins zwei drei")],
        "lang string, text string",
    )
    plan = {r.domain: r for r in mixture_plan(
        df, weights={"en": 0.5, "de": 0.3, "xx": 0.2}, token_budget=100,
    ).collect()}
    assert set(plan) == {"en", "de", "xx"}
    assert plan["en"].n_tokens == 6 and plan["de"].n_tokens == 3
    gap = plan["xx"]
    assert gap.n_docs == 0 and gap.n_tokens == 0
    assert gap.target_tokens == 20
    assert gap.sampling_rate is None and gap.n_epochs is None
    # supplied domains keep real rates (en target 50 over 6 tokens)
    assert plan["en"].n_epochs == pytest.approx(50 / 6, abs=1e-4)
    assert plan["en"].sampling_rate == 1.0


def test_minhash_recall_sample_fraction(spark):
    """VERDICT #8: the sampling contract — recall measured on a
    deterministic Bernoulli corpus sample; fraction 1.0 equals the exact
    measurement, and a real fraction cuts the doc set it considers."""
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
