"""Unit tests for mention_salience (linking.py), fact_history
(temporal.py), assistant_hygiene (transcripts.py)."""

import datetime as dt

import pytest
from pyspark.sql import functions as F  # noqa: F401


def test_mention_salience_discounts_late_first_mention(spark):
    from waka_spark.operators.linking import mention_salience

    turns = spark.createDataFrame(
        [
            ("c1", 0, "spark spark join"),
            ("c1", 1, "nothing here"),
            ("c1", 2, "join again join"),
            ("c1", 3, "spark"),
        ],
        "conv_id string, turn_idx int, text string",
    )
    aliases = spark.createDataFrame(
        [("spark", "Q_spark"), ("join", "Q_join")],
        "alias_key string, url string",
    )
    got = {r["url"]: r for r in mention_salience(turns, aliases).collect()}
    s = got["Q_spark"]
    # 3 mentions, first at turn 0 of 0..3 -> full weight
    assert (s["n_mentions"], s["first_turn"], s["n_turns"]) == (3, 0, 2)
    assert s["salience"] == pytest.approx(3 * 4 / 4.0)
    j = got["Q_join"]
    # 3 mentions but first appearance turn 0 (turn 0 has 'join') -> check
    assert (j["n_mentions"], j["first_turn"], j["n_turns"]) == (3, 0, 2)


def test_mention_salience_partial_word_no_match(spark):
    from waka_spark.operators.linking import mention_salience

    turns = spark.createDataFrame(
        [("c1", 0, "sparkle josparkin"), ("c1", 1, "spark")],
        "conv_id string, turn_idx int, text string",
    )
    aliases = spark.createDataFrame(
        [("spark", "Q_spark")], "alias_key string, url string")
    got = mention_salience(turns, aliases).collect()
    assert len(got) == 1
    r = got[0]
    # whole-word equality: 'sparkle' does not count; first_turn is 1
    assert (r["n_mentions"], r["first_turn"]) == (1, 1)
    assert r["salience"] == pytest.approx(1 * (2 - 1) / 2.0)


def test_fact_history_collapses_runs_and_leaves_current_open(spark):
    from waka_spark.operators.temporal import fact_history

    t0 = dt.datetime(2024, 1, 1)

    def ts(h):
        return t0 + dt.timedelta(hours=h)

    facts = spark.createDataFrame(
        [
            ("e1", "p1", "a", ts(0)),
            ("e1", "p1", "a", ts(1)),   # same obj -> no new interval
            ("e1", "p1", "b", ts(2)),   # change -> closes 'a'
            ("e1", "p1", "a", ts(3)),   # back to 'a' -> third interval
            ("e2", "p1", "x", ts(0)),   # other key, single open interval
        ],
        "subj_url string, pred_url string, obj_url string, ts timestamp",
    )
    got = sorted(
        fact_history(facts).collect(),
        key=lambda r: (r["subj"], r["valid_from"]))
    assert [(r["subj"], r["obj"]) for r in got] == [
        ("e1", "a"), ("e1", "b"), ("e1", "a"), ("e2", "x")]
    assert got[0]["valid_from"] == ts(0) and got[0]["valid_to"] == ts(2)
    assert got[1]["valid_to"] == ts(3)
    assert got[2]["valid_to"] is None and got[3]["valid_to"] is None


def test_assistant_hygiene_role_filter_and_rates(spark):
    from waka_spark.operators.transcripts import assistant_hygiene

    t = spark.createDataFrame(
        [
            ("c1", 0, "user", "Sorry about that"),          # ignored: user
            ("c1", 1, "assistant", "SORRY, my mistake."),   # apology (case)
            ("c1", 2, "assistant", "I cannot help with that"),  # refusal
            ("c1", 3, "assistant", "all good"),
            ("c1", 4, "assistant", "Perhaps it seems fine"),    # hedge
        ],
        "conv_id string, turn_idx int, role string, text string",
    )
    r = assistant_hygiene(t).collect()[0]
    assert r["n_assistant"] == 4
    assert (r["n_apology"], r["n_refusal"], r["n_hedge"]) == (1, 1, 1)
    assert r["apology_rate"] == pytest.approx(0.25)
    assert r["refusal_rate"] == pytest.approx(0.25)
    assert r["hedge_rate"] == pytest.approx(0.25)


def test_weighted_pagerank_splits_rank_by_edge_weight(spark):
    from waka_spark.operators.graph import pagerank

    und = [("a", "b", 1.0), ("b", "c", 3.0)]
    edges = spark.createDataFrame(
        und + [(d, s, w) for s, d, w in und],
        "src string, dst string, w double",
    )
    got = {r["node"]: r["rank"] for r in pagerank(
        edges, n_iter=1, weight_col="w").collect()}
    # hand-computed single round, d=0.85: outdeg a=1, b=4, c=3
    assert got["a"] == pytest.approx(0.05 + 0.85 / 12)
    assert got["b"] == pytest.approx(0.05 + 0.85 * 2 / 3)
    assert got["c"] == pytest.approx(0.05 + 0.85 * 0.25)
    assert sum(got.values()) == pytest.approx(1.0)


def test_textrank_drops_zero_similarity_turns(spark):
    from waka_spark.operators.transcripts import textrank_turns

    t = spark.createDataFrame(
        [("c1", 0, "a b"), ("c1", 1, "b c"), ("c1", 2, "x y")],
        "conv_id string, turn_idx int, text string",
    )
    got = {r["turn_idx"]: r["rank"] for r in textrank_turns(
        t, n_iter=2).collect()}
    # jaccard(t0,t1)=1/3 > 0; jaccard(t1,t2)=0 -> t2 isolated, dropped;
    # the remaining symmetric 2-node graph is rank-stable at 1/2 each
    assert set(got) == {0, 1}
    assert got[0] == pytest.approx(0.5) and got[1] == pytest.approx(0.5)


def test_as_of_snapshot_half_open_and_current(spark):
    from waka_spark.operators.temporal import as_of_snapshot, fact_history

    t0 = dt.datetime(2024, 1, 1)

    def ts(h):
        return t0 + dt.timedelta(hours=h)

    facts = spark.createDataFrame(
        [
            ("e1", "p1", "a", ts(0)),
            ("e1", "p1", "b", ts(2)),
            ("e2", "p1", "x", ts(1)),
        ],
        "subj_url string, pred_url string, obj_url string, ts timestamp",
    )
    hist = fact_history(facts)
    # at ts(2): e1's 'a' interval is [0,2) -> excluded (half-open), 'b'
    # starts exactly at 2 -> included; e2's open 'x' interval included
    got = {(r["subj"], r["obj"]) for r in as_of_snapshot(
        hist, ts(2)).collect()}
    assert got == {("e1", "b"), ("e2", "x")}
    # before anything existed
    assert as_of_snapshot(hist, ts(0) - dt.timedelta(hours=1)).count() == 0


def test_adamic_adar_weights_rare_shared_neighbors(spark):
    from waka_spark.operators.graph import adamic_adar, symmetrize
    import math

    # a-y1-b and a-y2-b: y1 has degree 2, y2 degree 3 (extra edge to c);
    # pair (a,b) scores 1/ln2 + 1/ln3; (a,c)/(b,c) share only y2
    und = [("a", "y1"), ("b", "y1"), ("a", "y2"), ("b", "y2"), ("c", "y2")]
    edges = symmetrize(spark.createDataFrame(und, "doc_a string, doc_b string"))
    got = {(r["node_a"], r["node_b"]): r for r in adamic_adar(
        edges, min_common=1).collect()}
    ab = got[("a", "b")]
    assert ab["n_common"] == 2
    assert ab["aa_score"] == pytest.approx(
        round(1 / math.log(2) + 1 / math.log(3), 6))
    assert got[("a", "c")]["aa_score"] == pytest.approx(
        round(1 / math.log(3), 6))
    # y1-y2 share a and b (both degree 2 in the symmetric graph)
    assert got[("y1", "y2")]["n_common"] == 2


def test_personalized_pagerank_concentrates_on_seed_side(spark):
    from waka_spark.operators.graph import personalized_pagerank, symmetrize

    # path a-b-c-d-e, seed at a: the seed dominates, and rank decays
    # with distance among the equal-degree interior nodes b > c > d.
    # (The degree-1 endpoint e is deliberately NOT in the chain: an
    # endpoint accumulates its neighbor's half-split without splitting
    # back, so rank(e) > rank(d) is correct PPR behavior.)
    und = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")]
    edges = symmetrize(spark.createDataFrame(und, "doc_a string, doc_b string"))
    seeds = spark.createDataFrame([("a",), ("zz",)], "node string")  # zz absent
    got = {r["node"]: r["rank"] for r in personalized_pagerank(
        edges, seeds, n_iter=8).collect()}
    assert got["a"] == max(got.values())
    assert got["b"] > got["c"] > got["d"]
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-6)


def test_personalized_pagerank_rejects_disjoint_seeds(spark):
    from waka_spark.operators.graph import personalized_pagerank, symmetrize

    edges = symmetrize(spark.createDataFrame(
        [("a", "b")], "doc_a string, doc_b string"))
    seeds = spark.createDataFrame([("zz",)], "node string")
    with pytest.raises(ValueError, match="no seed"):
        personalized_pagerank(edges, seeds, n_iter=1)


def test_mmr_prefers_diverse_over_duplicate(spark):
    from waka_spark.operators.ann import mmr_topk

    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [1.0, 0.0]),   # exact duplicate of 1
            (3, [0.8, 0.6]),   # less relevant but diverse
        ],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(100, [1.0, 0.0])], "q_id long, q_vec array<double>")
    got = {r["mmr_rank"]: r for r in mmr_topk(
        emb, queries, k=2, n_candidates=3, lam=0.3).collect()}
    # rank 1: relevance tie (1 vs 2) -> smaller vec_id; rank 2: the
    # duplicate scores 0.3*1 - 0.7*1 = -0.4, the diverse vector
    # 0.3*0.8 - 0.7*0.8 = -0.32 -> diversity wins under low lambda
    assert got[1]["vec_id"] == 1
    assert got[2]["vec_id"] == 3
    assert got[2]["mmr_score"] == pytest.approx(-0.32)
    # high lambda flips it: pure relevance keeps the duplicate
    got_hi = {r["mmr_rank"]: r["vec_id"] for r in mmr_topk(
        emb, queries, k=2, n_candidates=3, lam=0.9).collect()}
    assert got_hi[2] == 2


def test_snapshot_diff_added_removed_changed(spark):
    from waka_spark.operators.temporal import fact_history, snapshot_diff

    t0 = dt.datetime(2024, 1, 1)

    def ts(h):
        return t0 + dt.timedelta(hours=h)

    facts = spark.createDataFrame(
        [
            ("e1", "p", "a", ts(0)),   # changed: a -> b
            ("e1", "p", "b", ts(5)),
            ("e2", "p", "x", ts(5)),   # added after t_old
            ("e3", "p", "y", ts(0)),   # unchanged -> excluded
        ],
        "subj_url string, pred_url string, obj_url string, ts timestamp",
    )
    hist = fact_history(facts)
    got = {(r["subj"], r["change"]): r for r in snapshot_diff(
        hist, ts(1), ts(6)).collect()}
    assert set(got) == {("e1", "changed"), ("e2", "added")}
    assert got[("e1", "changed")]["obj_old"] == "a"
    assert got[("e1", "changed")]["obj_new"] == "b"
    assert got[("e2", "added")]["obj_old"] is None
    # reversed direction reports the removal
    rev = {(r["subj"], r["change"]) for r in snapshot_diff(
        hist, ts(6), ts(1)).collect()}
    assert ("e2", "removed") in rev


def test_merge_fact_history_equals_rebuild_append_only(spark):
    from waka_spark.operators.temporal import fact_history, merge_fact_history

    t0 = dt.datetime(2024, 1, 1)

    def ts(h):
        return t0 + dt.timedelta(hours=h)

    schema = "subj_url string, pred_url string, obj_url string, ts timestamp"
    old = spark.createDataFrame(
        [
            ("e1", "p", "a", ts(0)),
            ("e1", "p", "a", ts(1)),   # run-duplicate, collapses
            ("e1", "p", "b", ts(2)),
            ("e2", "p", "x", ts(0)),   # untouched by the delta
        ],
        schema,
    )
    delta = spark.createDataFrame(
        [
            ("e1", "p", "b", ts(3)),   # same obj as current -> no new row
            ("e1", "p", "c", ts(4)),   # change -> closes b, opens c
            ("e3", "p", "z", ts(4)),   # brand-new key
        ],
        schema,
    )
    def key(r):
        return (r["subj"], r["pred"], r["obj"], r["valid_from"],
                r["valid_to"])

    merged = sorted(map(key, merge_fact_history(
        fact_history(old), delta).collect()))
    rebuilt = sorted(map(key, fact_history(
        old.unionByName(delta)).collect()))
    assert merged == rebuilt
    assert ("e1", "p", "c", ts(4), None) in merged
    assert ("e2", "p", "x", ts(0), None) in merged  # passed through


def test_script_profile_classes_and_dominant(spark):
    from waka_spark.operators.textstats import script_profile

    df = spark.createDataFrame(
        [(1, "abcd 12 世界"), (2, "999"), (3, "")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in script_profile(df).collect()}
    r1 = got[1]
    assert r1["n_chars"] == 10
    assert r1["latin_frac"] == pytest.approx(0.4)
    assert r1["digit_frac"] == pytest.approx(0.2)
    assert r1["space_frac"] == pytest.approx(0.2)
    assert r1["other_frac"] == pytest.approx(0.2)  # the two CJK glyphs
    assert r1["dominant"] == "latin"
    assert got[2]["dominant"] == "digit"
    # empty doc: zero fractions, no division error, latin wins the tie
    assert got[3]["n_chars"] == 0 and got[3]["dominant"] == "latin"


def test_vocab_novelty_first_appearance_only(spark):
    from waka_spark.operators.textstats import vocab_novelty

    df = spark.createDataFrame(
        [
            (1, "alpha beta", 0),
            (2, "alpha gamma", 1),   # alpha is old, gamma new
            (3, "beta beta beta", 1),  # beta old (multiplicity ignored)
            (4, "delta", 2),
        ],
        "doc_id long, text string, day int",
    )
    got = {r["day"]: r for r in vocab_novelty(df).collect()}
    assert (got[0]["n_active_words"], got[0]["n_new_words"]) == (2, 2)
    assert (got[1]["n_active_words"], got[1]["n_new_words"]) == (3, 1)
    assert got[1]["novelty"] == pytest.approx(round(1 / 3, 6))
    assert (got[2]["n_active_words"], got[2]["n_new_words"]) == (1, 1)


def test_binary_chunk_dedup_file_and_chunk_levels(spark):
    from waka_spark.operators.multimodal import (
        attach_binary_payload,
        binary_chunk_dedup,
    )

    # doc 1 and 2 identical payloads; doc 3 shares 1's first 4 bytes
    # (one whole chunk at chunk_bytes=4) then diverges; doc 4 disjoint
    docs = spark.createDataFrame(
        [(1, "abcdWXYZ"), (2, "abcdWXYZ"), (3, "abcdQQQQ"), (4, "zzzz")],
        "doc_id long, text string",
    )
    out = {r["asset_id"]: r for r in binary_chunk_dedup(
        attach_binary_payload(docs), chunk_bytes=4).collect()}
    assert out[1]["file_hash"] == out[2]["file_hash"]
    assert out[1]["n_file_copies"] == 2 and out[3]["n_file_copies"] == 1
    # doc 3: chunks 'abcd' (shared with 1/2) + 'QQQQ' (unique)
    assert out[3]["n_chunks"] == 2 and out[3]["n_dup_chunks"] == 1
    assert out[3]["dup_chunk_frac"] == 0.5
    assert out[4]["n_dup_chunks"] == 0
    # identical files: every chunk duplicated
    assert out[1]["dup_chunk_frac"] == 1.0


def test_bootstrap_ci_degenerate_and_ordering(spark):
    from waka_spark.operators.evals import eval_bootstrap_ci

    rows = [(f"c{i}", f"s{j}", "p", f"o{j}")
            for i in range(6) for j in range(3)]
    df = spark.createDataFrame(
        rows, "conv_id string, subj_url string, pred_url string, obj_url string")
    # perfect agreement: every replicate scores exactly 1.0
    perfect = eval_bootstrap_ci(df, df, n_boot=50).collect()[0]
    assert perfect["f1_mean"] == 1.0
    assert perfect["f1_lo"] == 1.0 and perfect["f1_hi"] == 1.0
    # partial agreement: interval brackets the mean, strictly inside (0,1)
    half = df.filter(F.col("subj_url") != "s0")
    r = eval_bootstrap_ci(half, df, n_boot=50).collect()[0]
    assert r["f1_lo"] <= r["f1_mean"] <= r["f1_hi"]
    assert 0.0 < r["recall_lo"] <= r["recall_hi"] < 1.0
    assert r["precision_hi"] == 1.0  # computed is a subset of gold


def test_k_truss_keeps_cliques_drops_bridges(spark):
    from waka_spark.operators.graph import k_truss, symmetrize

    # 4-clique a,b,c,d + bridge d-e + separate triangle x,y,z
    clique = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
              ("c", "d")]
    und = clique + [("d", "e"), ("x", "y"), ("y", "z"), ("x", "z")]
    edges = symmetrize(spark.createDataFrame(und, "doc_a string, doc_b string"))
    # k=4: every clique edge sits in 2 triangles -> kept with support 2;
    # the bridge (0 triangles) and the lone triangle (support 1) drop
    got = {(r["node_a"], r["node_b"]): r["support"]
           for r in k_truss(edges, k=4, n_iter=2).collect()}
    assert set(got) == {tuple(sorted(e)) for e in clique}
    assert all(s == 2 for s in got.values())
    # k=3: the triangle survives too (support >= 1), bridge still drops
    got3 = {(r["node_a"], r["node_b"]) for r in k_truss(
        edges, k=3, n_iter=2).collect()}
    assert ("x", "y") in got3 and ("d", "e") not in got3


def test_time_decayed_sum_halves_per_half_life(spark):
    from waka_spark.operators.temporal import time_decayed_sum

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, 10.0),                             # 2 half-lives old -> x0.25
        (1, t0 + dt.timedelta(days=1), 10.0),      # 1 half-life -> x0.5
        (1, t0 + dt.timedelta(days=2), 10.0),      # at t_last -> x1
        (2, t0, 4.0),                              # single event -> weight 1
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    got = {r["key"]: r for r in time_decayed_sum(
        df, half_life_sec=86400.0).collect()}
    r1 = got[1]
    assert r1["n_events"] == 3
    assert r1["decayed_sum"] == pytest.approx(10 * (0.25 + 0.5 + 1.0))
    assert r1["decayed_avg"] == pytest.approx(10.0)  # constant values
    assert got[2]["decayed_sum"] == pytest.approx(4.0)
    assert got[2]["last_ts_s"] == int(t0.replace(
        tzinfo=dt.timezone.utc).timestamp())


def test_readability_scores_hand_computed(spark):
    from waka_spark.operators.textstats import readability_scores

    df = spark.createDataFrame(
        [(1, "The cat sat. The dog ran!"), (2, "")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in readability_scores(df).collect()}
    r = got[1]
    # 6 words, 2 sentences; syllables: the/cat/sat/the/dog/ran = 1 each
    assert (r["n_sentences"], r["n_words"], r["n_syllables"]) == (2, 6, 1 * 6)
    assert r["words_per_sentence"] == pytest.approx(3.0)
    assert r["syllables_per_word"] == pytest.approx(1.0)
    assert r["flesch"] == pytest.approx(
        round(206.835 - 1.015 * 3 - 84.6 * 1, 4))
    # empty doc: floors keep every denominator alive
    assert got[2]["n_words"] == 1 and got[2]["n_sentences"] == 1


def test_extract_subgraph_both_endpoint_semantics(spark):
    from waka_spark.operators.graph import extract_subgraph, symmetrize

    # path a-b-c-d-e, seed a, 2 hops: reached {a,b,c}; edge c-d drops
    # because d is outside the horizon (both-endpoint rule)
    und = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")]
    edges = symmetrize(spark.createDataFrame(und, "doc_a string, doc_b string"))
    seeds = spark.createDataFrame([("a",)], "node string")
    got = {(r["src"], r["dst"]): (r["src_dist"], r["dst_dist"])
           for r in extract_subgraph(edges, seeds, n_hops=2).collect()}
    assert set(got) == {("a", "b"), ("b", "a"), ("b", "c"), ("c", "b")}
    assert got[("a", "b")] == (0, 1)
    assert got[("b", "c")] == (1, 2)


def test_assistant_echo_rate_role_pairing(spark):
    from waka_spark.operators.transcripts import assistant_echo_rate

    t = spark.createDataFrame(
        [
            ("c1", 0, "user", "alpha beta gamma"),
            ("c1", 1, "assistant", "alpha beta delta"),  # echo 2/3
            ("c1", 2, "assistant", "alpha beta"),  # prev is assistant: skip
            ("c1", 3, "user", "x y"),
            ("c1", 4, "assistant", "p q r s"),           # echo 0/4
        ],
        "conv_id string, turn_idx int, role string, text string",
    )
    r = assistant_echo_rate(t).collect()[0]
    assert r["n_pairs"] == 2
    assert r["mean_echo"] == pytest.approx(round((2 / 3 + 0.0) / 2, 6))
    assert r["max_echo"] == pytest.approx(round(2 / 3, 6))


def test_degree_distribution_log2_bins(spark):
    from waka_spark.operators.graph import degree_distribution, symmetrize

    # star: hub h with 5 leaves -> h degree 5 (bin 2), leaves degree 1
    # (bin 0)
    und = [("h", f"l{i}") for i in range(5)]
    edges = symmetrize(spark.createDataFrame(und, "doc_a string, doc_b string"))
    got = {r["degree_bin"]: r for r in degree_distribution(edges).collect()}
    assert got[0]["n_nodes"] == 5 and got[0]["min_degree"] == 1
    assert got[2]["n_nodes"] == 1 and got[2]["min_degree"] == 4


def test_functional_violations_screens_by_functionality(spark):
    from waka_spark.plans.incremental import functional_violations

    rows = (
        # born_in: functional except s1 (two objects)
        [("s0", "born_in", "c0"), ("s1", "born_in", "c1"),
         ("s1", "born_in", "c9"), ("s2", "born_in", "c2"),
         ("s3", "born_in", "c3"), ("s4", "born_in", "c4"),
         ("s5", "born_in", "c5"), ("s6", "born_in", "c6"),
         ("s7", "born_in", "c7"), ("s8", "born_in", "c8")]
        # likes: wildly multi-valued -> below threshold, never reported
        + [("s0", "likes", f"c{i}") for i in range(5)]
    )
    df = spark.createDataFrame(
        rows, "subj_url string, pred_url string, obj_url string")
    got = functional_violations(df, min_functionality=0.9).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["pred_url"], r["subj_url"], r["n_objects"]) == (
        "born_in", "s1", 2)
    # s0's 5 'likes' objects never surface: the predicate isn't functional


def test_ivf_recall_monotone_in_n_probe(spark):
    import __spark_entry__ as entry

    out = {r["n_probe"]: r for r in entry.q_ann_ivf_recall(
        spark, "/root/testdata/sf0.001").collect()}
    assert set(out) == {1, 4}
    # scanning more cells can only find more of the exact top-k
    assert out[4]["n_hits"] >= out[1]["n_hits"]
    assert 0.0 <= out[1]["recall"] <= out[4]["recall"] <= 1.0
    assert out[4]["n_exact"] == out[1]["n_exact"]


def test_extractive_summary_picks_central_turn(spark):
    from waka_spark.operators.transcripts import extractive_summary

    # hub-shaped vocabulary: turn 1 shares words with both neighbors,
    # turns 0/2 only with turn 1 -> turn 1 is the salience hub
    t = spark.createDataFrame(
        [
            ("c1", 0, "alpha beta"),
            ("c1", 1, "beta gamma"),
            ("c1", 2, "gamma delta"),
        ],
        "conv_id string, turn_idx int, text string",
    )
    got = {r["summary_rank"]: r for r in extractive_summary(
        t, k=2, n_iter=4).collect()}
    assert got[1]["turn_idx"] == 1                 # the hub wins
    assert got[1]["text"] == "beta gamma"
    assert got[2]["turn_idx"] in (0, 2)
    assert got[1]["rank"] > got[2]["rank"]


def test_assortativity_star_is_negative(spark):
    from waka_spark.operators.graph import degree_assortativity, symmetrize

    # star graph: hub (deg 5) only links leaves (deg 1) -> strongly
    # disassortative (r = -1 for a pure star)
    und = [("h", f"l{i}") for i in range(5)]
    star = symmetrize(spark.createDataFrame(und, "doc_a string, doc_b string"))
    r = degree_assortativity(star).collect()[0]
    assert r["n_edges"] == 5
    assert r["assortativity"] == pytest.approx(-1.0)
    # regular graph (cycle): zero degree variance -> undefined, NULL
    cyc = symmetrize(spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "doc_a string, doc_b string"))
    assert degree_assortativity(cyc).collect()[0]["assortativity"] is None


def test_topic_segments_boundary_opens_segment(spark):
    from waka_spark.operators.transcripts import topic_segments

    t = spark.createDataFrame(
        [
            ("c1", 0, "alpha beta gamma"),
            ("c1", 1, "beta gamma delta"),   # cohesive with 0
            ("c1", 2, "zz qq ww"),           # topic shift -> boundary
            ("c1", 3, "qq ww ee"),           # cohesive with 2
        ],
        "conv_id string, turn_idx int, text string",
    )
    got = {r["segment_idx"]: r for r in topic_segments(
        t, boundary_threshold=0.1).collect()}
    assert set(got) == {0, 1}
    s0, s1 = got[0], got[1]
    assert (s0["first_turn"], s0["last_turn"], s0["n_turns"]) == (0, 1, 2)
    assert (s1["first_turn"], s1["last_turn"], s1["n_turns"]) == (2, 3, 2)
    # segment means exclude the NULL first-turn cohesion / the boundary
    # turn's own below-threshold value is INSIDE segment 1's mean
    assert s0["mean_cohesion"] == pytest.approx(0.5)


def test_zipf_fit_near_perfect_on_synthetic_zipf(spark):
    from waka_spark.operators.textstats import zipf_fit

    # build text whose word frequencies follow freq(r) = 60 // r exactly
    words = []
    for r in range(1, 13):
        words += [f"w{r:02d}"] * (60 // r)
    df = spark.createDataFrame([(1, " ".join(words))], "doc_id long, text string")
    out = zipf_fit(df, min_count=2).collect()[0]
    assert out["n_words_ranked"] == 12
    # ln(60//r) vs ln r: slope near -1, strong fit
    assert -1.15 < out["zipf_slope"] < -0.85
    assert out["r2"] > 0.97


def test_reciprocity_counts_mutual_pairs(spark):
    from waka_spark.operators.graph import reciprocity

    e = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("a", "c"), ("c", "d"), ("d", "c")],
        "src string, dst string",
    )
    r = reciprocity(e).collect()[0]
    assert (r["n_edges"], r["n_reciprocal"]) == (5, 4)
    assert r["reciprocity"] == 0.8


def test_collocations_pmi_ranks_exclusive_pair_first(spark):
    import math

    from waka_spark.operators.textstats import collocations

    # "new york" always adjacent and exclusive; "the cat"/"the dog" share
    # the promiscuous "the" -> lower PMI
    text = " ".join(["new york"] * 5 + ["the cat"] * 5 + ["the dog"] * 5)
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = collocations(df, min_count=5, top_k=10).collect()
    by_pair = {(r["word_1"], r["word_2"]): r for r in got}
    ny = by_pair[("new", "york")]
    assert ny["rank"] == 1
    n_tokens = 30
    assert ny["pmi"] == pytest.approx(
        round(math.log(5 * n_tokens / (5 * 5)), 6))
    assert by_pair[("the", "cat")]["pmi"] < ny["pmi"]


def test_jaccard_threshold_curve_monotone(spark):
    from waka_spark.operators.dedup import jaccard_threshold_curve

    base = "alpha beta gamma delta epsilon zeta eta theta"
    df = spark.createDataFrame(
        [
            (1, base),
            (2, base),                               # exact dup: j = 1.0
            (3, base + " extra words here appended"),  # partial overlap
            (4, "totally different text about nothing at all"),
        ],
        "doc_id long, text string",
    )
    got = {r["threshold"]: r for r in jaccard_threshold_curve(
        df, thresholds=(0.5, 0.9)).collect()}
    # counts can only shrink as the cut tightens
    assert got[0.5]["n_pairs"] >= got[0.9]["n_pairs"] >= 1
    assert got[0.5]["n_docs"] >= got[0.9]["n_docs"]
    # the exact-dup pair survives the tightest cut
    assert got[0.9]["n_pairs"] >= 1


def test_modality_mix_byte_shares_sum_to_one(spark):
    from waka_spark.operators.multimodal import (
        attach_binary_payload,
        modality_mix,
    )

    docs = spark.createDataFrame(
        [(1, "aaaa"), (2, "bb"), (3, "cccccc")], "doc_id long, text string")
    assets = attach_binary_payload(docs).withColumn(
        "modality",
        F.when(F.col("asset_id") == 1, "image").otherwise("audio"))
    got = {r["modality"]: r for r in modality_mix(assets).collect()}
    assert got["image"]["total_bytes"] == 4
    assert got["audio"]["total_bytes"] == 8
    assert got["audio"]["mean_bytes"] == 4.0
    assert sum(r["byte_share"] for r in got.values()) == pytest.approx(1.0)


def test_kg_prepare_graph_canonicalizes_endpoints(spark):
    import __spark_entry__ as entry

    out = entry.q_kg_prepare_graph(spark, "/root/testdata/sf0.001").collect()
    assert len(out) > 0
    comps = {r["subj_comp"] for r in out} | {r["obj_comp"] for r in out}
    # canonical ids are component minima -> must be actual entity urls
    assert all(c.startswith("http://example.org/Q_") for c in comps)
    # support is conversation-distinct and positive
    assert all(r["support"] >= 1 and r["n_assertions"] >= r["support"]
               for r in out)


def test_mention_salience_normalizes_tokens_like_linker(spark):
    """Round-3 (ADVICE): tokens normalize with the linking stack's
    norm_key (lowercase) after stripping edge punctuation — 'Spark,'
    matches alias 'spark'; interior chars are untouched ('spark.io'
    stays distinct)."""
    from waka_spark.operators.linking import mention_salience

    turns = spark.createDataFrame(
        [("c1", 0, "Spark, is here"), ("c1", 1, "(SPARK) spark.io")],
        "conv_id string, turn_idx int, text string",
    )
    aliases = spark.createDataFrame(
        [("spark", "Q_spark")], "alias_key string, url string")
    got = mention_salience(turns, aliases).collect()
    assert len(got) == 1
    r = got[0]
    # 'Spark,' (t0) + '(SPARK)' (t1); 'spark.io' strips only EDGE punct
    # -> 'spark.io' != 'spark' so it does not count
    assert (r["n_mentions"], r["first_turn"], r["n_turns"]) == (2, 0, 2)


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
