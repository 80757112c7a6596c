"""context_tail / loss_mask_stats / score_auc / covariance_matrix tests."""

import numpy as np
from pyspark.sql import functions as F


def _tr(spark, rows):
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string")


def test_context_tail_keeps_longest_fitting_suffix(spark):
    from waka_spark.operators.transcripts import context_tail

    rows = [
        ("c1", 0, "user", "a b c d e"),        # 5 tokens — dropped
        ("c1", 1, "assistant", "f g h"),        # 3 — kept (cum 7)
        ("c1", 2, "user", "i j"),               # 2 — kept (cum 4)
        ("c1", 3, "assistant", "k l"),          # 2 — kept (cum 2)
        ("c2", 0, "user", "one"),               # 1 — kept
    ]
    got = {
        (r["conv_id"], r["turn_idx"]): (r["kept"], r["cum_tokens_from_end"])
        for r in context_tail(_tr(spark, rows), token_budget=7).collect()
    }
    assert got[("c1", 3)] == (True, 2)
    assert got[("c1", 2)] == (True, 4)
    assert got[("c1", 1)] == (True, 7)
    assert got[("c1", 0)] == (False, 12)
    assert got[("c2", 0)] == (True, 1)


def test_loss_mask_stats_counts_assistant_only(spark):
    from waka_spark.operators.transcripts import loss_mask_stats

    rows = [
        ("c1", 0, "user", "q q q"),
        ("c1", 1, "assistant", "a a"),
        ("c1", 2, "tool", "t"),
        ("c1", 3, "assistant", "b b b"),
    ]
    r = loss_mask_stats(_tr(spark, rows)).collect()[0]
    assert (r["n_turns"], r["total_tokens"], r["trained_tokens"]) == (4, 9, 5)
    assert r["mask_ratio"] == round(5 / 9, 6)


def test_score_auc_perfect_random_and_ties(spark):
    from waka_spark.operators.curation import score_auc

    perfect = spark.createDataFrame(
        [(0.9, True), (0.8, True), (0.2, False), (0.1, False)],
        "score double, label boolean")
    assert score_auc(perfect).collect()[0]["auc"] == 1.0

    inverted = spark.createDataFrame(
        [(0.1, True), (0.2, True), (0.8, False), (0.9, False)],
        "score double, label boolean")
    assert score_auc(inverted).collect()[0]["auc"] == 0.0

    # all-tied scores: AUC must be exactly 0.5 (midrank convention)
    tied = spark.createDataFrame(
        [(0.5, True), (0.5, False), (0.5, True), (0.5, False)],
        "score double, label boolean")
    assert score_auc(tied).collect()[0]["auc"] == 0.5


def test_score_auc_matches_sklearn_style_pair_count(spark):
    from waka_spark.operators.curation import score_auc

    rows = [(0.3, True), (0.3, False), (0.7, True), (0.1, False),
            (0.9, False), (0.7, True), (0.2, False)]
    df = spark.createDataFrame(rows, "score double, label boolean")
    # brute-force pair counting: P(pos > neg) + 0.5 P(pos == neg)
    pos = [s for s, l in rows if l]
    neg = [s for s, l in rows if not l]
    num = sum(1.0 if p > n else 0.5 if p == n else 0.0
              for p in pos for n in neg)
    expect = round(num / (len(pos) * len(neg)), 6)
    assert score_auc(df).collect()[0]["auc"] == expect


def test_covariance_matches_numpy(spark):
    from waka_spark.operators.ann import covariance_matrix

    rng = [[float((i * 13 + j * 7) % 5) - 2.0 for j in range(4)]
           for i in range(30)]
    emb = spark.createDataFrame(
        [(i, v) for i, v in enumerate(rng)],
        "vec_id long, embedding array<double>")
    got = {(r["i"], r["j"]): r["cov"]
           for r in covariance_matrix(emb, dim=4).collect()}
    m = np.array(rng)
    expect = np.cov(m, rowvar=False, bias=True)
    assert len(got) == 4 * 5 / 2
    for (i, j), v in got.items():
        assert abs(v - expect[i, j]) < 2e-6, (i, j)


def test_task_outcome_pairs(spark):
    from waka_spark.operators.transcripts import task_outcome_pairs

    rows = [
        ("c1", 0, "tool", "banner"),
        ("c1", 1, "user", "please do X"),
        ("c1", 2, "assistant", "working"),
        ("c1", 3, "user", "refine"),
        ("c1", 4, "assistant", "done: X"),
        ("c2", 0, "user", "solo question"),      # no assistant turn
    ]
    got = {r["conv_id"]: r for r in
           task_outcome_pairs(_tr(spark, rows)).collect()}
    assert got["c1"]["task_text"] == "please do X"
    assert got["c1"]["task_turn"] == 1
    assert got["c1"]["outcome_text"] == "done: X"
    assert got["c1"]["outcome_turn"] == 4
    assert got["c1"]["n_turns"] == 5
    assert got["c2"]["outcome_text"] is None
    assert got["c2"]["task_text"] == "solo question"


def test_boilerplate_turns_detects_cross_conv_templates(spark):
    from waka_spark.operators.transcripts import boilerplate_turns

    rows = (
        [(f"c{i}", 0, "tool", "You are  a helpful assistant.")
         for i in range(4)]
        + [(f"c{i}", 1, "user", f"unique question {i}") for i in range(4)]
        + [("c0", 2, "user", "repeated in one conv"),
           ("c0", 3, "user", "repeated in one conv")]
    )
    got = boilerplate_turns(_tr(spark, rows), min_convs=3).collect()
    assert len(got) == 1
    r = got[0]
    # whitespace-normalized surface, all 4 conversations counted
    assert r["text"] == "you are a helpful assistant."
    assert r["n_convs"] == 4 and r["n_occurrences"] == 4


def test_branch_points_finds_shared_prefix_forks(spark):
    from waka_spark.operators.transcripts import branch_points

    rows = [
        # c1 and c2 share turns 0-1, diverge at turn 2
        ("c1", 0, "user", "hello"),
        ("c1", 1, "assistant", "hi there"),
        ("c1", 2, "user", "variant A"),
        ("c2", 0, "user", "Hello "),           # normalizes equal
        ("c2", 1, "assistant", "hi  there"),
        ("c2", 2, "user", "variant B"),
        # c3 shares only turn 0 with nobody (different text)
        ("c3", 0, "user", "unrelated"),
    ]
    got = branch_points(_tr(spark, rows)).collect()
    assert len(got) == 1
    r = got[0]
    # fork is AFTER the shared prefix of turns 0..1
    assert r["turn_idx"] == 1
    assert r["n_convs"] == 2 and r["n_variants"] == 2


def test_response_variants_pairs_divergent_assistant_turns(spark):
    from waka_spark.operators.transcripts import response_variants

    rows = [
        ("c1", 0, "user", "same question"),
        ("c1", 1, "assistant", "answer one"),
        ("c2", 0, "user", "same question"),
        ("c2", 1, "assistant", "answer two"),
        ("c3", 0, "user", "same question"),
        ("c3", 1, "assistant", "answer one"),   # dup of c1's — 2 variants
    ]
    got = response_variants(_tr(spark, rows)).collect()
    assert len(got) == 1
    r = got[0]
    assert r["branch_turn"] == 0
    assert r["n_convs"] == 3 and r["n_variants"] == 2
    assert {r["variant_a"], r["variant_b"]} == {"answer one", "answer two"}


def test_structure_check_flags(spark):
    from waka_spark.operators.transcripts import structure_check

    rows = [
        # valid conversation
        ("ok", 0, "user", "q"),
        ("ok", 1, "assistant", "a"),
        # gap (no turn 1), starts with assistant, empty turn, role repeat
        ("bad", 0, "assistant", "a"),
        ("bad", 2, "assistant", "  "),
    ]
    got = {r["conv_id"]: r for r in
           structure_check(_tr(spark, rows)).collect()}
    assert got["ok"]["valid"] is True
    b = got["bad"]
    assert b["starts_with_user"] is False
    assert b["n_gaps"] == 1
    assert b["n_role_repeats"] == 1
    assert b["n_empty_turns"] == 1
    assert b["valid"] is False


def test_conv_exact_dups_collapses_identical_conversations(spark):
    from waka_spark.operators.transcripts import conv_exact_dups

    rows = [
        ("a", 0, "user", "hello"),
        ("a", 1, "assistant", "world"),
        ("b", 0, "user", "Hello "),       # normalizes equal to a
        ("b", 1, "assistant", "world"),
        ("c", 0, "user", "world"),        # same SET, different ORDER
        ("c", 1, "assistant", "hello"),
        ("d", 0, "user", "unique"),
    ]
    got = {r["conv_id"]: r for r in
           conv_exact_dups(_tr(spark, rows)).collect()}
    assert got["a"]["canonical_conv_id"] == "a" and not got["a"]["is_dup"]
    assert got["b"]["canonical_conv_id"] == "a" and got["b"]["is_dup"]
    assert got["a"]["group_size"] == 2
    # order matters: c is NOT a dup of a/b
    assert got["c"]["canonical_conv_id"] == "c" and not got["c"]["is_dup"]
    assert got["d"]["group_size"] == 1


def test_conv_near_dups_finds_high_jaccard_pairs(spark):
    from waka_spark.operators.transcripts import conv_near_dups

    base = [(f"t{i}", f"turn text number {i}") for i in range(10)]
    rows = [("a", i, "user", txt) for i, (_, txt) in enumerate(base)]
    # b: shares 9 of 10 turns with a (jaccard 9/11 = 0.818)
    rows += [("b", i, "user", txt if i != 5 else "regenerated")
             for i, (_, txt) in enumerate(base)]
    # c: disjoint
    rows += [("c", i, "user", f"other {i}") for i in range(10)]
    got = conv_near_dups(_tr(spark, rows), threshold=0.7).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["conv_a"], r["conv_b"]) == ("a", "b")
    assert r["n_common"] == 9
    assert r["jaccard"] == round(9 / 11, 6)


def test_conv_near_dups_bucket_cap_drops_hot_buckets(spark):
    from waka_spark.operators.transcripts import conv_near_dups

    # 6 single-turn conversations all sharing the SAME text: every band
    # bucket holds all 6 convs. Cap 5 → all buckets dropped → no pairs.
    rows = [(f"c{i}", 0, "user", "identical boilerplate") for i in range(6)]
    assert conv_near_dups(
        _tr(spark, rows), max_bucket_size=5).count() == 0
    # with a big-enough cap the 15 pairs surface (jaccard 1.0)
    assert conv_near_dups(
        _tr(spark, rows), max_bucket_size=6).count() == 15


def test_conv_near_dups_null_or_empty_turn_counts_in_size(spark):
    """A NULL-text turn counts toward its conversation's size but matches
    no turn; an empty-text turn is a turn like any other. Either way
    {x, "solo text a"} vs {"solo text a"} is Jaccard 1/2."""
    from waka_spark.operators.transcripts import conv_near_dups

    for extra in (None, ""):
        rows = [("a", 0, "user", extra), ("a", 1, "user", "solo text a"),
                ("b", 0, "user", "solo text a")]
        got = [tuple(r) for r in
               conv_near_dups(_tr(spark, rows), threshold=0.5).collect()]
        assert got == [("a", "b", 1, 0.5)], extra


def test_assistant_loops_flags_within_conv_repeats(spark):
    from waka_spark.operators.transcripts import assistant_loops

    rows = [
        ("c1", 0, "user", "go"),
        ("c1", 1, "assistant", "I'll try again."),
        ("c1", 2, "assistant", "i'll  try again. "),  # normalizes equal
        ("c1", 3, "assistant", "done"),
        # same text across DIFFERENT convs is not a loop
        ("c2", 0, "assistant", "I'll try again."),
    ]
    got = assistant_loops(_tr(spark, rows), min_repeats=2).collect()
    assert len(got) == 1
    r = got[0]
    assert r["conv_id"] == "c1" and r["n_repeats"] == 2
    assert r["first_turn"] == 1 and r["last_turn"] == 2
    assert r["text"] == "i'll try again."


def test_turn_cohesion_marks_topic_boundaries(spark):
    from waka_spark.operators.transcripts import turn_cohesion

    rows = [
        ("c", 0, "user", "the cat sat"),
        ("c", 1, "assistant", "the cat ran"),   # jaccard 2/4 = 0.5
        ("c", 2, "user", "stocks fell today"),  # jaccard 0 → boundary
    ]
    got = {r["turn_idx"]: r for r in
           turn_cohesion(_tr(spark, rows), 0.1).collect()}
    assert got[0]["cohesion"] is None and got[0]["is_boundary"] is False
    assert got[1]["cohesion"] == 0.5 and got[1]["is_boundary"] is False
    assert got[2]["cohesion"] == 0.0 and got[2]["is_boundary"] is True
    assert got[2]["n_tokens"] == 3


def test_prepare_sft_gates_then_extracts(spark):
    from waka_spark.operators.transcripts import prepare_sft

    rows = [
        # good: survives all gates → 1 pair
        ("good", 0, "user", "question"),
        ("good", 1, "assistant", "answer"),
        # dup of good (normalizes equal): dropped, good is canonical
        ("gooddup", 0, "user", "Question "),
        ("gooddup", 1, "assistant", "answer"),
        # loopy: valid structure but repeated assistant turn
        ("loopy", 0, "user", "q"),
        ("loopy", 1, "assistant", "same"),
        ("loopy", 2, "user", "again?"),
        ("loopy", 3, "assistant", "same"),
        # broken: starts with assistant
        ("broken", 0, "assistant", "hi"),
        ("broken", 1, "user", "q"),
        ("broken", 2, "assistant", "a"),
    ]
    got = prepare_sft(_tr(spark, rows), min_loop_repeats=2).collect()
    assert len(got) == 1
    r = got[0]
    assert r["conv_id"] == "good"
    assert r["prompt_text"] == "question" and r["response_text"] == "answer"


def test_sft_examples_pairs_each_assistant_with_last_user(spark):
    from waka_spark.operators.transcripts import sft_examples

    rows = [
        ("c1", 0, "user", "q1"),
        ("c1", 1, "assistant", "a1"),
        ("c1", 2, "tool", "t"),
        ("c1", 3, "assistant", "a2"),    # still paired with q1
        ("c1", 4, "user", "q2"),
        ("c1", 5, "assistant", "a3"),
        ("c2", 0, "assistant", "orphan"),  # no preceding user
    ]
    got = {(r["conv_id"], r["turn_idx"]): r for r in
           sft_examples(_tr(spark, rows)).collect()}
    assert len(got) == 4
    assert got[("c1", 1)]["prompt_text"] == "q1"
    assert got[("c1", 3)]["prompt_text"] == "q1"
    assert got[("c1", 3)]["prompt_turn"] == 0
    assert got[("c1", 5)]["prompt_text"] == "q2"
    assert got[("c2", 0)]["prompt_text"] is None


def test_structure_check_null_text_is_empty_turn(spark):
    from waka_spark.operators.transcripts import structure_check

    t = spark.createDataFrame(
        [("c", 0, "user", "hi"), ("c", 1, "assistant", None)],
        "conv_id string, turn_idx int, role string, text string")
    r = structure_check(t).collect()[0]
    assert r["n_empty_turns"] == 1 and not r["valid"]


def test_exact_dups_null_turn_distinguishes_conversations(spark):
    """Round-3 (review): a NULL-text turn no longer vanishes from the
    conversation hash — ['hi','x'] and ['hi', NULL, 'x'] are distinct."""
    from waka_spark.operators.transcripts import conv_exact_dups

    t = spark.createDataFrame(
        [("a", 0, "hi"), ("a", 1, "x"),
         ("b", 0, "hi"), ("b", 1, None), ("b", 2, "x")],
        "conv_id string, turn_idx int, text string")
    got = {r["conv_id"]: r for r in conv_exact_dups(t).collect()}
    assert got["a"]["conv_hash"] != got["b"]["conv_hash"]
    assert got["a"]["group_size"] == 1 and got["b"]["group_size"] == 1
