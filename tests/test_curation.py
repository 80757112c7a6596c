"""Curation operators (operators/curation.py): PII scrub, Gopher-rule
repetition stats, benchmark contamination, fixed-chunk substring dedup.

These are the pre-tokenization corpus filters layered on the dedup/
textstats families; semantics follow Rae et al. (Gopher, §A1.1) and
Lee et al. ("Deduplicating Training Data Makes Language Models Better").
"""

import pyspark.sql.functions as F
import pytest

from waka_spark.operators.curation import (
    chunk_dedup,
    contamination_check,
    pii_scrub,
    repetition_stats,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "write to bob@example.com or 10.0.0.1 call +1 555 0100 now"),
        (2, "the the the the cat"),
        (3, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (4, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (5, "one two three four five unique tail words here now"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_pii_scrub_counts_and_redacts(docs):
    out = {r["doc_id"]: r for r in pii_scrub(docs).collect()}
    r1 = out[1]
    assert (r1["n_emails"], r1["n_ipv4"], r1["n_phones"]) == (1, 1, 1)
    assert "<EMAIL>" in r1["clean_text"]
    assert "<IP>" in r1["clean_text"]
    assert "<PHONE>" in r1["clean_text"]
    assert "bob@example.com" not in r1["clean_text"]
    # clean rows untouched
    r3 = out[3]
    assert (r3["n_emails"], r3["n_ipv4"], r3["n_phones"]) == (0, 0, 0)
    assert r3["clean_text"] == "alpha beta gamma delta epsilon zeta eta theta iota kappa"


def test_repetition_stats(docs):
    out = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    r2 = out[2]  # "the the the the cat": 5 words, 2 distinct, top=4
    assert r2["n_words"] == 5
    assert r2["top_word_frac"] == pytest.approx(0.8)
    assert r2["dup_word_frac"] == pytest.approx(0.6)
    # bigrams: "the the" x3, "the cat" -> 4 bigrams, 2 distinct
    assert r2["dup_bigram_frac"] == pytest.approx(0.5)
    r3 = out[3]  # all distinct
    assert r3["dup_word_frac"] == 0.0
    assert r3["dup_bigram_frac"] == 0.0


def test_contamination_check_broadcast(docs):
    corpus = docs.filter(F.col("doc_id") != 4)
    benchmark = docs.filter(F.col("doc_id") == 4)
    out = {r["doc_id"]: r for r in
           contamination_check(corpus, benchmark, n=3).collect()}
    assert set(out) == {1, 2, 3, 5}  # every corpus doc reported
    assert out[3]["contaminated"] == 1  # doc 3 == benchmark doc 4
    assert out[3]["n_hits"] == 8  # 10 words -> 8 trigrams, all shared
    assert out[1]["contaminated"] == 0
    assert out[5]["contaminated"] == 0
    # the benchmark side must be a broadcast probe, not a shuffle join
    plan = contamination_check(corpus, benchmark, n=3)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_chunk_dedup(docs):
    out = {r["doc_id"]: r for r in
           chunk_dedup(docs, chunk_words=5).collect()}
    # docs 3 and 4 are identical 10-word texts -> both 5-word chunks shared
    for d in (3, 4):
        assert out[d]["n_chunks"] == 2
        assert out[d]["n_dup_chunks"] == 2
        assert out[d]["dup_chunk_frac"] == pytest.approx(1.0)
    assert out[5]["n_dup_chunks"] == 0


def test_split_by_hash_deterministic_and_partitioned(spark):
    from waka_spark.operators.curation import split_by_hash

    docs = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    out = split_by_hash(docs).collect()
    assert len(out) == 2000
    by_split = {}
    for r in out:
        by_split.setdefault(r["split"], set()).add(r["doc_id"])
    # roughly 90/5/5 (hash-uniform; loose bounds)
    assert 1700 < len(by_split["train"]) < 1900
    assert 40 < len(by_split["val"]) < 180
    assert 40 < len(by_split["test"]) < 180
    # deterministic: same assignment on re-run
    again = {r["doc_id"]: r["split"] for r in split_by_hash(docs).collect()}
    for split, ids in by_split.items():
        assert all(again[i] == split for i in ids)


def test_pack_sequences_contiguous_offsets(spark):
    from waka_spark.operators.curation import pack_sequences

    rows = [(i, " ".join(["w"] * (10 + i % 7))) for i in range(200)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = pack_sequences(docs, budget=64, n_buckets=4).collect()
    assert len(out) == 200
    by_bucket = {}
    for r in out:
        by_bucket.setdefault(r["bucket"], []).append(r)
    assert set(by_bucket) == {0, 1, 2, 3}
    for bucket, docs_in in by_bucket.items():
        docs_in.sort(key=lambda r: r["doc_id"])
        offset = 0
        for r in docs_in:  # offsets form one contiguous token stream
            assert r["start_offset"] == offset
            assert r["seq_idx"] == offset // 64
            offset += r["n_tokens"]


def test_stratified_sample_rates_and_determinism(spark):
    from waka_spark.operators.curation import stratified_sample

    rows = [(i, "en" if i % 4 else "de") for i in range(4000)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string")
    out = stratified_sample(docs, "lang", {"en": 0.25}).collect()

    by_stratum = {}
    for r in out:
        by_stratum.setdefault(r["stratum"], []).append(r)
    # non-listed strata keep everything (default_rate=1.0)
    assert len(by_stratum["de"]) == 1000
    # en kept ~25% (md5 is uniform; 3000 draws -> generous tolerance)
    n_en = len(by_stratum["en"])
    assert 600 < n_en < 900
    # every surviving row satisfies its own threshold
    assert all(r["keep_frac"] < r["rate"] + 1e-6 for r in out)
    # bit-identical on re-run (hash-based, not RNG-based)
    again = sorted(r["doc_id"] for r in
                   stratified_sample(docs, "lang", {"en": 0.25}).collect())
    assert again == sorted(r["doc_id"] for r in out)


def test_filter_verdict_gates_attributable(spark):
    from waka_spark.operators.curation import filter_verdict

    good = " ".join(f"w{i}" for i in range(30))
    repeaty = " ".join(["spam"] * 40)
    short = "too short"
    puncty = "ok " * 25 + "!!!" * 40
    docs = spark.createDataFrame(
        [(1, good), (2, repeaty), (3, short), (4, puncty)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in filter_verdict(docs).collect()}
    assert out[1]["keep"] == 1
    assert out[2]["keep"] == 0 and out[2]["bad_top_word"] == 1
    assert out[3]["keep"] == 0 and out[3]["bad_length"] == 1
    assert out[4]["keep"] == 0 and out[4]["bad_punct"] == 1


def test_balanced_resample(spark):
    from waka_spark.operators.curation import balanced_resample

    # 12 'a' rows, 3 'b' rows, 3 'c' rows -> share = ceil(18/3) = 6:
    # 'a' is downsampled toward 6, 'b'/'c' kept whole
    rows = [(i, "a") for i in range(12)] + \
           [(i, "b") for i in range(100, 103)] + \
           [(i, "c") for i in range(200, 203)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = balanced_resample(df, domain_col="lang").collect()
    by_dom = {}
    for r in out:
        by_dom.setdefault(r["domain"], []).append(r)
    # tail domains kept whole (budget >= n)
    assert len(by_dom["b"]) == 3 and len(by_dom["c"]) == 3
    # head domain strictly downsampled, never over budget metadata
    assert 0 < len(by_dom["a"]) < 12
    assert all(r["domain_budget"] == 6 for r in by_dom["a"])
    assert all(r["domain_rows"] == 12 for r in by_dom["a"])

    # deterministic: same membership under different partitioning
    out2 = balanced_resample(df.repartition(7), domain_col="lang").collect()
    assert sorted(r["doc_id"] for r in out) == sorted(
        r["doc_id"] for r in out2)


@pytest.fixture(scope="module")
def span_docs(spark):
    # docs 10/11 share the exact 8-word run "a b c d e f g h" embedded at
    # different offsets; doc 12 is fully unique; doc 13 is too short for
    # a 6-word window
    rows = [
        (10, "x1 x2 a b c d e f g h x3 x4"),
        (11, "y1 a b c d e f g h y2 y3 y4 y5"),
        (12, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10"),
        (13, "s1 s2 s3"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_duplicate_spans_detects_and_merges(span_docs):
    from waka_spark.operators.dedup import duplicate_spans

    out = duplicate_spans(span_docs, window=6).collect()
    spans = {r["doc_id"]: (r["span_start"], r["span_end"]) for r in out}
    # the shared run is words 2..9 in doc 10 (3 colliding windows merge
    # into ONE maximal span) and words 1..8 in doc 11
    assert spans == {10: (2, 10), 11: (1, 9)}
    assert all(r["n_words"] == 8 for r in out)


def test_scrub_removes_exactly_the_spans(span_docs):
    from waka_spark.operators.dedup import scrub_duplicate_spans

    out = {r["doc_id"]: r for r in scrub_duplicate_spans(
        span_docs, window=6).collect()}
    assert out[10]["clean_text"] == "x1 x2 x3 x4"
    assert out[10]["n_removed"] == 8
    assert out[11]["clean_text"] == "y1 y2 y3 y4 y5"
    # untouched docs pass through normalized, zero removed
    assert out[12]["clean_text"].startswith("u1 u2")
    assert out[12]["n_removed"] == 0
    assert out[13]["n_removed"] == 0
    # word accounting: n_words == kept + removed for every doc
    for r in out.values():
        kept = 0 if r["clean_text"] == "" else len(r["clean_text"].split(" "))
        assert r["n_words"] == kept + r["n_removed"]


def test_hashed_linear_score_deterministic_and_bounded(span_docs):
    from waka_spark.operators.curation import hashed_linear_score

    a = hashed_linear_score(span_docs).collect()
    b = hashed_linear_score(span_docs).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    for r in a:
        assert 0.0 < r["prob"] < 1.0
        assert -1.0 <= r["raw_score"] <= 1.0
    # identical texts score identically regardless of doc id
    docs2 = span_docs.sparkSession.createDataFrame(
        [(1, "same words here ok"), (2, "same words here ok")],
        "doc_id long, text string")
    s = hashed_linear_score(docs2).collect()
    assert s[0]["prob"] == s[1]["prob"]


def test_bpe_pair_counts_weighted_by_word_freq(spark):
    from waka_spark.operators.textstats import bpe_pair_counts

    docs = spark.createDataFrame(
        [(1, "abab abab cd"), (2, "abab x")], "doc_id long, text string")
    out = {r["pair"]: r for r in bpe_pair_counts(docs, k=10).collect()}
    # "abab" occurs 3x corpus-wide and contributes pairs ab, ba, ab
    assert out["ab"]["n_words"] == 2 and out["ab"]["n_total"] == 6
    assert out["ba"]["n_total"] == 3
    assert out["cd"]["n_total"] == 1
    assert "x" not in out  # single-char words contribute nothing


def test_corpus_profile_sketches_within_bounds(spark):
    """Sketch contract: HLL distincts within 3x the configured rsd of the
    exact values; percentiles exact at this scale (sketch accuracy >> n)."""
    import math

    from waka_spark.operators.diagnostics import corpus_profile

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{(i * 31 + j) % 400}" for j in range(10 + i % 17)))
         for i in range(300)],
        "doc_id long, text string")
    [row] = corpus_profile(docs, rsd=0.02).collect()

    exact_words = (
        docs.selectExpr("explode(split(text, ' ')) AS w")
        .select("w").distinct().count())
    exact_docs = docs.select("text").distinct().count()
    assert row["n_docs"] == 300
    assert abs(row["n_distinct_words_approx"] - exact_words) <= math.ceil(
        3 * 0.02 * exact_words)
    assert abs(row["n_distinct_docs_approx"] - exact_docs) <= math.ceil(
        3 * 0.02 * exact_docs)
    lengths = sorted(10 + i % 17 for i in range(300))
    assert row["p50_words"] == lengths[int(0.5 * (len(lengths) - 1))]
    assert row["n_words_total"] == sum(lengths)


def test_prepare_corpus_composition(spark):
    """E2E corpus prep: dup copies collapse to one, quality-failing docs
    drop, only the train split packs, and per-bucket offsets are a
    contiguous token stream."""
    from waka_spark.operators.curation import prepare_corpus, split_by_hash

    good_text = " ".join(f"tok{i}" for i in range(30))
    rows = [
        (1, good_text),                      # keeper of the dup pair
        (2, good_text),                      # exact dup -> dropped
        (3, "too short"),                    # fails min-words gate
        (4, " ".join(f"w{i}" for i in range(25))),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in prepare_corpus(docs).collect()}

    train_ids = {
        r["doc_id"]
        for r in split_by_hash(docs).filter("split = 'train'").collect()}
    expected = {1, 4} & train_ids            # survivors that landed in train
    assert set(out) == expected
    for r in out.values():
        assert r["start_offset"] >= 0 and r["seq_idx"] == r["start_offset"] // 512


def test_pii_scrub_nested_matches_count_what_was_redacted(spark):
    df = spark.createDataFrame(
        [
            (1, "contact a+12345678901@mail.com now"),  # phone inside email
            (2, "host user@1.2.3.4.com up"),            # ipv4 inside email
            (3, "call +1 555 123 4567 or 10.0.0.1"),    # genuine phone + ip
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in pii_scrub(df).collect()}
    r1 = got[1]
    assert r1["n_emails"] == 1 and r1["n_phones"] == 0
    assert "<EMAIL>" in r1["clean_text"] and "<PHONE>" not in r1["clean_text"]
    r2 = got[2]
    assert r2["n_emails"] == 1 and r2["n_ipv4"] == 0
    assert "<IP>" not in r2["clean_text"]
    r3 = got[3]
    assert r3["n_phones"] == 1 and r3["n_ipv4"] == 1
    assert "<PHONE>" in r3["clean_text"] and "<IP>" in r3["clean_text"]


def test_filter_verdict_zero_word_doc_is_attributable(spark):
    from waka_spark.operators.curation import filter_verdict

    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "enough words " * 20)],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in filter_verdict(df).collect()}
    assert set(got) == {1, 2, 3}  # nothing silently dropped
    for d in (1, 2):
        assert got[d]["bad_length"] == 1 and got[d]["keep"] == 0
    assert got[3]["bad_length"] == 0


def test_nll_outlier_screen_relative_threshold(spark):
    from waka_spark.operators.curation import nll_outlier_screen

    # 19 docs of common vocabulary + 1 doc of unique (rare) words: the
    # rare-word doc has the highest mean NLL and is the only outlier at
    # p95
    rows = [(i, "common words repeated here") for i in range(19)]
    rows.append((99, "zzqx vvrm kkpl"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in nll_outlier_screen(
        df, pct=0.95).collect()}
    assert len(got) == 20
    assert got[99]["is_outlier"] == 1
    assert sum(r["is_outlier"] for r in got.values()) == 1
    assert got[0]["avg_nll"] < got[99]["avg_nll"]
    assert all(r["threshold"] == got[0]["threshold"] for r in got.values())


def test_curriculum_deciles_deterministic_ties(spark):
    from waka_spark.operators.curation import curriculum_deciles

    # 10 docs, all scores tied: id tiebreak must spread them 1..10
    df = spark.createDataFrame(
        [(i, 0.5) for i in range(10)], "doc_id long, s double")
    got = {r["doc_id"]: r["decile"] for r in curriculum_deciles(
        df, score_col="s").collect()}
    assert [got[i] for i in range(10)] == list(range(1, 11))


def test_salt_recommendation_flags_hot_keys_only(spark):
    from waka_spark.operators.diagnostics import salt_recommendation

    rows = [("hot",)] * 10 + [("warm",)] * 4 + [("cold",)] * 2
    df = spark.createDataFrame(rows, "k string")
    got = {r["key"]: r for r in salt_recommendation(
        df, "k", target_rows_per_task=4).collect()}
    # hot: ceil(10/4)=3; warm: ceil(4/4)=1 -> not emitted; cold: 1
    assert set(got) == {"hot"}
    assert got["hot"]["salt_factor"] == 3
    assert got["hot"]["share"] == 0.625


def test_mixture_plan_rates_and_epochs(spark):
    from waka_spark.operators.curation import mixture_plan

    docs = spark.createDataFrame(
        [(1, "a b c d", "en"), (2, "a b c d e f", "en"),
         (3, "x y", "de"), (4, "q", "zz")],
        "doc_id long, text string, lang string",
    )
    got = {r["domain"]: r for r in mixture_plan(
        docs, weights={"en": 0.5, "de": 0.5, "xx": 0.0},
        token_budget=8, domain_col="lang").collect()}
    # zz has no target weight -> excluded; xx has no corpus rows -> kept
    # as an explicit supply-gap row (round-4: a launch plan must alarm on
    # a missing domain, not drop it)
    assert set(got) == {"en", "de", "xx"}
    xx = got["xx"]
    assert (xx["n_docs"], xx["n_tokens"], xx["target_tokens"]) == (0, 0, 0)
    assert xx["sampling_rate"] is None and xx["n_epochs"] is None
    en, de = got["en"], got["de"]
    assert (en["n_docs"], en["n_tokens"], en["target_tokens"]) == (2, 10, 4)
    assert en["sampling_rate"] == 0.4 and en["n_epochs"] == 0.4
    # de under-supplied: rate caps at 1.0, epochs = 2.0 repeats
    assert (de["n_tokens"], de["target_tokens"]) == (2, 4)
    assert de["sampling_rate"] == 1.0 and de["n_epochs"] == 2.0


def test_expectations_null_is_violation(spark):
    """Round-3 (review): a NULL rule result counts as a VIOLATION
    (dbt/GE semantics), not a silent pass."""
    from waka_spark.operators.curation import quality_expectations

    df = spark.createDataFrame(
        [(1, 0.5), (2, None), (3, 2.0)], "doc_id long, score double")
    got = {r["rule"]: r for r in quality_expectations(
        df, [("score_lt_1", F.col("score") < 1.0)]).collect()}
    r = got["score_lt_1"]
    # rows 2 (NULL) and 3 (2.0) violate
    assert (r["n_rows"], r["n_violations"], r["passed"]) == (3, 2, False)


def test_filter_verdict_unicode_text_not_punct(spark):
    """Round-3 (review): non-Latin letters are NOT punctuation — a clean
    CJK/Cyrillic doc must not be dropped by the punctuation gate."""
    from waka_spark.operators.curation import filter_verdict

    df = spark.createDataFrame(
        [(1, "这 是 一 段 完全 正常 的 中文 文本 没有 标点 问题 " * 5),
         (2, "Это обычный русский текст без лишней пунктуации " * 5)],
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in filter_verdict(df).collect()}
    assert got[1]["bad_punct"] == 0 and got[2]["bad_punct"] == 0


def test_pack_sequences_empty_doc_zero_tokens(spark):
    from waka_spark.operators.curation import pack_sequences

    df = spark.createDataFrame(
        [(1, "a b c"), (2, ""), (3, "   ")], "doc_id long, text string")
    got = {r["doc_id"]: r["n_tokens"] for r in pack_sequences(df).collect()}
    assert got == {1: 3, 2: 0, 3: 0}


def test_score_auc_ignores_null_labels(spark):
    from waka_spark.operators.curation import score_auc

    labeled = spark.createDataFrame(
        [(0.9, True), (0.1, False), (0.5, None)],
        "score double, label boolean")
    r = score_auc(labeled).collect()[0]
    assert (r["n_pos"], r["n_neg"]) == (1, 1)
    assert r["auc"] == 1.0


def test_word_ngrams_short_doc_has_no_bigrams(spark):
    from waka_spark.operators.curation import repetition_stats

    df = spark.createDataFrame([(1, "hello")], "doc_id long, text string")
    r = repetition_stats(df).collect()[0]
    # one word: no bigrams; dup_bigram_frac coalesces to 0
    assert r["dup_bigram_frac"] == 0.0


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
