"""Execute the gated transformer backends end-to-end with deterministic
in-process fake models.

The production backends (transformer_backends.py, relations.py) are
import-gated — no torch/transformers in this sandbox — but their dataflow
(Arrow batching, per-worker model cache, distinct-pair CSE, join-backs)
is the part that must be correct on a real cluster. Each test injects a
``model_loader`` returning a deterministic callable with the real model's
interface, so the *actual* mapInPandas / pandas-UDF bodies run CPU-only.

Every fake uses a unique ``model_dir`` cache key: Spark reuses Python
workers across tests, and ``_MODEL_CACHE`` is per-worker state — two fakes
behind one key would silently share the first-loaded model.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from waka_spark.operators.transformer_backends import (
    hf_token_classification_ner,
    nli_triple_scorer,
    sbert_similarity_scorer,
)
from waka_spark.plans.pipeline import bauhaus_pipeline
from waka_spark.testing import (
    fake_encode_loader,
    fake_mrebel_generate_loader,
    fake_number_ner_loader,
    make_const_nli_loader,
)
from waka_spark.sources import fixtures as fx


# ---------------------------------------------------------------- tests

def test_hf_ner_fake_model_executes(spark):
    docs = spark.createDataFrame(
        [("c1", "opened in 1919 with 3 workshops"), ("c2", "no digits here")],
        "conv_id string, text string",
    )
    got = hf_token_classification_ner(
        docs, model_dir="fake-ner-numbers",
        model_loader=fake_number_ner_loader,
    ).collect()
    by_text = {r.text: r for r in got}
    assert set(by_text) == {"1919", "3"}
    assert by_text["1919"].conv_id == "c1"
    assert by_text["1919"].start_idx == 10 and by_text["1919"].end_idx == 14
    assert by_text["1919"].e_type == "CARDINAL"
    # encode_literal ran inside the UDF body
    assert by_text["1919"].url == "+1919^^http://www.w3.org/2001/XMLSchema#decimal"


def test_sbert_scorer_fake_matches_numpy(spark):
    rows = [
        ("the cat sat", "cat", "small animal"),
        ("a bare sentence", "entity", "a thing"),
    ]
    df = spark.createDataFrame(rows, "sent string, label string, descr string")
    sim = F.pandas_udf(
        sbert_similarity_scorer(
            model_dir="fake-sbert", model_loader=fake_encode_loader),
        "double",
    )
    got = [r.s for r in df.select(sim("sent", "label", "descr").alias("s")).collect()]

    encode = fake_encode_loader()
    for (sent, label, descr), s in zip(rows, got):
        a = encode([sent])[0]
        b = encode([f"{label} is a {descr}"])[0]
        expect = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert abs(s - expect) < 1e-9


def test_sbert_scorer_swaps_into_rerank(spark):
    """The P11 production wiring: rerank_candidates(sim_udf=...) runs the
    injected scorer through the distinct-pair CSE path."""
    from waka_spark.operators.rerank import rerank_candidates, split_sentences

    docs = spark.createDataFrame(
        [("c1", "the cat sat on the mat. dogs bark loudly.")],
        "conv_id string, text string",
    )
    cands = spark.createDataFrame(
        [("c1", 4, 7, "u1", "cat", "small animal", 1.0),
         ("c1", 24, 28, "u2", "dog", "loud animal", 1.0)],
        "conv_id string, start_idx int, end_idx int, url string, "
        "label string, description string, score double",
    )
    sim = F.pandas_udf(
        sbert_similarity_scorer(
            model_dir="fake-sbert", model_loader=fake_encode_loader),
        "double",
    )
    got = {r.url: r.score for r in rerank_candidates(
        cands, split_sentences(docs), threshold=0.0, sim_udf=sim,
    ).collect()}

    encode = fake_encode_loader()

    def cos(s, l, d):
        a = encode([s])[0]
        b = encode([f"{l} is a {d}"])[0]
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    assert abs(got["u1"] - cos("the cat sat on the mat.", "cat", "small animal")) < 1e-9
    assert abs(got["u2"] - cos("dogs bark loudly.", "dog", "loud animal")) < 1e-9


def _fused_pair(spark, scorer):
    """Run the bauhaus pipeline stages over the in-repo sample text up to
    fusion twice: baseline (no extra scorer) and with ``scorer`` wired,
    doc_text attached."""
    base_pipe = bauhaus_pipeline(spark)
    tr = fx.bauhaus_transcripts(spark, text=fx.sample_text())
    docs = base_pipe.documents(tr)
    mentions = base_pipe.mentions(docs)
    cands = base_pipe.candidates(docs, mentions)
    ents = base_pipe.entities(cands)
    linked = base_pipe.linked_triples(base_pipe.raw_triples(docs))

    baseline = base_pipe.fused(linked, ents, docs)
    scored_pipe = bauhaus_pipeline(spark, extra_scorer=scorer)
    scored = scored_pipe.fused(linked, ents, docs)
    return baseline, scored


def test_nli_scorer_wired_through_fusion(spark):
    """P19 end-to-end: fuse_triples attaches doc_text and the NLI
    mapInPandas body executes. A constant 0.5 entailment halves every
    candidate score uniformly, so the per-set argmax is unchanged and each
    surviving fused triple scores exactly half its baseline."""
    scorer = nli_triple_scorer(
        model_dir="fake-nli-half", model_loader=make_const_nli_loader(0.5))
    baseline, scored = _fused_pair(spark, scorer)

    base = {(r.conv_id, r.ts_id): r.score for r in baseline.collect()}
    got = {(r.conv_id, r.ts_id): r.score for r in scored.collect()}

    assert base, "sample text produced no fused triples"
    # survivors = baseline triples still above best_threshold after halving
    assert set(got) == {k for k, v in base.items() if v * 0.5 >= 0.1}
    assert got, "constant-0.5 entailment killed every triple"
    for k, v in got.items():
        assert abs(v - 0.5 * base[k]) < 1e-9


def test_nli_scorer_zero_entailment_kills_triples(spark):
    scorer = nli_triple_scorer(
        model_dir="fake-nli-zero", model_loader=make_const_nli_loader(0.0))
    _, scored = _fused_pair(spark, scorer)
    assert scored.count() == 0


def test_nli_scorer_requires_doc_text(spark):
    """Calling fuse_triples with an NLI scorer but no documents frame is a
    loud, immediate error — not an AnalysisException deep in the plan."""
    from waka_spark.operators.fusion import fuse_triples

    pipe = bauhaus_pipeline(spark)
    tr = fx.bauhaus_transcripts(spark, text=fx.sample_text())
    docs = pipe.documents(tr)
    ents = pipe.entities(pipe.candidates(docs, pipe.mentions(docs)))
    linked = pipe.linked_triples(pipe.raw_triples(docs))

    scorer = nli_triple_scorer(
        model_dir="fake-nli-guard", model_loader=make_const_nli_loader(1.0))
    with pytest.raises(ValueError, match="doc_text"):
        fuse_triples(
            linked, ents,
            known_triples=fx.known_triples_df(spark),
            extra_scorer=scorer,
        )


def test_transformer_re_fake_generate(spark):
    from waka_spark.operators.relations import transformer_relation_extraction

    docs = spark.createDataFrame(
        [("c1", "Walter Gropius founded the Bauhaus. It moved to Dessau."),
         ("c2", "Nothing relevant here.")],
        "conv_id string, text string",
    )
    got = transformer_relation_extraction(
        docs, model_dir="fake-mrebel", model_loader=fake_mrebel_generate_loader,
    ).collect()
    assert len(got) == 1
    t = got[0]
    assert (t.conv_id, t.subj_text, t.subj_type, t.pred_text,
            t.obj_text, t.obj_type) == (
        "c1", "Walter Gropius", "per", "founded by", "Bauhaus", "org")


def test_aho_rule_extraction_matches_contains_join(spark):
    """scan_documents' raw triples == rule_relation_extraction output on
    the in-repo sample text and on a doc set with overlapping/repeated
    surfaces."""
    from waka_spark.operators.ner import scan_documents
    from waka_spark.operators.relations import rule_relation_extraction

    pipe = bauhaus_pipeline(spark)
    docs = pipe.documents(
        fx.bauhaus_transcripts(spark, text=fx.sample_text()))
    rules = fx.rules_df(spark)

    key = lambda r: (r.conv_id, r.subj_text, r.pred_text, r.obj_text)  # noqa: E731
    sql_out = sorted(map(key, rule_relation_extraction(docs, rules).collect()))
    scan_out = sorted(map(
        key, scan_documents(docs, (), fx.BAUHAUS_RULES)[1].collect()))
    assert sql_out == scan_out and sql_out

    tricky = spark.createDataFrame(
        [("t1", "aa aab ab b"), ("t2", "nothing"), ("t3", "ab aa ab aa ab")],
        "conv_id string, text string",
    )
    tricky_list = [("aa", "p1", "ab"), ("aab", "p2", "b"), ("zz", "p3", "aa")]
    tricky_rules = spark.createDataFrame(
        tricky_list,
        "subj_surface string, pred_text string, obj_surface string",
    )
    sql_out = sorted(map(key, rule_relation_extraction(tricky, tricky_rules).collect()))
    scan_out = sorted(map(
        key, scan_documents(tricky, (), tricky_list)[1].collect()))
    assert sql_out == scan_out and len(sql_out) == 3


def test_aho_cache_key_pipe_surfaces_do_not_collide(spark):
    """Two rule tables whose surface sets would collide under a
    '|'.join cache key ({'a|b','c'} vs {'a','b','c'} -> 'a|b|c') must
    each get their own scanner: run the pipe-containing table first so
    a shared-key bug would hand its scanner to the second table."""
    from waka_spark.operators.ner import scan_documents

    docs = spark.createDataFrame(
        [("d1", "x a|b y c"), ("d2", "a b c")],
        "conv_id string, text string",
    )
    first = scan_documents(docs, (), [("a|b", "p", "c")])[1].collect()
    assert {(r.conv_id, r.pred_text) for r in first} == {("d1", "p")}
    second = scan_documents(docs, (), [("a", "q", "b")])[1].collect()
    # 'a' and 'b' both occur in d2 (and inside d1's 'a|b'): rule q fires
    assert {(r.conv_id, r.pred_text) for r in second} == {
        ("d1", "q"), ("d2", "q")}
