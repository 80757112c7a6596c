"""Closed-loop correctness on the synthetic corpus: the full pipeline must
reproduce the generator's emitted facts exactly (P/R = 1 by construction —
machinery correctness at corpus scale, SURVEY.md §5)."""

import pytest

from waka_spark import synth
from waka_spark.operators.evals import eval_triples, prf_dict
from waka_spark.plans.pipeline import KGPipeline


@pytest.fixture(scope="module")
def kb():
    return synth.build_kb(n_entities=60)


def test_synth_pipeline_closed_loop(spark, kb):
    n_convs = 40
    transcripts = synth.synth_transcripts(
        spark, kb, n_convs=n_convs, hot_every=20, hot_turns=50, base_turns=10)
    gold = synth.synth_gold_triples(
        spark, kb, n_convs=n_convs, hot_every=20, hot_turns=50, base_turns=10)

    pipe = KGPipeline(
        aliases=synth.aliases_df(spark, kb),
        properties=synth.properties_df(spark),
        gazetteer=synth.gazetteer(kb),
        rules=synth.rules_df(spark, kb),
        use_scorers=False,
    )
    out = pipe.run(transcripts)
    micro = prf_dict(eval_triples(out["triples"], gold))
    assert micro["recall"] >= 0.99, micro
    assert micro["precision"] >= 0.99, micro


def test_synth_determinism(spark, kb):
    t1 = synth.synth_transcripts(spark, kb, n_convs=10).collect()
    t2 = synth.synth_transcripts(spark, kb, n_convs=10).collect()
    assert sorted(map(tuple, t1)) == sorted(map(tuple, t2))


def test_synth_skew_profile(spark, kb):
    from pyspark.sql import functions as F

    t = synth.synth_transcripts(
        spark, kb, n_convs=50, hot_every=25, hot_turns=200, base_turns=10)
    counts = {
        r["conv_id"]: r["n"]
        for r in t.groupBy("conv_id").agg(F.count("*").alias("n")).collect()
    }
    assert counts["conv-00000000"] == 200  # hot conversation
    assert counts["conv-00000025"] == 200
    tail = [v for k, v in counts.items() if k not in ("conv-00000000", "conv-00000025")]
    assert max(tail) <= 12 and min(tail) >= 2
