"""Fixture parity: the full pipeline vs the reference's bundled expected
triples (data/bauhaus-university-weimar.{txt,nt}, README.md:87), asserting
the BASELINE.json target P/R >= 0.95, plus the eval operators themselves."""

import pytest

from waka_spark.operators.evals import (
    eval_mentions,
    eval_predicates,
    eval_triples,
    prf_dict,
)
from waka_spark.plans.pipeline import bauhaus_pipeline
from waka_spark.sources import fixtures as fx

needs_fixture = pytest.mark.skipif(
    not fx.bauhaus_available(),
    reason="reference parity fixture (data/bauhaus-university-weimar."
           "{txt,nt}) is not present",
)


@pytest.fixture(scope="module")
def bauhaus_out(spark):
    pipe = bauhaus_pipeline(spark)
    return pipe.run(fx.bauhaus_transcripts(spark))


@needs_fixture
def test_triple_parity_with_scorers(spark, bauhaus_out):
    gold = fx.bauhaus_gold_triples(spark)
    micro = prf_dict(eval_triples(bauhaus_out["triples"], gold))
    assert micro["precision"] >= 0.95
    assert micro["recall"] >= 0.95


@needs_fixture
def test_triple_parity_fusion_only(spark):
    # KGConstructor([]) mode (evaluate_kg_creation.py:17): no scorers
    pipe = bauhaus_pipeline(spark, use_scorers=False)
    out = pipe.run(fx.bauhaus_transcripts(spark))
    gold = fx.bauhaus_gold_triples(spark)
    micro = prf_dict(eval_triples(out["triples"], gold))
    assert micro["precision"] >= 0.95 and micro["recall"] >= 0.95


@needs_fixture
def test_macro_micro_eval_shapes(spark, bauhaus_out):
    gold = fx.bauhaus_gold_triples(spark)
    macro = prf_dict(eval_triples(bauhaus_out["triples"], gold, macro=True))
    assert macro["f1"] == 1.0


def test_eval_mentions_span_identity(spark):
    comp = spark.createDataFrame(
        [("c1", 0, 5), ("c1", 10, 15)],
        "conv_id string, start_idx int, end_idx int")
    gold = spark.createDataFrame(
        [("c1", 0, 5), ("c1", 20, 25)],
        "conv_id string, start_idx int, end_idx int")
    m = prf_dict(eval_mentions(comp, gold))
    assert (m["tp"], m["fp"], m["fn"]) == (1, 1, 1)
    assert m["precision"] == 0.5 and m["recall"] == 0.5


def test_eval_predicates_bag(spark):
    comp = spark.createDataFrame(
        [("c1", "born in", "P19"), ("c1", "works at", None)],
        "conv_id string, pred_text string, pred_url string")
    gold = spark.createDataFrame(
        [("c1", "born in", "P19")],
        "conv_id string, pred_text string, pred_url string")
    m = prf_dict(eval_predicates(comp, gold))
    assert m["tp"] == 1 and m["fp"] == 1 and m["fn"] == 0


@needs_fixture
def test_entity_mentions_flattened(bauhaus_out):
    # P25: every surviving entity contributes its mentions
    ments = bauhaus_out["entity_mentions"].collect()
    assert len(ments) > 0
    assert all(m.url is not None for m in ments)


@needs_fixture
def test_ntriples_roundtrip(spark, bauhaus_out):
    from waka_spark.sources.sinks import to_ntriples

    lines = [r.value for r in to_ntriples(bauhaus_out["triples"]).collect()]
    assert all(l.endswith(" .") for l in lines)
    assert any('"Bauhaus"' in l for l in lines)  # quoted literal verbatim


def test_parse_ntriples_gold_conventions(tmp_path):
    """The gold parser reads any path and applies the URL-space
    conventions of fixtures.py: entity URLs bare, quoted literals
    verbatim, bare numbers as decimal literals, comments skipped."""
    from waka_spark.config import XSD_DECIMAL

    gold = tmp_path / "gold.nt"
    gold.write_text(
        "# a comment line\n"
        "<http://e/S> <http://p/P1> <http://e/O> .\n"
        '<http://e/S> <http://p/P2> "Bauhaus" .\n'
        "<http://e/S> <http://p/P3> 4000 .\n"
    )
    assert fx.parse_ntriples_gold(gold) == [
        ("http://e/S", "http://p/P1", "http://e/O"),
        ("http://e/S", "http://p/P2", '"Bauhaus"'),
        ("http://e/S", "http://p/P3", f"+4000^^{XSD_DECIMAL}"),
    ]
