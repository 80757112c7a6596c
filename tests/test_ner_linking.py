"""NER backends, ensemble union, entity linking, clustering."""

from pyspark.sql import functions as F

from waka_spark import schemas
from waka_spark.config import LinkerConfig
from waka_spark.operators.clustering import cluster_entities
from waka_spark.operators.linking import link_entities
from waka_spark.operators.ner import (
    gazetteer_ner,
    merge_token_runs,
    regex_literal_ner,
    union_mentions,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "conv_id string, text string")


def test_gazetteer_ner_word_boundaries(spark):
    docs = _docs(spark, [("c1", "Weimar and Weimarer and xWeimar end.")])
    got = gazetteer_ner(docs, [("Weimar", "GPE")]).collect()
    assert [(r.start_idx, r.end_idx) for r in got] == [(0, 6)]


def test_gazetteer_ner_overlaps_and_literals(spark):
    docs = _docs(spark, [("c1", "Bauhaus-Universität Weimar has 4000 students.")])
    gaz = [("Bauhaus-Universität Weimar", "ORG"), ("Weimar", "GPE"),
           ("4000", "CARDINAL")]
    got = {(r.start_idx, r.end_idx): r for r in gazetteer_ner(docs, gaz).collect()}
    assert (0, 26) in got and (20, 26) in got  # overlapping mentions kept
    assert got[(31, 35)].url.startswith("+4000^^")  # literal URL minted


def test_regex_literal_ner(spark):
    docs = _docs(spark, [("c1", "In 1919 it had 4000 students and 27% growth.")])
    got = {r.text: r for r in regex_literal_ner(docs).collect()}
    assert got["1919"].e_type == "DATE"
    assert got["4000"].e_type == "CARDINAL"
    assert got["27%"].e_type == "PERCENT"
    assert got["27%"].url.startswith("+27^^")


def test_union_mentions_priority(spark):
    m1 = spark.createDataFrame(
        [("c1", 0, 4, "1860", "YEAR", None)], schemas.MENTIONS)
    m2 = spark.createDataFrame(
        [("c1", 0, 4, "1860", "DATE", "1860-01-01T00:00:00Z^^dt")],
        schemas.MENTIONS)
    got = union_mentions(m1, m2).collect()
    # span identity (kg.py:34-35): first backend wins
    assert len(got) == 1 and got[0].e_type == "YEAR"


def test_merge_token_runs(spark):
    # "The Great Ducal school stands" → PROPN run (Great Ducal) + NOUN school
    tokens = spark.createDataFrame(
        [
            ("c1", 0, 0, 3, "The", "DET"),
            ("c1", 1, 4, 9, "Great", "PROPN"),
            ("c1", 2, 10, 15, "Ducal", "PROPN"),
            ("c1", 3, 16, 22, "school", "NOUN"),
            ("c1", 4, 23, 29, "stands", "VERB"),
        ],
        "conv_id string, token_idx int, start_idx int, end_idx int, text string, pos string",
    )
    got = {(r.start_idx, r.end_idx, r.e_type)
           for r in merge_token_runs(tokens).collect()}
    assert (4, 9, "PROPN") in got        # single token
    assert (10, 15, "PROPN") in got      # single token
    assert (4, 15, "PROPN") in got       # merged run prefix
    assert (16, 22, "NOUN") in got       # single noun (no NOUN run)
    assert not any(s == 0 or e == 29 for s, e, _ in got)  # DET/VERB excluded


def _aliases(spark, rows):
    return spark.createDataFrame(rows, schemas.WD_ALIASES)


def test_linking_prelinked_passthrough_and_topk(spark):
    mentions = spark.createDataFrame(
        [
            ("c1", 0, 4, "4000", "CARDINAL", "+4000^^xsd"),
            ("c1", 10, 16, "Weimar", "GPE", None),
        ],
        schemas.MENTIONS,
    )
    aliases = _aliases(spark, [
        ("weimar", "Q3955", "Weimar", "city", 8000),
        ("weimar", "Q156144", "Weimar Republic", "period", 400),
        ("weimar", "Q999", "Category:Weimar", "category", 9_999_999),
    ])
    cfg = LinkerConfig(max_results=1)
    got = link_entities(mentions, aliases, cfg=cfg).collect()
    by_url = {r.url: r for r in got}
    assert by_url["+4000^^xsd"].score == 1.0          # passthrough score
    assert "Q999" not in by_url                        # Category: dropped
    assert "Q156144" not in by_url                     # cut by top-1
    assert by_url["Q3955"].label == "Weimar"           # exact label match wins


def test_linking_expansion_possessive_and_nationality(spark):
    mentions = spark.createDataFrame(
        [("c1", 0, 8, "German's", "NORP", None),
         ("c1", 20, 26, "German", "NORP", None)],
        schemas.MENTIONS,
    )
    aliases = _aliases(spark, [("germany", "Q183", "Germany", "country", 1000)])
    nats = spark.createDataFrame(
        [("German", "Germany")], "nationality string, country string")
    got = link_entities(mentions, aliases, nationalities=nats).collect()
    # "German" → country expansion; "German's" → 's-strip → nationality →
    # no: 's-strip gives "German", which is not an alias key; only the
    # nationality row for exact text "German" fires
    urls = {(r.start_idx, r.url) for r in got}
    assert (20, "Q183") in urls


def test_clustering_literal_flag_and_head(spark):
    cands = spark.createDataFrame(
        [
            ("c1", 0, 4, "4000", "CARDINAL", "+4000^^xsd", None, None, 1.0),
            ("c1", 9, 13, "4000", "CARDINAL", "+4000^^xsd", None, None, 0.7),
            ("c1", 20, 26, "Weimar", "GPE", "Q3955", "Weimar", "city", 0.6),
            ("c1", 30, 36, "Weimar", "GPE", "Q3955", "Weimar", "city", 0.9),
        ],
        schemas.CANDIDATES,
    )
    got = {r.url: r for r in cluster_entities(cands).collect()}
    assert got["+4000^^xsd"].e_type == "literal"
    assert got["Q3955"].e_type == "entity"
    assert got["Q3955"].score == 0.9                   # head = max score
    assert [m.score for m in got["Q3955"].mentions] == [0.9, 0.6]  # desc order


def test_rerank_shapes_agree_and_guard_missing_sentence(spark):
    """The narrow (default) and dedup-pairs rerank shapes must produce
    identical rows; candidates without a containing sentence keep their
    score; the threshold filter applies to every row."""
    from waka_spark.operators.rerank import rerank_candidates, split_sentences

    docs = spark.createDataFrame(
        [("c1", "Weimar is a city. The school moved away.")],
        "conv_id string, text string",
    )
    # "moved" at 22..27 lies inside sentence 2; the 10..30 span crosses the
    # sentence boundary so no sentence contains it (score kept); the low
    # candidate is dropped by the threshold
    cands = spark.createDataFrame(
        [
            ("c1", 0, 6, "Weimar", "GPE", "Q1", "Weimar", "city", 0.5),
            ("c1", 10, 30, "crosser", "ORG", "Q2", "school", "org", 0.4),
            ("c1", 22, 27, "moved", "MISC", "Q3", "nothing", "absent", 0.5),
            ("c1", 0, 6, "Weimar", "GPE", "Q4", "tiny", "tiny", 0.01),
        ],
        schemas.CANDIDATES,
    )
    sents = split_sentences(docs)
    narrow = rerank_candidates(cands, sents, threshold=0.05)
    dedup = rerank_candidates(cands, sents, threshold=0.05, dedup_pairs=True)
    key = lambda r: (r["conv_id"], r["start_idx"], r["end_idx"], r["url"])  # noqa: E731
    ns = {key(r): round(r["score"], 9) for r in narrow.collect()}
    ds = {key(r): round(r["score"], 9) for r in dedup.collect()}
    assert ns == ds
    assert ("c1", 10, 30, "Q2") in ns and ns[("c1", 10, 30, "Q2")] == 0.4
    assert ("c1", 0, 6, "Q4") not in ns          # thresholded out
    # "Weimar is a city." contains both tokens of "Weimar city" -> sim 1.0
    assert ns[("c1", 0, 6, "Q1")] == 0.5


def test_fused_ner_identical_to_union_composition(spark):
    """deterministic_ner_fused must be bit-identical to the two-backend
    union it replaces in the pipeline hot path."""
    from waka_spark.operators.ner import deterministic_ner_fused
    from waka_spark.sources import fixtures as fx

    docs = _docs(spark, [
        ("c1", fx.sample_text()),
        ("c2", "In 1919 it had 4000 students and 27% growth."),
        ("c3", "Weimar and Weimarer and xWeimar in 1919."),
        ("c4", ""),
    ])
    # ("1919", "ORG") collides span-for-span with the regex DATE mention —
    # the fused pass must keep the gazetteer row, like union_mentions does
    gaz = list(fx.BAUHAUS_GAZETTEER) + [("Weimar", "GPE"), ("1919", "ORG")]
    fused = deterministic_ner_fused(docs, gaz)
    composed = union_mentions(gazetteer_ner(docs, gaz), regex_literal_ner(docs))
    key = lambda r: (r["conv_id"], r["start_idx"], r["end_idx"])
    f_rows = sorted(map(tuple, fused.collect()))
    c_rows = sorted(map(tuple, composed.collect()))
    assert f_rows == c_rows and len(f_rows) > 20
