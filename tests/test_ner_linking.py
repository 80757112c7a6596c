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
    scan_documents,
    union_mentions,
)
from waka_spark.operators.relations import rule_relation_extraction
from waka_spark.plans.pipeline import KGPipeline
from waka_spark.sources import fixtures as fx


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
    """The native rerank pass equals a per-row ``lexical_containment_sim``
    reference on adversarial rows: case and Unicode lowercasing, digits,
    punctuation-only and repeated tokens, NULL label/description, spans
    crossing a sentence boundary and candidates with no sentence (both
    keep their score). The threshold filter applies to every row."""
    from waka_spark.operators.rerank import (
        lexical_containment_sim,
        rerank_candidates,
        split_sentences,
    )

    text = ("Weimar \u0130s a CITY near \u212aelvin-town, since 1919. "
            "Die Stra\u00dfe hat 27 H\u00e4user! ??? end end end.")
    docs = spark.createDataFrame([("c1", text)], "conv_id string, text string")

    def cand(url, surface, label, desc, score, conv="c1", end=None):
        start = text.index(surface)
        return (conv, start, end or start + len(surface), surface, "MISC",
                url, label, desc, score)

    rows = [
        cand("mixed", "Weimar", "WEIMAR", "City", 0.5),
        cand("dotted_i", "\u0130s", "\u0130s", None, 0.5),
        cand("kelvin", "\u212aelvin", "kelvin", "town", 0.5),
        cand("sharp_s", "Stra\u00dfe", "strasse", "Stra\u00dfe", 0.5),
        cand("digits", "1919", "1919", "year 27", 0.5),
        cand("punct", "???", "???", None, 0.5),
        cand("null_label", "CITY", None, "city", 0.5),
        cand("null_desc", "near", "near", None, 0.5),
        cand("null_both", "Weimar", None, None, 0.5),
        cand("crosser", "1919", "weimar", "x", 0.4,
             end=text.index("Stra\u00dfe") + 3),
        cand("no_sentence", "Weimar", "weimar", "city", 0.5, conv="c2"),
        cand("repeated", "end end", "end end", "END", 0.5),
        cand("half", "end end", "moon moon", "end", 0.5),
        cand("low_sim", "Weimar", "zzz", None, 0.1),
        cand("low_score", "Weimar", "Weimar", "city", 0.01),
    ]
    cands = spark.createDataFrame(rows, schemas.CANDIDATES)
    sents = split_sentences(docs).collect()

    def expected(r):
        conv, start, end, _, _, url, label, desc, score = r
        inside = [s.sent_text for s in sents if s.conv_id == conv
                  and s.sent_start <= start and end <= s.sent_end]
        if inside and (label is not None or desc is not None):
            score *= lexical_containment_sim(inside[0], label, desc)
        return score

    want = {r[5]: s for r in rows if (s := expected(r)) >= 0.05}
    got = {r.url: r.score for r in rerank_candidates(
        cands, split_sentences(docs), threshold=0.05).collect()}
    assert got == want
    assert got["crosser"] == 0.4 and got["no_sentence"] == 0.5
    assert got["null_both"] == 0.5 and got["mixed"] == 0.5
    assert got["half"] == 0.5 * (0.3 + 0.7 * (1 / 2))
    assert "low_sim" not in got and "low_score" not in got


# Adversarial corpus for the corpus scan: NULL and empty text, a document
# with no hits, word-boundary misses, nested surfaces, a gazetteer surface
# that collides span-for-span with a literal, pipe-containing surfaces, and
# rule surfaces that are substrings of other rule surfaces.
SCAN_DOCS = [
    ("c1", fx.sample_text()),
    ("c2", "In 1919 it had 4000 students and 27% growth."),
    ("c3", "Weimar and Weimarer and xWeimar in 1919."),
    ("c4", ""),
    ("c5", None),
    ("c6", "no surfaces here at all"),
    ("c7", "New York City is not York; New York is."),
    ("c8", "x a|b y c and aa aab ab b"),
    ("c9", "ab aa ab aa ab a b c"),
    ("c10", "spark join spark 1984 window 27% plain 3.5"),
]
# ("1919", "ORG") collides with the regex DATE mention of the same span:
# the gazetteer row wins, as in union_mentions
SCAN_GAZ = list(fx.BAUHAUS_GAZETTEER) + [
    ("Weimar", "GPE"), ("1919", "ORG"), ("New York", "GPE"),
    ("New York City", "GPE"), ("York", "GPE"), ("a|b", "MISC"),
]
SCAN_RULES = list(fx.BAUHAUS_RULES) + [
    ("a|b", "p", "c"), ("a", "q", "b"), ("aa", "p1", "ab"),
    ("aab", "p2", "b"), ("zz", "p3", "aa"), ("New York", "in", "York"),
]


def _rules_df(spark, rules):
    return spark.createDataFrame(
        rules, "subj_surface string, pred_text string, obj_surface string")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_fused_ner_identical_to_union_composition(spark):
    """scan_documents' mentions, with and without rules, equal the
    gazetteer + literal union (rows and schema)."""
    docs = _docs(spark, SCAN_DOCS)
    expected = union_mentions(
        gazetteer_ner(docs, SCAN_GAZ), regex_literal_ner(docs))
    want = _rows(expected)
    assert len(want) > 20
    for rules in ((), SCAN_RULES):
        mentions, _ = scan_documents(docs, SCAN_GAZ, rules)
        assert _rows(mentions) == want
        assert mentions.schema == expected.schema
    # empty gazetteer: the literal backend alone
    mentions, _ = scan_documents(docs, (), SCAN_RULES)
    assert _rows(mentions) == _rows(regex_literal_ner(docs))


def test_scan_mention_split_matches_mention_only_scan(spark):
    """With rules, the kernel's mention split equals the same kernel run
    for mentions alone (rows and schema): rule matching never adds, drops
    or reorders a mention."""
    docs = _docs(spark, SCAN_DOCS)
    alone, _ = scan_documents(docs, SCAN_GAZ, ())
    want = _rows(alone)
    assert len(want) > 20
    mentions, _ = scan_documents(docs, SCAN_GAZ, SCAN_RULES)
    assert _rows(mentions) == want
    assert mentions.schema == alone.schema


def test_scan_triples_match_rule_relation_extraction(spark):
    """scan_documents' raw triples equal the contains-join reference (rows
    and schema), with and without a gazetteer."""
    docs = _docs(spark, SCAN_DOCS)
    expected = rule_relation_extraction(docs, _rules_df(spark, SCAN_RULES))
    want = _rows(expected)
    assert {r[0] for r in want} >= {"c1", "c7", "c8", "c9"}
    for gaz in ((), SCAN_GAZ):
        _, raw = scan_documents(docs, gaz, SCAN_RULES)
        assert _rows(raw) == want
        assert raw.schema == expected.schema
    _, raw = scan_documents(docs, SCAN_GAZ, ())
    assert raw.collect() == []


def _scan_pipeline(spark, cls=KGPipeline):
    aliases = spark.createDataFrame(
        [("spark", "http://x/Q1", "spark", "d", 10)],
        "alias_key string, url string, label string, description string, "
        "frequency long",
    )
    return cls(
        aliases=aliases, properties=aliases, gazetteer=SCAN_GAZ,
        rules=_rules_df(spark, SCAN_RULES), use_scorers=False,
        use_rerank=False,
    )


def test_pipeline_scan_products_match_separate_stages(spark):
    """The default pipeline's one scan equals its two single stages (the
    kernel without rules, and the contains join) and the union reference."""
    docs = _docs(spark, SCAN_DOCS)
    pipe = _scan_pipeline(spark)
    mentions, raw = pipe.scan_products(docs)
    assert _rows(mentions) == _rows(pipe.mentions(docs))
    assert _rows(mentions) == _rows(union_mentions(
        gazetteer_ner(docs, SCAN_GAZ), regex_literal_ner(docs)))
    assert _rows(raw) == _rows(pipe.raw_triples(docs))


def test_custom_mention_backend_keeps_separate_stages(spark):
    class CustomNER(KGPipeline):
        def mentions(self, documents):
            return gazetteer_ner(documents, self.gazetteer)

    docs = _docs(spark, SCAN_DOCS)
    pipe = _scan_pipeline(spark, CustomNER)
    mentions, raw = pipe.scan_products(docs)
    # falls back to the overridden mentions() and the separate rule pass
    assert _rows(mentions) == _rows(gazetteer_ner(docs, SCAN_GAZ))
    assert _rows(raw) == _rows(pipe.raw_triples(docs))


def test_scan_scanner_cache_outlives_the_task():
    """Scanners are cached in a module-level dict reached through a
    module-level function, which cloudpickle ships by reference: every task
    a Python worker runs finds the same dict (a cache in the UDF's closure
    would be unpickled afresh per task). Keys are per pattern list, so
    '|'-joined collisions get distinct scanners."""
    from pyspark import cloudpickle

    from waka_spark.operators import ner

    assert cloudpickle.loads(cloudpickle.dumps(ner._scanner)) is ner._scanner
    piped, plain = ["a|b", "c"], ["a", "b", "c"]
    k1, k2 = ner._digest(piped), ner._digest(plain)
    assert k1 != k2
    assert ner._scanner(k1, piped) is ner._scanner(k1, piped)
    assert ner._scanner(k2, plain).present("a b") == {"a", "b"}
