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
