"""Fusion (P16-P22) and conflict resolution (P23-P24) semantics."""

import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from waka_spark import schemas
from waka_spark.config import FusionConfig
from waka_spark.operators.conflicts import (
    _conflict_score,
    _levenshtein,
    _overlaps,
    _resolve_group,
    apply_conflict_resolution,
)
from waka_spark.operators.fusion import (
    fuse_triples,
    mention_entity_index,
    resolve_endpoints,
)


def _entities(spark, rows):
    return spark.createDataFrame(rows, schemas.ENTITIES)


def _mention(start, end, text, score, label=None, desc=None, e_type="ORG"):
    return (start, end, text, e_type, label, desc, score)


def test_mention_index_max_score_per_surface(spark):
    ents = _entities(spark, [
        ("c1", "Q1", "Alpha", "d", 0.9, "entity",
         [_mention(0, 5, "Alpha", 0.9), _mention(10, 15, "Alpha", 0.4)]),
    ])
    got = mention_entity_index(ents).collect()
    assert len(got) == 1 and got[0].score == 0.9


def test_resolve_endpoints_exact_then_longest_containment(spark):
    ents = _entities(spark, [
        ("c1", "Q1", "Bauhaus-Universität Weimar", "d", 0.8, "entity",
         [_mention(0, 26, "Bauhaus-Universität Weimar", 0.8)]),
        ("c1", "Q2", "Weimar", "d", 0.7, "entity",
         [_mention(20, 26, "Weimar", 0.7)]),
    ])
    index = mention_entity_index(ents)
    queries = spark.createDataFrame(
        [("c1", "Weimar"), ("c1", "Universität"), ("c1", "")],
        "conv_id string, q_text string",
    )
    got = resolve_endpoints(queries, index).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.q_text, set()).add(r.url)
    assert by_q["Weimar"] == {"Q2"}              # exact beats containment
    assert by_q["Universität"] == {"Q1"}         # longest containing surface
    assert "" not in by_q                        # empty resolves to nothing


def test_resolve_endpoints_fallback_multi_url_surface(spark):
    """The winning surface's *entire* url set comes back (the surface-dedup
    containment join must not drop sibling entities of the best surface),
    and every miss query of a conversation enters the containment join."""
    ents = _entities(spark, [
        ("c1", "Q1", "Bauhaus University", "d", 0.8, "entity",
         [_mention(0, 18, "Bauhaus University", 0.8)]),
        ("c1", "Q9", "Bauhaus University", "d", 0.6, "entity",
         [_mention(0, 18, "Bauhaus University", 0.6)]),
        ("c2", "Q1", "alpha beta gamma", "d", 0.8, "entity",
         [_mention(0, 16, "alpha beta gamma", 0.8)]),
    ])
    index = mention_entity_index(ents)
    queries = spark.createDataFrame(
        [("c1", "University")], "conv_id string, q_text string")
    got = {r.url for r in resolve_endpoints(queries, index).collect()}
    assert got == {"Q1", "Q9"}

    queries = spark.createDataFrame(
        [("c2", "alpha"), ("c2", "beta"), ("c2", "gamma")],
        "conv_id string, q_text string",
    )
    got = resolve_endpoints(queries, index)
    assert {r.q_text for r in got.collect()} == {"alpha", "beta", "gamma"}


def _linked_triples(spark, rows):
    return spark.createDataFrame(rows, schemas.LINKED_TRIPLES)


def test_fusion_pairing_threshold_and_best(spark):
    ents = _entities(spark, [
        ("c1", "Q1", "A", "d", 0.9, "entity", [_mention(0, 1, "A", 0.9)]),
        ("c1", "Q2", "B", "d", 0.8, "entity", [_mention(5, 6, "B", 0.8)]),
        ("c1", "Q3", "B", "d", 0.05, "entity", [_mention(5, 6, "B", 0.05)]),
    ])
    triples = _linked_triples(spark, [
        ("c1", "A", None, "rel", "B", None, "P1", "rel", "d"),
    ])
    got = fuse_triples(triples, ents, use_scorers=False).collect()
    # candidates: (Q1,Q2) score .85 ; (Q1,Q3) score .475 — argmax kept
    assert len(got) == 1
    assert (got[0].subj_url, got[0].obj_url) == ("Q1", "Q2")
    assert abs(got[0].score - 0.85) < 1e-9


def test_fusion_same_url_pair_excluded(spark):
    ents = _entities(spark, [
        ("c1", "Q1", "A", "d", 0.9, "entity",
         [_mention(0, 1, "A", 0.9), _mention(5, 6, "B", 0.9)]),
    ])
    triples = _linked_triples(spark, [
        ("c1", "A", None, "rel", "B", None, "P1", "rel", "d"),
    ])
    assert fuse_triples(triples, ents, use_scorers=False).count() == 0


def test_fusion_known_triple_boost(spark):
    ents = _entities(spark, [
        ("c1", "Q1", "A", "d", 0.2, "entity", [_mention(0, 1, "A", 0.2)]),
        ("c1", "Q2", "B", "d", 0.2, "entity", [_mention(5, 6, "B", 0.2)]),
    ])
    triples = _linked_triples(spark, [
        ("c1", "A", None, "rel", "B", None, "P1", "rel", "d"),
    ])
    known = spark.createDataFrame([("Q1", "P1", "Q2")], schemas.KNOWN_TRIPLES)
    got = fuse_triples(triples, ents, known_triples=known).collect()
    assert abs(got[0].score - 0.6) < 1e-9  # 0.2 * 3


def test_levenshtein():
    assert _levenshtein("", "abc") == 3
    assert _levenshtein("kitten", "sitting") == 3
    assert _levenshtein("same", "same") == 0


def test_overlap_inclusive():
    # kg.py:90-91 is inclusive on both ends
    assert _overlaps({"start_idx": 0, "end_idx": 5},
                     {"start_idx": 5, "end_idx": 9})
    assert not _overlaps({"start_idx": 0, "end_idx": 4},
                         {"start_idx": 5, "end_idx": 9})


def test_conflict_resolution_intra_entity(spark):
    """P23: within one entity, overlapping mentions keep the one closer to
    the label (kg_construction.py:119-140)."""
    table = pa.Table.from_pylist([{
        "conv_id": "c1", "url": "Q1", "label": "Weimar", "description": None,
        "score": 0.9, "e_type": "entity",
        "mentions": [
            {"start_idx": 0, "end_idx": 6, "text": "Weimar", "e_type": "GPE",
             "label": "Weimar", "description": None, "score": 0.9},
            {"start_idx": 0, "end_idx": 26, "text": "Bauhaus-Universität Weimar",
             "e_type": "ORG", "label": "Weimar", "description": None,
             "score": 0.8},
        ],
    }], schema=to_arrow_schema(schemas.ENTITIES))
    out = _resolve_group(table)
    assert out.schema == table.schema
    mentions = out.to_pylist()[0]["mentions"]
    assert len(mentions) == 1 and mentions[0]["text"] == "Weimar"


def test_conflict_resolution_cross_entity(spark):
    """P24: across entities, the lowest conflict score loses its mention;
    triples with a mention-less endpoint die (kg_construction.py:142-155)."""
    ents = _entities(spark, [
        # long high-score mention, label matches text → survives
        ("c1", "Q1", "Bauhaus-Universität Weimar", None, 0.9, "entity",
         [_mention(0, 26, "Bauhaus-Universität Weimar", 0.9,
                   label="Bauhaus-Universität Weimar")]),
        # short overlapping mention, its ONLY mention overlaps → loses it
        ("c1", "Q2", "Weimar", None, 0.3, "entity",
         [_mention(20, 26, "Weimar", 0.3, label="Weimar")]),
        ("c1", "Q3", "Germany", None, 0.8, "entity",
         [_mention(40, 47, "Germany", 0.8, label="Germany")]),
    ])
    fused = spark.createDataFrame(
        [
            ("c1", "t1", "i1", "Q1", "P1", "Q3", 0.8),
            ("c1", "t2", "i2", "Q2", "P2", "Q3", 0.5),
        ],
        "conv_id string, ts_id string, id_ string, subj_url string, "
        "pred_url string, obj_url string, score double",
    )
    triples_out, entities_out = apply_conflict_resolution(fused, ents)
    kept = {r.id_ for r in triples_out.collect()}
    assert kept == {"i1"}  # Q2 lost its only mention → t2 dies
    urls = {r.url for r in entities_out.collect()}
    assert urls == {"Q1", "Q3"}


def test_conflict_resolution_native_pass_adversarial(spark):
    """One grouped Arrow map over every participating conversation: the
    entities' schema comes back, a clean conversation's rows come back
    unchanged, a dirty one's rows are what ``_resolve_group`` gives on the
    driver, and triples die with an endpoint that lost every mention.
    Covers NULL label/description, a NULL start_idx, a non-Latin surface,
    an entity pruned to nothing and a self-loop triple."""
    ents = _entities(spark, [
        # clean: no overlapping spans; NULL label and description, CJK text
        ("clean", "Q10", None, None, 0.7, "entity",
         [_mention(0, 2, "東京", 0.7)]),
        ("clean", "Q11", "Москва", "city", 0.6, "entity",
         [_mention(5, 11, "Москва", 0.6, label="Москва")]),
        # dirty: P23 inside Q1 (both spans overlap) and P24 against Q2,
        # whose only mention overlaps Q1's and loses; the NULL-start
        # mention never overlaps anything and survives
        ("dirty", "Q1", "Bauhaus-Universität Weimar", None, 0.9, "entity",
         [_mention(0, 26, "Bauhaus-Universität Weimar", 0.9),
          _mention(0, 7, "Bauhaus", 0.5),
          _mention(None, 40, "Weimar", 0.4)]),
        ("dirty", "Q2", "Weimar", "town", 0.3, "entity",
         [_mention(20, 26, "Weimar", 0.3)]),
        # in no triple: does not participate
        ("dirty", "Q9", "Jena", None, 0.5, "entity",
         [_mention(50, 54, "Jena", 0.5)]),
    ])
    fused = spark.createDataFrame(
        [
            ("clean", "t1", "i1", "Q10", "P1", "Q11", 0.8),
            ("dirty", "t2", "i2", "Q1", "P1", "Q2", 0.7),
            ("dirty", "t3", "i3", "Q1", "P2", "Q1", 0.6),  # self-loop
        ],
        "conv_id string, ts_id string, id_ string, subj_url string, "
        "pred_url string, obj_url string, score double",
    )
    triples_out, entities_out = apply_conflict_resolution(fused, ents)

    def fields(df):
        return [(f.name, f.dataType) for f in df.schema.fields]

    def by_url(rows):
        return sorted((r.asDict(recursive=True) for r in rows),
                      key=lambda r: r["url"])

    assert fields(entities_out) == fields(ents)
    out = entities_out.collect()

    clean_in = [r for r in ents.collect() if r.conv_id == "clean"]
    assert by_url(r for r in out if r.conv_id == "clean") == by_url(clean_in)

    dirty_in = ents.filter(
        (F.col("conv_id") == "dirty") & F.col("url").isin("Q1", "Q2")
    ).toArrow()
    expected = sorted(_resolve_group(dirty_in).to_pylist(),
                      key=lambda r: r["url"])
    assert by_url(r for r in out if r.conv_id == "dirty") == expected
    assert [r["url"] for r in expected] == ["Q1"]
    assert [m["text"] for m in expected[0]["mentions"]] == [
        "Bauhaus-Universität Weimar", "Weimar"]

    assert {r.id_ for r in triples_out.collect()} == {"i1", "i3"}


def test_p24_incremental_matches_rescan():
    """The lazy-heap fixpoint (_resolve_p24) removes exactly the same
    mentions as the reference-shaped full-rescan loop, on randomized
    corpora including dense overlap clusters (kg_construction.py:142-157
    semantics; monotone-score argument in conflicts.py)."""
    import copy
    import json
    import random

    from waka_spark.operators.conflicts import _resolve_p24, _resolve_p24_rescan

    rng = random.Random(1234)
    for _ in range(60):
        ents = []
        for e in range(rng.randint(1, 15)):
            ments = []
            for _ in range(rng.randint(1, 6)):
                s = rng.randint(0, rng.choice([5, 40]))  # dense + sparse spans
                ments.append({
                    "start_idx": s, "end_idx": s + rng.randint(1, 8),
                    "text": "tok" + str(rng.randint(0, 15)),
                    "e_type": "PER", "label": None, "description": None,
                    "score": round(rng.random(), 3),
                })
            ents.append({
                "conv_id": "c", "url": f"http://e/{e}",
                "label": "tok" + str(rng.randint(0, 15)),
                "mentions": ments,
            })
        a, b = copy.deepcopy(ents), copy.deepcopy(ents)
        _resolve_p24_rescan([x for x in a if x["mentions"]])
        _resolve_p24([x for x in b if x["mentions"]])

        def dump(es):
            return json.dumps(
                [(e["url"], sorted(json.dumps(m, sort_keys=True)
                                   for m in e["mentions"])) for e in es]
            )

        assert dump(a) == dump(b)
