"""Parity fixtures: the reference's bundled worked example plus the
dictionary tables that replace its external services.

The reference validates on ``data/bauhaus-university-weimar.{txt,nt}``
(README.md:87): a source paragraph and the expected triples as commented
N-Triples. Its external dependencies — two Elasticsearch Wikidata indices
(entity_linking.py:22, relation_linking.py:20), a SPARQL ASK endpoint
(semantics.py:56-62), and GPU models — are replaced here by deterministic
dictionary tables with the same *ranking semantics* (broadcast-joined), so
the full pipeline runs CPU-only and reproducibly.

Gold URL-space conventions (documented so the parity metric is well-defined):

- entity objects keep their full Wikidata URL;
- quoted string literals in the ``.nt`` (e.g. ``"Bauhaus"``) are represented
  as the quoted string itself in ``obj_url`` — the reference has no string
  literal encoding (only decimal/datetime, entity_recognition.py:27-29), so
  we mint the alias-dictionary entries that link these surfaces to their
  quoted-literal form;
- bare numeric literals (``4000``) are encoded exactly as the reference's
  decimal encoding would: ``+4000^^http://www.w3.org/2001/XMLSchema#decimal``
  (entity_recognition.py:52).
"""

from __future__ import annotations

import re
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from waka_spark import schemas
from waka_spark.config import XSD_DECIMAL

REFERENCE_DATA = Path("/root/reference/data")

WD = "http://www.wikidata.org/entity/"
WDP = "http://www.wikidata.org/prop/direct/"


def bauhaus_available() -> bool:
    """Whether the reference's parity fixture (text and gold) is present."""
    return all(
        (REFERENCE_DATA / f"bauhaus-university-weimar.{ext}").exists()
        for ext in ("txt", "nt")
    )


def load_bauhaus_text() -> str:
    return (REFERENCE_DATA / "bauhaus-university-weimar.txt").read_text().strip()


def sample_text() -> str:
    """In-repo sample input: one sentence per ``BAUHAUS_RULES`` fact, so
    every gazetteer surface occurs and the pipeline builds one edge per
    rule. For tests that need sample input, not parity with the
    reference's paragraph."""
    return " ".join(f"{s} {p} {o}." for s, p, o in BAUHAUS_RULES)


def parse_ntriples_gold(path: Path | None = None) -> list[tuple[str, str, str]]:
    """Parse the commented N-Triples gold file into URL-space triples using
    the conventions above (kg.py:241-245 emits ``<s> <p> <o> .`` lines)."""
    path = path or (REFERENCE_DATA / "bauhaus-university-weimar.nt")
    triples = []
    for line in path.read_text().splitlines():
        line = line.strip()
        if not line or line.startswith("#"):
            continue
        m = re.match(
            r"<([^>]+)>\s+(<[^>]+>|_:\S+)\s+(<[^>]+>|\"[^\"]*\"|\S+)\s*\.",
            line,
        )
        if not m:
            continue
        subj = m.group(1)
        pred = m.group(2).strip("<>")
        obj = m.group(3)
        if obj.startswith("<"):
            obj = obj.strip("<>")
        elif obj.startswith('"'):
            pass  # quoted string literal kept verbatim
        else:
            obj = f"{float(obj):+0.0f}^^{XSD_DECIMAL}"
        triples.append((subj, pred, obj))
    return triples


def bauhaus_gold_triples(spark: SparkSession, conv_id: str = "bauhaus") -> DataFrame:
    rows = [(conv_id, s, p, o) for s, p, o in parse_ntriples_gold()]
    return spark.createDataFrame(rows, schemas.GOLD_TRIPLES)


# ------------------------------------------------------------- dictionaries

# NER gazetteer: surfaces present in the fixture text with NER-style labels.
# Literal-typed surfaces (CARDINAL here) take the typed-literal URL path
# (entity_recognition.py:84-97); everything else goes through entity linking.
BAUHAUS_GAZETTEER = [
    ("Bauhaus-Universität Weimar", "ORG"),
    ("Weimar", "GPE"),
    ("Germany", "GPE"),
    ("university", "NOUN"),
    ("artistic", "MISC"),
    ("technical", "MISC"),
    ("1860", "YEAR"),       # linked to the year *entity* Q7691, not a literal
    ("Great Ducal Saxon Art School", "WORK_OF_ART"),
    ("Bauhaus", "ORG"),
    ("Walter Gropius", "PERSON"),
    ("4000", "CARDINAL"),   # decimal literal path
]

# Wikidata alias dictionary (alias_key normalized as text_norm.norm_key).
# Distractor rows exercise the frequency-ranked top-k (entity_linking.py:47-52).
BAUHAUS_ALIASES = [
    # alias_key, url, label, description, frequency
    ("bauhaus-universität weimar", f"{WD}Q573975", "Bauhaus-Universität Weimar",
     "university in Weimar, Germany", 5000),
    ("weimar", f"{WD}Q3955", "Weimar", "city in Thuringia, Germany", 8000),
    ("weimar", f"{WD}Q156144", "Weimar Republic",
     "historical period of Germany", 400),  # distractor, lower frequency
    ("germany", f"{WD}Q183", "Germany", "country in Central Europe", 100000),
    ("university", f"{WD}Q3918", "university",
     "academic institution for higher education", 50000),
    ("artistic", f"{WD}Q735", "art", "creative work and its expression", 30000),
    ("art", f"{WD}Q735", "art", "creative work and its expression", 30000),
    ("technical", f"{WD}Q23001701", "technics",
     "technical and engineering fields", 1200),
    ("1860", f"{WD}Q7691", "1860", "year", 2000),
    ("great ducal saxon art school", '"Great Ducal Saxon Art School"',
     "Great Ducal Saxon Art School", "former name of the university", 150),
    ("bauhaus", '"Bauhaus"', "Bauhaus", "art school name", 3000),
    ("walter gropius", f"{WD}Q61071", "Walter Gropius", "German architect", 4000),
    # category rows are dropped by the linker (entity_linking.py:113-116)
    ("weimar", f"{WD}Q999999", "Category:Weimar", "category page", 9999999),
]

BAUHAUS_PROPERTIES = [
    ("instance of", f"{WDP}P31", "instance of",
     "that class of which this subject is a particular example", 90000),
    ("located in", f"{WDP}P131", "located in the administrative territorial entity",
     "the item is located on the territory of this entity", 70000),
    ("country", f"{WDP}P17", "country", "sovereign state of this item", 80000),
    ("specializes in", "_:teaches", "teaches", "field taught by this institution", 500),
    ("established", f"{WDP}P571", "inception",
     "date or point in time when the subject came into existence", 40000),
    ("alternative name", f"{WDP}P4970", "alternate names",
     "alternative names of this entity", 600),
    ("director", f"{WDP}P1037", "director / manager",
     "person who manages the organisation", 7000),
    ("students count", f"{WDP}P2196", "students count",
     "number of students of the organization", 300),
]

# rule-based relation extraction seed: fires when both surfaces occur in the
# document (deterministic substitute for mREBEL, relation_extraction.py:106-150)
BAUHAUS_RULES = [
    ("Bauhaus-Universität Weimar", "instance of", "university"),
    ("Bauhaus-Universität Weimar", "located in", "Weimar"),
    ("Weimar", "country", "Germany"),
    ("Bauhaus-Universität Weimar", "specializes in", "artistic"),
    ("Bauhaus-Universität Weimar", "specializes in", "technical"),
    ("Bauhaus-Universität Weimar", "established", "1860"),
    ("Bauhaus-Universität Weimar", "alternative name", "Great Ducal Saxon Art School"),
    ("Bauhaus-Universität Weimar", "alternative name", "Bauhaus"),
    ("Bauhaus-Universität Weimar", "director", "Walter Gropius"),
    ("Bauhaus-Universität Weimar", "students count", "4000"),
]

# known-triples reference table (replaces SPARQL ASK, semantics.py:56-62):
# a subset of gold, exercising the x3 existence boost (semantics.py:73-76)
BAUHAUS_KNOWN_TRIPLES = [
    (f"{WD}Q3955", f"{WDP}P17", f"{WD}Q183"),
    (f"{WD}Q573975", f"{WDP}P31", f"{WD}Q3918"),
]

# Subset of the nationality→country multi-map the reference loads from
# data/countries.csv (entity_linking.py:60-74); public-domain country data.
NATIONALITY_TO_COUNTRY = [
    ("German", "Germany"), ("French", "France"), ("American", "United States"),
    ("British", "United Kingdom"), ("Italian", "Italy"), ("Spanish", "Spain"),
    ("Dutch", "Netherlands"), ("Austrian", "Austria"), ("Swiss", "Switzerland"),
    ("Polish", "Poland"), ("Danish", "Denmark"), ("Swedish", "Sweden"),
    ("Norwegian", "Norway"), ("Finnish", "Finland"), ("Russian", "Russia"),
    ("Chinese", "China"), ("Japanese", "Japan"), ("Korean", "South Korea"),
    ("Indian", "India"), ("Brazilian", "Brazil"), ("Canadian", "Canada"),
    ("Australian", "Australia"), ("Mexican", "Mexico"), ("Greek", "Greece"),
    ("Turkish", "Turkey"), ("Portuguese", "Portugal"), ("Belgian", "Belgium"),
    ("Czech", "Czech Republic"), ("Hungarian", "Hungary"), ("Irish", "Ireland"),
]


def gazetteer_df(spark: SparkSession, rows=None) -> DataFrame:
    return spark.createDataFrame(rows or BAUHAUS_GAZETTEER, schemas.GAZETTEER)


def aliases_df(spark: SparkSession, rows=None) -> DataFrame:
    return spark.createDataFrame(rows or BAUHAUS_ALIASES, schemas.WD_ALIASES)


def properties_df(spark: SparkSession, rows=None) -> DataFrame:
    return spark.createDataFrame(rows or BAUHAUS_PROPERTIES, schemas.WD_PROPERTIES)


def rules_df(spark: SparkSession, rows=None) -> DataFrame:
    return spark.createDataFrame(rows or BAUHAUS_RULES, schemas.RELATION_RULES)


def known_triples_df(spark: SparkSession, rows=None) -> DataFrame:
    return spark.createDataFrame(rows or BAUHAUS_KNOWN_TRIPLES, schemas.KNOWN_TRIPLES)


def nationalities_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        NATIONALITY_TO_COUNTRY, "nationality string, country string"
    )


def bauhaus_transcripts(spark: SparkSession, conv_id: str = "bauhaus",
                        n_turns: int = 3, text: str | None = None) -> DataFrame:
    """``text`` (default: the fixture text) split across conversation turns
    (sentence groups), so document assembly has real work to do; per-turn
    text equality and stable (conv_id, turn_idx) ordering are asserted by
    tests over this table."""
    import datetime as dt

    text = text or load_bauhaus_text()
    sentences = re.split(r"(?<=[.!?])\s+", text)
    per_turn = max(1, (len(sentences) + n_turns - 1) // n_turns)
    rows = []
    for i in range(0, len(sentences), per_turn):
        turn_idx = i // per_turn
        rows.append((
            conv_id,
            turn_idx,
            "user" if turn_idx % 2 == 0 else "assistant",
            " ".join(sentences[i:i + per_turn]),
            None,
            dt.datetime(2024, 1, 1, 12, 0, turn_idx),
        ))
    return spark.createDataFrame(rows, schemas.TRANSCRIPTS)
