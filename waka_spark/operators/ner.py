"""P2-P7 — entity mention detection.

The reference runs an ensemble of three transformer NER backends per document
(entity_recognition.py:332-349) and unions their mentions with span-only set
identity (kg.py:34-35). We reproduce the *dataflow*: N pluggable mention
sources → ``union_mentions`` (priority-ordered span dedup). Backends:

- ``gazetteer_ner`` — deterministic surface scan (Arrow-batched
  ``mapInPandas``; one multi-string scanner per task, all word-boundary
  occurrences).
- ``regex_literal_ner`` — numbers / percents / years → typed-literal
  mentions (the P7 literal-encoding path, entity_recognition.py:84-97).
- ``merge_token_runs`` — the relational equivalent of spaCy's contiguous
  PROPN/NOUN run merge (entity_recognition.py:101-171): lag-compare
  sessionization + run-prefix emission, pure DataFrame ops.
- transformer backends (spaCy/Stanza/Flair analogs) share the same
  ``mapInPandas`` shape with per-executor model caches; gated behind
  import guards since the models aren't in this environment.

``scan_documents`` is the pipeline's deterministic corpus scan: the
gazetteer + literal union AND the rule relation extraction
(relations.py) in one Arrow pass per document. ``gazetteer_ner``,
``regex_literal_ner``, ``union_mentions`` and
``relations.rule_relation_extraction`` are its reference implementations
in the tests.

Scale notes: each backend is a narrow map over documents (no shuffle);
the union is a unionByName + one ``row_number`` per span — a single shuffle
on (doc key, span), partition-pruned by the documents' conv_id partitioning.
"""

from __future__ import annotations

import hashlib
import re
from typing import Iterable, Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from waka_spark.config import DATE_TYPES, DECIMAL_TYPES
from waka_spark.functions.aho import make_scanner, word_bounded
from waka_spark.functions.literals import encode_literal
from waka_spark.plans.pins import pin

MENTION_COLS = "conv_id string, start_idx int, end_idx int, text string, e_type string, url string"
_EMPTY_MENTIONS = pd.DataFrame(
    {k: [] for k in ("conv_id", "start_idx", "end_idx", "text", "e_type", "url")}
)


def gazetteer_ner(
    documents: DataFrame, gazetteer: Sequence[tuple[str, str]]
) -> DataFrame:
    """All word-boundary occurrences of every gazetteer surface.

    The gazetteer is closed over (driver-side list, shipped with the
    serialized UDF) — it is a *dictionary*, small by construction; the
    documents side streams through Arrow batches. One scanner pass per
    document finds all overlapping occurrences of every surface; the
    scanner lives in the UDF's closure, which every task unpickles afresh,
    so it is built once per task.
    """
    type_of = {s: t for s, t in gazetteer}
    surfaces = list(type_of)
    automaton_cell: list = []

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if not automaton_cell:  # per-task lazy build
            automaton_cell.append(make_scanner(surfaces))
        ac = automaton_cell[0]
        for pdf in batches:
            out = {k: [] for k in
                   ("conv_id", "start_idx", "end_idx", "text", "e_type", "url")}
            for conv_id, text in zip(pdf["conv_id"], pdf["text"]):
                if not text:
                    continue
                for start, end, surface in ac.finditer(text):
                    if not word_bounded(text, start, end):
                        continue
                    e_type = type_of[surface]
                    out["conv_id"].append(conv_id)
                    out["start_idx"].append(start)
                    out["end_idx"].append(end)
                    out["text"].append(surface)
                    out["e_type"].append(e_type)
                    out["url"].append(encode_literal(surface, e_type))
            yield pd.DataFrame(out) if out["conv_id"] else _EMPTY_MENTIONS

    return documents.select("conv_id", "text").mapInPandas(scan, MENTION_COLS)


# trailing guard blocks decimal/percent continuations ("3.14"→whole match
# only, "27%%"→none) but not sentence punctuation ("staff 4019.")
_NUMBER_RE = re.compile(r"(?<![\w.])[+-]?\d[\d,]*(?:\.\d+)?%?(?!\w|\.\d|%)")
_YEAR_RE = re.compile(r"(?<!\w)(1[0-9]{3}|20[0-9]{2})(?!\w)")


def regex_literal_ner(documents: DataFrame) -> DataFrame:
    """Numeric/percent/year mentions with typed-literal URLs (P7).

    Labels follow the reference's NER label sets (entity_recognition.py:34-36):
    ``%``-suffixed → PERCENT, bare 4-digit years → DATE, other numbers →
    CARDINAL. The URL is minted here, so these mentions pass through entity
    linking as pre-linked literals with score 1.0 (entity_linking.py:83-93).
    """

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in
                   ("conv_id", "start_idx", "end_idx", "text", "e_type", "url")}
            for conv_id, text in zip(pdf["conv_id"], pdf["text"]):
                if not text:
                    continue
                spans: dict[tuple[int, int], tuple[str, str]] = {}
                for m in _YEAR_RE.finditer(text):
                    spans[(m.start(), m.end())] = (m.group(0), "DATE")
                for m in _NUMBER_RE.finditer(text):
                    key = (m.start(), m.end())
                    if key not in spans:
                        e_type = "PERCENT" if m.group(0).endswith("%") else "CARDINAL"
                        spans[key] = (m.group(0), e_type)
                for (s, e), (surface, e_type) in spans.items():
                    out["conv_id"].append(conv_id)
                    out["start_idx"].append(s)
                    out["end_idx"].append(e)
                    out["text"].append(surface)
                    out["e_type"].append(e_type)
                    out["url"].append(encode_literal(surface, e_type))
            yield pd.DataFrame(out)

    return documents.select("conv_id", "text").mapInPandas(scan, MENTION_COLS)


def union_mentions(*backends: DataFrame) -> DataFrame:
    """P6 — ensemble union with span-only identity (kg.py:34-35): the
    reference's ``set.union`` keeps the element from the *earlier* backend
    (entity_recognition.py:343-348), so dedup is priority-ordered:
    backend order in ``*backends`` is the priority order."""
    tagged = [df.withColumn("_prio", F.lit(i)) for i, df in enumerate(backends)]
    unioned = tagged[0]
    for df in tagged[1:]:
        unioned = unioned.unionByName(df)
    w = Window.partitionBy("conv_id", "start_idx", "end_idx").orderBy("_prio")
    return (
        unioned
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_prio", "_rn")
    )


def merge_token_runs(
    tokens: DataFrame, tags: Iterable[str] = ("PROPN", "NOUN")
) -> DataFrame:
    """Relational reimplementation of spaCy noun-run merging
    (entity_recognition.py:101-171): contiguous same-POS runs of
    PROPN/NOUN tokens yield (a) every single token as a mention and
    (b) every run *prefix* of length ≥ 2 (the reference appends the
    accumulated run at each extension step).

    Input: tokens(conv_id, token_idx, start_idx, end_idx, text, pos).
    Output: mention rows (url null, e_type = POS tag).

    Pattern: lag-compare → run-id cumsum → run-prefix window mins. This is
    the same sessionization shape usable for any ordered-run detection.
    """
    tags_list = list(tags)
    w_order = Window.partitionBy("conv_id").orderBy("token_idx")
    tok = (
        tokens
        .withColumn("_tagged", F.col("pos").isin(tags_list))
        .withColumn("_prev_pos", F.lag("pos").over(w_order))
        .withColumn(
            "_new_run",
            (~F.col("_tagged")) | F.col("_prev_pos").isNull()
            | (F.col("_prev_pos") != F.col("pos")),
        )
        .withColumn(
            "_run_id",
            F.sum(F.col("_new_run").cast("int")).over(
                w_order.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .filter("_tagged")
    )
    w_run = Window.partitionBy("conv_id", "_run_id").orderBy("token_idx")
    singles = tok.select(
        "conv_id", "start_idx", "end_idx", "text",
        F.col("pos").alias("e_type"), F.lit(None).cast("string").alias("url"),
    )
    prefixes = (
        tok
        .withColumn("_pos_in_run", F.row_number().over(w_run))
        .withColumn("_run_start", F.min("start_idx").over(w_run))
        .filter(F.col("_pos_in_run") >= 2)
        .select(
            "conv_id",
            F.col("_run_start").alias("start_idx"),
            "end_idx",
            F.lit(None).cast("string").alias("text"),  # caller substrings doc
            F.col("pos").alias("e_type"),
            F.lit(None).cast("string").alias("url"),
        )
    )
    return singles.unionByName(prefixes)


# pattern-list digest -> scanner. ``_scanner`` is a module-level function,
# so cloudpickle ships it by reference and a reused Python worker keeps
# this dict across tasks; a cache held in a UDF's closure is unpickled
# afresh, and rebuilt, by every task.
_SCANNERS: dict[str, object] = {}


def _scanner(key: str, patterns: Sequence[str]):
    scanner = _SCANNERS.get(key)
    if scanner is None:
        if len(_SCANNERS) >= 8:  # bound worker memory across jobs
            _SCANNERS.clear()
        scanner = _SCANNERS[key] = make_scanner(patterns)
    return scanner


def _digest(patterns: Sequence[str]) -> str:
    # repr, not a joined string: '|'.join maps {'a|b','c'} and
    # {'a','b','c'} to one key and would hand one table another's scanner
    return hashlib.md5(repr(list(patterns)).encode()).hexdigest()


_SCAN_NAMES = ["conv_id", "kind", "start_idx", "end_idx", "text", "e_type",
               "url", "subj_text", "pred_text", "obj_text"]
_SCAN_COLS = (
    "conv_id string, kind string, start_idx int, end_idx int, text string, "
    "e_type string, url string, subj_text string, pred_text string, "
    "obj_text string"
)


def scan_documents(
    documents: DataFrame,
    gazetteer: Sequence[tuple[str, str]],
    rules: Sequence[tuple[str, str, str]],
) -> tuple[DataFrame, DataFrame]:
    """The deterministic corpus scan: ``(mentions, raw_triples)`` from ONE
    Arrow pass over the document text.

    - ``mentions`` equals ``union_mentions(gazetteer_ner(d, gazetteer),
      regex_literal_ner(d))``. Both backends emit each span once per
      document, so the priority-ordered union is a per-document dict
      insert — gazetteer first, literals only into vacant spans — and
      needs no dedup shuffle.
    - ``raw_triples`` equals ``relations.rule_relation_extraction`` over
      the same rules: a (subj_surface, pred_text, obj_surface) rule fires
      when both surfaces occur in the document. One scanner pass per
      document finds every rule surface, whatever the rule count.

    Document text is the bulk of the corpus bytes, so it crosses to Python
    once for both products. They come back in one shared schema, split by
    ``kind``; the combined frame is pinned because both splits read it.
    ``gazetteer`` and ``rules`` are driver-side dictionaries shipped with
    the UDF; each scanner is built once per Python worker (``_scanner``).
    Pass ``rules=()`` for mentions only.
    """
    type_of = {s: t for s, t in gazetteer}
    surfaces = list(type_of)
    rules = [tuple(r) for r in rules]
    rule_surfaces = sorted({s for s, _, o in rules} | {o for _, _, o in rules})
    gaz_key, rule_key = _digest(surfaces), _digest(rule_surfaces)

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        gaz_ac = _scanner(gaz_key, surfaces)
        rule_ac = _scanner(rule_key, rule_surfaces)
        for pdf in batches:
            out = {k: [] for k in _SCAN_NAMES}

            def emit(conv_id, kind, start=None, end=None, text=None,
                     e_type=None, url=None, subj=None, pred=None, obj=None):
                out["conv_id"].append(conv_id)
                out["kind"].append(kind)
                out["start_idx"].append(start)
                out["end_idx"].append(end)
                out["text"].append(text)
                out["e_type"].append(e_type)
                out["url"].append(url)
                out["subj_text"].append(subj)
                out["pred_text"].append(pred)
                out["obj_text"].append(obj)

            for conv_id, text in zip(pdf["conv_id"], pdf["text"]):
                if not text:
                    continue
                spans: dict[tuple[int, int], tuple[str, str]] = {}
                for start, end, surface in gaz_ac.finditer(text):
                    if word_bounded(text, start, end):
                        spans[(start, end)] = (surface, type_of[surface])
                for m in _YEAR_RE.finditer(text):
                    spans.setdefault(
                        (m.start(), m.end()), (m.group(0), "DATE"))
                for m in _NUMBER_RE.finditer(text):
                    key = (m.start(), m.end())
                    if key not in spans:
                        e_type = ("PERCENT" if m.group(0).endswith("%")
                                  else "CARDINAL")
                        spans[key] = (m.group(0), e_type)
                for (s, e), (surface, e_type) in spans.items():
                    emit(conv_id, "m", start=s, end=e, text=surface,
                         e_type=e_type, url=encode_literal(surface, e_type))
                present = rule_ac.present(text)
                for subj, pred, obj in rules:
                    if subj in present and obj in present:
                        emit(conv_id, "r", subj=subj, pred=pred, obj=obj)
            yield pd.DataFrame(out, columns=_SCAN_NAMES)

    combined = pin(documents.select("conv_id", "text").mapInPandas(
        scan, _SCAN_COLS))
    mentions = combined.filter(F.col("kind") == "m").select(
        "conv_id", "start_idx", "end_idx", "text", "e_type", "url")
    raw = combined.filter(F.col("kind") == "r").select(
        "conv_id",
        "subj_text",
        F.lit(None).cast("string").alias("subj_type"),
        "pred_text",
        "obj_text",
        F.lit(None).cast("string").alias("obj_type"),
    ).dropDuplicates(["conv_id", "subj_text", "pred_text", "obj_text"])
    return mentions, raw
