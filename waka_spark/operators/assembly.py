"""P1 — document assembly: conversation turns → per-conv documents.

The reference receives whole texts per request (serve.py:46-64); its frontend
collapses whitespace before submission (web/main.js:488-490). Our input is a
turns table (BASELINE.json input_hint), so assembly is ours: a window-ordered
concatenation under stable ``(conv_id, turn_idx)`` ordering.

Scale notes (10^12 turns):
- one `groupBy(conv_id)` shuffle; AQE handles the Zipf tail, and
  ``chunked_documents`` bounds the per-group size so no single conversation
  creates an unsplittable hot task (the analog of mREBEL's 512-token
  sentence batching, relation_extraction.py:133).
- ``array_sort`` over collected (turn_idx, text) structs instead of a
  window-sort keeps it to a single shuffle (no pre-sort + re-agg).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_repartition(transcripts: DataFrame, buckets: int = 16) -> DataFrame:
    """Skew-absorbing ingest repartition (SURVEY.md §4): distribute each
    conversation's turns over ``buckets`` salted keys so one 10^6-turn
    conversation spreads across executors instead of pinning one. The
    assembly ``groupBy(conv_id)`` re-shuffles anyway — the salt protects
    every narrow stage in between (NER, linking run per-partition)."""
    salt = F.concat_ws(
        "_", F.col("conv_id"), F.pmod(F.xxhash64("turn_idx"), F.lit(buckets))
    )
    return transcripts.repartition(salt)


def _ordered_texts() -> Column:
    """Aggregate: the group's turn texts in ``turn_idx`` order.
    ``collect_list`` order is unspecified, so it collects
    ``struct(turn_idx, text)`` and ``array_sort`` orders the structs
    (field-order lexicographic ⇒ turn_idx first)."""
    return F.transform(
        F.array_sort(F.collect_list(F.struct("turn_idx", "text"))),
        lambda s: s["text"],
    )


def assemble_documents(transcripts: DataFrame, sep: str = " ") -> DataFrame:
    """turns → documents(conv_id, text, n_turns).

    The concat is deterministic: the texts are joined in ``turn_idx``
    order (:func:`_ordered_texts`). turn_idx is dense and unique per conv
    (input invariant).
    """
    return (
        transcripts
        .groupBy("conv_id")
        .agg(
            F.array_join(_ordered_texts(), sep).alias("text"),
            F.count(F.lit(1)).cast("int").alias("n_turns"),
        )
    )


def chunked_documents(
    transcripts: DataFrame, max_turns_per_chunk: int = 512, sep: str = " "
) -> DataFrame:
    """Skew-capped assembly: documents become (conv_id, chunk_idx) pieces of
    at most ``max_turns_per_chunk`` turns. Downstream per-document operators
    treat ``doc_id = conv_id || '#' || chunk_idx`` as the document key, so a
    10^6-turn conversation becomes ~2k bounded tasks instead of one hot key.
    """
    chunked = transcripts.withColumn(
        "chunk_idx", (F.col("turn_idx") / F.lit(max_turns_per_chunk)).cast("int")
    )
    return (
        chunked
        .groupBy("conv_id", "chunk_idx")
        .agg(
            F.array_join(_ordered_texts(), sep).alias("text"),
            F.count(F.lit(1)).cast("int").alias("n_turns"),
        )
        .withColumn("doc_id", F.concat_ws("#", "conv_id", "chunk_idx"))
    )


def assemble_with_turns(transcripts: DataFrame, sep: str = " ") -> DataFrame:
    """Like :func:`assemble_documents` but also retains the ordered array of
    per-turn texts, enabling an exact explode round-trip (the input_hint's
    per-turn text-equality invariant)."""
    return (
        transcripts
        .groupBy("conv_id")
        .agg(_ordered_texts().alias("turn_texts"))
        .select(
            "conv_id",
            F.array_join("turn_texts", sep).alias("text"),
            "turn_texts",
            F.size("turn_texts").alias("n_turns"),
        )
    )


def explode_documents(documents_with_turns: DataFrame) -> DataFrame:
    """Inverse of :func:`assemble_with_turns` for round-trip invariant tests:
    documents → (conv_id, turn_idx, text) with the original dense 0-based
    turn_idx restored by position."""
    return documents_with_turns.select(
        "conv_id",
        F.posexplode("turn_texts").alias("turn_idx", "text"),
    )
