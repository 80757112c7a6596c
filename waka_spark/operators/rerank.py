"""P11 — sentence-context candidate reranking.

Reference (semantics.py:176-221): Punkt sentence spans; every candidate with
a label/description whose span lies inside a sentence gets its score
multiplied by cos-sim(SBERT(sentence), SBERT(f"{label} is a {description}"));
then all candidates are sorted by score and filtered at ``score >= 0.05``
(semantics.py:221). Pre-linked literals (label/description None) are not
rescored but *are* subject to the final filter (they pass at score 1.0).

Dataflow here:
1. sentence split — Arrow-batched mapInPandas (regex splitter standing in
   for Punkt; same span semantics: (start, end) character offsets);
2. candidate→sentence alignment — one left range-containment join per
   conv_id; each sentence's token array is computed once, before the join;
3. similarity on every aligned row, in place — no distinct, no join-back;
4. multiply (rows without a containing sentence keep their score) +
   threshold filter.

The similarity backend is pluggable. The deterministic CPU backend is
lexical containment — |tokens(label∪description) ∩ tokens(sentence)| /
|tokens(label∪description)| — affinely calibrated to the SBERT cos-sim range
(sim = 0.3 + 0.7·containment), monotone in lexical agreement, evaluated as a
native column (``lexical_sim_col``; ``lexical_containment_sim`` is its
Python reference). A transformer backend drops in through
``rerank_candidates(sim_udf=...)``: an SBERT pandas UDF with a per-executor
model cache.
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SENT_RE = re.compile(r"[^.!?]*[.!?]+(?:\s+|$)|[^.!?]+$")

SENTENCE_COLS = "conv_id string, sent_idx int, sent_start int, sent_end int, sent_text string"


def split_sentences(documents: DataFrame) -> DataFrame:
    """documents → sentences with character spans (Punkt analog)."""

    def split(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in
                   ("conv_id", "sent_idx", "sent_start", "sent_end", "sent_text")}
            for conv_id, text in zip(pdf["conv_id"], pdf["text"]):
                if not text:
                    continue
                for i, m in enumerate(_SENT_RE.finditer(text)):
                    raw = m.group(0)
                    stripped = raw.rstrip()
                    if not stripped:
                        continue
                    out["conv_id"].append(conv_id)
                    out["sent_idx"].append(i)
                    out["sent_start"].append(m.start())
                    out["sent_end"].append(m.start() + len(stripped))
                    out["sent_text"].append(stripped)
            yield pd.DataFrame(out)

    return documents.select("conv_id", "text").mapInPandas(split, SENTENCE_COLS)


def _tokens(s: str) -> set[str]:
    return set(re.findall(r"[a-z0-9]+", s.lower()))


def lexical_containment_sim(sent: str, label: str, description: str) -> float:
    cand = _tokens(f"{label or ''} {description or ''}")
    if not cand:
        return 1.0
    overlap = len(cand & _tokens(sent or ""))
    return 0.3 + 0.7 * (overlap / len(cand))


def _token_arr(col):
    """JVM analog of ``_tokens``: distinct [a-z0-9]+ runs, lowercased."""
    return F.array_remove(
        F.array_distinct(F.split(F.lower(F.coalesce(col, F.lit(""))),
                                 r"[^a-z0-9]+")),
        "",
    )


def lexical_sim_col(sent_tokens, label, desc):
    """``lexical_containment_sim`` as a native column expression over the
    sentence's precomputed ``_token_arr`` — identical values, but
    whole-stage-codegen JVM arithmetic instead of a Python UDF. NULL where
    ``sent_tokens`` is NULL (no containing sentence)."""
    cand = _token_arr(F.concat_ws(" ", F.coalesce(label, F.lit("")),
                                  F.coalesce(desc, F.lit(""))))
    overlap = F.size(F.array_intersect(cand, sent_tokens))
    # parenthesization mirrors the Python reference bit-for-bit:
    # 0.3 + 0.7 * (overlap / len)
    return F.when(
        sent_tokens.isNotNull(),
        F.when(F.size(cand) == 0, F.lit(1.0)).otherwise(
            F.lit(0.3) + F.lit(0.7) * (overlap / F.size(cand))
        ),
    )


def rerank_candidates(
    candidates: DataFrame,
    sentences: DataFrame,
    threshold: float = 0.05,
    sim_udf=None,
) -> DataFrame:
    """Multiply candidate scores by sentence-context similarity, then filter
    at ``threshold`` (semantics.py:215-221).

    One narrow pass: every candidate is left-joined once to the sentence
    containing its span, and the similarity is evaluated on the aligned
    row. Only candidates with a label or description can match a sentence
    (pre-linked literals are not rescored); a candidate without a
    containing sentence keeps its score (semantics.py:205-206).

    ``sim_udf`` swaps the similarity backend (default: the native
    ``lexical_sim_col``): a pandas UDF (sent, label, description) -> double,
    e.g. ``F.pandas_udf(sbert_similarity_scorer(...), "double")`` for the
    P11 SBERT production scorer (semantics.py:210-217). It sees every
    candidate row, so it must return NULL where ``sent`` is NULL; the score
    is kept there (``coalesce(sim, 1.0)``). Repeated (sentence, label,
    description) pairs are not deduplicated here: a model scorer encodes
    each distinct text of its batch once itself.
    """
    # sentence containing the candidate span (range-containment join);
    # candidates spanning sentence boundaries keep their score, matching the
    # reference's skip behavior (semantics.py:205-206).
    #
    # Scale: a plain equi-join on conv_id alone degenerates to
    # |mentions_c| x |sentences_c| pairs per conversation — quadratic in
    # document length, catastrophic on Zipf-hot conversations. Standard
    # interval-binning fix: join on (conv_id, chunk) where chunk =
    # floor(offset / CHUNK); each sentence replicates to the chunks it
    # overlaps (sentences are short, so the fan-out is ~1), and each
    # candidate probes only the chunk containing its start offset. A
    # containing sentence necessarily overlaps that chunk, so the match set
    # is identical; sentences are disjoint so each span still matches <= 1.
    CHUNK = 512
    sent_binned = sentences.select(
        "conv_id", "sent_start", "sent_end", "sent_text",
        _token_arr(F.col("sent_text")).alias("_sent_tokens"),
    ).withColumn(
        "_s_chunk",
        F.explode(
            F.sequence(
                (F.col("sent_start") / CHUNK).cast("long"),
                (F.col("sent_end") / CHUNK).cast("long"),
            )
        ),
    )
    binned = candidates.withColumn(
        "_chunk", (F.col("start_idx") / CHUNK).cast("long")
    )
    aligned = binned.join(
        sent_binned,
        on=[
            binned["label"].isNotNull() | binned["description"].isNotNull(),
            binned["conv_id"] == sent_binned["conv_id"],
            binned["_chunk"] == sent_binned["_s_chunk"],
            binned["start_idx"] >= sent_binned["sent_start"],
            binned["end_idx"] <= sent_binned["sent_end"],
        ],
        how="left",
    ).drop(sent_binned["conv_id"])
    sim = (
        sim_udf(F.col("sent_text"), F.col("label"), F.col("description"))
        if sim_udf is not None
        else lexical_sim_col(F.col("_sent_tokens"), F.col("label"),
                             F.col("description"))
    )
    return (
        aligned
        .withColumn("score", F.col("score") * F.coalesce(sim, F.lit(1.0)))
        .select(*candidates.columns)
        .filter(F.col("score") >= threshold)
    )
