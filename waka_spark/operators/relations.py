"""P13-P14 — relation extraction.

The reference generates tagged token strings with seq2seq models (mREBEL:
relation_extraction.py:106-150, 3 beams × 3 return sequences over NLTK
sentences; REBEL: relation_extraction.py:25-39) and decodes them with
tag-grammar state machines (mREBEL grammar: relation_extraction.py:152-205;
REBEL grammar with first-unclaimed-occurrence offset assignment:
relation_extraction.py:41-103). Output triples carry *text* endpoints —
mREBEL assigns no offsets (relation_extraction.py:207-209), which is why the
fusion stage joins on text, not span.

Backends here:

- ``rule_relation_extraction`` — deterministic CPU backend: a broadcast
  rules table (subj_surface, pred_text, obj_surface) fires when both
  surfaces occur in the document. Pure DataFrame ops (containment theta-join
  against a broadcast side), no UDF. The pipeline's default runs the same
  rules inside ``ner.scan_documents``' one corpus pass (one scanner pass per
  document whatever the rule count); this join is its test reference and
  the single-backend stage.
- ``decode_mrebel_tags`` / ``decode_rebel_tags`` — the tag grammars as pure
  Python functions (golden-tested), used by the transformer backend's
  mapInPandas and reusable for replaying stored model generations.
- ``transformer_relation_extraction`` — the mREBEL dataflow with an Arrow
  pandas UDF and per-executor model cache; import-gated (no GPU/models in
  this sandbox).

Per-document triple dedup by (subj_text, pred_text, obj_text) mirrors
relation_extraction.py:143-148.
"""

from __future__ import annotations

from typing import Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

RAW_TRIPLE_COLS = (
    "conv_id string, subj_text string, subj_type string, "
    "pred_text string, obj_text string, obj_type string"
)


def rule_relation_extraction(documents: DataFrame, rules: DataFrame) -> DataFrame:
    """documents × broadcast(rules) containment join → raw triples.

    A rule fires when both its surfaces appear in the document text
    (document-level evidence, like the reference's doc-batched generation).
    The join is a theta-join against the broadcast dictionary side: the big
    documents relation is never shuffled.
    """
    return (
        documents.alias("d")
        .join(
            F.broadcast(rules).alias("r"),
            F.col("d.text").contains(F.col("r.subj_surface"))
            & F.col("d.text").contains(F.col("r.obj_surface")),
        )
        .select(
            F.col("d.conv_id").alias("conv_id"),
            F.col("r.subj_surface").alias("subj_text"),
            F.lit(None).cast("string").alias("subj_type"),
            F.col("r.pred_text").alias("pred_text"),
            F.col("r.obj_surface").alias("obj_text"),
            F.lit(None).cast("string").alias("obj_type"),
        )
        .dropDuplicates(["conv_id", "subj_text", "pred_text", "obj_text"])
    )


# --------------------------------------------------------------- decoders

_SPECIALS = ("<s>", "<pad>", "</s>", "tp_XX", "__en__")


def decode_mrebel_tags(tagged_text: str) -> list[dict]:
    """mREBEL typed-triplet tag grammar (relation_extraction.py:152-205).

    Grammar over the token stream: ``<triplet>``/``<relation>`` opens a new
    subject; the first ``<type>`` marker after subject text captures the
    subject type and switches to object collection; the second captures the
    object type and switches to relation collection; a further marker (or a
    new ``<triplet>``) flushes the pending (subject, relation, object).
    Returns dicts: subj_text, subj_type, pred_text, obj_text, obj_type.
    """
    text = tagged_text
    for sp in _SPECIALS:
        text = text.replace(sp, "")

    triples: list[dict] = []
    state = "idle"
    subj: list[str] = []
    obj: list[str] = []
    rel: list[str] = []
    subj_type = ""
    obj_type = ""

    def flush() -> None:
        if rel:
            triples.append({
                "subj_text": " ".join(subj).strip(),
                "subj_type": subj_type,
                "pred_text": " ".join(rel).strip(),
                "obj_text": " ".join(obj).strip(),
                "obj_type": obj_type,
            })

    for token in text.split():
        if token in ("<triplet>", "<relation>"):
            flush()
            rel = []
            subj = []
            state = "subject"
        elif token.startswith("<") and token.endswith(">"):
            if state in ("subject", "relation"):
                # marker after subject text (or after a completed relation):
                # flush pending, start collecting the object
                flush()
                obj = []
                subj_type = token[1:-1]
                state = "object"
            else:  # state == "object"
                obj_type = token[1:-1]
                rel = []
                state = "relation"
        else:
            if state == "subject":
                subj.append(token)
            elif state == "object":
                obj.append(token)
            elif state == "relation":
                rel.append(token)

    if subj and rel and obj and subj_type and obj_type:
        triples.append({
            "subj_text": " ".join(subj).strip(),
            "subj_type": subj_type,
            "pred_text": " ".join(rel).strip(),
            "obj_text": " ".join(obj).strip(),
            "obj_type": obj_type,
        })
    # the in-stream flushes and the tail flush can double-emit the final
    # triple only if the stream ended right after a flush-inducing marker
    # with empty tails — guarded by the emptiness checks above
    return triples


def decode_rebel_tags(tagged_text: str, original_text: str) -> list[dict]:
    """REBEL single-triplet grammar with offset recovery
    (relation_extraction.py:41-103): ``<triplet> subj <subj> obj <obj> rel``.

    Offsets: the *first token* of each endpoint claims its first unclaimed
    word-boundary occurrence in the original text, in decode order —
    order-dependent by design; we reproduce it exactly (SURVEY.md §4
    hazards). Endpoint end_idx = start_idx + len(endpoint text).
    """
    import re as _re

    text = tagged_text.strip()
    for sp in ("<s>", "<pad>", "</s>"):
        text = text.replace(sp, "")

    claimed: dict[str, list[int]] = {}

    def claim_start(token: str) -> int | None:
        if token not in claimed:
            claimed[token] = [
                m.start()
                for m in _re.finditer(rf"\b{_re.escape(token)}\b", original_text)
            ]
        positions = claimed[token]
        if not positions:
            return None
        start = positions.pop(0)
        return start

    triples: list[dict] = []
    state = "idle"
    subj_tokens: list[str] = []
    obj_tokens: list[str] = []
    rel_tokens: list[str] = []
    subj_start: int | None = None
    obj_start: int | None = None

    def flush() -> None:
        if subj_tokens and rel_tokens and obj_tokens:
            subj_text = " ".join(subj_tokens)
            obj_text = " ".join(obj_tokens)
            triples.append({
                "subj_text": subj_text,
                "subj_start": subj_start,
                "subj_end": None if subj_start is None else subj_start + len(subj_text),
                "pred_text": " ".join(rel_tokens),
                "obj_text": obj_text,
                "obj_start": obj_start,
                "obj_end": None if obj_start is None else obj_start + len(obj_text),
            })

    for token in text.split():
        if token == "<triplet>":
            flush()
            rel_tokens = []
            subj_tokens = []
            subj_start = None
            state = "subject"
        elif token == "<subj>":
            flush()
            obj_tokens = []
            obj_start = None
            state = "object"
        elif token == "<obj>":
            rel_tokens = []
            state = "relation"
        else:
            if state == "subject":
                if not subj_tokens:
                    subj_start = claim_start(token)
                subj_tokens.append(token)
            elif state == "object":
                if not obj_tokens:
                    obj_start = claim_start(token)
                obj_tokens.append(token)
            elif state == "relation":
                rel_tokens.append(token)

    flush()
    return triples


def decoded_mrebel_to_df(
    generations: DataFrame, tagged_col: str = "tagged_text"
) -> DataFrame:
    """(conv_id, tagged_text) rows — e.g. stored model generations — decoded
    into RAW_TRIPLES via the mREBEL grammar, deduped per document."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for conv_id, tagged in zip(pdf["conv_id"], pdf[tagged_col]):
                for t in decode_mrebel_tags(tagged or ""):
                    rows.append({"conv_id": conv_id, **t})
            yield pd.DataFrame(
                rows,
                columns=["conv_id", "subj_text", "subj_type",
                         "pred_text", "obj_text", "obj_type"],
            )

    return (
        generations.select("conv_id", tagged_col)
        .mapInPandas(decode, RAW_TRIPLE_COLS)
        .dropDuplicates(["conv_id", "subj_text", "pred_text", "obj_text"])
    )


def transformer_relation_extraction(
    documents: DataFrame,
    model_dir: str = "models/mrebel-large",
    max_length: int = 512,
    num_beams: int = 3,
    num_return_sequences: int = 3,
    model_loader=None,
) -> DataFrame:
    """mREBEL dataflow (relation_extraction.py:106-150) as an Arrow-batched
    mapInPandas: sentence split → batched generate → tag decode → dedup.

    ``model_loader`` is a zero-arg callable returning
    ``generate(sentences: list[str]) -> list[str]`` — the flattened tagged
    generations (``num_return_sequences`` strings per input sentence, or
    any number; every string is decoded). Captured in the closure, invoked
    once per executor worker. The default loader wraps the mREBEL
    tokenizer+model and is import-gated (no transformers/torch in this
    sandbox); tests inject a deterministic fake generator, executing the
    identical split→generate→decode→dedup dataflow.
    """
    from waka_spark.operators.rerank import _SENT_RE

    def default_loader():
        try:
            from transformers import AutoModelForSeq2SeqLM, AutoTokenizer
        except ImportError as e:  # pragma: no cover - env without torch
            raise NotImplementedError(
                "transformer relation extraction needs the `transformers` "
                "package and model weights; use rule_relation_extraction "
                "or decoded_mrebel_to_df in this environment, or inject "
                "model_loader"
            ) from e

        tokenizer = AutoTokenizer.from_pretrained(
            model_dir, src_lang="en_XX", tgt_lang="tp_XX")
        model = AutoModelForSeq2SeqLM.from_pretrained(model_dir)

        def generate(sentences: list[str]) -> list[str]:
            inputs = tokenizer(sentences, max_length=max_length,
                               padding=True, truncation=True,
                               return_tensors="pt")
            generated = model.generate(
                inputs["input_ids"], attention_mask=inputs["attention_mask"],
                decoder_start_token_id=tokenizer.convert_tokens_to_ids("tp_XX"),
                max_length=max_length, num_beams=num_beams,
                num_return_sequences=num_return_sequences, length_penalty=0,
            )
            return tokenizer.batch_decode(generated, skip_special_tokens=False)

        return generate

    loader = model_loader or default_loader
    model_cache: dict[str, object] = {}

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if "generate" not in model_cache:  # once per executor process
            model_cache["generate"] = loader()
        generate = model_cache["generate"]

        for pdf in batches:
            rows = []
            for conv_id, text in zip(pdf["conv_id"], pdf["text"]):
                sentences = [m.group(0).strip() for m in _SENT_RE.finditer(text or "")]
                if not sentences:
                    continue
                for tagged in generate(sentences):
                    for t in decode_mrebel_tags(tagged):
                        rows.append({"conv_id": conv_id, **t})
            yield pd.DataFrame(
                rows,
                columns=["conv_id", "subj_text", "subj_type",
                         "pred_text", "obj_text", "obj_type"],
            )

    return (
        documents.select("conv_id", "text")
        .mapInPandas(extract, RAW_TRIPLE_COLS)
        .dropDuplicates(["conv_id", "subj_text", "pred_text", "obj_text"])
    )
