"""Transformer model backends (P2-P4 NER, P11 SBERT rerank, P19 NLI).

Code-complete production path: identical dataflow shapes to the
deterministic backends, with the model inference swapped in as
Arrow-batched ``mapInPandas`` / pandas UDFs. Every backend uses a
per-executor lazy singleton (module-level cache) so a model loads once per
Python worker, the direct analog of the reference's one-model-per-process
design (text_processor.py:42-44).

Dependency injection: each backend takes ``model_loader`` — a zero-arg
callable returning the model interface, captured in the UDF closure (so it
ships to executors via cloudpickle) and invoked once per worker through
``_MODEL_CACHE``. The default loaders import transformers /
sentence_transformers and are import-gated (this sandbox ships no
torch/GPU: they raise NotImplementedError with a pointer to the
deterministic equivalents). Tests inject deterministic fake loaders, which
executes the *real* batching/decode/join dataflow CPU-only — see
tests/test_fake_transformers.py.

Loader contracts:

- NER:   ``loader() -> Callable[[list[str]], list[list[dict]]]`` — HF
  token-classification pipeline shape: one list of entity dicts
  (``start``, ``end``, ``word``, ``entity_group``) per input text.
- SBERT: ``loader() -> Callable[[list[str]], np.ndarray]`` — an ``encode``
  returning an (n, dim) float array (SentenceTransformer.encode shape).
- NLI:   ``loader() -> Callable[[str, list[str]], dict]`` — HF zero-shot
  pipeline shape: ``clf(text, labels)`` returning ``{"scores": [...]}``.

Batching notes (SURVEY.md §4): ``spark.sql.execution.arrow.maxRecordsPerBatch``
bounds the Arrow batch; the UDFs micro-batch internally to ``batch_size``
sentences for GPU utilization (relation_extraction.py:133-139 analog).
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from waka_spark.operators.ner import MENTION_COLS

_MODEL_CACHE: dict[str, object] = {}


def _require(module: str, hint: str):
    try:
        return __import__(module)
    except ImportError as e:
        raise NotImplementedError(
            f"{module} is not installed in this environment; {hint}"
        ) from e


def _get_model(key: str, loader: Callable[[], object]) -> object:
    """Per-worker singleton: the loader runs at most once per Python
    worker process (text_processor.py:42-44 analog)."""
    if key not in _MODEL_CACHE:
        _MODEL_CACHE[key] = loader()
    return _MODEL_CACHE[key]


def hf_token_classification_ner(
    documents: DataFrame,
    model_dir: str = "models/ner",
    batch_size: int = 16,
    model_loader: Callable[[], Callable] | None = None,
) -> DataFrame:
    """P2-P4 analog: HuggingFace token-classification NER as a mention
    source. Drops into ``union_mentions`` alongside any other backend.
    Literal-typed spans get their typed-literal URL minted in-UDF, exactly
    like the deterministic backends (entity_recognition.py:84-97)."""

    def default_loader():
        _require("transformers",
                 "use gazetteer_ner/regex_literal_ner for CPU-only runs, or "
                 "inject model_loader")
        from transformers import pipeline as hf_pipeline

        return hf_pipeline("token-classification", model=model_dir,
                           aggregation_strategy="simple")

    loader = model_loader or default_loader

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ner = _get_model(f"ner:{model_dir}", loader)

        from waka_spark.functions.literals import encode_literal

        for pdf in batches:
            rows = []
            texts = list(pdf["text"])
            ids = list(pdf["conv_id"])
            for i in range(0, len(texts), batch_size):
                chunk = texts[i:i + batch_size]
                for conv_id, ents in zip(ids[i:i + batch_size], ner(chunk)):
                    for e in ents:
                        rows.append({
                            "conv_id": conv_id,
                            "start_idx": int(e["start"]),
                            "end_idx": int(e["end"]),
                            "text": e["word"],
                            "e_type": e["entity_group"],
                            "url": encode_literal(e["word"], e["entity_group"]),
                        })
            yield pd.DataFrame(
                rows, columns=["conv_id", "start_idx", "end_idx",
                               "text", "e_type", "url"])

    return documents.select("conv_id", "text").mapInPandas(extract, MENTION_COLS)


def sbert_similarity_scorer(
    model_dir: str = "models/all-distilroberta-v1",
    batch_size: int = 64,
    model_loader: Callable[[], Callable] | None = None,
) -> Callable:
    """P11 production scorer: returns a pandas-UDF-compatible function
    sim(sentences, labels, descriptions) -> scores, computing
    cos-sim(encode(sentence), encode(f"{label} is a {description}"))
    (semantics.py:210-217). Plug it in with
    ``rerank_candidates(sim_udf=F.pandas_udf(sbert_similarity_scorer(),
    "double"))``.

    Each distinct text of a batch (sentence or candidate text) is encoded
    once. A row whose sentence is NULL (no containing sentence) is not
    encoded and scores NULL, which the rerank pass reads as "keep the
    score". The loader returns an ``encode(texts) -> (n, dim) ndarray``;
    cosine is computed here in numpy, so fake encoders run the identical
    code path.
    """

    def default_loader():
        _require("sentence_transformers",
                 "use the lexical rerank backend for CPU-only runs, or "
                 "inject model_loader")
        from sentence_transformers import SentenceTransformer

        model = SentenceTransformer(model_dir)
        return lambda texts: model.encode(
            texts, batch_size=batch_size, convert_to_numpy=True)

    loader = model_loader or default_loader

    def sim(sent: pd.Series, label: pd.Series, desc: pd.Series) -> pd.Series:
        encode = _get_model(f"sbert:{model_dir}", loader)

        has_sent = sent.notna().to_numpy()
        sents = list(sent[has_sent])
        cands = [f"{l} is a {d}"
                 for l, d in zip(label[has_sent], desc[has_sent])]
        texts = list(dict.fromkeys(sents + cands))
        vecs: dict[str, np.ndarray] = {}
        for i in range(0, len(texts), batch_size):
            chunk = texts[i:i + batch_size]
            vecs.update(zip(chunk, np.asarray(encode(chunk), dtype=float)))
        scores = np.full(len(sent), np.nan)
        if sents:
            se = np.stack([vecs[t] for t in sents])
            ce = np.stack([vecs[t] for t in cands])
            num = (se * ce).sum(axis=1)
            den = np.linalg.norm(se, axis=1) * np.linalg.norm(ce, axis=1)
            scores[has_sent] = num / np.where(den == 0, 1.0, den)
        return pd.Series(scores)

    return sim


def nli_triple_scorer(
    model_dir: str = "models/bart-large-mnli",
    batch_size: int = 16,
    model_loader: Callable[[], Callable] | None = None,
) -> Callable[[DataFrame], DataFrame]:
    """P19 production scorer for ``fuse_triples(extra_scorer=...)``:
    zero-shot entailment of the verbalized triple against the document text
    multiplies the candidate score (semantics.py:144-173). Labels are
    deduped before inference and joined back — the reference's manual
    common-subexpression elimination (semantics.py:155-167).

    Contract: the candidates frame MUST carry a ``doc_text`` column
    (the document text, one value per conv_id). ``fuse_triples`` attaches
    it when called with ``documents=...`` — pass the assembled documents
    frame through ``KGPipeline`` / ``fuse_triples`` when wiring this
    scorer (semantics.py:144-173 scores the label against the document).
    """

    def default_loader():
        _require("transformers",
                 "omit the NLI scorer for CPU-only runs, or inject "
                 "model_loader")
        from transformers import pipeline as hf_pipeline

        return hf_pipeline("zero-shot-classification", model=model_dir)

    loader = model_loader or default_loader

    def score(candidates: DataFrame) -> DataFrame:
        from pyspark.sql import functions as F

        if "doc_text" not in candidates.columns:
            raise ValueError(
                "nli_triple_scorer needs a doc_text column on the candidates "
                "frame; call fuse_triples(..., documents=docs) (or join "
                "documents(conv_id, text as doc_text) on before scoring)"
            )

        label = F.when(
            F.col("obj_label").isNotNull(),
            F.format_string(
                "%s (%s) %s %s (%s)",
                "subj_label", "subj_description", "pred_label",
                "obj_label", "obj_description"),
        ).otherwise(
            F.format_string(
                "%s (%s) %s %s",
                "subj_label", "subj_description", "pred_label", "obj_url")
        )
        with_label = candidates.withColumn("_nli_label", label)
        distinct = with_label.select("conv_id", "doc_text", "_nli_label").distinct()

        def infer(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            clf = _get_model(f"nli:{model_dir}", loader)
            for pdf in batches:
                ents = []
                for i in range(0, len(pdf), batch_size):
                    chunk = pdf.iloc[i:i + batch_size]
                    for text, lab in zip(chunk["doc_text"], chunk["_nli_label"]):
                        res = clf(text, [lab], multi_label=True)
                        ents.append(float(res["scores"][0]))
                yield pdf.assign(_entail=ents)[
                    ["conv_id", "_nli_label", "_entail"]]

        scored = distinct.mapInPandas(
            infer, "conv_id string, _nli_label string, _entail double")

        return (
            with_label
            .join(scored, ["conv_id", "_nli_label"], "left")
            .withColumn(
                "score",
                F.col("score") * F.coalesce("_entail", F.lit(1.0)))
            .drop("_nli_label", "_entail")
        )

    return score


def sparknlp_ner(
    documents: DataFrame,
    model_name: str = "onto_100",
) -> DataFrame:
    """P5 — Spark NLP NER backend slot, intentionally a gated stub.

    The reference itself ships this backend disabled
    (entity_recognition.py:264-304 defines it, :337 comments it out of the
    ensemble) because its annotations regressed quality; parity therefore
    means *acknowledging the slot*, not wiring it in. If a deployment wants
    it anyway: Spark NLP is a JVM library, so the idiomatic integration is
    not a Python UDF at all — add the spark-nlp jar + a
    ``DocumentAssembler → Tokenizer → NerDLModel → NerConverter`` ML
    pipeline stage and map its chunk annotations onto the MENTIONS schema,
    then drop the result into ``union_mentions`` like any other backend.
    """
    _require(
        "sparknlp",
        "the reference disables this backend too "
        "(entity_recognition.py:337); use hf_token_classification_ner or "
        "the deterministic backends",
    )
    raise NotImplementedError("unreachable")  # pragma: no cover
