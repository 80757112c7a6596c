"""End-to-end KG construction pipeline (the Spark analog of
``KGConstructor.construct``, kg_construction.py:232-282).

The reference runs two OS-process pipelines per document and fuses in-process
(SURVEY.md §3.1). Here the whole thing is one DataFrame DAG. Its two
branches start from one corpus scan (``ner.scan_documents``: mentions and
rule triples in a single Arrow pass over the document text):

    transcripts ─P1─► docs ─► scan ─┬─► mentions ─► link ─► rerank ─► cluster ─┐
                                    └─► raw triples ─► link predicates ────────┤
                                                                               ▼
                        fusion (P16-P22) ─► conflicts (P23-P24) ─►
                        nodes / edges (+ optional union-find pass)

``KGPipeline.run`` is the one composition of the nine named stages. Each
stage boundary is materialized one of two ways: an eager
``localCheckpoint`` through ``plans/pins.cut`` (interactive, bench and
streaming runs; a caller's ``pin_scope`` frees it), or, when a
``CheckpointManager`` is passed, a committed parquet checkpoint that a
later run with the same run id resumes from (the spark-submit path,
plans/checkpoint.py).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import TYPE_CHECKING, Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from waka_spark.config import DEFAULT, EngineConfig
from waka_spark.operators import conflicts
# re-exported: kgbench's tracer wraps this name alongside the conflicts one
from waka_spark.operators.conflicts import apply_conflict_resolution  # noqa: F401
from waka_spark.operators.assembly import assemble_documents
from waka_spark.operators.clustering import cluster_entities
from waka_spark.operators.fusion import fuse_triples
from waka_spark.operators.linking import link_entities
from waka_spark.operators.ner import scan_documents
from waka_spark.operators.rel_linking import link_predicates
from waka_spark.operators.relations import rule_relation_extraction
from waka_spark.operators.rerank import rerank_candidates, split_sentences
from waka_spark.plans.pins import cut

if TYPE_CHECKING:
    from waka_spark.plans.checkpoint import CheckpointManager

# stages a local run leaves uncut: raw_triples is a filter of the pinned
# corpus scan, and the conflict pair shares one pinned per-conv fixpoint
_LOCAL_UNCUT = frozenset({"raw_triples", "triples", "final_entities"})


def _memo_pair(make: Callable[[], tuple[DataFrame, DataFrame]]):
    """Two stage thunks over one pair built on first use: the stage that
    runs first builds it and the other reuses it, and a run that loads
    both stages from checkpoints never builds it."""
    pair: list[DataFrame] = []

    def part(i: int) -> Callable[[], DataFrame]:
        def thunk() -> DataFrame:
            if not pair:
                pair.extend(make())
            return pair[i]

        return thunk

    return part(0), part(1)


@dataclass
class KGPipeline:
    """Deterministic-backend pipeline. The transformer backends swap in by
    overriding :meth:`mentions` (and, for model-extracted triples,
    :meth:`raw_triples`) with their mapInPandas counterparts;
    :meth:`scan_products` then runs the overridden stages instead of the
    fused corpus scan, and the dataflow downstream is identical."""

    aliases: DataFrame
    properties: DataFrame
    gazetteer: Sequence[tuple[str, str]]
    rules: DataFrame
    known_triples: DataFrame | None = None
    nationalities: DataFrame | None = None
    extra_scorer: Callable[[DataFrame], DataFrame] | None = None
    use_scorers: bool = True
    use_rerank: bool = True
    cfg: EngineConfig = field(default_factory=lambda: DEFAULT)

    # ---- stages (each returns a DataFrame; all lazy) -----------------------

    def documents(self, transcripts: DataFrame) -> DataFrame:
        return assemble_documents(transcripts)

    def mentions(self, documents: DataFrame) -> DataFrame:
        # the corpus scan without rules. Heterogeneous ensembles
        # (transformer backends) override this method with
        # union_mentions(...); priority order = arg order (P6).
        return scan_documents(documents, self.gazetteer, ())[0]

    def candidates(self, documents: DataFrame, mentions: DataFrame) -> DataFrame:
        cands = link_entities(
            mentions, self.aliases, self.nationalities, self.cfg.entity_linker
        )
        if not self.use_rerank:
            return cands.filter(
                F.col("score") >= self.cfg.fusion.rerank_threshold
            )
        sentences = split_sentences(documents)
        # one narrow pass: the native lexical sim on each aligned row
        return rerank_candidates(
            cands, sentences, self.cfg.fusion.rerank_threshold
        )

    def entities(self, candidates: DataFrame) -> DataFrame:
        return cluster_entities(candidates)

    def raw_triples(self, documents: DataFrame) -> DataFrame:
        return rule_relation_extraction(documents, self.rules)

    def scan_products(
        self, documents: DataFrame
    ) -> tuple[DataFrame, DataFrame]:
        """(mentions, raw_triples) — from ONE corpus scan
        (``ner.scan_documents``) when both stages are the defaults, so the
        document text crosses to Python once. A subclass that overrides
        either stage gets the two stages run separately.

        The rules table is collected to the driver and shipped with the
        scan's UDF: like the gazetteer, it is a dictionary of surfaces,
        sized for the driver, not a corpus-scale relation.
        """
        uses_default_scans = (
            type(self).mentions is KGPipeline.mentions
            and type(self).raw_triples is KGPipeline.raw_triples
        )
        if not uses_default_scans:
            return self.mentions(documents), self.raw_triples(documents)
        rules = self.rules.select(
            "subj_surface", "pred_text", "obj_surface").collect()
        return scan_documents(documents, self.gazetteer, rules)

    def linked_triples(self, raw_triples: DataFrame) -> DataFrame:
        return link_predicates(
            raw_triples, self.properties, self.cfg.relation_linker
        )

    def fused(
        self, linked_triples: DataFrame, entities: DataFrame,
        documents: DataFrame | None = None,
    ) -> DataFrame:
        return fuse_triples(
            linked_triples,
            entities,
            known_triples=self.known_triples,
            extra_scorer=self.extra_scorer,
            cfg=self.cfg.fusion,
            use_scorers=self.use_scorers,
            documents=documents,
        )

    # ---- whole graph -------------------------------------------------------

    def run(
        self, transcripts: DataFrame,
        checkpoints: CheckpointManager | None = None,
    ) -> dict[str, DataFrame]:
        """transcripts → {documents, mentions, candidates, entities,
        raw_triples, linked_triples, fused, triples, final_entities,
        entity_mentions}.

        Every named stage goes through one ``stage(name, thunk)`` call, in
        a fixed order:

        - ``checkpoints=None``: ``plans/pins.cut`` (an eager
          ``localCheckpoint``, owned by the caller's ``pin_scope``) cuts
          the lineage after each stage except those in ``_LOCAL_UNCUT``.
          Shallow plans (Catalyst re-analyzes the whole logical plan at
          every action) and no recompute for multi-consumer stages.
        - a ``CheckpointManager``: each stage is written to parquet and
          committed with a manifest; a run with the same
          (base_path, run_id) loads committed stages instead of computing
          them, which survives driver and executor loss.
        """
        if checkpoints is not None:
            stage = checkpoints.stage
        else:
            def stage(name: str, thunk: Callable[[], DataFrame]) -> DataFrame:
                df = thunk()
                if name in _LOCAL_UNCUT:
                    return df
                return cut(df)

        # Fan-out point: every per-document UDF stage (NER, sentence split,
        # extraction) is a narrow map over `docs`, so its partition count
        # caps their parallelism. AQE coalesces the small assembly shuffle
        # to a handful of ~64MB partitions — fine for scans, terrible for
        # CPU-heavy Python stages. Pin to 2x cores (explicit repartition is
        # exempt from AQE coalescing); hash on conv_id keeps per-conv rows
        # (one row each) spread and deterministic.
        sc = transcripts.sparkSession.sparkContext
        n_doc_parts = max(2 * sc.defaultParallelism, 8)
        docs = stage("documents", lambda: self.documents(transcripts)
                     .repartition(n_doc_parts, "conv_id"))
        # mentions and raw_triples come from one corpus scan, built by
        # whichever of the two stages is not yet committed
        scan_mentions, scan_raw = _memo_pair(lambda: self.scan_products(docs))
        mentions = stage("mentions", scan_mentions)
        cands = stage("candidates", lambda: self.candidates(docs, mentions))
        ents = stage("entities", lambda: self.entities(cands))
        raw = stage("raw_triples", scan_raw)
        linked = stage("linked_triples", lambda: self.linked_triples(raw))
        fused = stage("fused", lambda: self.fused(linked, ents, docs))
        # Resolve ONCE for both outputs (the reference's fusion likewise
        # emits triples and entities from one pass, kg_construction.py:
        # 102-109): the pair shares the pinned per-conv fixpoint, so the
        # grouped applyInArrow executes once per fresh run.
        resolved_triples, resolved_entities = _memo_pair(
            lambda: conflicts.apply_conflict_resolution(fused, ents))
        triples = stage("triples", resolved_triples)
        final_entities = stage("final_entities", resolved_entities)

        entity_mentions = final_entities.select(
            "conv_id", "url", F.explode("mentions").alias("m")
        ).select(
            "conv_id", "url",
            F.col("m")["start_idx"].alias("start_idx"),
            F.col("m")["end_idx"].alias("end_idx"),
            F.col("m")["text"].alias("text"),
            F.col("m")["score"].alias("score"),
        )

        return {
            "documents": docs,
            "mentions": mentions,
            "candidates": cands,
            "entities": ents,
            "raw_triples": raw,
            "linked_triples": linked,
            "fused": fused,
            "triples": triples,
            "final_entities": final_entities,
            "entity_mentions": entity_mentions,
        }


def bauhaus_pipeline(spark: SparkSession, **overrides) -> KGPipeline:
    """Pipeline wired with the bundled parity-fixture dictionaries."""
    from waka_spark.sources import fixtures as fx

    kwargs = dict(
        aliases=fx.aliases_df(spark),
        properties=fx.properties_df(spark),
        gazetteer=fx.BAUHAUS_GAZETTEER,
        rules=fx.rules_df(spark),
        known_triples=fx.known_triples_df(spark),
        nationalities=fx.nationalities_df(spark),
    )
    kwargs.update(overrides)
    return KGPipeline(**kwargs)
