"""P16-P22 — knowledge fusion: (entities, linked triples) → scored KG triples.

Reference ``KGFactory.build`` (kg_construction.py:53-109):

- P16 mention→entity index (kg_construction.py:194-210): mention text →
  entities carrying that surface, each a copy with ``score := mention.score``
  (dedup per url keeps the best-scored mention first — desc order), plus the
  *longest-containing-key* fallback for endpoint texts with no exact surface
  match (kg_construction.py:221-227).
- P17 candidate pairing (kg_construction.py:59-85): subj-candidates ×
  obj-candidates, ``subj.url != obj.url``, ``score = mean(subj, obj)``,
  threshold 0.1, per-triple-set cap 10 before the scorers.
- P18 known-triple boost ×3 (semantics.py:55-91) — a broadcast/semi join
  against a ``known_triples`` reference table replacing per-triple SPARQL ASK.
- P21 best-triple per set, keep if score ≥ 0.1 (kg_construction.py:90-98).
- P22 triple dedup by (subj_url, pred_url, obj_url) (kg_construction.py:102).

Determinism notes (SURVEY.md §4 hazards): the reference breaks fallback ties
by Python sort stability and dedups via ``set``; we impose explicit
tie-breaks (length desc → text asc; score desc → url asc) and max-score
dedup so results are stable under any partitioning.

Scale notes: the only shuffles are the two endpoint-resolution joins (hash
on (conv_id, text) — co-partitioned with the upstream mention/cluster
shuffles) and the final per-set windows, all AQE-coalesced. The cross
product is per-endpoint-pair within one conversation (≤ top-40 × top-40
before thresholds) — bounded, never a global cross join.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from waka_spark.config import FusionConfig


def mention_entity_index(entities: DataFrame) -> DataFrame:
    """P16: (conv_id, mention_text) → candidate entity rows with
    ``score = max mention score for that surface`` (the reference keeps the
    first mention in desc-score order per (text, url) — i.e. the max,
    kg_construction.py:194-210)."""
    return (
        entities
        .select(
            "conv_id", "url", "label", "description", "e_type",
            F.explode("mentions").alias("m"),
        )
        .select(
            "conv_id", "url", "label", "description", "e_type",
            F.col("m")["text"].alias("mention_text"),
            F.col("m")["score"].alias("mention_score"),
        )
        .groupBy("conv_id", "mention_text", "url")
        .agg(
            F.max("mention_score").alias("score"),
            F.first("label", ignorenulls=False).alias("label"),
            F.first("description", ignorenulls=False).alias("description"),
            F.first("e_type").alias("e_type"),
        )
    )


def resolve_endpoints(endpoint_texts: DataFrame, index: DataFrame) -> DataFrame:
    """P16 lookup: endpoint_texts(conv_id, q_text) → candidate entities.

    Exact surface match first; otherwise all entities of the single
    *longest* mention surface containing q_text (ties → lexicographically
    smallest surface), per kg_construction.py:221-227. Empty q_text resolves
    to nothing (kg_construction.py:218-219).

    Scale shape of the fallback: the containment theta-join is inherently
    per-conv quadratic, so its right side is the *distinct surface* list
    per conv (usually far smaller than the full (surface, url) index; the
    winning surface's entities are fetched by equi-join afterwards).
    """
    queries = endpoint_texts.filter(F.col("q_text").isNotNull() & (F.col("q_text") != ""))

    # one left join serves both halves: matched rows ARE the exact
    # candidates, unmatched rows ARE the misses — replacing the former
    # inner-join + anti-join(+distinct) pair; the shared shuffle dedupes
    # via ReusedExchange. The explicit _hit marker (not url nullability)
    # keeps the split correct even if the index ever carries null urls.
    marked = index.withColumn("_hit", F.lit(True))
    looked_up = queries.join(
        marked,
        on=[
            queries["conv_id"] == marked["conv_id"],
            queries["q_text"] == marked["mention_text"],
        ],
        how="left",
    )

    exact = looked_up.filter(F.col("_hit").isNotNull()).select(
        queries["conv_id"], "q_text", "url", "label", "description",
        "e_type", "score")

    misses = looked_up.filter(F.col("_hit").isNull()).select(
        queries["conv_id"], "q_text")

    # fresh alias: `index` already appears in misses' lineage via the left
    # join above, so an unaliased second reference would be an ambiguous
    # self-join. The containment join probes only the distinct surfaces —
    # the full (surface, url) index rows join back by equality afterwards.
    surfaces = (
        index.select("conv_id", "mention_text").distinct().alias("_fb_sf")
    )
    containment = misses.join(
        surfaces,
        on=[
            misses["conv_id"] == F.col("_fb_sf.conv_id"),
            F.col("_fb_sf.mention_text").contains(misses["q_text"]),
        ],
    ).select(
        misses["conv_id"], "q_text",
        F.col("_fb_sf.mention_text").alias("mention_text"),
    )

    w = Window.partitionBy("conv_id", "q_text").orderBy(
        F.length("mention_text").desc(), F.col("mention_text").asc()
    )
    best_surface = (
        containment
        .withColumn("_key_rank", F.row_number().over(w))
        .filter(F.col("_key_rank") == 1)
        .drop("_key_rank")
    )

    idx_fb = index.alias("_fb_idx")
    fallback = best_surface.join(
        idx_fb,
        on=[
            best_surface["conv_id"] == F.col("_fb_idx.conv_id"),
            best_surface["mention_text"] == F.col("_fb_idx.mention_text"),
        ],
    ).select(
        best_surface["conv_id"], "q_text",
        F.col("_fb_idx.url").alias("url"),
        F.col("_fb_idx.label").alias("label"),
        F.col("_fb_idx.description").alias("description"),
        F.col("_fb_idx.e_type").alias("e_type"),
        F.col("_fb_idx.score").alias("score"),
    )

    return exact.unionByName(fallback)


def fuse_triples(
    linked_triples: DataFrame,
    entities: DataFrame,
    known_triples: DataFrame | None = None,
    extra_scorer: Callable[[DataFrame], DataFrame] | None = None,
    cfg: FusionConfig = FusionConfig(),
    use_scorers: bool = True,
    documents: DataFrame | None = None,
) -> DataFrame:
    """P17→P18→P21→P22. Returns fused triples:
    (conv_id, ts_id, subj_url, pred_url, obj_url, score, id_,
    subj/obj label+description+e_type) — one best triple per extracted
    triple-set, deduped per conversation.

    ``use_scorers=False`` reproduces the reference's ``KGConstructor([])``
    fusion-only evaluation mode (evaluate_kg_creation.py:17): no cap, no
    boost (the cap is applied only when scorers run, kg_construction.py:79-85).

    ``documents`` (conv_id, text): when given alongside ``extra_scorer``,
    the document text is joined onto the candidate frame as ``doc_text``
    before scoring — the NLI scorer's contract (semantics.py:144-173 scores
    the verbalized triple against the *document*). One row per conv_id, so
    the join is a plain hash join on the conversation key.
    """
    # the index feeds two plan branches (the exact-lookup left join and the
    # containment fallback) and `resolved` feeds two (subj/obj sides) —
    # persist both or each branch recomputes the mention explode + agg
    from waka_spark.plans.pins import pin

    index = pin(mention_entity_index(entities))

    triples = linked_triples.withColumn(
        "ts_id",
        F.xxhash64("conv_id", "subj_text", "pred_text", "obj_text").cast("string"),
    )

    endpoints = (
        triples.select("conv_id", F.col("subj_text").alias("q_text"))
        .unionByName(triples.select("conv_id", F.col("obj_text").alias("q_text")))
        .distinct()
    )
    resolved = pin(resolve_endpoints(endpoints, index))

    subj_c = resolved.select(
        F.col("conv_id").alias("s_conv"), F.col("q_text").alias("s_text"),
        F.col("url").alias("subj_url"), F.col("label").alias("subj_label"),
        F.col("description").alias("subj_description"),
        F.col("e_type").alias("subj_e_type"), F.col("score").alias("subj_score"),
    )
    obj_c = resolved.select(
        F.col("conv_id").alias("o_conv"), F.col("q_text").alias("o_text"),
        F.col("url").alias("obj_url"), F.col("label").alias("obj_label"),
        F.col("description").alias("obj_description"),
        F.col("e_type").alias("obj_e_type"), F.col("score").alias("obj_score"),
    )

    candidates = (
        triples
        .join(subj_c, (F.col("conv_id") == F.col("s_conv"))
              & (F.col("subj_text") == F.col("s_text")))
        .join(obj_c, (F.col("conv_id") == F.col("o_conv"))
              & (F.col("obj_text") == F.col("o_text")))
        .drop("s_conv", "s_text", "o_conv", "o_text")
        .filter(F.col("subj_url") != F.col("obj_url"))
        .withColumn("score", (F.col("subj_score") + F.col("obj_score")) / 2.0)
        .filter(F.col("score") >= cfg.candidate_threshold)
    )

    w_set = Window.partitionBy("ts_id").orderBy(
        F.col("score").desc(), F.col("subj_url").asc(), F.col("obj_url").asc()
    )

    # the top-10 cap exists to bound scorer work (kg_construction.py:80-85);
    # when nothing will rescore, cap-then-argmax == argmax, so skip the
    # extra window pass entirely
    has_scorer = known_triples is not None or extra_scorer is not None
    if use_scorers and has_scorer:
        candidates = (
            candidates
            .withColumn("_rn", F.row_number().over(w_set))
            .filter(F.col("_rn") <= cfg.candidate_cap)
            .drop("_rn")
        )
        if known_triples is not None:
            hit = F.broadcast(known_triples).withColumn("_known", F.lit(True))
            candidates = (
                candidates
                .join(hit, on=["subj_url", "pred_url", "obj_url"], how="left")
                .withColumn(
                    "score",
                    F.when(F.col("_known"),
                           F.col("score") * cfg.known_triple_boost)
                    .otherwise(F.col("score")),
                )
                .drop("_known")
            )
        if extra_scorer is not None:
            if documents is not None and "doc_text" not in candidates.columns:
                candidates = candidates.join(
                    documents.select(
                        "conv_id", F.col("text").alias("doc_text")),
                    "conv_id",
                )
            candidates = extra_scorer(candidates)
            if "doc_text" in candidates.columns:
                candidates = candidates.drop("doc_text")

    best = (
        candidates
        .withColumn("_rn", F.row_number().over(w_set))
        .filter((F.col("_rn") == 1) & (F.col("score") >= cfg.best_threshold))
        .drop("_rn")
    )

    # P22: triple identity dedup within the conversation (kg.py:224-225);
    # max-score representative for determinism
    w_ident = Window.partitionBy("conv_id", "subj_url", "pred_url", "obj_url").orderBy(
        F.col("score").desc(), F.col("ts_id").asc()
    )
    fused = (
        best
        .withColumn("_rn", F.row_number().over(w_ident))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .withColumn(
            "id_", F.xxhash64("subj_url", "pred_url", "obj_url").cast("string")
        )
    )
    return fused.select(
        "conv_id", "ts_id", "id_", "subj_url", "pred_url", "obj_url", "score",
        "subj_label", "subj_description", "subj_e_type",
        "obj_label", "obj_description", "obj_e_type",
        "pred_label", "pred_description",
    )
