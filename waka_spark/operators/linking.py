"""P8-P10 — entity linking as a broadcast dictionary join.

The reference sends one Elasticsearch ``function_score`` query per unlinked
mention (batched via msearch, entity_linking.py:95-102): Lucene best-fields
over ``label^alpha, search_key`` with a ``log1p(frequency)*beta`` popularity
boost, floor ``min_score=8``, top-40, score normalized ``/305``
(entity_linking.py:20,36-58,129). Pre-linked literal mentions pass through
with score 1.0 (entity_linking.py:83-93); ``Category:`` labels are dropped
(entity_linking.py:113-116).

Here the index is a *dictionary table* ``wd_aliases(alias_key, url, label,
description, frequency)`` and the query is a **broadcast hash join** — no
per-mention RPC, no shuffle of the (huge) mentions side. The rank expression
is a closed-form surrogate of the ES score, monotone in (label-match,
frequency) like the original:

    raw = (alpha if variant == lower(label) else 1.0)
          * base_gain * beta * log1p(frequency)

Query expansion (P9, entity_linking.py:135-146): the mention text, its
comma-split parts, its ``'s``-stripped form, and gazetteer
nationality→country expansions — realized as an ``explode`` of variants
before the join, with the best (max-raw) hit kept per (mention, url).

Scale notes: mentions-side narrow until the final per-span ``row_number``
top-k; the dictionary is broadcast (the real Wikidata alias table at ~100M
rows would instead be bucketed on alias_key and the join pre-shuffled on the
same buckets — both sides hash-partitioned once, no repeated shuffle).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from waka_spark.config import LinkerConfig
from waka_spark.functions.text_norm import expansion_variants, norm_key


def raw_score(key: Column, cfg: LinkerConfig) -> Column:
    """The ES-score surrogate of one dictionary hit (module docstring),
    shared by entity and predicate linking: ``alpha`` when the query
    ``key`` equals the hit's normalized ``label``, else 1, times
    ``base_gain · beta · log1p(frequency)`` (NULL frequency counts as 1).
    """
    return (
        F.when(key == norm_key(F.col("label")), F.lit(cfg.alpha))
        .otherwise(F.lit(1.0))
        * F.lit(cfg.base_gain)
        * F.lit(cfg.beta)
        * F.log1p(F.coalesce(F.col("frequency"), F.lit(1)).cast("double"))
    )


CANDIDATE_COLS = [
    "conv_id", "start_idx", "end_idx", "text", "e_type", "url",
    "label", "description", "score",
]


def link_entities(
    mentions: DataFrame,
    aliases: DataFrame,
    nationalities: DataFrame | None = None,
    cfg: LinkerConfig = LinkerConfig(),
) -> DataFrame:
    """mentions → candidates (LinkedEntity rows, kg.py:94-117).

    Output identity: (conv_id, start_idx, end_idx, url) — P10's
    ``list(set(linked_entities))`` dedup (entity_linking.py:133).

    The mentions input is pinned before the prelinked/unlinked split: the
    two nullability filters are separate plan consumers, so an unpinned
    frame re-runs the whole upstream mention producer — for the pipeline
    that is the full-corpus NER Arrow pass, twice. The pinned frame is
    span rows (id, offsets, short strings), the lightweight proxy of the
    corpus it was extracted from.
    """
    from waka_spark.plans.pins import pin

    mentions = pin(mentions)
    prelinked = (
        mentions
        .filter(F.col("url").isNotNull())
        .select(
            "conv_id", "start_idx", "end_idx", "text", "e_type", "url",
            F.lit(None).cast("string").alias("label"),
            F.lit(None).cast("string").alias("description"),
            F.lit(1.0).alias("score"),
        )
    )

    unlinked = mentions.filter(F.col("url").isNull()).drop("url")

    # --- P9 query expansion -------------------------------------------------
    variants = unlinked.withColumn("variant", F.explode(expansion_variants(F.col("text"))))
    if nationalities is not None:
        nat_hits = (
            unlinked
            .join(
                F.broadcast(nationalities),
                norm_key(F.col("text")) == norm_key(F.col("nationality")),
            )
            .withColumn("variant", F.col("country"))
            .drop("nationality", "country")
        )
        variants = variants.unionByName(nat_hits)
    variants = variants.withColumn("variant_key", norm_key(F.col("variant")))

    # --- P8 broadcast candidate join ---------------------------------------
    hits = (
        variants
        .join(F.broadcast(aliases), F.col("variant_key") == F.col("alias_key"))
        .filter(
            F.col("label").isNull()
            | ~F.lower(F.col("label")).startswith("category:")
        )
        .withColumn("raw_score", raw_score(F.col("variant_key"), cfg))
        .filter(F.col("raw_score") >= cfg.min_score)
    )

    # best variant per (mention, url), then top-k per mention.
    # One explicit repartition on the mention span serves BOTH the per-url
    # aggregation (its group key is a superset, so hash partitioning on the
    # span satisfies the clustered distribution) and the top-k window —
    # without it each operator shuffles the full hits frame separately.
    hits = hits.repartition("conv_id", "start_idx", "end_idx")
    per_url = (
        hits
        .groupBy("conv_id", "start_idx", "end_idx", "text", "e_type", "url")
        .agg(
            F.max("raw_score").alias("raw_score"),
            F.max_by("label", "raw_score").alias("label"),
            F.max_by("description", "raw_score").alias("description"),
        )
    )
    w = Window.partitionBy("conv_id", "start_idx", "end_idx").orderBy(
        F.col("raw_score").desc(), F.col("url").asc()
    )
    linked = (
        per_url
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= cfg.max_results)
        .withColumn("score", F.col("raw_score") / F.lit(cfg.score_norm))
        .select(*CANDIDATE_COLS)
    )

    return linked.unionByName(prelinked)


def mention_salience(
    turns: DataFrame,
    aliases: DataFrame,
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    text_col: str = "text",
) -> DataFrame:
    """Per-(conversation, entity) salience: how much and how EARLY an
    entity is mentioned. The ranking signal KG summarization / entity-card
    ordering wants beyond raw mention counts (an entity introduced in turn
    0 and revisited anchors the conversation; one name-dropped in the last
    turn does not). Reference analog: the per-document mention aggregation
    feeding UniqueEntity assembly (entity_linking.py:95-129) — salience is
    the corpus-scale ranking layer on top.

        salience = n_mentions · (max_turn + 1 − first_turn) / (max_turn + 1)

    i.e. mention mass linearly discounted by how late the entity first
    appears (1.0 for turn 0, →1/(max_turn+1) for the final turn).

    Scale shape (round-3 rewrite): tokens are EXPLODED and equi-joined
    against the broadcast alias dictionary on the normalized key — a
    BroadcastHashJoin whose work is O(corpus tokens), independent of
    dictionary size. The previous shape (``turns.crossJoin(broadcast(
    aliases))`` + in-row filter) multiplied every turn by every alias row:
    with a realistic Wikidata alias table (10^6–10^7 rows) that is
    |turns|·|aliases| column-op work — a BroadcastNestedLoop-shaped scan
    multiplier. The explode is narrow (no shuffle); the only shuffles are
    the two conv-keyed hash aggs, same as before.

    Tokens are normalized exactly like the linking stack's dictionary
    keys (``norm_key``: lowercase/trim/collapse) after stripping
    leading/trailing punctuation, so ``'Spark,'`` matches alias
    ``spark`` — consistent with :func:`link_entities`
    (entity_linking.py:95-102 sends the analogous analyzed text to ES).
    Single-token aliases only: multi-word aliases are the candidate
    linker's job (this is the cheap corpus-scale ranking layer); callers
    with multi-word dictionaries should pre-split to head words or run
    the gazetteer NER path.

    Output: (conv_id, url, n_mentions, first_turn, n_turns, salience).
    """
    # Unicode edge classes, NOT [^\w]: Java-regex \w is ASCII-only, so a
    # fully non-Latin token ("москва", "東京") would match ^[^\w]+ whole,
    # collapse to "" and be filtered — zero salience rows on non-Latin
    # corpora. \p{L}\p{N} agree between Spark (Java) and the DuckDB
    # oracle (RE2), same fix class as punct_ratio (curation.py).
    tok_key = norm_key(
        F.regexp_replace(
            F.col("_w"), r"^[^\p{L}\p{N}_]+|[^\p{L}\p{N}_]+$", ""))
    toks = (
        turns.select(
            F.col(conv_col).alias("conv_id"),
            F.col(turn_col).alias("turn_idx"),
            F.explode(F.split(F.col(text_col), " ")).alias("_w"),
        )
        .select("conv_id", "turn_idx", tok_key.alias("_wk"))
        .filter(F.col("_wk") != "")
    )
    matches = toks.join(
        F.broadcast(
            aliases.select(F.col("alias_key").alias("_wk"), "url")),
        "_wk",
    )
    spans = turns.groupBy(F.col(conv_col).alias("conv_id")).agg(
        F.max(turn_col).cast("long").alias("_max_t"))
    per = matches.groupBy("conv_id", "url").agg(
        F.count("*").cast("long").alias("n_mentions"),
        F.min("turn_idx").cast("int").alias("first_turn"),
        F.countDistinct("turn_idx").alias("n_turns"),
    )
    return per.join(spans, "conv_id").select(
        "conv_id", "url", "n_mentions", "first_turn", "n_turns",
        F.round(
            F.col("n_mentions")
            * (F.col("_max_t") + 1 - F.col("first_turn"))
            / (F.col("_max_t") + F.lit(1.0)),
            6,
        ).alias("salience"),
    )
