"""Conversation-transcript operators over the input_hint schema
(conv_id, turn_idx, role, text, tool, ts) — the training-prep passes a
transcript corpus runs between assembly and tokenization.

Reference anchor: waka consumes whole documents (document.py:24-55); a
transcript pipeline must first decide WHICH turns form the document.
These operators make that decision auditable: token-budgeted context
tails (what fits the window) and role-mask accounting (what the loss
actually trains on).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from waka_spark.functions.text_norm import norm_key, norm_words
from waka_spark.operators.dedup import (
    _band_signatures, _bucket_pairs, _digest, _jaccard_check)
from waka_spark.plans.pins import cut, pin


def _nonempty_words(text_col: str):
    return F.filter(norm_words(F.col(text_col)), lambda w: w != "")


def context_tail(
    transcripts: DataFrame,
    token_budget: int = 64,
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    text_col: str = "text",
) -> DataFrame:
    """Token-budgeted context-window selection: for every conversation,
    keep the longest SUFFIX of turns whose cumulative whitespace-token
    count fits ``token_budget`` — the newest-first truncation every
    chat-model training/serving pipeline applies before tokenization
    (drop oldest turns first, never split a turn).

    One window per conversation: a reverse-chronological running token
    sum (``rows unbounded preceding`` over turn_idx DESC), then
    ``kept = cum_tokens <= budget``. Single shuffle keyed by conv_id,
    no self-join, no UDF; skew equals conversation-length skew, which the
    upstream salted assembly already bounds.

    Output: (conv_id, turn_idx, n_tokens, cum_tokens_from_end, kept) for
    every turn — callers filter ``kept`` for the window, or audit exactly
    what a budget drops.
    """
    w = Window.partitionBy(conv_col).orderBy(F.col(turn_col).desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    return (
        transcripts.select(
            F.col(conv_col).alias("conv_id"),
            F.col(turn_col).alias("turn_idx"),
            F.size(_nonempty_words(text_col)).cast("long").alias("n_tokens"),
        )
        .withColumn("cum_tokens_from_end", F.sum("n_tokens").over(w))
        .withColumn("kept", F.col("cum_tokens_from_end") <= token_budget)
    )


def loss_mask_stats(
    transcripts: DataFrame,
    conv_col: str = "conv_id",
    role_col: str = "role",
    text_col: str = "text",
    trained_role: str = "assistant",
) -> DataFrame:
    """Per-conversation loss-mask accounting: how many tokens the loss
    actually trains on when only ``trained_role`` turns are unmasked (the
    standard SFT convention — user/tool turns are context, assistant
    turns are targets). A corpus where mask_ratio collapses toward 0
    trains slowly per FLOP; this is the number a data pipeline monitors
    when mixing transcript sources.

    ONE hash agg keyed by conv_id (map-side partials): (n_turns,
    total_tokens, trained_tokens, mask_ratio).
    """
    n_tok = F.size(_nonempty_words(text_col))
    trained = F.when(
        F.col(role_col) == trained_role, n_tok).otherwise(F.lit(0))
    return (
        transcripts.groupBy(F.col(conv_col).alias("conv_id"))
        .agg(
            F.count("*").cast("long").alias("n_turns"),
            F.sum(n_tok).cast("long").alias("total_tokens"),
            F.sum(trained).cast("long").alias("trained_tokens"),
        )
        .withColumn(
            "mask_ratio",
            F.round(
                F.col("trained_tokens")
                / F.greatest(F.col("total_tokens"), F.lit(1)),
                6,
            ),
        )
    )


def task_outcome_pairs(
    transcripts: DataFrame,
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
) -> DataFrame:
    """Instruction-response pair mining: per conversation, the FIRST user
    turn (the task) and the LAST assistant turn (the outcome) — the
    cheapest SFT-pair extraction over raw transcripts, and the unit most
    preference/distillation pipelines start from.

    ONE hash agg per conversation using ``min_by``/``max_by`` on the turn
    index (no windows, no self-joins; map-side partial combine applies).
    Conversations missing either role emit NULL on that side — callers
    filter or route to repair.

    Output: (conv_id, task_text, task_turn, outcome_text, outcome_turn,
    n_turns).
    """
    is_user = F.col(role_col) == "user"
    is_asst = F.col(role_col) == "assistant"
    turn = F.col(turn_col)
    return transcripts.groupBy(F.col(conv_col).alias("conv_id")).agg(
        F.min_by(
            F.when(is_user, F.col(text_col)), F.when(is_user, turn)
        ).alias("task_text"),
        F.min(F.when(is_user, turn)).alias("task_turn"),
        F.max_by(
            F.when(is_asst, F.col(text_col)), F.when(is_asst, turn)
        ).alias("outcome_text"),
        F.max(F.when(is_asst, turn)).alias("outcome_turn"),
        F.count("*").cast("long").alias("n_turns"),
    )


def _with_prefix_state(
    transcripts: DataFrame,
    conv_col: str,
    turn_col: str,
    role_col: str,
    text_col: str,
) -> DataFrame:
    """Shared machinery for branch detection: per turn, the md5 of the
    normalized text, the md5 of the whole conversation PREFIX up to and
    including this turn (chain of per-turn hashes, so the running state
    is 32 bytes per turn, never the raw text), and the next turn's
    hash/normalized-text/role via ``lead``.

    ONE shuffle keyed by conv_id; both windows (running collect + lead)
    share the same partitioning/ordering so Spark plans a single sort.
    Per-conversation cost is O(L^2) in 32-byte hash copies (the growing
    collect_list frame) — bounded by conversation length, not text size;
    a 1000-turn conversation carries ~32 KB of running state.
    """
    w_run = (
        Window.partitionBy(conv_col)
        .orderBy(F.col(turn_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_lead = Window.partitionBy(conv_col).orderBy(F.col(turn_col))
    norm = norm_key(F.col(text_col))
    return (
        transcripts.select(
            F.col(conv_col).alias("conv_id"),
            F.col(turn_col).alias("turn_idx"),
            F.col(role_col).alias("role"),
            # coalesce: collect_list SKIPS NULL elements, so a NULL-text
            # turn vanished from the prefix chain and ['a', NULL] /
            # [NULL, 'a'] collided at the same (turn_idx, prefix_hash)
            # (round-3 review fix; sentinel can't collide with real md5)
            F.coalesce(F.md5(norm), F.lit("null")).alias("turn_hash"),
            norm.alias("norm_text"),
        )
        .withColumn(
            "prefix_hash",
            F.md5(F.concat_ws("", F.collect_list("turn_hash").over(w_run))),
        )
        .withColumn("next_hash", F.lead("turn_hash").over(w_lead))
        .withColumn("next_norm", F.lead("norm_text").over(w_lead))
        .withColumn("next_role", F.lead("role").over(w_lead))
    )


def branch_points(
    transcripts: DataFrame,
    min_convs: int = 2,
    min_variants: int = 2,
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
) -> DataFrame:
    """Regeneration/branch detection: turn positions where >=``min_convs``
    conversations share an IDENTICAL prefix (turns 0..t, compared on
    normalized text) and then diverge into >=``min_variants`` distinct
    next turns. These are retry/regenerate/A-B forks — exactly the
    structure preference-pair mining wants and naive per-conversation
    dedup destroys (each fork is a near-dup of its siblings).

    Prefix identity travels as a chained md5 (32 bytes), so the
    group-by shuffle never carries conversation text. One window pass +
    one hash agg keyed by (turn_idx, prefix_hash) — prefix hashes are
    unique per content, so the agg key count is ~total turns and no key
    is hotter than the fork fan-out itself.

    Output: (turn_idx, prefix_hash, n_convs, n_variants) for flagged
    fork points; conversation ends (no next turn) don't count as
    variants.
    """
    state = _with_prefix_state(
        transcripts, conv_col, turn_col, role_col, text_col)
    return (
        state.groupBy("turn_idx", "prefix_hash")
        .agg(
            F.countDistinct("conv_id").cast("long").alias("n_convs"),
            F.countDistinct("next_hash").cast("long").alias("n_variants"),
        )
        .filter(
            (F.col("n_convs") >= min_convs)
            & (F.col("n_variants") >= min_variants)
        )
    )


def response_variants(
    transcripts: DataFrame,
    variant_role: str = "assistant",
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
) -> DataFrame:
    """Preference-pair construction from conversation forks: where
    conversations share a prefix and the NEXT turn is a ``variant_role``
    turn with >=2 distinct texts, emit the two extreme variants — the
    (same-context, different-response) raw material for reward-model /
    DPO pair labeling.

    Same single-shuffle prefix machinery as ``branch_points``; variants
    are ordered by their md5 (engine-portable, no locale-dependent text
    collation), with ``min_by``/``max_by`` carrying the normalized text.

    Output: (branch_turn, prefix_hash, n_convs, n_variants, variant_a,
    variant_b).
    """
    state = _with_prefix_state(
        transcripts, conv_col, turn_col, role_col, text_col)
    forks = state.filter(
        (F.col("next_role") == variant_role)
        & F.col("next_hash").isNotNull()
    )
    return (
        forks.groupBy(
            F.col("turn_idx").alias("branch_turn"), "prefix_hash")
        .agg(
            F.countDistinct("conv_id").cast("long").alias("n_convs"),
            F.countDistinct("next_hash").cast("long").alias("n_variants"),
            F.min_by("next_norm", "next_hash").alias("variant_a"),
            F.max_by("next_norm", "next_hash").alias("variant_b"),
        )
        .filter(F.col("n_variants") >= 2)
    )


def structure_check(
    transcripts: DataFrame,
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
) -> DataFrame:
    """Per-conversation structural validation — the transcript analog of
    a schema/expectations gate, run before any turn-level op trusts the
    (conv_id, turn_idx, role) spine: does the conversation start with a
    user turn, have contiguous turn indices, no adjacent same-role turns,
    no empty turns? ``ends_with_assistant`` is REPORTED but deliberately
    NOT folded into ``valid``: an in-flight conversation legitimately
    ends on a user/tool turn — callers that require a closed exchange
    (e.g. SFT extraction, which mines user→assistant pairs and is
    unaffected by a dangling tail) filter on the column explicitly.

    One ``lag`` window + one hash agg on the SAME conv_id key — Spark
    reuses the window's exchange for the agg, so the corpus shuffles
    once. Output: (conv_id, n_turns, starts_with_user,
    ends_with_assistant, n_gaps, n_role_repeats, n_empty_turns, valid).
    """
    w = Window.partitionBy(conv_col).orderBy(F.col(turn_col))
    lagged = transcripts.withColumn(
        "_prev_role", F.lag(F.col(role_col)).over(w))
    agg = lagged.groupBy(F.col(conv_col).alias("conv_id")).agg(
        F.count("*").cast("long").alias("n_turns"),
        (F.min_by(F.col(role_col), F.col(turn_col)) == "user").alias(
            "starts_with_user"),
        (F.max_by(F.col(role_col), F.col(turn_col)) == "assistant").alias(
            "ends_with_assistant"),
        (F.max(turn_col) - F.min(turn_col) + 1 - F.count("*"))
        .cast("long").alias("n_gaps"),
        F.sum(
            F.when(F.col("_prev_role") == F.col(role_col), 1).otherwise(0)
        ).cast("long").alias("n_role_repeats"),
        F.sum(
            # NULL text IS an empty turn: `NULL == ""` is NULL and fell
            # into otherwise(0), letting NULL-text conversations pass the
            # empty-turn gate straight into SFT rows (round-3 review fix)
            F.when(F.coalesce(norm_key(F.col(text_col)), F.lit("")) == "", 1)
            .otherwise(0)
        ).cast("long").alias("n_empty_turns"),
    )
    return agg.withColumn(
        "valid",
        F.col("starts_with_user")
        & (F.col("n_gaps") == 0)
        & (F.col("n_role_repeats") == 0)
        & (F.col("n_empty_turns") == 0),
    )


def sft_examples(
    transcripts: DataFrame,
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
    prompt_role: str = "user",
    response_role: str = "assistant",
) -> DataFrame:
    """Per-response SFT example extraction: every ``response_role`` turn
    paired with the most recent preceding ``prompt_role`` turn — the
    every-assistant-turn generalization of ``task_outcome_pairs`` (which
    keeps only first-user/last-assistant), and the row shape supervised
    fine-tuning actually consumes.

    One running ``last(..., ignorenulls=True)`` window per conversation
    (single shuffle, no self-join); responses with no preceding prompt
    emit NULL for callers to route to repair.

    Output: (conv_id, turn_idx, prompt_turn, prompt_text, response_text).
    """
    w = (
        Window.partitionBy(conv_col)
        .orderBy(F.col(turn_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    is_prompt = F.col(role_col) == prompt_role
    ctx = transcripts.select(
        F.col(conv_col).alias("conv_id"),
        F.col(turn_col).alias("turn_idx"),
        F.col(role_col).alias("role"),
        F.col(text_col).alias("response_text"),
        F.last(F.when(is_prompt, F.col(turn_col)), ignorenulls=True)
        .over(w).alias("prompt_turn"),
        F.last(F.when(is_prompt, F.col(text_col)), ignorenulls=True)
        .over(w).alias("prompt_text"),
    )
    return ctx.filter(F.col("role") == response_role).select(
        "conv_id", "turn_idx", "prompt_turn", "prompt_text", "response_text")


def conv_exact_dups(
    transcripts: DataFrame,
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    text_col: str = "text",
) -> DataFrame:
    """Exact whole-conversation dedup: conversations whose ORDERED turn
    texts are identical (after whitespace normalization) collapse to one
    canonical id — re-uploaded sessions, retried batch jobs, and mirror
    scrapes all produce these, and turn-level dedup can't see them.

    Identity is the md5 of the ordered turn-hash concatenation (the
    same 32-bytes-per-turn state as ``branch_points``; the shuffle never
    carries text). One agg keyed by conv_id (sorted turn hashes via
    ``array_sort`` over (turn_idx, hash) structs — no window), then one
    window over the tiny conv-level frame picks the canonical (minimum)
    conv_id per identity group.

    Output: (conv_id, conv_hash, canonical_conv_id, group_size, is_dup)
    — filter ``is_dup`` to drop, or keep all rows for audit.
    """
    per_turn = transcripts.select(
        F.col(conv_col).alias("conv_id"),
        F.struct(
            F.col(turn_col).cast("int").alias("turn_idx"),
            # coalesce: md5(NULL) is NULL and concat_ws SKIPS NULL array
            # elements, so a NULL-text turn silently vanished from the
            # conversation hash and distinct conversations collided
            # (round-3 review fix; "null" is not a valid md5 hex, so the
            # sentinel cannot collide with a real hash)
            F.coalesce(F.md5(norm_key(F.col(text_col))), F.lit("null"))
            .alias("h"),
        ).alias("_th"),
    )
    conv = per_turn.groupBy("conv_id").agg(
        F.md5(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(F.collect_list("_th")), lambda s: s["h"]
                ),
            )
        ).alias("conv_hash")
    )
    w = Window.partitionBy("conv_hash")
    return (
        conv.withColumn("canonical_conv_id", F.min("conv_id").over(w))
        .withColumn("group_size", F.count("*").over(w).cast("long"))
        .withColumn("is_dup", F.col("conv_id") != F.col("canonical_conv_id"))
    )


def conv_near_dups(
    transcripts: DataFrame,
    n_bands: int = 8,
    threshold: float = 0.7,
    max_bucket_size: int = 1000,
    conv_col: str = "conv_id",
    text_col: str = "text",
) -> DataFrame:
    """Conversation-level near-dup pairs by turn-SET Jaccard: two
    conversations sharing most normalized turns (a rerun with one
    regenerated reply, a session replayed with a tweaked system prompt)
    are near-dups even when no single document-level comparison sees
    them. The unit of comparison is the conversation — the payload's
    native grain — with each conversation reduced to its set of distinct
    turn md5s.

    Built from the kernels of ``operators/dedup.py``: each distinct
    turn's ``_digest`` (two md5s), collected into one digest set per
    conversation by ONE hash agg keyed by conv_id (the corpus shuffles
    once); ``_band_signatures`` takes r=1, b=``n_bands`` MinHash minima
    in-row over that set; ``_bucket_pairs`` is the equi-join on (band,
    sig) buckets — never all-pairs — and ``_jaccard_check`` verifies the
    candidates only, by ``array_intersect`` of the two digest sets. A
    NULL-text turn counts toward its conversation's size but matches no
    turn.

    Skew guard: a boilerplate turn shared corpus-wide (a system prompt,
    a greeting) whose hash happens to be a conversation-set minimum
    would put every such conversation in ONE bucket and the self-join
    quadratic in it; buckets larger than ``max_bucket_size`` are dropped
    before the join (the guard ``ann.embedding_cosine_pairs`` applies
    to its LSH buckets) — a dropped bucket's pairs can still surface
    through the other ``n_bands - 1`` bands.

    Output: (conv_a, conv_b, n_common, jaccard), jaccard >= threshold.
    """
    # one row per conversation: its size (count(*) over the distinct
    # digests counts a NULL turn, which collect_set drops) and its digest
    # set. EAGERLY checkpointed (a conv-level frame, tiny next to the
    # corpus): the signatures, the bucket sizes and both sides of the
    # verification are sibling branches of ONE action, and a lazy persist
    # makes them race to populate the cold cache, each replaying the
    # corpus scan + md5 pass (see graph.random_walks).
    sets = cut(
        transcripts.select(
            F.col(conv_col).alias("id"),
            _digest(norm_key(F.col(text_col))).alias("_hex"),
        )
        .distinct()
        .groupBy("id")
        .agg(F.count("*").cast("long").alias("n"),
             F.collect_set("_hex").alias("_hex"))
    )
    sigs = _band_signatures(sets, "id", n_bands)
    small_buckets = (
        sigs.groupBy("band", "sig")
        .agg(F.count("*").alias("_bn"))
        .filter(F.col("_bn") <= max_bucket_size)
        .select("band", "sig")
    )
    cand = _bucket_pairs(sigs.join(small_buckets, ["band", "sig"]), "id")
    return _jaccard_check(
        cand, sets.withColumnRenamed("_hex", "set"), threshold
    ).withColumnsRenamed({"a": "conv_a", "b": "conv_b"})


def assistant_loops(
    transcripts: DataFrame,
    min_repeats: int = 2,
    role: str = "assistant",
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
) -> DataFrame:
    """Agent loop detection: the SAME normalized ``role`` text emitted
    >= ``min_repeats`` times within ONE conversation — the stuck-agent
    signature (retry loops, apology loops, repeated tool banners) that
    poisons SFT data if trained on verbatim. Distinct from
    ``boilerplate_turns``, which finds text repeated ACROSS
    conversations; a loop is repetition WITHIN one.

    ONE hash agg keyed by (conv_id, text md5) — map-side partial
    combine, shuffle carries 32-byte hashes plus one arbitrary text
    sample via ``min_by`` (the normalized text, for audit).

    Output: (conv_id, text_hash, text, n_repeats, first_turn,
    last_turn).
    """
    norm = norm_key(F.col(text_col))
    return (
        transcripts.filter(F.col(role_col) == role)
        .select(
            F.col(conv_col).alias("conv_id"),
            F.col(turn_col).alias("turn_idx"),
            F.md5(norm).alias("text_hash"),
            norm.alias("_norm"),
        )
        .groupBy("conv_id", "text_hash")
        .agg(
            F.min_by("_norm", "turn_idx").alias("text"),
            F.count("*").cast("long").alias("n_repeats"),
            F.min("turn_idx").alias("first_turn"),
            F.max("turn_idx").alias("last_turn"),
        )
        .filter(F.col("n_repeats") >= min_repeats)
    )


def turn_cohesion(
    transcripts: DataFrame,
    boundary_threshold: float = 0.1,
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    text_col: str = "text",
) -> DataFrame:
    """Adjacent-turn lexical cohesion — TextTiling's core signal over
    transcript turns: per turn, the Jaccard overlap between this turn's
    and the previous turn's distinct-token sets; a drop below
    ``boundary_threshold`` marks a topic-segment boundary, the unit for
    splitting long multi-topic sessions into trainable chunks.

    Token sets stay IN-ROW (arrays via ``split``/``array_distinct``;
    intersect/union are narrow array ops) — the only exchange is the
    single conv_id window shuffle for ``lag``. No UDF, no self-join.

    Output: (conv_id, turn_idx, n_tokens, cohesion, is_boundary);
    cohesion is NULL on each conversation's first turn (and when both
    neighbor token sets are empty), which never flags a boundary.
    """
    toks = F.array_distinct(_nonempty_words(text_col))
    w = Window.partitionBy(conv_col).orderBy(F.col(turn_col))
    cur_prev = transcripts.select(
        F.col(conv_col).alias("conv_id"),
        F.col(turn_col).alias("turn_idx"),
        toks.alias("_toks"),
    ).withColumn("_prev", F.lag("_toks").over(w))
    n_union = F.size(F.array_union("_toks", "_prev"))
    cohesion = F.when(
        F.col("_prev").isNotNull() & (n_union > 0),
        F.round(F.size(F.array_intersect("_toks", "_prev")) / n_union, 6),
    )
    return (
        cur_prev.withColumn("n_tokens", F.size("_toks").cast("long"))
        .withColumn("cohesion", cohesion)
        .withColumn(
            "is_boundary",
            F.coalesce(
                F.col("cohesion") < boundary_threshold, F.lit(False)),
        )
        .select("conv_id", "turn_idx", "n_tokens", "cohesion",
                "is_boundary")
    )


def prepare_sft(
    transcripts: DataFrame,
    min_loop_repeats: int = 2,
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
) -> DataFrame:
    """End-to-end SFT data preparation over raw transcripts — the
    composition a training-data user actually runs: (1) drop
    structurally broken conversations (``structure_check``: gaps, role
    repeats, empty turns, wrong opening role), (2) drop exact duplicate
    conversations keeping the canonical copy (``conv_exact_dups``),
    (3) drop conversations containing stuck-agent loops
    (``assistant_loops``), then (4) extract one (prompt, response) row
    per assistant turn (``sft_examples``), dropping orphan responses.

    Scale shape: the three gates are each one aggregation pass keyed by
    conv_id producing TINY conv-level frames (persisted); the corpus
    itself is scanned once per gate plus once for the final extraction —
    scan-bound, stateless, no driver collection. The gate joins are
    equi-joins on conv_id (two semi + one anti), the same key as the
    extraction window, so AQE coalesces them into the existing conv_id
    partitioning.

    Output: (conv_id, turn_idx, prompt_turn, prompt_text,
    response_text) for every surviving assistant turn with a prompt.
    """
    cols = {
        "conv_col": conv_col, "turn_col": turn_col,
        "role_col": role_col, "text_col": text_col,
    }
    # the gate frames derive from `transcripts` itself, so their conv_id
    # attributes alias the left side's — rename each to a fresh name to
    # keep the join conditions unambiguous
    ok = pin(
        structure_check(transcripts, **cols)
        .filter(F.col("valid"))
        .select(F.col("conv_id").alias("_ok_conv"))
    )
    canon = pin(
        conv_exact_dups(
            transcripts, conv_col=conv_col, turn_col=turn_col,
            text_col=text_col)
        .filter(~F.col("is_dup"))
        .select(F.col("conv_id").alias("_canon_conv"))
    )
    loopy = pin(
        assistant_loops(
            transcripts, min_repeats=min_loop_repeats, **cols)
        .select(F.col("conv_id").alias("_loop_conv"))
        .distinct()
    )
    kept = (
        transcripts.join(
            ok, F.col(conv_col) == F.col("_ok_conv"), "left_semi")
        .join(canon, F.col(conv_col) == F.col("_canon_conv"), "left_semi")
        .join(loopy, F.col(conv_col) == F.col("_loop_conv"), "left_anti")
    )
    return sft_examples(kept, **cols).filter(
        F.col("prompt_text").isNotNull())


def boilerplate_turns(
    transcripts: DataFrame,
    min_convs: int = 3,
    conv_col: str = "conv_id",
    text_col: str = "text",
) -> DataFrame:
    """Templated-turn detection: normalized turn texts appearing in at
    least ``min_convs`` DISTINCT conversations — system prompts, canned
    greetings, tool banners. These are the transcript analog of web
    boilerplate: left in, they dominate n-gram statistics and produce
    cross-conversation near-dup false positives; pipelines scrub or
    down-weight them before dedup/training.

    One distinct projection + one hash-agg keyed by the text hash (the
    text itself travels via ``any_value``, not as the grouping key, so
    the shuffle carries a fixed-width hash). Output: (text_hash, text,
    n_convs, n_occurrences) for flagged turns.
    """
    norm = norm_key(F.col(text_col))
    base = transcripts.select(
        F.col(conv_col).alias("conv_id"),
        F.md5(norm).alias("text_hash"),
        norm.alias("_text"),
    )
    return (
        base.groupBy("text_hash")
        .agg(
            F.first("_text").alias("text"),
            F.countDistinct("conv_id").cast("long").alias("n_convs"),
            F.count("*").cast("long").alias("n_occurrences"),
        )
        .filter(F.col("n_convs") >= min_convs)
    )


def assistant_hygiene(
    transcripts: DataFrame,
    apology_re: str = r"\b(sorry|apologi[sz]e|apology|my mistake)",
    refusal_re: str = r"\b(i cannot|i can't|i won't|as an ai)\b",
    hedge_re: str = r"\b(perhaps|possibly|might|it seems|i think)\b",
    role: str = "assistant",
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
) -> DataFrame:
    """Assistant-response hygiene profile: per-conversation counts and
    rates of apology / refusal / hedging turns — the "slop" gates an SFT
    mix applies before training on agent transcripts (a conversation
    that is 40% apologies teaches apologizing; a refusal-heavy one
    teaches refusing). Patterns are matched case-insensitively via
    ``lower(text)`` against RE2-compatible alternations, so the same
    regex runs on any engine.

    Scale shape: three ``rlike`` flags evaluated narrowly in-row on the
    filtered ``role`` turns, then ONE hash agg keyed by conv_id
    (map-side partials); zero joins, zero windows, whole-stage codegen
    throughout.

    Output: (conv_id, n_assistant, n_apology, n_refusal, n_hedge,
    apology_rate, refusal_rate, hedge_rate).
    """
    low = F.lower(F.col(text_col))
    flags = transcripts.filter(F.col(role_col) == role).select(
        F.col(conv_col).alias("conv_id"),
        F.col(turn_col).alias("turn_idx"),
        low.rlike(apology_re).cast("long").alias("_ap"),
        low.rlike(refusal_re).cast("long").alias("_re"),
        low.rlike(hedge_re).cast("long").alias("_he"),
    )
    agg = flags.groupBy("conv_id").agg(
        F.count("*").cast("long").alias("n_assistant"),
        F.sum("_ap").alias("n_apology"),
        F.sum("_re").alias("n_refusal"),
        F.sum("_he").alias("n_hedge"),
    )
    return agg.select(
        "conv_id", "n_assistant", "n_apology", "n_refusal", "n_hedge",
        F.round(F.col("n_apology") / F.col("n_assistant"), 6)
        .alias("apology_rate"),
        F.round(F.col("n_refusal") / F.col("n_assistant"), 6)
        .alias("refusal_rate"),
        F.round(F.col("n_hedge") / F.col("n_assistant"), 6)
        .alias("hedge_rate"),
    )


def textrank_turns(
    transcripts: DataFrame,
    n_iter: int = 2,
    damping: float = 0.85,
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    text_col: str = "text",
) -> DataFrame:
    """TextRank turn salience (Mihalcea & Tarau, EMNLP'04) per
    conversation: build the adjacent-turn lexical-similarity graph (the
    same in-row token-set Jaccard as :func:`turn_cohesion`) and run
    WEIGHTED PageRank over the union of all per-conversation graphs at
    once — node ids are (conv, turn) composites, so one global
    fixed-iteration pass ranks every conversation's turns without a
    per-conv loop or grouped iteration. The extractive-summary signal
    for long transcripts: high-rank turns are the ones their neighbors
    keep sharing vocabulary with.

    Zero-similarity adjacencies are NOT edges (w = 0 carries no rank and
    would poison the out-weight normalizer); turns isolated by that
    filter simply drop from the ranking — callers left-join if they want
    NULL ranks for them.

    Scale shape: edge build = ONE conv-keyed window (lag of the token
    array) + narrow array intersect/union — no self-join, no explode;
    then the :func:`waka_spark.operators.graph.pagerank` loop, whose
    per-round shuffle state is (node, rank) pairs only. On a path graph
    every node has ≤ 2 neighbors, so per-round contribution sums are
    2-term — deterministic in IEEE double regardless of partitioning.

    Output: (conv_id, turn_idx, rank), rank rounded to 6.
    """
    from waka_spark.operators.graph import pagerank

    toks = F.array_distinct(_nonempty_words(text_col))
    w = Window.partitionBy(conv_col).orderBy(F.col(turn_col))
    pairs = (
        transcripts.select(
            F.col(conv_col).alias("conv_id"),
            F.col(turn_col).alias("turn_idx"),
            toks.alias("_toks"),
        )
        .withColumn("_prev", F.lag("_toks").over(w))
        .withColumn("_prev_idx", F.lag("turn_idx").over(w))
        .filter(F.col("_prev").isNotNull())
    )
    n_union = F.size(F.array_union("_toks", "_prev"))
    # node ids are STRUCTS, not delimiter-joined strings (round-3 fix):
    # concat_ws(':') truncated any conv_id containing ':' (conv_id 's:1'
    # decoded as conv 's', turn 1) and extractive_summary then joined
    # texts on the corrupted keys. Struct equality is exact for any
    # conv_id and shuffles/joins the same as a string key.
    node = F.struct(
        F.col("conv_id").alias("conv_id"),
        F.col("turn_idx").cast("int").alias("turn_idx"))
    prev_node = F.struct(
        F.col("conv_id").alias("conv_id"),
        F.col("_prev_idx").cast("int").alias("turn_idx"))
    ed = pairs.select(
        prev_node.alias("src"),
        node.alias("dst"),
        F.when(
            n_union > 0,
            F.size(F.array_intersect("_toks", "_prev")) / n_union,
        ).alias("w"),
    ).filter(F.col("w") > 0)
    edges = ed.unionByName(
        ed.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w"))
    ranks = pagerank(edges, n_iter=n_iter, damping=damping, weight_col="w")
    return ranks.select(
        F.col("node.conv_id").alias("conv_id"),
        F.col("node.turn_idx").alias("turn_idx"),
        F.round("rank", 6).alias("rank"),
    )


def assistant_echo_rate(
    transcripts: DataFrame,
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
) -> DataFrame:
    """Assistant copy-rate: per conversation, how much of each assistant
    turn's vocabulary is ECHOED from the immediately preceding user turn
    — |tokens(assistant) ∩ tokens(prev user)| / |tokens(assistant)|,
    averaged per conversation. High echo means the assistant is
    parroting context instead of contributing (quote-heavy answers, "you
    said X" loops) — trained on verbatim, it teaches parroting; the SFT
    complement of :func:`assistant_loops` (self-repetition) and
    :func:`turn_cohesion` (role-blind topical overlap).

    Token sets stay in-row (array ops); one ``lag`` window over the conv
    sort + one conv-keyed hash agg — single shuffle, no UDF.

    Output: (conv_id, n_pairs, mean_echo, max_echo); pairs are assistant
    turns whose previous turn is a user turn with a non-empty token set.
    """
    toks = F.array_distinct(_nonempty_words(text_col))
    w = Window.partitionBy(conv_col).orderBy(F.col(turn_col))
    pairs = (
        transcripts.select(
            F.col(conv_col).alias("conv_id"),
            F.col(turn_col).alias("turn_idx"),
            F.col(role_col).alias("role"),
            toks.alias("_toks"),
        )
        .withColumn("_prev_role", F.lag("role").over(w))
        .withColumn("_prev_toks", F.lag("_toks").over(w))
        .filter(
            (F.col("role") == "assistant")
            & (F.col("_prev_role") == "user")
            & (F.size("_toks") > 0)
            & (F.size("_prev_toks") > 0)
        )
        .withColumn(
            "_echo",
            F.size(F.array_intersect("_toks", "_prev_toks"))
            / F.size("_toks"),
        )
    )
    return pairs.groupBy("conv_id").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.round(F.avg("_echo"), 6).alias("mean_echo"),
        F.round(F.max("_echo"), 6).alias("max_echo"),
    )


def extractive_summary(
    transcripts: DataFrame,
    k: int = 2,
    n_iter: int = 2,
    damping: float = 0.85,
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    text_col: str = "text",
) -> DataFrame:
    """Per-conversation extractive summary: the top-``k`` turns by
    :func:`textrank_turns` salience, with their texts — TextRank used
    the way Mihalcea & Tarau intended (rank, then extract). The
    compression pass that turns a 400-turn transcript into the handful
    of turns worth a context window, an embedding, or a human skim.

    One extra per-conv window (rank desc, turn asc — rounded-rank ties
    resolve on position) over the textrank output plus one
    (conv, turn) equi-join back to the texts; both keyed by conv, so
    they reuse the conversation partitioning.

    Output: (conv_id, summary_rank, turn_idx, rank, text).
    """
    ranks = textrank_turns(
        transcripts, n_iter=n_iter, damping=damping,
        conv_col=conv_col, turn_col=turn_col, text_col=text_col)
    w = Window.partitionBy("conv_id").orderBy(
        F.col("rank").desc(), F.col("turn_idx").asc())
    top = (
        ranks.withColumn("summary_rank", F.row_number().over(w))
        .filter(F.col("summary_rank") <= k)
    )
    texts = transcripts.select(
        F.col(conv_col).alias("conv_id"),
        F.col(turn_col).alias("turn_idx"),
        F.col(text_col).alias("text"),
    )
    return top.join(texts, ["conv_id", "turn_idx"]).select(
        "conv_id", "summary_rank", "turn_idx", "rank", "text")


def topic_segments(
    transcripts: DataFrame,
    boundary_threshold: float = 0.1,
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    text_col: str = "text",
) -> DataFrame:
    """TextTiling completed: fold :func:`turn_cohesion`'s boundary flags
    into actual topic SEGMENTS — per (conversation, segment): turn span,
    size, and mean internal cohesion. The unit the long-session splitter
    actually emits (chunk a 400-turn session at its topic shifts, not at
    arbitrary token offsets), and the per-segment cohesion is the
    confidence score for each cut.

    One extra running-sum window over the cohesion frame (same conv
    partitioning — no new shuffle) + one (conv, segment) hash agg.
    A boundary turn OPENS its segment (the running sum includes the
    current row).

    Output: (conv_id, segment_idx, n_turns, first_turn, last_turn,
    mean_cohesion); mean_cohesion is NULL for single-turn segments
    (no adjacent-turn similarity to average).
    """
    c = turn_cohesion(
        transcripts, boundary_threshold=boundary_threshold,
        conv_col=conv_col, turn_col=turn_col, text_col=text_col)
    w = (
        Window.partitionBy("conv_id").orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    seg = c.withColumn(
        "segment_idx",
        F.sum(F.col("is_boundary").cast("int")).over(w).cast("int"))
    return seg.groupBy("conv_id", "segment_idx").agg(
        F.count("*").cast("long").alias("n_turns"),
        F.min("turn_idx").cast("int").alias("first_turn"),
        F.max("turn_idx").cast("int").alias("last_turn"),
        F.round(F.avg("cohesion"), 6).alias("mean_cohesion"),
    )
