"""Tool-call analytics over the transcript input schema (conv_id,
turn_idx, role, text, tool, ts) — the two columns (tool, ts) the rest of
the transcript suite doesn't touch.

Agent transcripts interleave tool invocations with user/assistant text;
a training-data pipeline needs to know which tools appear, how often
they fail, how long turns take, and where failure cascades start —
both to filter broken trajectories and to mine tool-use SFT data.

Reference anchor: waka has no tool concept (its unit is a flat document,
document.py:24-55); these operators are the transcript-native extension
the north rule's input shape calls for.

Every operator here is one window pass + one hash aggregation on the
conv_id / tool key — no self-joins, no UDFs, no driver-side loops; at
10^12 turns each is a single shuffle whose skew equals tool-popularity
skew, which a hash agg absorbs via map-side partial combine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from waka_spark.functions.text_norm import norm_key


def _is_error(text_col: str):
    """A tool turn is an error iff its normalized text starts with
    'error' — the convention the synthetic corpus and tests inject."""
    return norm_key(F.col(text_col)).startswith("error")


def tool_usage_stats(
    transcripts: DataFrame,
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
    tool_col: str = "tool",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-tool usage profile: call volume, conversation reach, error
    rate, and wall-clock latency (this turn's ts minus the previous
    turn's ts — the time between the model emitting the call and the
    tool result landing).

    One ``lag`` window keyed by conv_id computes the latency BEFORE
    filtering to tool turns (the preceding turn is usually the
    assistant's call, not another tool turn), then one hash agg keyed by
    tool. Latency is integer epoch-seconds end to end, so the oracle
    comparison is exact.

    Output: (tool, n_calls, n_convs, n_errors, error_rate,
    avg_latency_s, max_latency_s).
    """
    w = Window.partitionBy(conv_col).orderBy(F.col(turn_col))
    ts_s = F.col(ts_col).cast("long")
    lagged = transcripts.withColumn(
        "_latency_s", ts_s - F.lag(ts_s).over(w))
    calls = lagged.filter(
        (F.col(role_col) == "tool") & F.col(tool_col).isNotNull())
    return (
        calls.groupBy(F.col(tool_col).alias("tool"))
        .agg(
            F.count("*").cast("long").alias("n_calls"),
            F.countDistinct(conv_col).cast("long").alias("n_convs"),
            F.sum(F.when(_is_error(text_col), 1).otherwise(0))
            .cast("long").alias("n_errors"),
            F.round(F.avg("_latency_s"), 6).alias("avg_latency_s"),
            F.max("_latency_s").cast("long").alias("max_latency_s"),
        )
        .withColumn(
            "error_rate",
            F.round(F.col("n_errors") / F.col("n_calls"), 6),
        )
        .select("tool", "n_calls", "n_convs", "n_errors", "error_rate",
                "avg_latency_s", "max_latency_s")
    )


def tool_transitions(
    transcripts: DataFrame,
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    role_col: str = "role",
    tool_col: str = "tool",
) -> DataFrame:
    """Tool-to-tool transition counts: for consecutive tool turns within
    a conversation (ordered by turn_idx, intervening user/assistant
    turns skipped), count each (src_tool, dst_tool) bigram — the Markov
    skeleton of agent behavior, and the signal for mining multi-step
    tool-use trajectories.

    Filter to tool turns first, then ONE ``lag`` window + ONE hash agg —
    both keyed so the conv_id shuffle is the only exchange.

    Output: (src_tool, dst_tool, n_transitions, n_convs).
    """
    calls = transcripts.filter(
        (F.col(role_col) == "tool") & F.col(tool_col).isNotNull())
    w = Window.partitionBy(conv_col).orderBy(F.col(turn_col))
    paired = calls.select(
        F.col(conv_col).alias("conv_id"),
        F.lag(F.col(tool_col)).over(w).alias("src_tool"),
        F.col(tool_col).alias("dst_tool"),
    ).filter(F.col("src_tool").isNotNull())
    return paired.groupBy("src_tool", "dst_tool").agg(
        F.count("*").cast("long").alias("n_transitions"),
        F.countDistinct("conv_id").cast("long").alias("n_convs"),
    )


def turn_latency_stats(
    transcripts: DataFrame,
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    role_col: str = "role",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-role turn-latency distribution: how long each role's turns
    take to arrive (ts minus the previous turn's ts), as exact p50/p95
    plus mean/max — the SLA view of a transcript corpus (slow tool
    turns, slow generations) used to filter timed-out trajectories.

    One ``lag`` window keyed by conv_id, one hash agg keyed by role.
    Spark's exact ``percentile`` == DuckDB ``quantile_cont`` (linear
    interpolation), so the oracle match is exact after 1e-6 rounding.

    Output: (role, n_turns, p50_latency_s, p95_latency_s,
    avg_latency_s, max_latency_s).
    """
    w = Window.partitionBy(conv_col).orderBy(F.col(turn_col))
    ts_s = F.col(ts_col).cast("long")
    lagged = transcripts.withColumn(
        "_latency_s", ts_s - F.lag(ts_s).over(w))
    return (
        lagged.filter(F.col("_latency_s").isNotNull())
        .groupBy(F.col(role_col).alias("role"))
        .agg(
            F.count("*").cast("long").alias("n_turns"),
            F.round(F.expr("percentile(_latency_s, 0.5)"), 6)
            .alias("p50_latency_s"),
            F.round(F.expr("percentile(_latency_s, 0.95)"), 6)
            .alias("p95_latency_s"),
            F.round(F.avg("_latency_s"), 6).alias("avg_latency_s"),
            F.max("_latency_s").cast("long").alias("max_latency_s"),
        )
    )


def tool_error_streaks(
    transcripts: DataFrame,
    min_len: int = 2,
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
    tool_col: str = "tool",
) -> DataFrame:
    """Failure-cascade detection: maximal runs of CONSECUTIVE erroring
    tool turns (consecutive among a conversation's tool turns, ordered
    by turn_idx) of length >= ``min_len`` — the retry-loop signature
    that marks a trajectory segment as broken (an agent hammering a
    failing tool), which trajectory filtering wants to cut or cap.

    Classic gaps-and-islands on one shuffle: a per-conversation sequence
    number over tool turns, minus a sequence number over erroring tool
    turns, is constant within each error run; group by that island key.
    Both windows and the final agg share the conv_id partitioning.

    Output: (conv_id, tool, start_turn, end_turn, streak_len) — one row
    per flagged streak. ``tool`` is the streak's first tool (cascades
    can hop tools; the start names the culprit).
    """
    calls = transcripts.filter(
        (F.col(role_col) == "tool") & F.col(tool_col).isNotNull())
    w = Window.partitionBy(conv_col).orderBy(F.col(turn_col))
    seq = calls.select(
        F.col(conv_col).alias("conv_id"),
        F.col(turn_col).alias("turn_idx"),
        F.col(tool_col).alias("tool"),
        _is_error(text_col).alias("is_error"),
        F.row_number().over(w).alias("_seq"),
    )
    errs = seq.filter(F.col("is_error")).withColumn(
        "_island",
        F.col("_seq")
        - F.row_number().over(
            Window.partitionBy("conv_id").orderBy(F.col("turn_idx"))),
    )
    return (
        errs.groupBy("conv_id", "_island")
        .agg(
            F.min_by("tool", "turn_idx").alias("tool"),
            F.min("turn_idx").alias("start_turn"),
            F.max("turn_idx").alias("end_turn"),
            F.count("*").cast("long").alias("streak_len"),
        )
        .filter(F.col("streak_len") >= min_len)
        .select("conv_id", "tool", "start_turn", "end_turn", "streak_len")
    )


def tool_retry_recovery(
    transcripts: DataFrame,
    max_gap_turns: int = 6,
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    text_col: str = "text",
    tool_col: str = "tool",
) -> DataFrame:
    """Per-tool retry-and-recovery profile: after an ERRORING call of a
    tool, does the SAME tool get re-invoked in that conversation within
    ``max_gap_turns`` turns, and does the retry succeed? Separates
    transient failures (high recovery — keep the trajectory, it teaches
    error handling) from broken tools (low recovery — the trajectories
    are thrashing and poison tool-use SFT).

    One window pass: ``lead`` of (turn_idx, error-flag) over
    (conv, tool) ordered by turn — the retry IS the next same-tool call
    — then one hash agg per tool. Single shuffle keyed (conv, tool).

    Output: (tool, n_errors, n_retried, n_recovered, retry_rate,
    recovery_rate); rates NULL when their denominator is 0 (no errors /
    no retries), never silently 0.
    """
    w = Window.partitionBy("_conv", "tool").orderBy(F.col("_turn"))
    calls = (
        transcripts.filter(F.col(tool_col).isNotNull())
        .select(
            F.col(conv_col).alias("_conv"),
            F.col(tool_col).alias("tool"),
            F.col(turn_col).alias("_turn"),
            _is_error(text_col).alias("_err"),
        )
        .withColumn("_next_turn", F.lead("_turn").over(w))
        .withColumn("_next_err", F.lead("_err").over(w))
    )
    errs = calls.filter(F.col("_err"))
    retried = (
        F.col("_next_turn").isNotNull()
        & ((F.col("_next_turn") - F.col("_turn")) <= max_gap_turns)
    )
    recovered = retried & ~F.col("_next_err")
    return (
        errs.groupBy("tool")
        .agg(
            F.count("*").cast("long").alias("n_errors"),
            F.sum(retried.cast("int")).cast("long").alias("n_retried"),
            F.sum(recovered.cast("int")).cast("long").alias("n_recovered"),
        )
        .select(
            "tool", "n_errors", "n_retried", "n_recovered",
            F.round(
                F.when(F.col("n_errors") > 0,
                       F.col("n_retried") / F.col("n_errors")), 6
            ).alias("retry_rate"),
            F.round(
                F.when(F.col("n_retried") > 0,
                       F.col("n_recovered") / F.col("n_retried")), 6
            ).alias("recovery_rate"),
        )
    )


def tool_trigrams(
    transcripts: DataFrame,
    min_count: int = 2,
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    tool_col: str = "tool",
) -> DataFrame:
    """Frequent length-3 tool-call sequences within conversations — the
    next step up from :func:`tool_transitions`' bigrams: workflow motifs
    (search → browser → python) that tool-use curricula sample for, and
    degenerate motifs (x → x → x) that flag thrash. Counted over
    CONSECUTIVE tool calls (intervening user/assistant turns don't break
    the chain, matching tool_transitions' sequence semantics).

    Two ``lag``s over ONE (conv) × turn sort + one hash agg — the same
    single-shuffle shape as the bigram operator.

    Output: (tool_1, tool_2, tool_3, n_occurrences, n_convs), sequences
    with ≥ ``min_count`` occurrences.
    """
    seq = (
        transcripts.filter(F.col(tool_col).isNotNull())
        .select(
            F.col(conv_col).alias("conv_id"),
            F.col(turn_col).alias("_turn"),
            F.col(tool_col).alias("tool_3"),
        )
        .withColumn("tool_2", F.lag("tool_3", 1).over(
            Window.partitionBy("conv_id").orderBy("_turn")))
        .withColumn("tool_1", F.lag("tool_3", 2).over(
            Window.partitionBy("conv_id").orderBy("_turn")))
        .filter(F.col("tool_1").isNotNull())
    )
    return (
        seq.groupBy("tool_1", "tool_2", "tool_3")
        .agg(
            F.count("*").cast("long").alias("n_occurrences"),
            F.countDistinct("conv_id").alias("n_convs"),
        )
        .filter(F.col("n_occurrences") >= min_count)
    )
