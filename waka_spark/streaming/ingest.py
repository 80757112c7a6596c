"""Structured Streaming ingestion of conversation turns.

The reference is request/response (serve.py:46-64) — no streams exist in it
(SURVEY.md §2.3). At 10^12-turn scale, new turns arrive continuously; this
module gives the engine a streaming front end with the same table contract:

- ``stream_transcripts``: readStream over the transcripts table directory
  (file source here; Kafka/Iceberg CDC on a real deployment — same API).
- ``streaming_turn_counts``: watermarked tumbling-window per-conv turn
  counts — the canonical late-data-tolerant aggregation.
- ``incremental_mentions``: the NER stage applied to a stream (stateless
  mapInPandas works unchanged on streaming DataFrames) → append sink.

The downstream batch pipeline consumes the checkpointed micro-batch output
(foreachBatch → the checkpoint runner), so batch and streaming share every
operator implementation. Each foreachBatch bridge runs its micro-batch
inside one ``plans/pins.pin_scope``, so the batch's pins and stage cuts
are freed once its write or commit returns, not at session end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from waka_spark import schemas
from waka_spark.plans.pins import pin_scope


def stream_transcripts(spark: SparkSession, path: str,
                       max_files_per_trigger: int = 8) -> DataFrame:
    return (
        spark.readStream.schema(schemas.TRANSCRIPTS)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def streaming_turn_counts(turns: DataFrame, window: str = "10 minutes",
                          watermark: str = "30 minutes") -> DataFrame:
    """Late-data-tolerant tumbling-window turn counts per conversation."""
    return (
        turns.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "conv_id")
        .agg(F.count("*").alias("n_turns"))
        .select(F.col("w.start").alias("window_start"), "conv_id", "n_turns")
    )


def streaming_session_counts(
    turns: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    key: str = "conv_id",
) -> DataFrame:
    """Native session-window aggregation: per-key sessions cut when the
    inter-event gap exceeds ``gap`` (Spark merges events exactly ``gap``
    apart; window end = last event ts + gap). The built-in streaming
    face of operators/temporal.py:sessionize — state is bounded by open
    sessions only and evicted once the watermark passes a session's end,
    so memory is (active keys × open sessions), independent of corpus
    size. Works identically on batch DataFrames (how the oracle checks
    it).
    """
    grouped = turns
    if turns.isStreaming:
        grouped = turns.withWatermark("ts", watermark)
    return (
        grouped.groupBy(F.session_window("ts", gap).alias("w"), key)
        .agg(F.count("*").cast("long").alias("n_events"))
        .select(
            key,
            # session_window yields TIMESTAMP_NTZ bounds; the cast
            # interprets them in the session zone — a constant shift that
            # matches epoch_us() everywhere else (temporal.py)
            F.unix_micros(F.col("w.start").cast("timestamp")).alias("start_us"),
            F.unix_micros(F.col("w.end").cast("timestamp")).alias("end_us"),
            "n_events",
        )
    )


def streaming_tool_error_rates(
    turns: DataFrame,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Live trajectory-health monitor: per (tool, tumbling window) call
    and error counts over the turn stream — the first alarm when a tool
    deployment starts failing and every in-flight agent session begins
    retry-looping (the batch-side cleanup of those is
    ``operators/tools.tool_error_streaks``).

    Reuses the batch error predicate (``operators/tools._is_error``), so
    stream and batch agree on what counts as a failure; works identically
    on batch frames (how the oracle checks it). State is (tools ×
    windows), evicted by the watermark — independent of stream length.
    """
    from waka_spark.operators.tools import _is_error

    grouped = turns
    if turns.isStreaming:
        grouped = turns.withWatermark("ts", watermark)
    return (
        grouped.filter(
            (F.col("role") == "tool") & F.col("tool").isNotNull())
        .groupBy(F.window("ts", window).alias("w"), "tool")
        .agg(
            F.count("*").cast("long").alias("n_calls"),
            F.sum(F.when(_is_error("text"), 1).otherwise(0))
            .cast("long").alias("n_errors"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "tool",
            "n_calls",
            "n_errors",
            F.round(F.col("n_errors") / F.col("n_calls"), 6)
            .alias("error_rate"),
        )
    )


def incremental_mentions(turns: DataFrame, gazetteer) -> DataFrame:
    """Stateless NER over the stream: per-turn mention extraction using the
    identical batch operator (mapInPandas is streaming-safe)."""
    from waka_spark.operators.ner import gazetteer_ner

    per_turn_docs = turns.select(
        F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string"))
        .alias("conv_id"),
        "text",
    )
    return gazetteer_ner(per_turn_docs, gazetteer)


def streaming_exact_dedup(
    turns: DataFrame,
    watermark: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming exact dedup: drop repeated turn texts within the
    watermark horizon — ``dropDuplicatesWithinWatermark`` keys state by
    content hash and EVICTS it as the watermark passes, so dedup state is
    bounded by (arrival rate x horizon), not corpus size. The streaming
    face of ``operators/dedup.exact_dedup`` (same normalize+md5 key);
    exact-forever dedup at rest belongs to the batch pass — at 10^12
    turns, unbounded streaming state is the wrong tool."""
    from waka_spark.functions.text_norm import norm_key

    return (
        turns
        .withColumn("text_hash", F.md5(norm_key(F.col("text"))))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["text_hash"])
        .drop("text_hash")
    )


def streaming_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    window_sec: int = 3600,
    left_ts: str = "ts",
    right_ts: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream interval join: left rows pair with right rows of the
    same ``key`` whose timestamp falls in ``[left_ts - window, left_ts)``
    — the streaming counterpart of ``operators/temporal.range_join_binned``
    (there the bound is a bucket equi-join; here Spark's stream-stream
    join uses the interval condition itself to EVICT state: both sides
    are watermarked, so buffered rows older than watermark + window drop,
    keeping state bounded by rate x horizon at any corpus size).

    Columns are prefixed ``l_`` / ``r_`` (a self-join of one stream would
    otherwise collide).
    """
    l = left.select(
        F.col(key).alias("l_key"), F.col(left_ts).alias("l_ts"),
        *[F.col(c).alias(f"l_{c}") for c in left.columns
          if c not in (key, left_ts)],
    ).withWatermark("l_ts", watermark)
    r = right.select(
        F.col(key).alias("r_key"), F.col(right_ts).alias("r_ts"),
        *[F.col(c).alias(f"r_{c}") for c in right.columns
          if c not in (key, right_ts)],
    ).withWatermark("r_ts", watermark)
    cond = (
        (F.col("l_key") == F.col("r_key"))
        & (F.col("r_ts") >= F.col("l_ts") - F.expr(
            f"INTERVAL {window_sec} SECONDS"))
        & (F.col("r_ts") < F.col("l_ts"))
    )
    return l.join(r, cond)


def _start_bridge(spark: SparkSession, input_path: str, process_batch,
                  checkpoint_path: str, trigger_once: bool):
    """Start a foreachBatch query running ``process_batch`` on each
    micro-batch of the transcripts under ``input_path``."""
    writer = (
        stream_transcripts(spark, input_path).writeStream
        .foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _replayed(table, cur, checkpoint_path: str, batch_id: int) -> bool:
    """True iff snapshot ``cur`` of ``table`` carries this batch's
    (checkpoint, batch_id) stamp: an at-least-once re-delivery of an
    already-committed batch, to be skipped rather than merged twice."""
    if cur is None:
        return False
    m = table.manifest(cur)
    return (m.get("batch_id") == batch_id
            and m.get("checkpoint") == checkpoint_path)


def run_stream_merge_edges(
    spark: SparkSession,
    input_path: str,
    pipeline,
    edges_path: str,
    checkpoint_path: str,
    trigger_once: bool = True,
):
    """foreachBatch bridge with MERGE semantics: each micro-batch's fused
    triples fold into the materialized edges table via
    ``plans/incremental.merge_edges`` — the engine-side Iceberg
    ``MERGE INTO`` (on Iceberg the body becomes one ``MERGE`` statement
    and the temp/rename dance disappears; see plans/incremental.py).

    Parquet cannot overwrite a path while reading it, so the merge commits
    through ``plans/versioned.VersionedTable``: each batch writes the next
    ``v{N}`` snapshot dir and atomically repoints ``_CURRENT`` last (the
    commit point, same discipline as plans/checkpoint.py manifests).
    Versions are monotone from the pointer, NOT batch_id: a replayed or
    re-checkpointed stream restarts batch ids at 0, and writing a version
    while reading it (base) is undefined for parquet. Snapshot maintenance
    (time travel, rollback, expiry, compaction) comes with the table — see
    plans/versioned.py.

    Replay safety: foreachBatch is at-least-once — if the driver dies
    after ``table.commit`` but before the streaming checkpoint records
    the batch, restart re-delivers the SAME batch_id. Each commit stamps
    (checkpoint_path, batch_id) into the snapshot manifest; a batch whose
    stamp matches the live snapshot's is skipped instead of merged twice
    (which would permanently double that delta's support/n_convs). The
    checkpoint path is part of the stamp because batch ids are only
    monotone WITHIN one checkpoint lineage — a deliberately fresh
    checkpoint re-reading the input restarts at 0 and must merge, not
    skip.
    """
    from waka_spark.plans.incremental import edges_from_triples, merge_edges
    from waka_spark.plans.versioned import VersionedTable

    table = VersionedTable(edges_path)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        cur = table.current_version()
        if _replayed(table, cur, checkpoint_path, batch_id):
            return
        with pin_scope():
            out = pipeline.run(batch_df)
            delta = edges_from_triples(out["triples"])
            merged = (
                delta if cur is None
                else merge_edges(table.read(spark, cur), delta)
            )
            table.commit(
                merged,
                meta={"batch_id": batch_id, "checkpoint": checkpoint_path})

    return _start_bridge(
        spark, input_path, process_batch, checkpoint_path, trigger_once)


def run_stream_to_graph(
    spark: SparkSession,
    input_path: str,
    pipeline,
    output_path: str,
    checkpoint_path: str,
    trigger_once: bool = True,
):
    """foreachBatch bridge: each micro-batch of turns runs through the batch
    KG pipeline and appends to the edges table — batch/stream operator
    parity by construction."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        with pin_scope():
            out = pipeline.run(batch_df)
            (
                out["triples"]
                .withColumn("batch_id", F.lit(batch_id))
                .write.mode("append").parquet(f"{output_path}/edges")
            )

    return _start_bridge(
        spark, input_path, process_batch, checkpoint_path, trigger_once)


def run_stream_fact_history(
    spark: SparkSession,
    input_path: str,
    facts_fn,
    history_path: str,
    checkpoint_path: str,
    trigger_once: bool = True,
):
    """foreachBatch bridge maintaining the TEMPORAL-KG table: each
    micro-batch of turns maps to time-stamped (subj, pred, obj, ts)
    assertions via ``facts_fn`` and MERGEs into the SCD-2 fact-history
    snapshot through ``operators/temporal.merge_fact_history`` — only
    the batch's fact keys re-segment, so per-batch cost follows the
    delta, not the accumulated history. Streaming micro-batches arrive
    in event-time order under the source's ordering (or the watermarked
    ingest upstream), which is exactly the append-only precondition
    ``merge_fact_history`` documents.

    Commit + replay discipline is identical to
    :func:`run_stream_merge_edges`: versioned-dir snapshot with atomic
    ``_CURRENT`` repoint, (checkpoint, batch_id) stamped in the manifest
    so an at-least-once re-delivery of a committed batch is skipped
    rather than merged twice.
    """
    from waka_spark.operators.temporal import fact_history, merge_fact_history
    from waka_spark.plans.versioned import VersionedTable

    table = VersionedTable(history_path)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        cur = table.current_version()
        if _replayed(table, cur, checkpoint_path, batch_id):
            return
        with pin_scope():
            facts = facts_fn(batch_df)
            merged = (
                fact_history(facts) if cur is None
                else merge_fact_history(table.read(spark, cur), facts)
            )
            table.commit(
                merged,
                meta={"batch_id": batch_id, "checkpoint": checkpoint_path})

    return _start_bridge(
        spark, input_path, process_batch, checkpoint_path, trigger_once)


def streaming_hygiene_rates(
    turns: DataFrame,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Live assistant-slop monitor: per tumbling window, the apology /
    refusal / hedge turn rates over the assistant stream — the streaming
    face of ``operators/transcripts.assistant_hygiene`` (same regexes via
    the shared defaults, so stream and batch agree on what counts as
    slop). A rate spike is the first signal a deployed model or prompt
    change started apologizing/refusing its way through live traffic —
    caught per window, not after the corpus lands.

    State is one row per open window, evicted by the watermark; works
    identically on batch frames (how the oracle checks it).
    """
    from waka_spark.operators.transcripts import assistant_hygiene

    defaults = assistant_hygiene.__defaults__
    apology_re, refusal_re, hedge_re = defaults[0], defaults[1], defaults[2]
    grouped = turns
    if turns.isStreaming:
        grouped = turns.withWatermark("ts", watermark)
    low = F.lower(F.col("text"))
    return (
        grouped.filter(F.col("role") == "assistant")
        .groupBy(F.window("ts", window).alias("w"))
        .agg(
            F.count("*").cast("long").alias("n_assistant"),
            F.sum(low.rlike(apology_re).cast("long")).alias("n_apology"),
            F.sum(low.rlike(refusal_re).cast("long")).alias("n_refusal"),
            F.sum(low.rlike(hedge_re).cast("long")).alias("n_hedge"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "n_assistant", "n_apology", "n_refusal", "n_hedge",
            F.round(F.col("n_apology") / F.col("n_assistant"), 6)
            .alias("apology_rate"),
            F.round(F.col("n_refusal") / F.col("n_assistant"), 6)
            .alias("refusal_rate"),
            F.round(F.col("n_hedge") / F.col("n_assistant"), 6)
            .alias("hedge_rate"),
        )
    )
