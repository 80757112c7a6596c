"""Temporal joins over event/transcript streams: as-of join and
windowed range join.

Why these exist here: transcript analytics constantly asks "what was the
latest X before this turn/event" (as-of) and "how many X in the window
before this event" (range) — e.g. joining each tool-call turn to the most
recent user instruction, or counting retries in the preceding minute.
Spark has no ASOF JOIN operator (SPARK-22947 is open); the naive
formulation — key equality plus a timestamp inequality — falls out of the
equi-join planner entirely and becomes a per-key quadratic theta-join
(BroadcastNestedLoopJoin or a sort-merge with full per-key pair
enumeration). Both operators below restore the equi-join shape:

- ``asof_join``: the union-tag trick. Tag right rows 0 and left rows 1,
  union them into ONE frame, and take a running ``last(payload,
  ignorenulls=True)`` over (key ORDER BY ts, tag). Each left row picks up
  the latest right payload with right.ts <= left.ts (ties: right sorts
  first, so same-instant rows match, matching DuckDB/kdb ASOF ">="
  semantics). Cost: one shuffle on key + one sort — the same price as a
  plain sort-merge join, with NO pair materialization at any key
  cardinality or time density. This is the classic distributed as-of
  design (pandas merge_asof per-partition is the single-node analog).
- ``range_join_binned``: count/aggregate right rows in a per-left-row
  window [left.ts - window, left.ts). Timestamps are binned to
  ``window``-sized buckets; a right row lands in exactly one bucket and
  any matching left row's window spans at most TWO buckets, so the left
  side probes (bucket, bucket-1) via a 2-row explode and the join is a
  plain equi-join on (key, bucket) with a final exact range filter.
  Candidate fan-out is bounded by bucket occupancy (rows per key per
  window-width), never by total per-key row count — the binned range
  join Databricks ships as a range-join hint, expressed with built-ins.

Both are pure DataFrame compositions — no UDFs, whole-stage codegen end
to end.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def epoch_us(ts: Column) -> Column:
    """Microseconds since epoch for TIMESTAMP or TIMESTAMP_NTZ columns
    (``unix_micros`` rejects NTZ; the cast interprets NTZ in the session
    zone).

    CONTRACT: the session zone must be FIXED-OFFSET (UTC — which
    ``waka_spark.session.get_spark`` pins) for the NTZ cast's shift to
    be constant. Under a DST zone (e.g. a foreign session setting
    America/New_York) the offset changes by an hour mid-stream at
    transitions, which would corrupt gaps/buckets for NTZ rows
    straddling them — spuriously splitting sessions at fall-back and
    collapsing window membership at spring-forward. TZ-aware TIMESTAMP
    columns are unaffected (their instant is zone-independent).
    """
    return F.unix_micros(ts.cast("timestamp"))


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_payload: list[str] | None = None,
    tolerance_sec: float | None = None,
) -> DataFrame:
    """Backward as-of join: every left row + the payload of the latest
    right row with the same ``key`` and ``right_ts <= left_ts``.

    Output: all left columns, plus ``<col>`` for each ``right_payload``
    column and ``_asof_ts`` (the matched right timestamp) — all null when
    no right row precedes the left row (left-outer semantics).

    ``tolerance_sec`` nulls out matches older than the tolerance (pandas
    ``merge_asof(tolerance=...)`` semantics) — the match is still the
    *latest* preceding row, just rejected if stale.
    """
    right_payload = right_payload or [
        c for c in right.columns if c not in (key, right_ts)
    ]
    pl_fields = [F.col(c).alias(c) for c in right_payload]
    pl = F.struct(F.col(right_ts).alias("_asof_ts"), *pl_fields)

    r = right.select(
        F.col(key).alias("_k"),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_tag"),
        pl.alias("_pl"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(f"_l_{c}")
          for c in left.columns],
    )
    l = left.select(
        F.col(key).alias("_k"),
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_tag"),
        F.lit(None).cast(
            r.schema["_pl"].dataType
        ).alias("_pl"),
        *[F.col(c).alias(f"_l_{c}") for c in left.columns],
    )

    # _pl as the final sort key makes ties deterministic: among several
    # right rows sharing (key, ts), the greatest payload struct wins —
    # without it F.last() returns whichever duplicate the shuffle happened
    # to order last, flipping between runs. (Payload columns must be
    # orderable types for the tie guarantee; left rows are unaffected —
    # _tag=1 already sorts them after every right row at the same ts.)
    w = (
        Window.partitionBy("_k")
        .orderBy("_ts", "_tag", "_pl")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = (
        r.unionByName(l)
        .withColumn("_m", F.last("_pl", ignorenulls=True).over(w))
        .filter(F.col("_tag") == 1)
    )
    if tolerance_sec is not None:
        fresh = (
            F.col("_m").isNotNull()
            & (
                epoch_us(F.col("_ts")) - epoch_us(F.col("_m._asof_ts"))
                <= int(tolerance_sec * 1_000_000)
            )
        )
        matched = matched.withColumn(
            "_m", F.when(fresh, F.col("_m")).otherwise(F.lit(None))
        )
    return matched.select(
        *[F.col(f"_l_{c}").alias(c) for c in left.columns],
        F.col("_m._asof_ts").alias("_asof_ts"),
        *[F.col(f"_m.{c}").alias(c) for c in right_payload],
    )


def funnel(
    events: DataFrame,
    steps: list[str],
    key: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered-sequence funnel: how many ``key``s completed step 1, then
    step 2 strictly later, then step 3 strictly later than that, ... (the
    classic product-analytics funnel; transcript analog: instruction →
    tool-call → success within a conversation).

    Semantics are the greedy-earliest cascade: stage *i* is reached iff an
    event of ``steps[i]`` exists strictly after the earliest qualifying
    occurrence of stage *i-1* (greedy-earliest maximizes reach, so this is
    the standard "exists an ordered subsequence" answer). Ties on ``ts``
    never advance two stages at one instant (strict ``>``), which keeps the
    result independent of intra-instant event order.

    Scale shape: ONE shuffle. Events are pre-filtered to the step types,
    grouped by key, sorted in-group, and the funnel walk runs as a single
    ``aggregate`` higher-order function over the sorted (ts, type) array —
    no per-stage self-joins (the naive cascade is k joins = k shuffles).
    Per-group state is bounded by events-per-key of the step types, the
    same bound any sessionizer has. Output: one row per funnel stage,
    ``(stage, step, n_keys)``, where n_keys counts keys whose reached
    stage ≥ that stage.
    """
    relevant = events.filter(F.col(type_col).isin(list(steps))).select(
        F.col(key).alias("_k"),
        F.struct(
            epoch_us(F.col(ts_col)).alias("us"),
            F.col(type_col).alias("typ"),
        ).alias("_ev"),
    )
    step_arr = F.array(*[F.lit(s) for s in steps])
    # state: (stage reached so far, ts of the event that reached it)
    init = F.struct(
        F.lit(0).cast("int").alias("stage"),
        F.lit(-(1 << 62)).cast("long").alias("t"),
    )
    walk = F.aggregate(
        F.array_sort(F.collect_list("_ev")),
        init,
        lambda acc, ev: F.when(
            (acc["stage"] < len(steps))
            & (ev["typ"] == F.element_at(step_arr, acc["stage"] + 1))
            & (ev["us"] > acc["t"]),
            F.struct(
                (acc["stage"] + 1).alias("stage"), ev["us"].alias("t")
            ),
        ).otherwise(acc),
    )
    reached = relevant.groupBy("_k").agg(walk["stage"].alias("reached"))
    stages = [
        F.struct(
            F.lit(i + 1).cast("int").alias("stage"),
            F.lit(s).alias("step"),
        )
        for i, s in enumerate(steps)
    ]
    return (
        reached.select(
            F.explode(F.array(*stages)).alias("st"), F.col("reached")
        )
        .filter(F.col("reached") >= F.col("st.stage"))
        .groupBy(F.col("st.stage").alias("stage"), F.col("st.step").alias("step"))
        .agg(F.count("*").cast("long").alias("n_keys"))
    )


def retention_cohorts(
    events: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Weekly cohort retention: users grouped by first-active week, counted
    in each later week they were active (the classic growth-analytics
    triangle; transcript analog: conversations grouped by first-seen week
    of a tool or entity).

    Two hash-aggs and one equi-join, all keyed by ``key``: (1) first-active
    week per key (min over the raw stream, map-side combine), (2) distinct
    (key, active-week) pairs, (3) join 1⋈2 on key and count by
    (cohort_week, week_offset). Weeks are ISO ``date_trunc('week')`` both
    here and in the DuckDB oracle. No windows, no skew beyond per-user
    event counts.
    """
    week = F.date_trunc("week", F.col(ts_col).cast("timestamp"))
    cohort = (
        events.groupBy(F.col(key).alias("_k"))
        .agg(F.min(week).alias("cohort_week"))
    )
    active = (
        events.select(F.col(key).alias("_k"), week.alias("active_week"))
        .distinct()
    )
    return (
        active.join(cohort, "_k")
        .groupBy(
            # ISO yyyy-MM-dd string, not DATE: engines/pandas render date
            # scalars differently and the oracle compares stringified cells
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            (
                F.datediff(F.to_date("active_week"), F.to_date("cohort_week"))
                / 7
            ).cast("int").alias("week_offset"),
        )
        .agg(F.count("*").cast("long").alias("n_active"))
    )


def sessionize(
    events: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    order_col: str = "event_id",
    gap_sec: float = 1800.0,
) -> DataFrame:
    """Gap-based sessionization: a new session starts whenever the gap to
    the previous event of the same ``key`` exceeds ``gap_sec`` (the
    standard web/transcript session cut; transcript analog: split a
    conversation into engagement episodes by inter-turn silence).

    Scale shape: ONE shuffle on ``key``. The lag-gap flag and the running
    ``sum(flag)`` session counter are two window passes over the same
    ``(key ORDER BY ts, order_col)`` sort, so Catalyst plans a single
    Exchange + Sort serving both; the per-session rollup then groups by
    ``(key, session_idx)``, a superset of the partition key — no second
    shuffle. ``order_col`` must be a per-key tiebreak (unique row id) so
    equal timestamps order deterministically on both engines.

    Output: one row per session — ``(key, session_idx, n_events,
    start_us, end_us, duration_us)`` with epoch-microsecond bounds (exact
    integers; no float or timestamp-rendering drift).
    """
    gap_us = int(gap_sec * 1_000_000)
    w = Window.partitionBy(key).orderBy(ts_col, order_col)
    us = epoch_us(F.col(ts_col))
    flagged = events.withColumn(
        "_new_s",
        F.when(
            F.lag(us).over(w).isNull() | ((us - F.lag(us).over(w)) > gap_us),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    sessions = flagged.withColumn(
        "_session_idx", F.sum("_new_s").over(w).cast("long")
    )
    return sessions.groupBy(
        F.col(key), F.col("_session_idx").alias("session_idx")
    ).agg(
        F.count("*").cast("long").alias("n_events"),
        F.min(us).alias("start_us"),
        F.max(us).alias("end_us"),
        (F.max(us) - F.min(us)).alias("duration_us"),
    )


def rolling_window(
    events: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    window_sec: float = 3600.0,
    row_id: str = "event_id",
) -> DataFrame:
    """Per-event trailing time-range aggregate: for every event, the count
    and value-sum of same-``key`` events in ``[ts - window_sec, ts]``
    (inclusive both ends — SQL RANGE frame semantics; transcript analog:
    "how many tool calls in the preceding hour of this conversation").

    Scale shape: ONE shuffle on ``key`` + one sort on the epoch — Spark's
    native RANGE BETWEEN frame evaluates with a sliding two-pointer over
    the sorted run, never materializing candidate pairs (contrast
    ``range_join_binned``, which exists for joining two DIFFERENT tables;
    self-rolling is cheaper as a window). Equal timestamps are RANGE-frame
    peers on every engine, so no tiebreak column is needed for
    determinism.
    """
    frame_us = int(window_sec * 1_000_000)
    w = (
        Window.partitionBy(key)
        .orderBy(epoch_us(F.col(ts_col)))
        .rangeBetween(-frame_us, 0)
    )
    return events.select(
        F.col(row_id),
        F.col(key),
        F.count("*").over(w).cast("long").alias("n_in_window"),
        F.round(F.sum(value_col).over(w), 6).alias("sum_in_window"),
    )


def _bucket(ts: Column, width_us: int) -> Column:
    return F.floor(epoch_us(ts) / width_us).cast("long")


def range_join_binned(
    left: DataFrame,
    right: DataFrame,
    key: str,
    window_sec: float,
    left_id: str = "event_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    aggs: list[Column] | None = None,
) -> DataFrame:
    """For each left row, aggregate right rows with the same ``key`` in
    the half-open window ``[left_ts - window_sec, left_ts)``.

    Output: all left columns + the aggregate columns (``n_in_window`` by
    default, or caller-supplied ``aggs`` over the matched right rows'
    columns). Left rows with an empty window keep count 0 / null aggs
    (left-outer semantics via join-back on ``left_id``, which must be a
    unique row key — a hash or generated id would either merge duplicate
    rows or recompute nondeterministically across the two plan branches).

    Scale shape: equi-join on (key, time-bucket) with a 2-bucket probe
    explode — candidate pairs are bounded by per-(key, window) density,
    and the final exact filter runs post-join on already-matched rows.
    """
    width_us = int(window_sec * 1_000_000)

    l = left.withColumn("_row_id", F.col(left_id))
    probes = l.select(
        "_row_id",
        F.col(key).alias("_k"),
        epoch_us(F.col(left_ts)).alias("_l_us"),
        F.explode(
            F.array(
                _bucket(F.col(left_ts), width_us),
                _bucket(F.col(left_ts), width_us) - 1,
            )
        ).alias("_bucket"),
    )
    r = right.select(
        F.col(key).alias("_k"),
        _bucket(F.col(right_ts), width_us).alias("_bucket"),
        epoch_us(F.col(right_ts)).alias("_r_us"),
        *[c for c in right.columns if c not in (key, right_ts)],
    )

    matched = probes.join(r, ["_k", "_bucket"]).filter(
        (F.col("_r_us") >= F.col("_l_us") - width_us)
        & (F.col("_r_us") < F.col("_l_us"))
    )
    aggs = aggs or [F.count("*").cast("long").alias("n_in_window")]
    per_left = matched.groupBy("_row_id").agg(*aggs)
    agg_names = [a for a in per_left.columns if a != "_row_id"]

    out = l.join(per_left, "_row_id", "left").drop("_row_id")
    if "n_in_window" in agg_names:
        out = out.withColumn(
            "n_in_window", F.coalesce("n_in_window", F.lit(0))
        )
    return out


def validity_intervals(
    events: DataFrame,
    key_col: str = "user_id",
    state_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """SCD-2 state-history materialization: collapse an event stream into
    per-key validity intervals — one row per *state change*, valid from
    its first timestamp until the next change (open-ended for the current
    state). The standard temporal-KG / slowly-changing-dimension shape:
    "what was the entity's state at time t" becomes one BETWEEN predicate
    against this table instead of a scan-and-sort of raw events.

    Scale shape: two window functions (lag to detect changes, lead to
    close intervals) over the SAME (key × ts) partitioning — Spark plans
    one Exchange + one Sort for both, so the whole operator is a single
    shuffle keyed by ``key_col``; no self-join, no agg. Ties on ts within
    a key are broken by the state value for determinism.

    Output: (key, state, valid_from, valid_to), valid_to NULL while
    current.
    """
    return _segments(
        events.select(
            F.col(key_col).alias("key"),
            F.col(state_col).alias("state"),
            F.col(ts_col).alias("_ts"),
        ),
        ["key"], "state",
    )


def _segments(rows: DataFrame, keys: list[str], value: str) -> DataFrame:
    """(*keys, value, valid_from, valid_to): the SCD-2 change-point
    segmentation of ``rows(*keys, value, _ts)``. A ``lag`` over
    (keys ORDER BY _ts, value) keeps the rows whose value differs from the
    previous one, and a ``lead`` over the same window closes each
    interval at the next change point (NULL while current). Both windows
    share one exchange and one sort."""
    w = Window.partitionBy(*keys).orderBy(
        F.col("_ts").asc(), F.col(value).asc())
    return (
        rows.withColumn("_prev", F.lag(value).over(w))
        .filter(F.col("_prev").isNull() | (F.col(value) != F.col("_prev")))
        .select(*keys, value, F.col("_ts").alias("valid_from"),
                F.lead("_ts").over(w).alias("valid_to"))
    )


def time_weighted_avg(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Per-key time-weighted average: each observation holds its value
    until the next one, so its weight is the gap to the successor —
    TWAP / mean-held-state semantics for irregular samples, where the
    plain ``avg`` over-weights bursts (a metric sampled 100× during an
    incident and once an hour otherwise should not average like 100 equal
    votes). The last observation per key carries no weight (nothing is
    known past it); single-observation keys report NULL with their plain
    average alongside.

    Scale shape: ONE shuffle — a lead() window on (key × ts) computes the
    holding gap in-row, and the per-key agg reuses the exact same
    partitioning (Spark plans one Exchange + one Sort for both; same
    single-exchange discipline as validity_intervals/sessionize one screen
    up). Ties on ts break by value for cross-engine determinism.
    """
    w = Window.partitionBy("key").orderBy(
        F.col("_ts").asc(), F.col("_v").asc())
    gapped = (
        events.select(
            F.col(key_col).alias("key"),
            epoch_us(F.col(ts_col)).alias("_ts"),
            F.col(value_col).cast("double").alias("_v"),
        )
        .withColumn("_dt", (F.lead("_ts").over(w) - F.col("_ts")).cast("double"))
    )
    return (
        gapped.groupBy("key")
        .agg(
            F.count("*").cast("long").alias("n_obs"),
            # explicit zero-total-gap guard (all obs at one instant):
            # NULL on both engines instead of engine-specific div-by-zero
            F.round(
                F.sum(F.col("_v") * F.col("_dt"))
                / F.nullif(F.sum("_dt"), F.lit(0.0)), 6)
            .alias("twap"),
            F.round(F.avg("_v"), 6).alias("plain_avg"),
        )
    )


def mad_outliers(
    events: DataFrame,
    key_col: str = "event_type",
    value_col: str = "value",
    id_col: str = "event_id",
    threshold: float = 3.0,
) -> DataFrame:
    """Robust per-key outlier screen via Median Absolute Deviation:
    flag rows with |x − median| > threshold·MAD. The production
    data-quality screen when the metric is heavy-tailed — unlike the
    z-score screen (events_zscore), a handful of extreme rows cannot
    drag the center/scale and mask themselves (median and MAD have 50%
    breakdown; mean/stddev have 0%).

    Two exact-median passes (Spark ``median`` == DuckDB
    ``quantile_cont(0.5)``, both linearly interpolated), each one
    hash-agg keyed by ``key_col`` with the tiny per-key result broadcast
    back — the event stream itself never shuffles. Keys where MAD = 0
    (over half the values identical) flag any deviation at all, the
    standard MAD degeneracy; those rows emit dev_ratio NULL and are kept
    for audit.

    Output: flagged rows (id, key, value, med, mad, dev_ratio).
    """
    v = F.col(value_col).cast("double")
    med = events.groupBy(F.col(key_col).alias("key")).agg(
        F.median(v).alias("med"))
    devs = events.select(
        F.col(id_col).alias("id"),
        F.col(key_col).alias("key"),
        v.alias("value"),
    ).join(F.broadcast(med), "key")
    mad = devs.groupBy("key").agg(
        F.median(F.abs(F.col("value") - F.col("med"))).alias("mad"))
    scored = devs.join(F.broadcast(mad), "key").withColumn(
        "dev_ratio",
        F.when(
            F.col("mad") > 0,
            F.round(F.abs(F.col("value") - F.col("med")) / F.col("mad"), 6),
        ),
    )
    return scored.filter(
        (F.col("dev_ratio") > threshold)
        | (F.col("dev_ratio").isNull()
           & (F.abs(F.col("value") - F.col("med")) > 0))
    ).select(
        "id", "key", "value",
        F.round("med", 6).alias("med"),
        F.round("mad", 6).alias("mad"),
        "dev_ratio",
    )


def resample_ffill(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Per-key daily resample with forward fill: one row per (key, day)
    over each key's active span, carrying the key's latest observed value
    as of that day — the gap-filling pass that turns an irregular event
    stream into the regular grid downstream feature pipelines and
    dashboards consume.

    Three steps, all key-partitioned: (1) per-(key, day) LAST observation
    by (ts, id) — a row_number window; (2) the day grid per key — one
    (min, max) agg + an in-row ``sequence`` explode (grid rows are
    span-bounded, never timestamp-cardinality); (3) forward fill — a
    running ``last(value, ignorenulls=True)`` over the day order, the
    same union-window trick as ``asof_join`` one screen up. Every shuffle
    keys on ``key_col``; nothing quadratic, no self-join.

    Output: (key, day, value_ffill, observed).
    """
    day = F.date_trunc("day", F.col(ts_col)).cast("date")
    w_last = Window.partitionBy("key", "day").orderBy(
        F.col("_ts").desc(), F.col("_id").desc())
    daily = (
        events.select(
            F.col(key_col).alias("key"), day.alias("day"),
            F.col(ts_col).alias("_ts"), F.col(id_col).alias("_id"),
            F.col(value_col).cast("double").alias("value"),
        )
        .withColumn("_rn", F.row_number().over(w_last))
        .filter(F.col("_rn") == 1)
        .select("key", "day", "value")
    )
    grid = (
        events.groupBy(F.col(key_col).alias("key"))
        .agg(
            F.min(day).alias("_d0"),
            F.max(day).alias("_d1"),
        )
        .select(
            "key",
            F.explode(
                F.sequence(F.col("_d0"), F.col("_d1"))
            ).alias("day"),
        )
    )
    w_ff = Window.partitionBy("key").orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    return (
        grid.join(daily, ["key", "day"], "left")
        .withColumn("value_ffill",
                    F.round(F.last("value", ignorenulls=True).over(w_ff), 6))
        .select(
            "key", "day", "value_ffill",
            F.col("value").isNotNull().alias("observed"),
        )
    )


def fact_history(
    triples: DataFrame,
    subj_col: str = "subj_url",
    pred_col: str = "pred_url",
    obj_col: str = "obj_url",
    ts_col: str = "ts",
) -> DataFrame:
    """Temporal-KG fact history: collapse time-stamped (subj, pred, obj)
    assertions into per-(subj, pred) validity intervals — the SCD-2 shape
    of :func:`validity_intervals` keyed by the FACT key instead of a
    single column. "What did the KG believe about (s, p) at time t"
    becomes one BETWEEN probe against this table; the reference's KG is a
    point-in-time snapshot (kg.py:142-183), so this is the longitudinal
    layer a transcript corpus adds (conversations carry timestamps;
    object values drift as the dialog progresses).

    Same single-shuffle scale shape as ``validity_intervals``: lag to
    detect object changes + lead to close intervals over ONE
    (subj, pred) × ts exchange/sort; no self-join. Equal-ts ties break by
    object value for run/engine determinism.

    Output: (subj, pred, obj, valid_from, valid_to), ``valid_to`` NULL
    while the assertion is current.
    """
    return _segments(
        triples.select(
            F.col(subj_col).alias("subj"),
            F.col(pred_col).alias("pred"),
            F.col(obj_col).alias("obj"),
            F.col(ts_col).alias("_ts"),
        ),
        ["subj", "pred"], "obj",
    )


def as_of_snapshot(
    history: DataFrame,
    at,
    from_col: str = "valid_from",
    to_col: str = "valid_to",
) -> DataFrame:
    """Point-in-time reconstruction over an SCD-2 interval table (the
    read side of :func:`validity_intervals` / :func:`fact_history`):
    rows whose validity interval covers ``at`` — i.e. the state of the
    world, or of the KG, as of that instant. Interval semantics are
    half-open ``[valid_from, valid_to)`` with NULL ``valid_to`` = still
    current, matching the writers.

    Pure scan filter: both predicates push into the parquet scan of a
    materialized history table, so a snapshot costs one pruned scan —
    this is the query shape the interval materialization exists to make
    cheap (vs sort-and-scan of raw events per probe).
    """
    return history.filter(
        (F.col(from_col) <= F.lit(at))
        & (F.col(to_col).isNull() | (F.col(to_col) > F.lit(at)))
    )


def snapshot_diff(
    history: DataFrame,
    at_old,
    at_new,
) -> DataFrame:
    """KG change report between two instants over an SCD-2 fact table
    (:func:`fact_history` output): per (subj, pred) fact key, what was
    ``added`` (no old value), ``removed`` (no new value), or ``changed``
    (different object) between ``at_old`` and ``at_new``. Unchanged facts
    are excluded. The audit/debug face of the temporal KG — "what did
    this ingest window do to the graph".

    Two :func:`as_of_snapshot` scan filters + ONE full-outer hash join on
    the fact key (an SCD-2 history has at most one valid row per key per
    instant, so the join is 1:1); no windows, no re-sort of the history.

    Output: (subj, pred, obj_old, obj_new, change).
    """
    old = as_of_snapshot(history, at_old).select(
        "subj", "pred", F.col("obj").alias("obj_old"))
    new = as_of_snapshot(history, at_new).select(
        "subj", "pred", F.col("obj").alias("obj_new"))
    joined = old.join(new, ["subj", "pred"], "full_outer")
    return (
        joined.withColumn(
            "change",
            F.when(F.col("obj_old").isNull(), F.lit("added"))
            .when(F.col("obj_new").isNull(), F.lit("removed"))
            .when(F.col("obj_old") != F.col("obj_new"), F.lit("changed")),
        )
        .filter(F.col("change").isNotNull())
        .select("subj", "pred", "obj_old", "obj_new", "change")
    )


def merge_fact_history(
    history: DataFrame,
    delta: DataFrame,
    subj_col: str = "subj_url",
    pred_col: str = "pred_url",
    obj_col: str = "obj_url",
    ts_col: str = "ts",
) -> DataFrame:
    """Incremental MERGE of newly ingested time-stamped facts into an
    existing :func:`fact_history` table — the write side a streaming /
    batch-append fact pipeline needs (Iceberg-MERGE-INTO analog for the
    SCD-2 shape, like plans/incremental.py merge_edges for the edges
    table).

    Only the fact keys PRESENT IN THE DELTA are re-segmented: their
    current intervals collapse back to change-points (each interval row
    IS one (obj, valid_from) assertion), union with the delta's facts,
    and re-run the single-shuffle lag/lead segmentation; untouched keys
    pass through via one anti-join. Cost scales with the delta's key
    footprint, never the full history.

    Invariant (pinned by tests + the `kg_fact_merge` oracle):
    ``merge(fact_history(old), delta) == fact_history(old ∪ delta)``
    for APPEND-ONLY deltas (every delta ts ≥ the key's last change
    point). Out-of-order backfill between two historical change-points
    is NOT exactly mergeable from the collapsed history — a same-object
    re-observation that was collapsed away can no longer re-open its
    interval — so late data needs a rebuild of the affected keys from
    raw facts; the append-only case is the streaming reality this
    operator serves.

    Output: same schema as :func:`fact_history`.
    """
    keys = delta.select(
        F.col(subj_col).alias("subj"), F.col(pred_col).alias("pred")
    ).distinct()
    touched = history.join(keys, ["subj", "pred"], "left_semi")
    untouched = history.join(keys, ["subj", "pred"], "left_anti")
    points = touched.select(
        F.col("subj").alias(subj_col),
        F.col("pred").alias(pred_col),
        F.col("obj").alias(obj_col),
        F.col("valid_from").alias(ts_col),
    )
    delta_facts = delta.select(subj_col, pred_col, obj_col, ts_col)
    rebuilt = fact_history(
        points.unionByName(delta_facts),
        subj_col=subj_col, pred_col=pred_col,
        obj_col=obj_col, ts_col=ts_col,
    )
    return untouched.unionByName(rebuilt)


def time_decayed_sum(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    half_life_sec: float = 86400.0,
) -> DataFrame:
    """Per-key exponentially time-decayed value aggregate, evaluated at
    the key's LAST event: decayed_sum = Σ xᵢ · 0.5^((t_last − tᵢ)/h) —
    the recency-weighted engagement/score feature (user activity decay,
    entity mention recency, tool-usage freshness) that a plain windowed
    sum can't express because its weight is continuous in time, not a
    cutoff. ``decayed_avg`` normalizes by the decayed weight mass, giving
    a recency-weighted mean value.

    Scale shape: one window ``max`` for t_last sharing the exchange with
    the final per-key hash agg (the agg key equals the window partition
    key, so Catalyst plans ONE shuffle); weights are evaluated in-row.
    Exponent inputs are exact integer microsecond differences divided by
    a literal, so both engines feed ``pow`` identical doubles; the
    round-6 output absorbs libm-vs-JVM last-ulp pow differences (the
    same tolerance every ln()-based oracle here relies on).

    Output: (key, n_events, last_ts_s, decayed_sum, decayed_avg).
    """
    w = Window.partitionBy(key_col)
    us = epoch_us(F.col(ts_col))
    decay = F.pow(
        F.lit(0.5),
        (F.max(us).over(w) - us)
        / F.lit(half_life_sec * 1_000_000.0),
    )
    weighted = events.select(
        F.col(key_col).alias("key"),
        us.alias("_us"),
        (F.col(value_col) * decay).alias("_wx"),
        decay.alias("_w"),
    )
    return (
        weighted.groupBy("key")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            (F.max("_us") / 1_000_000).cast("long").alias("last_ts_s"),
            F.round(F.sum("_wx"), 6).alias("decayed_sum"),
            F.round(F.sum("_wx") / F.sum("_w"), 6).alias("decayed_avg"),
        )
    )
