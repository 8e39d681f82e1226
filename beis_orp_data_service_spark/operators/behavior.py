"""Event-sequence (behavioral) analytics over the events stream:
ordered funnels, cohort retention, last-touch attribution.

Engine extensions (the reference has no event analytics; SURVEY §2's
events surface covers windows/sessionization/interval joins — these
are the remaining classic large-scale shapes a 100 TB events table
gets asked for). All three are pure DataFrame compositions:

- ``funnel_users`` / ``funnel_counts`` (its aggregate): k−1
  user-co-partitioned joins (each step's
  earliest-qualifying timestamp depends on the previous step's), all
  shuffling on ``user_id`` — one shuffle key reused across stages, no
  window over the full table, no UDF.
- ``cohort_retention``: two aggregations on ``user_id`` and one join —
  cohort = first-signup period, retention = distinct active periods.
- ``attribution_last_touch``: the interval join (same state-expirable
  shape as ``streaming.pipeline.interval_join``, reversed: conversions
  look BACK at touches) + a per-conversion ``max(struct(...))``
  pick — an aggregation, not a global sort; ties break on the higher
  touch id deterministically.

Scale notes: every shuffle is on ``user_id`` (high-cardinality; a
degenerate power user is bounded by the lookback window) or
``conversion id`` (unique). Funnel step filters push down to the
scan; with events partitioned by date, the lookback bounds prune
partitions.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def funnel_counts(
    events: DataFrame,
    steps: list[str],
    within: str = "7 days",
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Ordered funnel: how many users completed steps[0..k] IN ORDER,
    each step strictly after the previous one and the whole chain
    within ``within`` of the user's FIRST steps[0] event.

    Returns one row per step: (step_idx, step, n_users) — n_users is
    non-increasing down the funnel; it is the lazy count of
    :func:`funnel_users` rows with ``steps_completed > step_idx``, so
    both share one step chain. Semantics pinned: the anchor is
    the earliest steps[0] event per user (not "any qualifying
    subsequence" — that variant is exponential and answers a different
    question); each later step takes its EARLIEST event strictly after
    the previous step's chosen time and no later than anchor+within.
    """
    users = funnel_users(events, steps, within, user_col, type_col, ts_col)
    # one global aggregate: always one row, so a step no user reaches
    # still reports n_users 0
    per_step = [
        F.struct(
            F.lit(i).alias("step_idx"),
            F.lit(s).alias("step"),
            F.count(F.when(F.col("steps_completed") > i, 1)).alias("n_users"),
        )
        for i, s in enumerate(steps)
    ]
    return users.agg(F.array(*per_step).alias("_steps")).select(F.inline("_steps"))


def funnel_users(
    events: DataFrame,
    steps: list[str],
    within: str = "7 days",
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-user funnel depth: (user_id, steps_completed, anchor_ts,
    last_step_ts) — the row-level form ``funnel_counts`` aggregates
    and the join-back surface for segmenting converted users."""
    if len(steps) < 2:
        raise ValueError("a funnel needs at least 2 steps")
    iv = F.expr(f"INTERVAL {within}")
    cur = (
        events.where(F.col(type_col) == steps[0])
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("_t"))
        .withColumn("_anchor", F.col("_t"))
        .withColumn("_depth", F.lit(1))
    )
    out = cur
    for s in steps[1:]:
        nxt = events.where(F.col(type_col) == s).select(
            user_col, F.col(ts_col).alias("_ts")
        )
        cur = (
            cur.join(nxt, user_col)
            .where((F.col("_ts") > F.col("_t")) & (F.col("_ts") <= F.col("_anchor") + iv))
            .groupBy(user_col, "_anchor", "_depth")
            .agg(F.min("_ts").alias("_t"))
            .withColumn("_depth", F.col("_depth") + 1)
        )
        out = out.unionByName(cur)
    # deepest row per user
    return (
        out.groupBy(user_col)
        .agg(F.max(F.struct("_depth", "_t", "_anchor")).alias("_m"))
        .select(
            user_col,
            F.col("_m._depth").alias("steps_completed"),
            F.col("_m._anchor").alias("anchor_ts"),
            F.col("_m._t").alias("last_step_ts"),
        )
    )


def cohort_retention(
    events: DataFrame,
    cohort_type: str = "signup",
    period_days: int = 7,
    max_periods: int = 8,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Cohort retention triangle: users are cohorted by the period of
    their FIRST ``cohort_type`` event; a user counts as retained in
    offset k if they have ANY event in the k-th ``period_days`` period
    after their cohort period start. Returns (cohort_start,
    period_offset, n_users); offset 0 is the cohort's own period, so
    its n_users equals the cohort size.

    Periods are fixed ``period_days`` windows anchored at the GLOBAL
    epoch (not per-user), the standard cohort-table convention —
    cohort rows are comparable because everyone's week boundaries
    align.
    """
    sec = period_days * 86400
    period = lambda c: (F.unix_timestamp(c) / sec).cast("bigint")  # noqa: E731
    cohorts = (
        events.where(F.col(type_col) == cohort_type)
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("_first"))
        .select(user_col, period(F.col("_first")).alias("_cp"))
    )
    active = events.select(user_col, period(F.col(ts_col)).alias("_ap")).distinct()
    return (
        cohorts.join(active, user_col)
        .withColumn("period_offset", (F.col("_ap") - F.col("_cp")).cast("int"))
        .where((F.col("period_offset") >= 0) & (F.col("period_offset") < max_periods))
        .groupBy("_cp", "period_offset")
        .agg(F.count_distinct(user_col).alias("n_users"))
        .select(
            F.timestamp_seconds(F.col("_cp") * sec).alias("cohort_start"),
            "period_offset",
            "n_users",
        )
    )


def attribution_last_touch(
    events: DataFrame,
    touch_type: str = "click",
    conversion_type: str = "purchase",
    lookback: str = "7 days",
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Last-touch attribution: each conversion is credited to the SAME
    user's latest ``touch_type`` event at or before the conversion,
    within ``lookback``. Returns (conversion_id, touch_id, user_id,
    lag_s, value) — one row per ATTRIBUTED conversion (conversions
    with no qualifying touch are absent; left-join the conversions
    table to see them as unattributed).

    Shape: bounded interval join on (user, time-range) — the state-
    expirable stream-stream join reversed — then a per-conversion
    ``max(struct(touch_ts, touch_id))`` aggregation picks the latest
    touch (ties → higher touch id), keyed on the unique conversion id
    so no task holds more than one conversion's candidate touches.
    """
    iv = F.expr(f"INTERVAL {lookback}")
    conv = events.where(F.col(type_col) == conversion_type).select(
        F.col(id_col).alias("conversion_id"),
        F.col(user_col),
        F.col(ts_col).alias("_cts"),
        F.col(value_col).alias("value"),
    )
    touch = events.where(F.col(type_col) == touch_type).select(
        F.col(id_col).alias("touch_id"),
        F.col(user_col).alias("_tuser"),
        F.col(ts_col).alias("_tts"),
    )
    joined = conv.join(
        touch,
        (F.col(user_col) == F.col("_tuser"))
        & (F.col("_tts") <= F.col("_cts"))
        & (F.col("_tts") >= F.col("_cts") - iv),
    )
    return (
        joined.groupBy("conversion_id", user_col, "_cts", "value")
        .agg(F.max(F.struct(F.col("_tts"), F.col("touch_id"))).alias("_m"))
        .select(
            "conversion_id",
            F.col("_m.touch_id").alias("touch_id"),
            F.col(user_col),
            F.expr("(unix_micros(_cts) - unix_micros(_m._tts)) div 1000000")
            .cast("bigint")
            .alias("lag_s"),
            "value",
        )
    )


def session_paths(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
    gap_minutes: int = 60,
    max_len: int = 5,
    top_k: int = 20,
) -> DataFrame:
    """Top-k session paths: the most common ordered event-type
    sequences users follow within a session (lag-gap-cumsum
    sessionization, same rule as ``streaming.pipeline.sessionize``),
    truncated to the first ``max_len`` events — the "what do users DO"
    counterpart of first-order ``transition_counts``, which forgets
    everything but the previous step.

    Shape at 100 TB: both windows are PARTITIONED BY the user key
    (never global); the per-session path is bounded to ``max_len``
    rows BEFORE the collect (row_number filter), so aggregation state
    per session is O(max_len); the final top-k is a
    TakeOrderedAndProject, not a global sort. One shuffle key
    (``user_col``) serves sessionization, truncation and path
    assembly; only the grouped path counts shuffle again.

    Output: (path, n_sessions), the ``top_k`` most frequent, ties
    broken by path string ascending (deterministic)."""
    from pyspark.sql import Window

    # Window scale: partition keys are user / (user, session); per-task
    # rows = one user's events, and paths are truncated to max_len
    # before assembly.
    w = Window.partitionBy(user_col).orderBy(F.col(ts_col), F.col(id_col))
    gapped = events.withColumn(
        "_new",
        F.when(
            F.col(ts_col).cast("long") - F.lag(F.col(ts_col).cast("long")).over(w)
            > gap_minutes * 60,
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn("_session", F.sum("_new").over(w).cast("bigint"))
    ws = Window.partitionBy(user_col, "_session").orderBy(
        F.col(ts_col), F.col(id_col)
    )
    truncated = gapped.withColumn("_rn", F.row_number().over(ws)).where(
        F.col("_rn") <= max_len
    )
    paths = (
        truncated.groupBy(user_col, "_session")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("_rn", type_col))
                    ),
                    lambda s: s[type_col],
                ),
                ">",
            ).alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_sessions"))
    )
    return paths.orderBy(F.col("n_sessions").desc(), F.col("path")).limit(
        top_k
    )


def session_paths_oracle_sql(
    table: str,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
    gap_minutes: int = 60,
    max_len: int = 5,
    top_k: int = 20,
) -> str:
    """DuckDB twin — same gap rule, same truncation, same tie-break."""
    return f"""
    WITH gapped AS (
      SELECT {user_col} AS u, {type_col} AS t, {ts_col} AS ts,
             {id_col} AS id,
             CASE WHEN epoch_us({ts_col}) // 1000000
                       - lag(epoch_us({ts_col}) // 1000000) OVER (
                           PARTITION BY {user_col}
                           ORDER BY {ts_col}, {id_col})
                       > {gap_minutes * 60}
                  THEN 1 ELSE 0 END AS _new
      FROM {table}
    ), sess AS (
      SELECT u, t, ts, id,
             SUM(_new) OVER (PARTITION BY u ORDER BY ts, id
                             ROWS UNBOUNDED PRECEDING) AS _session
      FROM gapped
    ), trunc AS (
      SELECT u, t, _session,
             row_number() OVER (PARTITION BY u, _session
                                ORDER BY ts, id) AS _rn
      FROM sess QUALIFY _rn <= {max_len}
    ), p AS (
      SELECT string_agg(t, '>' ORDER BY _rn) AS path
      FROM trunc GROUP BY u, _session
    )
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
    FROM p GROUP BY path
    ORDER BY n_sessions DESC, path LIMIT {top_k}
    """


RECENCY_SCALE = 1_000_000_000  # nano quantization of per-event decay terms
US_PER_SEC = 1_000_000


def recency_scores(
    events: DataFrame,
    half_life: str = "7 days",  # documented; tau below is in seconds
    tau_seconds: int = 604_800,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Exponential time-decay activity score per user —
    ``Σ exp(−age/τ)`` over the user's events, aged against the
    TABLE-WIDE newest event (one 1-row driver pull, so the score is a
    pure function of the data, not of wall clock). The standard
    recency feature for churn/engagement models and freshness-weighted
    sampling.

    Hash-grade: ages are exact BIGINT microseconds; each event's decay
    term is nano-quantized BEFORE the per-user sum (order-insensitive);
    one scan, one grouped aggregation — shuffles only on ``user_col``.
    """
    t_ref = events.agg(
        F.max(F.unix_micros(F.col(ts_col))).alias("m")
    ).collect()[0]["m"]
    if t_ref is None:
        raise ValueError("recency_scores: empty input")
    age_us = F.lit(int(t_ref)) - F.unix_micros(F.col(ts_col))
    term_q = F.round(
        F.exp(-(age_us.cast("double") / F.lit(float(tau_seconds * US_PER_SEC))))
        * RECENCY_SCALE
    ).cast("bigint")
    return events.groupBy(user_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(term_q).alias("recency_q"),
    )


def recency_scores_oracle_sql(
    table: str = "events",
    tau_seconds: int = 604_800,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> str:
    """DuckDB twin of :func:`recency_scores` — same BIGINT microsecond
    ages, same double division/exp, same nano quantization before the
    sum."""
    t_ref = f"(SELECT max(epoch_us({ts_col})) FROM {table})"
    return f"""
    SELECT {user_col},
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(round(
             exp(-(CAST({t_ref} - epoch_us({ts_col}) AS DOUBLE)
                   / {float(tau_seconds * US_PER_SEC)}))
             * {RECENCY_SCALE}) AS BIGINT)) AS BIGINT) AS recency_q
    FROM {table}
    GROUP BY {user_col}
    """


def rfm_scores(
    events: DataFrame,
    n_tiles: int = 5,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    method: str = "two_pass",
    n_parts: int = 32,
) -> DataFrame:
    """RFM segmentation — the classic engagement/value triage
    (recency, frequency, monetary) with quintile scores where 5 is
    best on every axis. Exact inputs: recency is whole days behind the
    TABLE-WIDE newest event (BIGINT, from microsecond epochs),
    frequency is the event count, monetary the cent-quantized value
    sum. Scores are ``ntile(n_tiles)`` over deterministic total orders
    (metric, then ``user_col`` tiebreak), so both engines bucket
    identically.

    Scale note — ``method``:

    - ``"two_pass"`` (default): billions of users make "one row per
      user" a single-task bottleneck; the default stacks the three
      axes into one ``(user, axis, key)`` frame (recency key negated so
      it sorts descending, each axis keeping its window's NULL
      placement) and ranks it with ONE
      :func:`~beis_orp_data_service_spark.operators.ranks.grouped_ntile`
      per ``axis`` (range-partition → in-plan per-partition offsets →
      per-partition running count), then pivots the axes back and
      joins them to the per-user table once — IDENTICAL output (same
      NTILE bucket math, equality-tested in tests/test_behavior.py),
      no unpartitioned window; ``n_parts`` sizes the range partitions
      (~3·n_users/P rows each).
    - ``"ntile"``: three single unpartitioned windows over the USER
      table (one row per user, not events) — exact and a hair cheaper
      while user cardinality fits one task; opt in when you know the
      user count is bounded.
    """
    if method not in ("ntile", "two_pass"):
        raise ValueError(f"rfm_scores: unknown method {method!r}")
    if n_tiles < 1:
        raise ValueError(f"rfm_scores: n_tiles must be >= 1, got {n_tiles}")
    t_ref = events.agg(
        F.max(F.unix_micros(F.col(ts_col))).alias("m")
    ).collect()[0]["m"]
    if t_ref is None:
        raise ValueError("rfm_scores: empty input")
    per_user = events.groupBy(user_col).agg(
        # explicit floor: DuckDB CAST(double AS BIGINT) ROUNDS while
        # Spark's truncates — floor() first makes both exact
        F.floor(
            (F.lit(int(t_ref)) - F.max(F.unix_micros(F.col(ts_col))))
            / F.lit(86_400_000_000)
        )
        .cast("bigint")
        .alias("r_days"),
        F.count(F.lit(1)).cast("bigint").alias("f_n"),
        F.sum(F.round(F.col(value_col) * 100).cast("bigint")).alias("m_cents"),
    )
    # bucket 1 = worst, n = best on every axis: most-recent users sort
    # LAST for recency (r_days desc), heaviest last for f/m (asc)
    if method == "two_pass":
        from beis_orp_data_service_spark.checkpointing import stage_checkpoint
        from beis_orp_data_service_spark.operators.ranks import grouped_ntile

        # one ascending key per axis; "nulls_after" puts NULL keys
        # where that axis's window ordering does (DESC: last, ASC:
        # first), since negating r_days alone would move them
        axes = {
            "r_score": (-F.col("r_days"), F.col("r_days").isNull()),
            "f_score": (F.col("f_n"), F.col("f_n").isNotNull()),
            "m_score": (F.col("m_cents"), F.col("m_cents").isNotNull()),
        }
        # the per-user table feeds the stacked ranking and the final
        # join; checkpoint it once, lazily
        base = stage_checkpoint(per_user, eager=False, label="rfm:per_user")
        stacked = reduce(
            DataFrame.unionByName,
            (
                base.select(
                    user_col,
                    F.lit(axis).alias("axis"),
                    nulls_after.alias("nulls_after"),
                    key.alias("key"),
                )
                for axis, (key, nulls_after) in axes.items()
            ),
        )
        tiles = (
            grouped_ntile(
                stacked,
                ["axis"],
                [F.col("nulls_after"), F.col("key"), F.col(user_col)],
                n_tiles,
                "tile",
                n_parts=n_parts,
                label="rfm",
            )
            .groupBy(F.col(user_col).alias("tile_user"))
            .pivot("axis", list(axes))
            .agg(F.first("tile"))
        )
        # NULL-safe: the ntile spelling scores a NULL user as one more
        # row; the renamed key keeps the condition from resolving to
        # base's own column on both sides
        scored = base.join(
            tiles, F.col(user_col).eqNullSafe(F.col("tile_user"))
        ).select(
            user_col, "r_days", "f_n", "m_cents",
            "r_score", "f_score", "m_score",
        )
    else:
        orders = {
            "r_score": [F.col("r_days").desc(), F.col(user_col)],
            "f_score": [F.col("f_n").asc(), F.col(user_col)],
            "m_score": [F.col("m_cents").asc(), F.col(user_col)],
        }
        scored = per_user.select(
            user_col,
            "r_days",
            "f_n",
            "m_cents",
            *(
                F.ntile(n_tiles)
                .over(Window.orderBy(*sort_cols))
                .cast("bigint")
                .alias(out_col)
                for out_col, sort_cols in orders.items()
            ),
        )
    return scored.withColumn(
        "rfm",
        (
            F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score")
        ).cast("bigint"),
    )


def rfm_scores_oracle_sql(
    table: str = "events",
    n_tiles: int = 5,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> str:
    """DuckDB twin of :func:`rfm_scores` — same exact metrics, same
    (metric, user) total orders into ntile."""
    t_ref = f"(SELECT max(epoch_us({ts_col})) FROM {table})"
    return f"""
    WITH per_user AS (
      SELECT {user_col},
             CAST(floor(({t_ref} - max(epoch_us({ts_col})))
                        / 86400000000) AS BIGINT) AS r_days,
             CAST(COUNT(*) AS BIGINT) AS f_n,
             CAST(SUM(CAST(round({value_col} * 100) AS BIGINT))
                  AS BIGINT) AS m_cents
      FROM {table} GROUP BY {user_col}
    )
    SELECT {user_col}, r_days, f_n, m_cents,
           CAST(ntile({n_tiles}) OVER (ORDER BY r_days DESC, {user_col})
                AS BIGINT) AS r_score,
           CAST(ntile({n_tiles}) OVER (ORDER BY f_n ASC, {user_col})
                AS BIGINT) AS f_score,
           CAST(ntile({n_tiles}) OVER (ORDER BY m_cents ASC, {user_col})
                AS BIGINT) AS m_score,
           CAST(
             ntile({n_tiles}) OVER (ORDER BY r_days DESC, {user_col}) * 100
             + ntile({n_tiles}) OVER (ORDER BY f_n ASC, {user_col}) * 10
             + ntile({n_tiles}) OVER (ORDER BY m_cents ASC, {user_col})
             AS BIGINT) AS rfm
    FROM per_user
    """
