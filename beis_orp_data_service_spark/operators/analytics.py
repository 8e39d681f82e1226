"""Warehouse analytics operators — dataset profiling, event funnels,
CDC merge-apply (engine extensions; the operational queries a lake
team runs beside the reference's search/enrichment surface).

- ``profile_table``: single-pass per-column profile (non-null count,
  exact NDV, min/max) — the stats page every ingestion dashboard needs
  and the input to size-based planning decisions (broadcast thresholds,
  bucket counts). One aggregate job: Catalyst plans the multiple
  COUNT(DISTINCT) via Expand (rows × profiled-column fan-out, partially
  aggregated map-side) — the same single-scan shape as the classic
  unpivot-then-group profile but with TYPED min/max (string-cast AFTER
  the typed extrema, so numeric ordering is numeric, not lexicographic).
- ``funnel``: ordered-step conversion funnel over an event log
  (reference's ingest produces exactly this event shape on SQS;
  `lambdas/*` emit per-document pipeline-stage events). Per step one
  equi-join + map-side-combined MIN aggregate, all keyed on the user —
  k-step funnel is k small shuffles on the same key, no window over the
  full log, no per-user pandas.
- ``cdc_apply``: MERGE INTO semantics for a CDC batch (upserts +
  deletes with a sequence column): last-wins-per-key reduction of the
  batch (max-struct, map-side combinable — NOT a window funnel), then
  one full-outer join against the snapshot. The batch reduction means
  snapshot rows shuffle once regardless of how many times a key churns
  within the batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def profile_table(df: DataFrame, cols: list[str]) -> DataFrame:
    """Per-column profile in ONE scan: ``(column_name, n_nonnull, ndv,
    min_value, max_value)``, one row per profiled column.

    All aggregates run in a single job (multi-distinct planned as
    Expand + partial aggregation); the 1-row result is unpivoted with
    ``stack`` — no second pass, no driver-side loop over columns.
    min/max are computed on the COLUMN'S OWN TYPE and cast to string
    only for the uniform report schema.

    CONTRACT SCOPE: min_value/max_value stringification is engine-
    native. Integer / string / date columns render identically across
    engines (hash-grade); FLOAT columns diverge once the magnitude
    leaves plain-notation range (Spark prints 1.0E10 where DuckDB
    prints 10000000000.0) — profile floats for the report, but do not
    put a float column behind the cross-engine oracle."""
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.col(c)).alias(f"{c}__n"),
            F.count_distinct(F.col(c)).alias(f"{c}__ndv"),
            F.min(F.col(c)).cast("string").alias(f"{c}__min"),
            F.max(F.col(c)).cast("string").alias(f"{c}__max"),
        ]
    one = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', `{c}__n`, `{c}__ndv`, `{c}__min`, `{c}__max`" for c in cols
    )
    return one.select(
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS "
            "(column_name, n_nonnull, ndv, min_value, max_value)"
        )
    )


def profile_table_oracle_sql(table: str, cols: list[str]) -> str:
    """DuckDB twin: one UNION ALL branch per column (the relational
    spelling of the same profile; DuckDB fuses the scans). Same float
    caveat as :func:`profile_table` — int/string/date columns only."""
    parts = [
        f"SELECT '{c}' AS column_name, COUNT({c}) AS n_nonnull, "
        f"COUNT(DISTINCT {c}) AS ndv, "
        f"CAST(MIN({c}) AS VARCHAR) AS min_value, "
        f"CAST(MAX({c}) AS VARCHAR) AS max_value FROM {table}"
        for c in cols
    ]
    return " UNION ALL ".join(parts)


def funnel(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Strictly-ordered first-occurrence funnel: a user reaches step i
    at the EARLIEST event of type ``steps[i-1]`` that is strictly
    after their step-(i-1) timestamp. Output one row per user who
    completed step 1: ``(user, ts_1..ts_k, max_step)``; ``ts_i`` is
    null once the chain breaks (and stays null after — each step joins
    on the previous step's reach set).

    Per step: filter (pushed to the scan) + equi-join on the user key +
    map-side-combined MIN — the log is never windowed globally, and
    step i's join input is only the users still in the funnel."""
    if len(steps) < 2:
        raise ValueError("a funnel needs at least 2 steps")
    reached = (
        events.filter(F.col(type_col) == steps[0])
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("ts_1"))
    )
    out = reached
    for i in range(2, len(steps) + 1):
        nxt = (
            events.filter(F.col(type_col) == steps[i - 1])
            .join(reached.select(user_col, f"ts_{i - 1}"), user_col)
            .filter(F.col(ts_col) > F.col(f"ts_{i - 1}"))
            .groupBy(user_col)
            .agg(F.min(ts_col).alias(f"ts_{i}"))
        )
        out = out.join(nxt, user_col, "left")
        reached = nxt
    max_step = F.lit(1)
    for i in range(2, len(steps) + 1):
        max_step = max_step + F.col(f"ts_{i}").isNotNull().cast("int")
    return out.select(
        F.col(user_col),
        *[F.col(f"ts_{i}") for i in range(1, len(steps) + 1)],
        max_step.cast("bigint").alias("max_step"),
    )


def funnel_oracle_sql(
    table: str,
    steps: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> str:
    """DuckDB twin of :func:`funnel`: chained per-step MIN CTEs."""
    k = len(steps)
    ctes = [
        f"s1 AS (SELECT {user_col}, MIN({ts_col}) AS ts_1 FROM {table} "
        f"WHERE {type_col} = '{steps[0]}' GROUP BY {user_col})"
    ]
    for i in range(2, k + 1):
        ctes.append(
            f"s{i} AS (SELECT e.{user_col}, MIN(e.{ts_col}) AS ts_{i} "
            f"FROM {table} e JOIN s{i - 1} ON e.{user_col} = s{i - 1}.{user_col} "
            f"WHERE e.{type_col} = '{steps[i - 1]}' "
            f"AND e.{ts_col} > s{i - 1}.ts_{i - 1} GROUP BY e.{user_col})"
        )
    joins = " ".join(
        f"LEFT JOIN s{i} ON s1.{user_col} = s{i}.{user_col}" for i in range(2, k + 1)
    )
    max_step = " + ".join(
        ["1"] + [f"CAST(ts_{i} IS NOT NULL AS INT)" for i in range(2, k + 1)]
    )
    ts_cols = ", ".join(f"ts_{i}" for i in range(1, k + 1))
    return (
        f"WITH {', '.join(ctes)} "
        f"SELECT s1.{user_col} AS {user_col}, {ts_cols}, "
        f"CAST({max_step} AS BIGINT) AS max_step FROM s1 {joins}"
    )


def cdc_apply(
    snapshot: DataFrame,
    changes: DataFrame,
    key_col: str,
    seq_col: str,
    op_col: str,
    payload_cols: list[str],
) -> DataFrame:
    """Apply a CDC batch to a snapshot — MERGE INTO semantics:
    the batch's last change per key wins (highest ``seq_col``; ties
    broken by the full ordered struct, so the reduction is
    deterministic even on seq collisions), ``op='D'`` deletes the key,
    any other op upserts the payload. Keys untouched by the batch pass
    through. Output schema: ``(key, *payload_cols)``.

    Batch reduction is ``max(struct(seq, op, payload...))`` — an
    ordinary aggregate with map-side combine, so a key that churned
    10 000 times in the batch still contributes ONE row to the join;
    then a single full-outer equi-join applies it to the snapshot.
    At lake scale this composes with the bucket-partitioned SCD store
    (streaming/pipeline.py::ParquetScdSink) for O(touched-buckets)
    rewrites; here it is the pure relational kernel."""
    ordered = F.struct(
        F.col(seq_col).alias("_seq"),
        F.col(op_col).alias("_op"),
        *[F.col(c).alias(c) for c in payload_cols],
    )
    latest = changes.groupBy(key_col).agg(F.max(ordered).alias("_c"))
    joined = snapshot.alias("s").join(
        latest.alias("c"), on=key_col, how="full_outer"
    )
    alive = joined.filter(
        F.col("c._c").isNull() | (F.col("c._c._op") != F.lit("D"))
    )
    return alive.select(
        F.col(key_col),
        *[
            F.when(F.col("c._c").isNotNull(), F.col(f"c._c.{c}"))
            .otherwise(F.col(f"s.{c}"))
            .alias(c)
            for c in payload_cols
        ],
    )


def cdc_apply_oracle_sql(
    snapshot_sql: str,
    changes_sql: str,
    key_col: str,
    seq_col: str,
    op_col: str,
    payload_cols: list[str],
) -> str:
    """DuckDB twin: row_number() last-wins (ordered by the same fields
    as the max-struct, descending) + FULL OUTER JOIN + COALESCE-style
    pick. ``snapshot_sql``/``changes_sql`` are subqueries."""
    order = ", ".join(
        [f"{seq_col} DESC", f"{op_col} DESC"]
        + [f"{c} DESC" for c in payload_cols]
    )
    pick = ", ".join(
        f"CASE WHEN c.{key_col} IS NOT NULL THEN c.{c} ELSE s.{c} END AS {c}"
        for c in payload_cols
    )
    return (
        f"WITH latest AS (SELECT * FROM (SELECT *, row_number() OVER "
        f"(PARTITION BY {key_col} ORDER BY {order}) AS _rn "
        f"FROM ({changes_sql})) WHERE _rn = 1) "
        f"SELECT COALESCE(s.{key_col}, c.{key_col}) AS {key_col}, {pick} "
        f"FROM ({snapshot_sql}) s FULL OUTER JOIN latest c "
        f"ON s.{key_col} = c.{key_col} "
        f"WHERE c.{op_col} IS NULL OR c.{op_col} <> 'D'"
    )


def retention_cohorts(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Weekly retention-cohort matrix: users bucketed by first-seen
    week (`cohort_week`), counted in every later week they were active,
    keyed by the week offset. Output ``(cohort_week, week_offset,
    n_users)``.

    Shape: one user-keyed MIN aggregate (map-side combined) for the
    cohort, one (user, week) DISTINCT, an equi-join on the user key,
    and the final small aggregate — no window over the raw log, and the
    join's right side is one row per user. Offsets ride exact epoch
    arithmetic on week-truncated timestamps (UTC session), so the
    division is exact — hash-grade cross-engine."""
    week = F.date_trunc("week", F.col(ts_col))
    cohort = (
        events.groupBy(user_col)
        .agg(F.min(week).alias("cohort_week"))
    )
    active = events.select(
        F.col(user_col), week.alias("_week")
    ).distinct()
    offset = (
        (F.unix_timestamp("_week") - F.unix_timestamp("cohort_week")) / 604800
    ).cast("bigint")
    return (
        active.join(cohort, user_col)
        .select("cohort_week", offset.alias("week_offset"))
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def retention_cohorts_oracle_sql(
    table: str, user_col: str = "user_id", ts_col: str = "ts"
) -> str:
    """DuckDB twin of :func:`retention_cohorts` (epoch() of a naive
    timestamp is UTC, matching the pinned-UTC Spark session)."""
    return f"""
    WITH cohort AS (
      SELECT {user_col}, MIN(date_trunc('week', {ts_col})) AS cohort_week
      FROM {table} GROUP BY {user_col}
    ), active AS (
      SELECT DISTINCT {user_col}, date_trunc('week', {ts_col}) AS _week
      FROM {table}
    )
    SELECT c.cohort_week,
           CAST((epoch(a._week) - epoch(c.cohort_week)) / 604800 AS BIGINT)
             AS week_offset,
           COUNT(*) AS n_users
    FROM active a JOIN cohort c ON a.{user_col} = c.{user_col}
    GROUP BY c.cohort_week, week_offset
    """


def transition_counts(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """First-order Markov transition counts over each user's event
    stream: ``(prev_type, next_type, n)``. The per-user sequence is a
    LAG window PARTITIONED BY the user key — state never exceeds one
    user's stream per task, so the window is scale-safe (unlike a
    global-order window); ``id_col`` breaks timestamp ties so the
    sequence — and therefore the counts — is deterministic."""
    from pyspark.sql import Window

    # Window scale: partition key is the user; state per task = one
    # user's event stream (bounded), never a global order.
    w = Window.partitionBy(user_col).orderBy(F.col(ts_col), F.col(id_col))
    pairs = events.select(
        F.lag(type_col).over(w).alias("prev_type"),
        F.col(type_col).alias("next_type"),
    ).filter(F.col("prev_type").isNotNull())
    return pairs.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).alias("n")
    )


def transition_counts_oracle_sql(
    table: str,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> str:
    """DuckDB twin: identical LAG window, identical tiebreak."""
    return f"""
    SELECT prev_type, next_type, COUNT(*) AS n FROM (
      SELECT lag({type_col}) OVER (PARTITION BY {user_col}
                                   ORDER BY {ts_col}, {id_col}) AS prev_type,
             {type_col} AS next_type
      FROM {table})
    WHERE prev_type IS NOT NULL
    GROUP BY prev_type, next_type
    """


def value_histogram(
    df: DataFrame, value_col: str, lo: float, hi: float, nbins: int
) -> DataFrame:
    """Fixed-width histogram: ``(bin, n)``; values outside [lo, hi)
    clamp to the edge bins (so every non-null, non-NaN value is
    counted — the dashboard convention; NaN has no orderable bin and
    is excluded). One map-side-combined aggregate, all codegen. The
    bin expression is the SAME IEEE double expression tree on the
    oracle side, so binning is bit-identical even for values landing
    on a boundary.

    The clamp happens on the DOUBLE, before any integral narrowing —
    ±infinity and magnitudes past 2^63 land in the edge bins instead
    of raising CAST_OVERFLOW under ANSI mode."""
    if nbins < 1:
        raise ValueError(f"nbins must be >= 1, got {nbins}")
    if not hi > lo:
        raise ValueError(f"need hi > lo, got lo={lo} hi={hi}")
    raw = (
        (F.col(value_col) - F.lit(float(lo)))
        * F.lit(float(nbins))
        / F.lit(float(hi) - float(lo))
    )
    bin_ = (
        F.when(raw < 0, F.lit(0).cast("bigint"))
        .when(raw >= nbins, F.lit(nbins - 1).cast("bigint"))
        .otherwise(F.floor(raw))
    )
    return (
        df.filter(
            F.col(value_col).isNotNull()
            & ~F.isnan(F.col(value_col).cast("double"))
        )
        .groupBy(bin_.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def value_histogram_oracle_sql(
    table: str, value_col: str, lo: float, hi: float, nbins: int
) -> str:
    """DuckDB twin — same arithmetic, same double-side clamp order,
    same NaN exclusion."""
    raw = f"({value_col} - {float(lo)}) * {float(nbins)} / {float(hi) - float(lo)}"
    return f"""
    SELECT CASE WHEN {raw} < 0 THEN CAST(0 AS BIGINT)
                WHEN {raw} >= {nbins} THEN CAST({nbins - 1} AS BIGINT)
                ELSE CAST(FLOOR({raw}) AS BIGINT) END AS bin,
           COUNT(*) AS n
    FROM {table}
    WHERE {value_col} IS NOT NULL AND NOT isnan(CAST({value_col} AS DOUBLE))
    GROUP BY bin
    """


def skyline(df: DataFrame, dim_cols: list[str], id_col: str) -> DataFrame:
    """Pareto frontier (skyline) MAXIMIZING every dimension: rows no
    other row dominates (>= on all dims, > on at least one). Classic
    distributed shape (Börzsönyi et al. 2001 / map-reduce skyline):

    1. per-partition LOCAL skyline (Arrow kernel: sort by dim-sum
       descending, vectorized dominance scan against the retained set)
       — a point dominated inside any partition is dominated globally,
       so this only removes losers;
    2. the union of local skylines — every GLOBAL skyline point
       survives step 1 (an undominated point is undominated in any
       subset), so the union is a superset of the answer —
       single-group final pass with the same kernel.

    The final pass is one task over the survivor set; survivor size is
    O(log^(d-1) n) expected for independent dims — document/partition
    counts keep it tiny in practice, but a pathological anti-correlated
    input degrades the last task, the known skyline bound. NULL dims
    are rejected (dominance is undefined on NULL)."""
    import pandas as pd

    d = len(dim_cols)
    out_schema = ", ".join(
        [f"{id_col} bigint"] + [f"{c} double" for c in dim_cols]
    )

    def _local(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        if len(pdf) == 0:
            return pdf
        vals = pdf[dim_cols].to_numpy(dtype=np.float64)
        order = np.argsort(-vals.sum(axis=1), kind="stable")
        vals = vals[order]
        keep_idx = []
        # preallocated retained buffer: appending via vstack would
        # recopy the whole kept set per survivor (O(s^2) on the
        # anti-correlated worst case this docstring calls out)
        kept = np.empty((len(vals), d))
        n_kept = 0
        for i in range(len(vals)):
            v = vals[i]
            if n_kept:
                kv = kept[:n_kept]
                ge = (kv >= v).all(axis=1)
                gt = (kv > v).any(axis=1)
                if (ge & gt).any():
                    continue
            keep_idx.append(i)
            kept[n_kept] = v
            n_kept += 1
        return pdf.iloc[order[keep_idx]]

    prepared = df.select(
        F.col(id_col).cast("bigint").alias(id_col),
        *[F.col(c).cast("double").alias(c) for c in dim_cols],
    ).na.drop(subset=dim_cols)
    local = prepared.mapInPandas(
        lambda it: (_local(pdf) for pdf in it), schema=out_schema
    )
    final = (
        local.withColumn("_g", F.lit(0))
        .groupBy("_g")
        .applyInPandas(
            lambda _, pdf: _local(pdf)[[id_col, *dim_cols]],
            schema=out_schema,
        )
    )
    return final


def skyline_oracle_sql(rel_sql: str, dim_cols: list[str], id_col: str) -> str:
    """DuckDB twin: textbook NOT EXISTS dominance (quadratic — the
    oracle grade, not the scale path). ``rel_sql`` is a subquery
    yielding (id, dims...)."""
    ge = " AND ".join(f"o.{c} >= s.{c}" for c in dim_cols)
    gt = " OR ".join(f"o.{c} > s.{c}" for c in dim_cols)
    dims = ", ".join(f"CAST(s.{c} AS DOUBLE) AS {c}" for c in dim_cols)
    return f"""
    SELECT s.{id_col} AS {id_col}, {dims}
    FROM ({rel_sql}) s
    WHERE NOT EXISTS (
      SELECT 1 FROM ({rel_sql}) o
      WHERE {ge} AND ({gt})
    )
    """


def standardize_by_group(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Per-group z-score standardization — the feature-normalization
    pass before clustering / quality thresholding. Output ``(group,
    id-columns passthrough…, z_micro)`` = (x − mean_g) / stddev_pop_g,
    micro-quantized HALF-UP (the repo's cross-engine rounding).

    Group moments ride ONE map-side-combined aggregate (count / DECIMAL
    sum / DECIMAL sum-of-squares — decimal makes the sums order-
    independent, so the moments are EXACT before the final float ops;
    one factor cast to decimal(22,8), the other decimal(15,8): the
    product is decimal(38,16) on Spark / decimal(37,16) on DuckDB —
    inside the 38-digit cap with NO scale truncation, and wide enough
    that DuckDB computes it in int128 rather than overflowing int64.
    PRECONDITION: |x| < 10^7, ≤ 8 meaningful fractional digits, and
    n·max(x²) < 10^22 per group so the scale-16 sum fits 38 digits —
    ANSI mode raises on violation rather than silently wrapping);
    the join back is on the group key (broadcast when groups are few).
    Every subsequent step is a single IEEE-754 op on identical inputs
    (mean = sum/n, var = sumsq/n − mean², sqrt is correctly rounded),
    so z is bit-identical cross-engine. Degenerate groups (std = 0)
    yield NULL z."""
    dec_w = F.col(value_col).cast("decimal(22,8)")
    dec_n = F.col(value_col).cast("decimal(15,8)")
    stats = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(dec_n).alias("_s"),
        F.sum(dec_w * dec_n).alias("_ss"),
    )
    joined = df.join(stats, group_col)
    mean = F.col("_s").cast("double") / F.col("_n")
    var = F.col("_ss").cast("double") / F.col("_n") - mean * mean
    std = F.sqrt(var)
    z = (F.col(value_col) - mean) / std
    return joined.select(
        *df.columns,
        F.when(std > 0, F.round(z * 1_000_000).cast("bigint"))
        .otherwise(F.lit(None).cast("bigint"))
        .alias("z_micro"),
    )


def standardize_by_group_oracle_sql(
    table: str, group_col: str, value_col: str, passthrough: list[str]
) -> str:
    """DuckDB twin — identical DECIMAL moments (same decimal(15,8)
    inputs, scale-16 products) and IEEE op order."""
    cols = ", ".join(f"d.{c}" for c in passthrough)
    return f"""
    WITH stats AS (
      SELECT {group_col}, COUNT(*) AS _n,
             SUM(CAST({value_col} AS DECIMAL(15,8))) AS _s,
             SUM(CAST({value_col} AS DECIMAL(22,8))
                 * CAST({value_col} AS DECIMAL(15,8))) AS _ss
      FROM {table} GROUP BY {group_col}
    )
    SELECT {cols},
           CASE WHEN sqrt(CAST(_ss AS DOUBLE) / _n
                          - (CAST(_s AS DOUBLE) / _n) * (CAST(_s AS DOUBLE) / _n)) > 0
                THEN CAST(round(({value_col} - CAST(_s AS DOUBLE) / _n)
                          / sqrt(CAST(_ss AS DOUBLE) / _n
                                 - (CAST(_s AS DOUBLE) / _n) * (CAST(_s AS DOUBLE) / _n))
                          * 1000000) AS BIGINT)
                ELSE NULL END AS z_micro
    FROM {table} d JOIN stats USING ({group_col})
    """


def corr_matrix(df: DataFrame, cols: list[str]) -> DataFrame:
    """Pairwise Pearson correlation over numeric columns in ONE
    aggregate pass: count + per-column DECIMAL sums/sum-squares +
    per-pair DECIMAL cross-sums — all map-side combinable and EXACT
    (order-independent; the left factor of every product is cast to
    decimal(22,8) and the right decimal(15,8), so products are
    decimal(38,16)/decimal(37,16) — no scale truncation, int128
    arithmetic on both engines — PRECONDITION |x| < 10^7, ≤ 8
    meaningful fractional digits, n·max(|x·y|) < 10^22), with the
    float formula applied once at the end. Output one row per unordered pair ``(col_x, col_y,
    corr_micro)`` (micro-quantized HALF-UP; NULL when a variance is
    zero). d columns → d(d−1)/2 pairs from a single scan — the
    feature-audit matrix without d² jobs."""
    dec = lambda c: F.col(c).cast("decimal(15,8)")
    dec_w = lambda c: F.col(c).cast("decimal(22,8)")
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        aggs.append(F.sum(dec(c)).alias(f"_s_{c}"))
        aggs.append(F.sum(dec_w(c) * dec(c)).alias(f"_ss_{c}"))
    pairs = [
        (cols[i], cols[j]) for i in range(len(cols)) for j in range(i + 1, len(cols))
    ]
    for x, y in pairs:
        aggs.append(F.sum(dec_w(x) * dec(y)).alias(f"_sxy_{x}_{y}"))
    one = df.agg(*aggs)

    def corr_expr(x, y):
        n = F.col("_n")
        sx = F.col(f"_s_{x}").cast("double")
        sy = F.col(f"_s_{y}").cast("double")
        ssx = F.col(f"_ss_{x}").cast("double")
        ssy = F.col(f"_ss_{y}").cast("double")
        sxy = F.col(f"_sxy_{x}_{y}").cast("double")
        cov = sxy / n - (sx / n) * (sy / n)
        vx = ssx / n - (sx / n) * (sx / n)
        vy = ssy / n - (sy / n) * (sy / n)
        denom = F.sqrt(vx) * F.sqrt(vy)
        return F.when(
            denom > 0, F.round(cov / denom * 1_000_000).cast("bigint")
        ).otherwise(F.lit(None).cast("bigint"))

    stacked = ", ".join(
        f"'{x}', '{y}', `_c_{x}_{y}`" for x, y in pairs
    )
    with_corrs = one.select(
        *[corr_expr(x, y).alias(f"_c_{x}_{y}") for x, y in pairs]
    )
    return with_corrs.select(
        F.expr(
            f"stack({len(pairs)}, {stacked}) AS (col_x, col_y, corr_micro)"
        )
    )


def corr_matrix_oracle_sql(table: str, cols: list[str]) -> str:
    """DuckDB twin — same decimal(15,8) inputs / scale-16 products,
    same float op order, one UNION ALL branch per pair."""
    parts = []
    for i in range(len(cols)):
        for j in range(i + 1, len(cols)):
            x, y = cols[i], cols[j]
            n = "CAST(COUNT(*) AS BIGINT)"
            sx = f"CAST(SUM(CAST({x} AS DECIMAL(15,8))) AS DOUBLE)"
            sy = f"CAST(SUM(CAST({y} AS DECIMAL(15,8))) AS DOUBLE)"
            ssx = f"CAST(SUM(CAST({x} AS DECIMAL(22,8)) * CAST({x} AS DECIMAL(15,8))) AS DOUBLE)"
            ssy = f"CAST(SUM(CAST({y} AS DECIMAL(22,8)) * CAST({y} AS DECIMAL(15,8))) AS DOUBLE)"
            sxy = f"CAST(SUM(CAST({x} AS DECIMAL(22,8)) * CAST({y} AS DECIMAL(15,8))) AS DOUBLE)"
            cov = f"({sxy} / {n} - ({sx} / {n}) * ({sy} / {n}))"
            vx = f"({ssx} / {n} - ({sx} / {n}) * ({sx} / {n}))"
            vy = f"({ssy} / {n} - ({sy} / {n}) * ({sy} / {n}))"
            denom = f"(sqrt({vx}) * sqrt({vy}))"
            parts.append(
                f"SELECT '{x}' AS col_x, '{y}' AS col_y, "
                f"CASE WHEN {denom} > 0 THEN CAST(round({cov} / {denom} * 1000000)"
                f" AS BIGINT) ELSE NULL END AS corr_micro FROM {table}"
            )
    return " UNION ALL ".join(parts)


def chi_square_contingency(
    df: DataFrame, col_a: str, col_b: str
) -> DataFrame:
    """Chi-square independence scan between two categorical columns —
    the data-audit question "does slice A predict slice B?" (source vs
    language drift, label leakage checks). Returns the contingency
    cells with expected counts and per-cell chi² terms: ``(a, b,
    observed, expected_micro, chi2_term_micro)`` — the statistic is
    the (bounded, |A|·|B|-row) sum of the last column; degrees of
    freedom (|A|−1)(|B|−1) are derivable from the same result.

    One observed aggregate + two marginal aggregates; the cell grid is
    the CROSS PRODUCT of the marginals (|A|·|B| rows — bounded by
    category cardinality, so the cross join is the cheap side) left-
    joined to the observed cells: ZERO cells are real chi² terms
    ((0−E)²/E) and must not vanish just because no row landed there.
    expected = row_total·col_total/N computed as ONE exact integer
    product divided once (bit-identical cross-engine), micro-rounded
    HALF-UP."""
    obs = df.groupBy(
        F.col(col_a).alias("a"), F.col(col_b).alias("b")
    ).agg(F.count(F.lit(1)).alias("observed"))
    row_m = df.groupBy(F.col(col_a).alias("a")).agg(
        F.count(F.lit(1)).alias("_ra")
    )
    col_m = df.groupBy(F.col(col_b).alias("b")).agg(
        F.count(F.lit(1)).alias("_cb")
    )
    n = df.count()  # scalar sizing count — one job, the centroid class
    grid = row_m.crossJoin(F.broadcast(col_m))
    joined = grid.join(obs, ["a", "b"], "left").withColumn(
        "observed", F.coalesce(F.col("observed"), F.lit(0))
    )
    # exact int64 product (counts ≤ ~3e9 per side stay in range), one
    # division, then micro rounding
    expected = (F.col("_ra") * F.col("_cb")).cast("double") / F.lit(float(n))
    chi_term = (F.col("observed") - expected) * (F.col("observed") - expected) / expected
    return joined.select(
        "a",
        "b",
        "observed",
        F.round(expected * 1_000_000).cast("bigint").alias("expected_micro"),
        F.round(chi_term * 1_000_000).cast("bigint").alias("chi2_term_micro"),
    )


def chi_square_contingency_oracle_sql(
    table: str, col_a: str, col_b: str
) -> str:
    """DuckDB twin — same marginal joins, same single-division float
    order."""
    return f"""
    WITH obs AS (
      SELECT {col_a} AS a, {col_b} AS b, COUNT(*) AS observed
      FROM {table} GROUP BY 1, 2
    ), row_m AS (
      SELECT {col_a} AS a, COUNT(*) AS _ra FROM {table} GROUP BY 1
    ), col_m AS (
      SELECT {col_b} AS b, COUNT(*) AS _cb FROM {table} GROUP BY 1
    ), n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS _n FROM {table}),
    grid AS (
      SELECT r.a, c.b, r._ra, c._cb FROM row_m r CROSS JOIN col_m c
    ), cells AS (
      SELECT g.a, g.b, g._ra, g._cb, COALESCE(o.observed, 0) AS observed
      FROM grid g LEFT JOIN obs o ON g.a = o.a AND g.b = o.b
    )
    SELECT o.a, o.b, o.observed,
           CAST(round(CAST(r._ra * c._cb AS DOUBLE) / n._n * 1000000) AS BIGINT)
             AS expected_micro,
           CAST(round((o.observed - CAST(r._ra * c._cb AS DOUBLE) / n._n)
                      * (o.observed - CAST(r._ra * c._cb AS DOUBLE) / n._n)
                      / (CAST(r._ra * c._cb AS DOUBLE) / n._n)
                      * 1000000) AS BIGINT) AS chi2_term_micro
    FROM cells o JOIN row_m r ON o.a = r.a JOIN col_m c ON o.b = c.b
    CROSS JOIN n
    """


def linreg_by_group(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
    integer_inputs: bool = False,
) -> DataFrame:
    """Per-group simple linear regression (OLS slope/intercept) — the
    trend-per-slice question (is doc length drifting per source? value
    per user over time?). Output ``(group, n, slope_micro,
    intercept_micro, r2_micro)``.

    Same exactness recipe as :func:`corr_matrix`: one map-side-combined
    aggregate of DECIMAL moments (sums, sum-squares, cross-sum; left
    factor decimal(22,8) × right decimal(15,8) → scale-16 products, no
    truncation on either engine), then the float formulas applied once:
    slope = cov/varX, intercept = meanY − slope·meanX, r² =
    cov²/(varX·varY). Groups with zero x-variance yield NULLs.
    Same preconditions as corr_matrix (|x| < 10^7, ≤ 8 fractional
    digits, scale-16 sums within 38 digits).

    ``integer_inputs=True`` switches to scale-0 decimals
    (decimal(19,0) × decimal(18,0) → exact (38,0) products): for
    integer-valued columns this raises the magnitude precondition to
    |x| < 10^18 with n·x·y < 10^38 — snowflake-scale ids as the
    regressor overflow the fractional mode's decimal(15,8) (caught by
    the perturbed-oracle sweep's 10^12-range planted ids)."""
    if integer_inputs:
        dn = lambda c: F.col(c).cast("decimal(18,0)")
        dw = lambda c: F.col(c).cast("decimal(19,0)")
    else:
        dn = lambda c: F.col(c).cast("decimal(15,8)")
        dw = lambda c: F.col(c).cast("decimal(22,8)")
    agg = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dn(x_col)).alias("_sx"),
        F.sum(dn(y_col)).alias("_sy"),
        F.sum(dw(x_col) * dn(x_col)).alias("_sxx"),
        F.sum(dw(y_col) * dn(y_col)).alias("_syy"),
        F.sum(dw(x_col) * dn(y_col)).alias("_sxy"),
    )
    n = F.col("n")
    mx = F.col("_sx").cast("double") / n
    my = F.col("_sy").cast("double") / n
    cov = F.col("_sxy").cast("double") / n - mx * my
    vx = F.col("_sxx").cast("double") / n - mx * mx
    vy = F.col("_syy").cast("double") / n - my * my
    slope = cov / vx
    micro = lambda e: F.round(e * 1_000_000).cast("bigint")
    return agg.select(
        F.col(group_col),
        n,
        F.when(vx > 0, micro(slope)).alias("slope_micro"),
        F.when(vx > 0, micro(my - slope * mx)).alias("intercept_micro"),
        F.when((vx > 0) & (vy > 0), micro(cov * cov / (vx * vy))).alias(
            "r2_micro"
        ),
    )


def linreg_by_group_oracle_sql(
    table: str,
    group_col: str,
    x_col: str,
    y_col: str,
    integer_inputs: bool = False,
) -> str:
    """DuckDB twin — same decimal moments, same float op order (NOT
    the builtin regr_slope, whose accumulation order is engine-
    private). ``integer_inputs`` mirrors :func:`linreg_by_group`."""
    dn, dw = (
        ("DECIMAL(18,0)", "DECIMAL(19,0)")
        if integer_inputs
        else ("DECIMAL(15,8)", "DECIMAL(22,8)")
    )
    n = "CAST(COUNT(*) AS BIGINT)"
    sx = f"CAST(SUM(CAST({x_col} AS {dn})) AS DOUBLE)"
    sy = f"CAST(SUM(CAST({y_col} AS {dn})) AS DOUBLE)"
    sxx = f"CAST(SUM(CAST({x_col} AS {dw}) * CAST({x_col} AS {dn})) AS DOUBLE)"
    syy = f"CAST(SUM(CAST({y_col} AS {dw}) * CAST({y_col} AS {dn})) AS DOUBLE)"
    sxy = f"CAST(SUM(CAST({x_col} AS {dw}) * CAST({y_col} AS {dn})) AS DOUBLE)"
    mx = f"({sx} / {n})"
    my = f"({sy} / {n})"
    cov = f"({sxy} / {n} - {mx} * {my})"
    vx = f"({sxx} / {n} - {mx} * {mx})"
    vy = f"({syy} / {n} - {my} * {my})"
    slope = f"({cov} / {vx})"
    return f"""
    SELECT {group_col}, {n} AS n,
           CASE WHEN {vx} > 0
                THEN CAST(round({slope} * 1000000) AS BIGINT) END AS slope_micro,
           CASE WHEN {vx} > 0
                THEN CAST(round(({my} - {slope} * {mx}) * 1000000) AS BIGINT)
                END AS intercept_micro,
           CASE WHEN {vx} > 0 AND {vy} > 0
                THEN CAST(round({cov} * {cov} / ({vx} * {vy}) * 1000000)
                          AS BIGINT) END AS r2_micro
    FROM {table} GROUP BY {group_col}
    """


def dq_report(
    df: DataFrame,
    not_null: list[str] | None = None,
    unique: list[str] | None = None,
    ranges: dict[str, tuple[float, float]] | None = None,
    fk: tuple[DataFrame, str, str] | None = None,
) -> DataFrame:
    """Data-quality constraint report (the Deequ/Great-Expectations
    verification pattern as ONE plan): ``(check_name, n_violations)`` rows for

    - ``not_null``: NULL count per named column;
    - ``unique``: rows minus distinct count per named column;
    - ``ranges``: count outside [lo, hi] per column (NULLs are counted
      by their not_null check, not double-counted here);
    - ``fk``: (dim_df, local_col, dim_col) — child keys with no parent
      (left-anti count; the dim side broadcasts when small).

    Everything except the FK check computes in a SINGLE map-side-
    combined aggregate over one scan — at 100 TB the report costs one
    pass regardless of how many constraints it verifies — then pivots
    to long form with ``stack`` (codegen, no shuffle beyond the 1-row
    aggregate). A green report is all-zeros; alert on any row > 0."""
    not_null = not_null or []
    unique = unique or []
    ranges = ranges or {}
    aggs = []
    labels = []
    for c in not_null:
        aggs.append(
            F.count(F.when(F.col(c).isNull(), 1)).alias(f"nn_{c}")
        )
        labels.append((f"not_null({c})", f"nn_{c}"))
    for c in unique:
        aggs.append(
            (F.count(F.col(c)) - F.count_distinct(F.col(c))).alias(f"uq_{c}")
        )
        labels.append((f"unique({c})", f"uq_{c}"))
    for c, (lo, hi) in ranges.items():
        aggs.append(
            F.count(
                F.when((F.col(c) < F.lit(lo)) | (F.col(c) > F.lit(hi)), 1)
            ).alias(f"rg_{c}")
        )
        labels.append((f"range({c})", f"rg_{c}"))
    if not aggs and fk is None:
        raise ValueError("no checks requested")
    parts = []
    if aggs:
        one = df.agg(*aggs)
        stack_args = ", ".join(
            f"'{label}', cast({col} as bigint)" for label, col in labels
        )
        parts.append(
            one.select(
                F.expr(
                    f"stack({len(labels)}, {stack_args}) as (check_name, n_violations)"
                )
            )
        )
    if fk is not None:
        dim, local_col, dim_col = fk
        orphans = df.select(F.col(local_col)).where(
            F.col(local_col).isNotNull()
        ).join(
            dim.select(F.col(dim_col).alias(local_col)), local_col, "left_anti"
        )
        parts.append(
            orphans.agg(
                F.lit(f"fk({local_col})").alias("check_name"),
                F.count(F.lit(1)).alias("n_violations"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _group_rank_n(
    rows: DataFrame,
    col: str,
    method: str,
    n_parts: int,
    label: str,
) -> DataFrame:
    """(grp, ..., rn, n) — per-group rank under (col, id) and group
    size, the shared input of the discrete-quantile family. ``method=
    "window"`` is the classic two windows over one group shuffle (a
    dominant group = one window task); ``"two_pass"`` routes through
    :func:`~beis_orp_data_service_spark.operators.ranks.
    grouped_exact_ranks` (identical output, bounded task state)."""
    if method == "two_pass":
        from beis_orp_data_service_spark.operators.ranks import (
            grouped_exact_ranks,
        )

        return grouped_exact_ranks(
            rows,
            ["grp"],
            [F.col(col), F.col("id")],
            rank_col="rn",
            total_col="n",
            n_parts=n_parts,
            label=label,
        )
    from pyspark.sql import Window

    w = Window.partitionBy("grp").orderBy(F.col(col), F.col("id"))
    wn = Window.partitionBy("grp")
    return rows.select(
        "*",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )


def mad_outliers(
    df: DataFrame,
    group_col: str,
    value_col,
    id_col: str,
    n_mads: int = 3,
    method: str = "two_pass",
    n_parts: int = 32,
) -> DataFrame:
    """Robust per-group outlier detection: |x − median| > n·MAD
    (median absolute deviation — the robust-statistics replacement for
    the z-score's mean/stddev, which outliers themselves corrupt;
    Hampel's rule). Medians are EXACT DISCRETE (value at rank
    ceil(n/2) under a total order — the :func:`group_quantiles` rank
    convention), and with integer inputs the cut ``dev > n·mad`` is
    exact integer arithmetic, so the flagged set hash-matches any
    engine.

    Shape (``method="window"``, opt-in for bounded-group inputs): one
    shuffle on the group key; the two median passes are windows over
    that same partitioning (Catalyst reuses the exchange, the second
    pass adds only an in-partition sort), and each per-group median
    table joins back broadcast — a dominant group rides one window
    task. ``method="two_pass"`` (default) swaps the (rn, n) windows
    for
    :func:`~beis_orp_data_service_spark.operators.ranks.
    grouped_exact_ranks` (identical output, bounded task state), so
    the exact form survives one group holding half the data.

    Output: outlier rows (group, id, value, med, mad, dev)."""
    if n_mads < 1:
        raise ValueError(f"n_mads must be >= 1, got {n_mads}")
    if method not in ("window", "two_pass"):
        raise ValueError(f"mad_outliers: unknown method {method!r}")
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    base = df.select(
        F.col(group_col).alias("grp"),
        F.col(id_col).alias("id"),
        v.cast("bigint").alias("value"),
    )

    def _median(rows: DataFrame, col: str) -> DataFrame:
        return (
            _group_rank_n(rows, col, method, n_parts, f"mad:{col}")
            .groupBy("grp")
            .agg(
                F.max(
                    F.when(
                        F.col("rn") == F.expr("(n * 50 + 99) div 100"),
                        F.col(col),
                    )
                ).alias(f"_med_{col}")
            )
        )

    med = _median(base, "value").withColumnRenamed("_med_value", "med")
    devs = base.join(F.broadcast(med), "grp").withColumn(
        "dev", F.abs(F.col("value") - F.col("med"))
    )
    mad = _median(
        devs.select("grp", "id", "dev"), "dev"
    ).withColumnRenamed("_med_dev", "mad")
    return (
        devs.join(F.broadcast(mad), "grp")
        .filter(F.col("dev") > n_mads * F.col("mad"))
        .select("grp", "id", "value", "med", "mad", "dev")
    )


def mad_outliers_oracle_sql(
    table: str,
    group_col: str,
    value_expr: str,
    id_col: str,
    n_mads: int = 3,
) -> str:
    """DuckDB twin of :func:`mad_outliers` — same discrete-rank
    medians, same integer cut."""
    return f"""
    WITH base AS (
      SELECT {group_col} AS grp, {id_col} AS id,
             CAST({value_expr} AS BIGINT) AS value
      FROM {table}
    ), r1 AS (
      SELECT *, row_number() OVER (PARTITION BY grp ORDER BY value, id) AS rn,
             COUNT(*) OVER (PARTITION BY grp) AS n
      FROM base
    ), med AS (
      SELECT grp, MAX(CASE WHEN rn = (n * 50 + 99) // 100 THEN value END) AS med
      FROM r1 GROUP BY grp
    ), devs AS (
      SELECT b.grp, b.id, b.value, m.med, ABS(b.value - m.med) AS dev
      FROM base b JOIN med m USING (grp)
    ), r2 AS (
      SELECT *, row_number() OVER (PARTITION BY grp ORDER BY dev, id) AS rn,
             COUNT(*) OVER (PARTITION BY grp) AS n
      FROM devs
    ), mad AS (
      SELECT grp, MAX(CASE WHEN rn = (n * 50 + 99) // 100 THEN dev END) AS mad
      FROM r2 GROUP BY grp
    )
    SELECT d.grp, d.id, d.value, d.med, a.mad, d.dev
    FROM devs d JOIN mad a USING (grp)
    WHERE d.dev > {n_mads} * a.mad
    """


def winsorize(
    df: DataFrame,
    group_col: str,
    value_col,
    id_col: str,
    lo_pct: int = 5,
    hi_pct: int = 95,
    method: str = "two_pass",
    n_parts: int = 32,
) -> DataFrame:
    """Per-group winsorization: clamp values to the exact discrete
    [p_lo, p_hi] band (outlier-robust feature prep — the clip step
    before scaling/aggregating heavy-tailed metrics). Bounds use the
    :func:`group_quantiles` rank convention (value at rank
    ceil(q·n/100) under a total order), so with integer inputs every
    engine clamps to the identical bounds — hash-grade, where
    interpolating percentiles are not.

    One shuffle on the group key (window rank, opt-in for bounded-
    group inputs), bounds join back broadcast; ``method="two_pass"``
    (default) swaps the rank windows for
    :func:`~beis_orp_data_service_spark.operators.ranks.
    grouped_exact_ranks` (identical bounds, bounded task state under a
    dominant group). Output: (grp, id, value, lo, hi, clipped)."""
    if not (0 < lo_pct < hi_pct <= 100):
        raise ValueError(
            f"need 0 < lo_pct < hi_pct <= 100, got {lo_pct}, {hi_pct}"
        )
    if method not in ("window", "two_pass"):
        raise ValueError(f"winsorize: unknown method {method!r}")
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    base = df.select(
        F.col(group_col).alias("grp"),
        F.col(id_col).alias("id"),
        v.cast("bigint").alias("value"),
    )
    ranked = _group_rank_n(base, "value", method, n_parts, "winsorize")
    bounds = ranked.groupBy("grp").agg(
        F.max(
            F.when(F.col("rn") == F.expr(f"(n * {lo_pct} + 99) div 100"), F.col("value"))
        ).alias("lo"),
        F.max(
            F.when(F.col("rn") == F.expr(f"(n * {hi_pct} + 99) div 100"), F.col("value"))
        ).alias("hi"),
    )
    return base.join(F.broadcast(bounds), "grp").select(
        "grp",
        "id",
        "value",
        "lo",
        "hi",
        F.greatest(F.col("lo"), F.least(F.col("hi"), F.col("value"))).alias("clipped"),
    )


def winsorize_oracle_sql(
    table: str,
    group_col: str,
    value_expr: str,
    id_col: str,
    lo_pct: int = 5,
    hi_pct: int = 95,
) -> str:
    """DuckDB twin — same discrete-rank bounds, same clamp."""
    return f"""
    WITH base AS (
      SELECT {group_col} AS grp, {id_col} AS id,
             CAST({value_expr} AS BIGINT) AS value
      FROM {table}
    ), r AS (
      SELECT grp, value,
             row_number() OVER (PARTITION BY grp ORDER BY value, id) AS rn,
             COUNT(*) OVER (PARTITION BY grp) AS n
      FROM base
    ), bounds AS (
      SELECT grp,
             MAX(CASE WHEN rn = (n * {lo_pct} + 99) // 100 THEN value END) AS lo,
             MAX(CASE WHEN rn = (n * {hi_pct} + 99) // 100 THEN value END) AS hi
      FROM r GROUP BY grp
    )
    SELECT b.grp, b.id, b.value, d.lo, d.hi,
           GREATEST(d.lo, LEAST(d.hi, b.value)) AS clipped
    FROM base b JOIN bounds d USING (grp)
    """


# Poisson(1) inverse-CDF thresholds on a 10^6 grid (k = number of
# thresholds the uniform draw clears). Shared verbatim with the oracle.
_POISSON1_THRESHOLDS = (
    367879, 735759, 919699, 981012, 996340, 999406, 999917, 999990
)


def bootstrap_means(
    df: DataFrame,
    value_col,
    id_col: str,
    n_replicates: int = 32,
) -> DataFrame:
    """Poisson bootstrap (Chamandy et al. 2012, "Estimating uncertainty
    for massive data streams" — Google's large-scale bootstrap): each
    row enters replicate r with weight ~ Poisson(1), approximating the
    multinomial resample without coordination, so the whole bootstrap
    is ONE scan + one aggregate whatever the data size. Weights are
    DETERMINISTIC — an md5-derived uniform per (replicate, row) pushed
    through the Poisson(1) inverse CDF on a 10^6 grid — so replicates
    are replayable, partitioning-invariant, and hash-checkable
    cross-engine (an RNG bootstrap is none of those).

    Values quantize to micro-ints before the weighted sum (order-free
    integer addition); each replicate's mean is ONE IEEE division,
    micro-rounded. Output (replicate, n_eff, mean_micro) — feed the
    replicate spread into any CI rule driver-side (B rows)."""
    if n_replicates < 1:
        raise ValueError(f"n_replicates must be >= 1, got {n_replicates}")
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    from beis_orp_data_service_spark.operators.corpus import md5_int60

    base = df.select(
        F.col(id_col).alias("id"),
        F.round(v.cast("double") * 1_000_000).cast("bigint").alias("q"),
    )
    rep = base.select(
        "id", "q", F.explode(F.sequence(F.lit(1), F.lit(n_replicates))).alias("r")
    )
    u = md5_int60(
        F.concat(F.col("r").cast("string"), F.lit(":"), F.col("id").cast("string"))
    ) % 1_000_000
    w = sum(
        (u >= F.lit(t)).cast("bigint") for t in _POISSON1_THRESHOLDS
    )
    return (
        rep.select("r", "q", w.alias("w"))
        .groupBy("r")
        .agg(
            F.sum("w").cast("bigint").alias("n_eff"),
            F.round(
                F.sum(F.col("w") * F.col("q")).cast("double") / F.sum("w")
            )
            .cast("bigint")
            .alias("mean_micro"),
        )
        .select(F.col("r").cast("bigint").alias("replicate"), "n_eff", "mean_micro")
    )


def bootstrap_means_oracle_sql(
    table: str,
    value_expr: str,
    id_col: str,
    n_replicates: int = 32,
) -> str:
    """DuckDB twin — same md5 uniform, same inverse-CDF thresholds,
    same quantize-then-sum arithmetic."""
    from beis_orp_data_service_spark.operators.corpus import DUCK_MD5_HEXFOLD

    th = " + ".join(
        f"CASE WHEN u >= {t} THEN 1 ELSE 0 END" for t in _POISSON1_THRESHOLDS
    )
    return f"""
    WITH base AS (
      SELECT {id_col} AS id,
             CAST(round(CAST({value_expr} AS DOUBLE) * 1000000) AS BIGINT) AS q
      FROM {table}
    ), rep AS (
      SELECT id, q, unnest(range(1, {n_replicates} + 1)) AS r FROM base
    ), keyed AS (
      SELECT r, q, {DUCK_MD5_HEXFOLD} % 1000000 AS u
      FROM (SELECT r, q,
                   substr(md5(CAST(r AS VARCHAR) || ':' || CAST(id AS VARCHAR)),
                          1, 15) AS h
            FROM rep)
    ), weighted AS (
      SELECT r, q, ({th}) AS w FROM keyed
    )
    SELECT CAST(r AS BIGINT) AS replicate,
           CAST(SUM(w) AS BIGINT) AS n_eff,
           CAST(round(CAST(SUM(w * q) AS DOUBLE) / SUM(w)) AS BIGINT)
             AS mean_micro
    FROM weighted GROUP BY r
    """


def ks_statistic(
    df: DataFrame,
    group_col: str,
    value_col,
    id_col: str,
    group_a: str,
    group_b: str,
    method: str = "two_pass",
) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic — the standard
    distribution-drift test (train/serve skew, A/B sanity) at corpus
    scale. D = max_x |ECDF_a(x) − ECDF_b(x)| evaluated EXACTLY in
    integer arithmetic: at each distinct value, the running counts
    give |cum_a·n_b − cum_b·n_a| and D = max of that over n_a·n_b —
    no float ECDFs, so the result hash-matches any engine.

    Shape: filter to the two groups, count per (group, value) — the
    only corpus-scale shuffle, map-side combined — then the running
    sums over the DISTINCT-value grid. ``method="window"``
    is ONE ordered unpartitioned window (bounded by value cardinality,
    not rows; same caveat class as group_quantiles for pathological
    all-distinct columns — opt in when the value grid is known
    bounded); ``method="two_pass"`` (default) routes the cumulative
    through :func:`~beis_orp_data_service_spark.operators.ranks.
    grouped_prefix_sums` with ``group_cols=[]`` (range-partition +
    in-plan per-partition offsets + per-partition running sum, no
    driver pull) — identical output, no single-task window, for
    all-distinct value grids at corpus scale. Output one row:
    (n_a, n_b, d_num, d_den, d_milli) with d_num/d_den the exact
    rational and d_milli = 1000·d_num DIV d_den."""
    from pyspark.sql import Window

    if group_a == group_b:
        raise ValueError("group_a and group_b must differ")
    if method not in ("window", "two_pass"):
        raise ValueError(f"ks_statistic: unknown method {method!r}")
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    base = df.select(
        F.col(group_col).alias("grp"), v.cast("bigint").alias("value")
    ).where(F.col("grp").isin([group_a, group_b]))
    per_val = base.groupBy("value").agg(
        F.sum(F.when(F.col("grp") == group_a, 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("grp") == group_b, 1).otherwise(0)).alias("cb"),
    )
    if method == "two_pass":
        from beis_orp_data_service_spark.operators.ranks import (
            grouped_prefix_sums,
        )

        cum = grouped_prefix_sums(
            per_val, [], [F.col("value")], ["ca", "cb"], label="ks"
        ).select(
            F.col("ca_cum").alias("cum_a"), F.col("cb_cum").alias("cum_b")
        )
    else:
        w = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, 0)
        cum = per_val.select(
            F.sum("ca").over(w).alias("cum_a"),
            F.sum("cb").over(w).alias("cum_b"),
        )
    totals = base.groupBy().agg(
        F.sum(F.when(F.col("grp") == group_a, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("grp") == group_b, 1).otherwise(0)).alias("n_b"),
    )
    return (
        cum.crossJoin(F.broadcast(totals))
        .groupBy("n_a", "n_b")
        .agg(
            F.max(
                F.abs(F.col("cum_a") * F.col("n_b") - F.col("cum_b") * F.col("n_a"))
            ).alias("d_num")
        )
        .select(
            F.col("n_a").cast("bigint"),
            F.col("n_b").cast("bigint"),
            F.col("d_num").cast("bigint"),
            (F.col("n_a") * F.col("n_b")).cast("bigint").alias("d_den"),
            F.expr("1000 * d_num DIV (n_a * n_b)").alias("d_milli"),
        )
    )


def ks_statistic_oracle_sql(
    table: str,
    group_col: str,
    value_expr: str,
    id_col: str,
    group_a: str,
    group_b: str,
) -> str:
    """DuckDB twin — same per-value counts, running sums, and exact
    rational maximum."""
    return f"""
    WITH base AS (
      SELECT {group_col} AS grp, CAST({value_expr} AS BIGINT) AS value
      FROM {table}
      WHERE {group_col} IN ('{group_a}', '{group_b}')
    ), per_val AS (
      SELECT value,
             SUM(CASE WHEN grp = '{group_a}' THEN 1 ELSE 0 END) AS ca,
             SUM(CASE WHEN grp = '{group_b}' THEN 1 ELSE 0 END) AS cb
      FROM base GROUP BY value
    ), cum AS (
      SELECT SUM(ca) OVER (ORDER BY value
                           ROWS UNBOUNDED PRECEDING) AS cum_a,
             SUM(cb) OVER (ORDER BY value
                           ROWS UNBOUNDED PRECEDING) AS cum_b
      FROM per_val
    ), totals AS (
      SELECT SUM(CASE WHEN grp = '{group_a}' THEN 1 ELSE 0 END) AS n_a,
             SUM(CASE WHEN grp = '{group_b}' THEN 1 ELSE 0 END) AS n_b
      FROM base
    )
    SELECT CAST(t.n_a AS BIGINT) AS n_a, CAST(t.n_b AS BIGINT) AS n_b,
           CAST(MAX(ABS(c.cum_a * t.n_b - c.cum_b * t.n_a)) AS BIGINT) AS d_num,
           CAST(t.n_a * t.n_b AS BIGINT) AS d_den,
           CAST(1000 * MAX(ABS(c.cum_a * t.n_b - c.cum_b * t.n_a))
                // (t.n_a * t.n_b) AS BIGINT) AS d_milli
    FROM cum c CROSS JOIN totals t
    GROUP BY t.n_a, t.n_b
    """


def mannwhitney_u(
    df: DataFrame,
    group_col: str,
    value_col,
    id_col: str,
    group_a: str,
    group_b: str,
    method: str = "two_pass",
) -> DataFrame:
    """Exact Mann–Whitney U (Wilcoxon rank-sum) — the nonparametric
    A/B location test, tie-exact: with per-value counts, a tie group
    spanning ranks [s+1, s+t] has average rank (2s+t+1)/2, so DOUBLED
    ranks are integers and the whole statistic is exact int64 —
    hash-grade where float mid-ranks drift.

    Same shape as :func:`ks_statistic`: one map-side-combined count
    per distinct value, then the running rank sums over the value grid
    — ``method="window"`` (opt-in, one ordered window bounded by
    value cardinality) or ``method="two_pass"`` (the scale-safe
    :func:`~beis_orp_data_service_spark.operators.ranks.
    grouped_prefix_sums` spelling with ``group_cols=[]``, identical
    output), totals broadcast. Output one row:
    (n_a, n_b, u2x_a, u2x_b, auc_milli) where u2x_* are 2·U and
    auc_milli = 1000·U_a DIV (n_a·n_b) — the common-language effect
    size (P(a > b) + ½P(a = b))."""
    from pyspark.sql import Window

    if group_a == group_b:
        raise ValueError("group_a and group_b must differ")
    if method not in ("window", "two_pass"):
        raise ValueError(f"mannwhitney_u: unknown method {method!r}")
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    base = df.select(
        F.col(group_col).alias("grp"), v.cast("bigint").alias("value")
    ).where(F.col("grp").isin([group_a, group_b]))
    per_val = base.groupBy("value").agg(
        F.sum(F.when(F.col("grp") == group_a, 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("grp") == group_b, 1).otherwise(0)).alias("cb"),
    )
    # doubled average rank of this tie group = 2·(rows before) + t + 1
    if method == "two_pass":
        from beis_orp_data_service_spark.operators.ranks import (
            grouped_prefix_sums,
        )

        per_val = per_val.withColumn("ct", F.col("ca") + F.col("cb"))
        ranked = grouped_prefix_sums(
            per_val, [], [F.col("value")], ["ct"], label="mw"
        ).select(
            "ca",
            "cb",
            # exclusive prefix = inclusive cum − this tie group
            (2 * (F.col("ct_cum") - F.col("ct")) + F.col("ct") + 1).alias(
                "rank2x"
            ),
        )
    else:
        w = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, -1)
        ranked = per_val.select(
            "ca",
            "cb",
            (
                2
                * F.coalesce(
                    F.sum(F.col("ca") + F.col("cb")).over(w), F.lit(0)
                )
                + F.col("ca")
                + F.col("cb")
                + 1
            ).alias("rank2x"),
        )
    totals = base.groupBy().agg(
        F.sum(F.when(F.col("grp") == group_a, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("grp") == group_b, 1).otherwise(0)).alias("n_b"),
    )
    return (
        ranked.groupBy()
        .agg(F.sum(F.col("ca") * F.col("rank2x")).alias("r2x_a"))
        .crossJoin(F.broadcast(totals))
        .select(
            F.col("n_a").cast("bigint"),
            F.col("n_b").cast("bigint"),
            (F.col("r2x_a") - F.col("n_a") * (F.col("n_a") + 1))
            .cast("bigint")
            .alias("u2x_a"),
        )
        .select(
            "n_a",
            "n_b",
            "u2x_a",
            (2 * F.col("n_a") * F.col("n_b") - F.col("u2x_a"))
            .cast("bigint")
            .alias("u2x_b"),
            F.expr("1000 * u2x_a DIV (2 * n_a * n_b)").alias("auc_milli"),
        )
    )


def mannwhitney_u_oracle_sql(
    table: str,
    group_col: str,
    value_expr: str,
    id_col: str,
    group_a: str,
    group_b: str,
) -> str:
    """DuckDB twin — same doubled tie-average ranks, same exact ints."""
    return f"""
    WITH base AS (
      SELECT {group_col} AS grp, CAST({value_expr} AS BIGINT) AS value
      FROM {table}
      WHERE {group_col} IN ('{group_a}', '{group_b}')
    ), per_val AS (
      SELECT value,
             SUM(CASE WHEN grp = '{group_a}' THEN 1 ELSE 0 END) AS ca,
             SUM(CASE WHEN grp = '{group_b}' THEN 1 ELSE 0 END) AS cb
      FROM base GROUP BY value
    ), ranked AS (
      SELECT ca, cb,
             2 * COALESCE(SUM(ca + cb) OVER (ORDER BY value
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                          0)
               + ca + cb + 1 AS rank2x
      FROM per_val
    ), totals AS (
      SELECT SUM(CASE WHEN grp = '{group_a}' THEN 1 ELSE 0 END) AS n_a,
             SUM(CASE WHEN grp = '{group_b}' THEN 1 ELSE 0 END) AS n_b
      FROM base
    ), agg AS (
      SELECT SUM(ca * rank2x) AS r2x_a FROM ranked
    )
    SELECT CAST(t.n_a AS BIGINT) AS n_a, CAST(t.n_b AS BIGINT) AS n_b,
           CAST(a.r2x_a - t.n_a * (t.n_a + 1) AS BIGINT) AS u2x_a,
           CAST(2 * t.n_a * t.n_b - (a.r2x_a - t.n_a * (t.n_a + 1))
                AS BIGINT) AS u2x_b,
           CAST((a.r2x_a - t.n_a * (t.n_a + 1)) * 1000
                // (2 * t.n_a * t.n_b) AS BIGINT) AS auc_milli
    FROM agg a CROSS JOIN totals t
    """


def cuped_adjust(
    units: DataFrame,
    variant_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """CUPED variance-reduced experiment readout (Deng et al. 2013):
    adjust each unit's metric by its PRE-experiment covariate,
    ``y − θ·(x − x̄)`` with ``θ = cov(x, y)/var(x)`` fitted on ALL
    units — same expectation per variant, (1 − ρ²)× the variance, so
    the experiment needs fewer units for the same power.

    Input is a UNIT-level table (variant, x = pre metric, y =
    experiment metric). θ comes from one global aggregate of exact
    DECIMAL moments (the :func:`linreg_by_group` recipe — float
    formula applied once, hash-grade); per-variant means need only
    (n, Σx, Σy), so the adjusted mean is
    ȳ_v − θ·(x̄_v − x̄_global) — no second pass over units. Output
    (variant, n, mean_y_micro, mean_adj_micro, theta_micro,
    var_reduction_milli = 1000·ρ²)."""
    dn = lambda c: F.col(c).cast("decimal(15,8)")
    dw = lambda c: F.col(c).cast("decimal(22,8)")
    g = units.groupBy().agg(
        F.count(F.lit(1)).alias("gn"),
        F.sum(dn(x_col)).alias("_gsx"),
        F.sum(dn(y_col)).alias("_gsy"),
        F.sum(dw(x_col) * dn(x_col)).alias("_gsxx"),
        F.sum(dw(y_col) * dn(y_col)).alias("_gsyy"),
        F.sum(dw(x_col) * dn(y_col)).alias("_gsxy"),
    )
    per_v = units.groupBy(variant_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dn(x_col)).alias("_sx"),
        F.sum(dn(y_col)).alias("_sy"),
    )
    gn = F.col("gn")
    gmx = F.col("_gsx").cast("double") / gn
    gmy = F.col("_gsy").cast("double") / gn
    cov = F.col("_gsxy").cast("double") / gn - gmx * gmy
    vx = F.col("_gsxx").cast("double") / gn - gmx * gmx
    vy = F.col("_gsyy").cast("double") / gn - gmy * gmy
    theta = cov / vx
    my = F.col("_sy").cast("double") / F.col("n")
    mx = F.col("_sx").cast("double") / F.col("n")
    micro = lambda e: F.round(e * 1_000_000).cast("bigint")
    return (
        per_v.crossJoin(F.broadcast(g))
        .select(
            F.col(variant_col),
            F.col("n").cast("bigint"),
            micro(my).alias("mean_y_micro"),
            F.when(vx > 0, micro(my - theta * (mx - gmx))).alias(
                "mean_adj_micro"
            ),
            F.when(vx > 0, micro(theta)).alias("theta_micro"),
            F.when(
                (vx > 0) & (vy > 0),
                F.round(cov * cov / (vx * vy) * 1000).cast("bigint"),
            ).alias("var_reduction_milli"),
        )
    )


def cuped_adjust_oracle_sql(
    units_sql: str,
    variant_col: str,
    x_col: str,
    y_col: str,
) -> str:
    """DuckDB twin — same decimal moments, same float op order.
    ``units_sql`` must yield (variant, x, y) unit rows."""
    gn = "CAST(COUNT(*) AS BIGINT)"
    gsx = f"CAST(SUM(CAST({x_col} AS DECIMAL(15,8))) AS DOUBLE)"
    gsy = f"CAST(SUM(CAST({y_col} AS DECIMAL(15,8))) AS DOUBLE)"
    gsxx = f"CAST(SUM(CAST({x_col} AS DECIMAL(22,8)) * CAST({x_col} AS DECIMAL(15,8))) AS DOUBLE)"
    gsyy = f"CAST(SUM(CAST({y_col} AS DECIMAL(22,8)) * CAST({y_col} AS DECIMAL(15,8))) AS DOUBLE)"
    gsxy = f"CAST(SUM(CAST({x_col} AS DECIMAL(22,8)) * CAST({y_col} AS DECIMAL(15,8))) AS DOUBLE)"
    return f"""
    WITH units AS ({units_sql}),
    g AS (
      SELECT {gn} AS gn, {gsx} AS gsx, {gsy} AS gsy,
             {gsxx} AS gsxx, {gsyy} AS gsyy, {gsxy} AS gsxy
      FROM units
    ), v AS (
      SELECT {variant_col}, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST({x_col} AS DECIMAL(15,8))) AS DOUBLE) AS sx,
             CAST(SUM(CAST({y_col} AS DECIMAL(15,8))) AS DOUBLE) AS sy
      FROM units GROUP BY {variant_col}
    )
    SELECT v.{variant_col}, v.n,
           CAST(round(v.sy / v.n * 1000000) AS BIGINT) AS mean_y_micro,
           CASE WHEN (g.gsxx / g.gn - (g.gsx / g.gn) * (g.gsx / g.gn)) > 0
                THEN CAST(round((v.sy / v.n
                       - ((g.gsxy / g.gn - (g.gsx / g.gn) * (g.gsy / g.gn))
                          / (g.gsxx / g.gn - (g.gsx / g.gn) * (g.gsx / g.gn)))
                         * (v.sx / v.n - g.gsx / g.gn)) * 1000000) AS BIGINT)
                END AS mean_adj_micro,
           CASE WHEN (g.gsxx / g.gn - (g.gsx / g.gn) * (g.gsx / g.gn)) > 0
                THEN CAST(round(((g.gsxy / g.gn - (g.gsx / g.gn) * (g.gsy / g.gn))
                          / (g.gsxx / g.gn - (g.gsx / g.gn) * (g.gsx / g.gn)))
                         * 1000000) AS BIGINT) END AS theta_micro,
           CASE WHEN (g.gsxx / g.gn - (g.gsx / g.gn) * (g.gsx / g.gn)) > 0
                 AND (g.gsyy / g.gn - (g.gsy / g.gn) * (g.gsy / g.gn)) > 0
                THEN CAST(round(
                       (g.gsxy / g.gn - (g.gsx / g.gn) * (g.gsy / g.gn))
                       * (g.gsxy / g.gn - (g.gsx / g.gn) * (g.gsy / g.gn))
                       / ((g.gsxx / g.gn - (g.gsx / g.gn) * (g.gsx / g.gn))
                          * (g.gsyy / g.gn - (g.gsy / g.gn) * (g.gsy / g.gn)))
                       * 1000) AS BIGINT) END AS var_reduction_milli
    FROM v CROSS JOIN g
    """


def srm_check(
    units: DataFrame,
    variant_col: str,
    expected_pm: dict[str, int] | dict[int, int],
) -> DataFrame:
    """Sample-ratio-mismatch guardrail (the first check any experiment
    readout must pass — Fabijan et al. 2019: a traffic split that
    deviates from its design invalidates every downstream metric):
    Pearson χ² goodness-of-fit of observed variant counts against the
    DESIGNED per-mille split. One map-side-combined count per variant;
    χ² terms are one float division each from exact ints — hash-grade.
    Output (variant, n_observed, n_expected_milli, chi2_term_micro)
    plus the caller sums chi2 terms / compares d.f. driver-side.

    Every DESIGNED variant emits a row even with ZERO observed traffic
    (n_observed=0 and its full (0−E)²/E term) — a dark variant is the
    most extreme sample-ratio mismatch and must not vanish from the
    statistic. Conversely an OBSERVED variant absent
    from the design is kept with NULL expectation/term, surfacing the
    complementary bug (traffic routed to an undesigned arm)."""
    total_pm = sum(expected_pm.values())
    if total_pm != 1000:
        raise ValueError(f"expected_pm must sum to 1000, got {total_pm}")
    items = sorted(expected_pm.items(), key=lambda kv: str(kv[0]))
    spark = units.sparkSession
    designed = spark.createDataFrame(
        [(k, v) for k, v in items], [variant_col, "_pm"]
    )
    counts = units.groupBy(variant_col).agg(F.count(F.lit(1)).alias("n_observed"))
    tot = units.groupBy().agg(F.count(F.lit(1)).alias("n_total"))
    # full outer: designed-but-dark variants get n_observed=0; observed-
    # but-undesigned variants get NULL pm. Both sides are variant-count
    # sized (tiny; no broadcast hint — unsupported for full outer),
    # then the 1-row total crossJoins on.
    both = counts.join(designed, variant_col, "full_outer").select(
        variant_col,
        F.coalesce("n_observed", F.lit(0)).alias("n_observed"),
        "_pm",
    )
    e_milli = F.col("n_total") * F.col("_pm")
    # chi2 term = (O - E)^2 / E with E = n_total * pm / 1000:
    # (O*1000 - n*pm)^2 / (1000 * n * pm) — exact ints, ONE division
    num = (F.col("n_observed") * 1000 - e_milli) * (
        F.col("n_observed") * 1000 - e_milli
    )
    den = F.lit(1000) * e_milli
    return (
        both.crossJoin(F.broadcast(tot))
        .select(
            F.col(variant_col),
            F.col("n_observed").cast("bigint"),
            e_milli.cast("bigint").alias("n_expected_milli"),
            F.round(num.cast("double") / den * 1_000_000)
            .cast("bigint")
            .alias("chi2_term_micro"),
        )
    )


def srm_check_oracle_sql(
    units_sql: str,
    variant_col: str,
    expected_pm: dict,
) -> str:
    """DuckDB twin — same integer expected-milli arithmetic and single
    float division, and the same full-outer designed⟗observed join so
    zero-traffic designed variants emit their (0−E)²/E term."""
    values = ", ".join(
        f"({k!r}, {v})" if isinstance(k, str) else f"({k}, {v})"
        for k, v in sorted(expected_pm.items(), key=lambda kv: str(kv[0]))
    )
    return f"""
    WITH units AS ({units_sql}),
    designed({variant_col}, pm) AS (VALUES {values}),
    counts AS (
      SELECT {variant_col}, CAST(COUNT(*) AS BIGINT) AS n_observed
      FROM units GROUP BY {variant_col}
    ),
    merged AS (
      SELECT COALESCE(c.{variant_col}, d.{variant_col}) AS {variant_col},
             COALESCE(c.n_observed, 0) AS n_observed,
             d.pm AS pm
      FROM counts c FULL OUTER JOIN designed d
        ON c.{variant_col} = d.{variant_col}
    ), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM units)
    SELECT m.{variant_col}, m.n_observed,
           CAST(t.n_total * m.pm AS BIGINT) AS n_expected_milli,
           CAST(round(
             CAST((m.n_observed * 1000 - t.n_total * m.pm)
                  * (m.n_observed * 1000 - t.n_total * m.pm)
                  AS DOUBLE)
             / (1000 * t.n_total * m.pm) * 1000000) AS BIGINT)
             AS chi2_term_micro
    FROM merged m CROSS JOIN tot t
    """


def psi_drift(
    df: DataFrame,
    group_col: str,
    value_col,
    ref_cond,
    n_bins: int = 10,
    eps: float = 1e-4,
) -> DataFrame:
    """Population Stability Index per group — THE production drift
    gate for feature/score distributions between a reference slice and
    a current slice of the same table (train/serve skew, week-over-week
    corpus drift; PSI < 0.1 stable, 0.1–0.25 watch, > 0.25 act).

    ``value_col`` must be integer-valued (quantize floats upstream,
    e.g. ``round(value * 100)``); ``ref_cond`` is a boolean Column
    marking the reference slice. Bin edges are ``n_bins`` equal-width
    bins over the REFERENCE min/max per group (the standard
    fixed-from-reference convention: current rows outside the range
    clamp into the edge bins); the bin index is pure integer
    arithmetic, so binning is engine-exact. PSI = Σ_bins
    (p−q)·ln(p/q) with zero counts replaced by ``eps``; each bin's
    term is quantized to nano units (``round(term·1e9)`` BIGINT)
    BEFORE the sum, so the aggregate is an exact integer sum —
    order-insensitive and hash-comparable (the per-term ``ln`` carries
    the same 1-ulp cross-engine assumption as dsir_weights, which has
    held at every sf).

    Shape at 100 TB: one scan; one map-side-combined groupBy on
    (group, bin) — at most ``n_bins`` rows per group survive — plus a
    per-group totals aggregate broadcast back. Groups with no
    reference rows have no bin edges and drop (inner join on bounds);
    a group with reference rows but no current rows degenerates to
    every q = eps, which is the loud PSI you want from a vanished
    slice. No windows, no skew funnel beyond the group key itself.

    Output: one row per group — (group, psi_nano, n_ref, n_cur).
    """
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    c = ref_cond if not isinstance(ref_cond, str) else F.expr(ref_cond)
    base = df.select(
        F.col(group_col).alias("grp"),
        v.cast("bigint").alias("v"),
        c.cast("int").alias("is_ref"),
    )
    bounds = (
        base.filter(F.col("is_ref") == 1)
        .groupBy("grp")
        .agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    )
    binned = (
        base.join(F.broadcast(bounds), "grp")
        .withColumn("vv", F.least(F.greatest(F.col("v"), F.col("mn")), F.col("mx")))
        .withColumn(
            "bin",
            F.floor(
                (F.col("vv") - F.col("mn"))
                * F.lit(int(n_bins))
                / (F.col("mx") - F.col("mn") + F.lit(1))
            ).cast("bigint"),
        )
    )
    grid = binned.groupBy("grp", "bin").agg(
        F.sum("is_ref").alias("r_cnt"),
        F.sum(F.lit(1) - F.col("is_ref")).alias("c_cnt"),
    )
    totals = binned.groupBy("grp").agg(
        F.sum("is_ref").alias("r_tot"),
        F.sum(F.lit(1) - F.col("is_ref")).alias("c_tot"),
    )
    p = F.when(F.col("r_cnt") > 0, F.col("r_cnt") / F.col("r_tot")).otherwise(
        F.lit(float(eps))
    )
    q = F.when(
        (F.col("c_cnt") > 0) & (F.col("c_tot") > 0),
        F.col("c_cnt") / F.col("c_tot"),
    ).otherwise(F.lit(float(eps)))
    term = (p - q) * F.log(p / q)
    return (
        grid.join(F.broadcast(totals), "grp")
        .withColumn("term_nano", F.round(term * F.lit(1e9)).cast("bigint"))
        .groupBy("grp")
        .agg(
            F.sum("term_nano").cast("bigint").alias("psi_nano"),
            F.max("r_tot").cast("bigint").alias("n_ref"),
            F.max("c_tot").cast("bigint").alias("n_cur"),
        )
        .select(F.col("grp").alias(group_col), "psi_nano", "n_ref", "n_cur")
    )


def psi_drift_oracle_sql(
    table: str,
    group_col: str,
    value_expr: str,
    ref_pred: str,
    n_bins: int = 10,
    eps: float = 1e-4,
) -> str:
    """DuckDB twin of :func:`psi_drift` — identical integer binning,
    identical per-bin double term, identical nano quantization."""
    return f"""
    WITH base AS (
      SELECT {group_col} AS grp, CAST({value_expr} AS BIGINT) AS v,
             CASE WHEN {ref_pred} THEN 1 ELSE 0 END AS is_ref
      FROM {table}
    ), bounds AS (
      SELECT grp, MIN(v) AS mn, MAX(v) AS mx
      FROM base WHERE is_ref = 1 GROUP BY grp
    ), binned AS (
      SELECT b.grp, b.is_ref,
             CAST(floor((least(greatest(b.v, o.mn), o.mx) - o.mn)
                        * {int(n_bins)} / (o.mx - o.mn + 1)) AS BIGINT) AS bin
      FROM base b JOIN bounds o ON b.grp = o.grp
    ), grid AS (
      SELECT grp, bin, SUM(is_ref) AS r_cnt, SUM(1 - is_ref) AS c_cnt
      FROM binned GROUP BY grp, bin
    ), totals AS (
      SELECT grp, SUM(is_ref) AS r_tot, SUM(1 - is_ref) AS c_tot
      FROM binned GROUP BY grp
    ), terms AS (
      SELECT g.grp,
             CAST(round(
               ((CASE WHEN g.r_cnt > 0 THEN g.r_cnt / t.r_tot
                      ELSE {float(eps)} END)
                - (CASE WHEN g.c_cnt > 0 AND t.c_tot > 0
                        THEN g.c_cnt / t.c_tot ELSE {float(eps)} END))
               * ln((CASE WHEN g.r_cnt > 0 THEN g.r_cnt / t.r_tot
                          ELSE {float(eps)} END)
                    / (CASE WHEN g.c_cnt > 0 AND t.c_tot > 0
                            THEN g.c_cnt / t.c_tot ELSE {float(eps)} END))
               * 1e9) AS BIGINT) AS term_nano,
             t.r_tot, t.c_tot
      FROM grid g JOIN totals t ON g.grp = t.grp
    )
    SELECT grp AS {group_col},
           CAST(SUM(term_nano) AS BIGINT) AS psi_nano,
           CAST(MAX(r_tot) AS BIGINT) AS n_ref,
           CAST(MAX(c_tot) AS BIGINT) AS n_cur
    FROM terms GROUP BY grp
    """


def k_anonymize_buckets(
    events: DataFrame,
    k: int = 10,
    id_col: str = "event_id",
    qi_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """k-anonymity generalization of a timestamp quasi-identifier
    (Sweeney 2002): each row's candidate time bucket is the FINEST of
    day → week → month whose (``qi_col``, bucket) group holds ≥ ``k``
    rows; rows whose month-level group is still smaller release
    ``suppressed`` — the privacy gate run before sharing event-level
    extracts (the column-content sibling of ``corpus.pii_redact``).

    The cascade alone is NOT k-anonymous over the released output: a
    week group of 11 where 10 share one day releases those 10 at day
    level, leaving a week-level residue CLASS of 1 (and the day release
    can be subtracted from the week count to isolate it). So a second
    residue check re-counts equivalence classes over the rows ACTUALLY
    released at each (qi, level, released) and demotes classes < ``k``
    to ``suppressed``. One pass suffices: a day-level released class is
    the full day group (size = day count ≥ k by construction), and
    suppressing a residue never shrinks any other released class, so no
    iteration is needed. Every released equivalence class in the output
    therefore holds ≥ ``k`` rows.

    Four bucket/class-count aggregations (day/week/month + residue) are
    joined back; the count tables are bucket-cardinality-sized
    (broadcastable); the row side shuffles only for the key joins.
    Exact integer counts; buckets rendered as DATE strings identically
    by both engines.

    Returns (id, qi, level, released) where level ∈
    {day, week, month, suppressed}.
    """
    d = F.date_trunc("day", F.col(ts_col)).cast("date").cast("string")
    w = F.date_trunc("week", F.col(ts_col)).cast("date").cast("string")
    m = F.date_trunc("month", F.col(ts_col)).cast("date").cast("string")
    base = events.select(
        F.col(id_col),
        F.col(qi_col).alias("qi"),
        d.alias("_d"),
        w.alias("_w"),
        m.alias("_m"),
    )
    cd = base.groupBy("qi", "_d").agg(F.count(F.lit(1)).alias("_cd"))
    cw = base.groupBy("qi", "_w").agg(F.count(F.lit(1)).alias("_cw"))
    cm = base.groupBy("qi", "_m").agg(F.count(F.lit(1)).alias("_cm"))
    out = (
        base.join(cd, ["qi", "_d"])
        .join(cw, ["qi", "_w"])
        .join(cm, ["qi", "_m"])
    )
    level0 = (
        F.when(F.col("_cd") >= k, F.lit("day"))
        .when(F.col("_cw") >= k, F.lit("week"))
        .when(F.col("_cm") >= k, F.lit("month"))
        .otherwise(F.lit("suppressed"))
    )
    released0 = (
        F.when(F.col("_cd") >= k, F.col("_d"))
        .when(F.col("_cw") >= k, F.col("_w"))
        .when(F.col("_cm") >= k, F.col("_m"))
        .otherwise(F.lit("suppressed"))
    )
    cand = out.select(
        F.col(id_col),
        "qi",
        level0.alias("_lvl0"),
        released0.alias("_rel0"),
    )
    # Residue check: class sizes over rows actually released at each
    # level; sub-k classes (week/month residues) demote to suppressed.
    rc = cand.groupBy("qi", "_lvl0", "_rel0").agg(
        F.count(F.lit(1)).alias("_rc")
    )
    final = cand.join(F.broadcast(rc), ["qi", "_lvl0", "_rel0"])
    keep = (F.col("_lvl0") != "suppressed") & (F.col("_rc") >= k)
    return final.select(
        F.col(id_col),
        "qi",
        F.when(keep, F.col("_lvl0"))
        .otherwise(F.lit("suppressed"))
        .alias("level"),
        F.when(keep, F.col("_rel0"))
        .otherwise(F.lit("suppressed"))
        .alias("released"),
    )


def k_anonymize_oracle_sql(
    table: str = "events",
    k: int = 10,
    id_col: str = "event_id",
    qi_col: str = "event_type",
    ts_col: str = "ts",
) -> str:
    """DuckDB twin of :func:`k_anonymize_buckets` — same truncations
    (week starts Monday in both engines), same cascade, same
    released-class residue demotion."""
    return f"""
    WITH base AS (
      SELECT {id_col}, {qi_col} AS qi,
             CAST(CAST(date_trunc('day', {ts_col}) AS DATE) AS VARCHAR) AS d,
             CAST(CAST(date_trunc('week', {ts_col}) AS DATE) AS VARCHAR) AS w,
             CAST(CAST(date_trunc('month', {ts_col}) AS DATE) AS VARCHAR) AS m
      FROM {table}
    ), cd AS (SELECT qi, d, COUNT(*) AS cd FROM base GROUP BY qi, d),
    cw AS (SELECT qi, w, COUNT(*) AS cw FROM base GROUP BY qi, w),
    cm AS (SELECT qi, m, COUNT(*) AS cm FROM base GROUP BY qi, m),
    cand AS (
      SELECT {id_col}, qi,
             CASE WHEN cd >= {k} THEN 'day'
                  WHEN cw >= {k} THEN 'week'
                  WHEN cm >= {k} THEN 'month'
                  ELSE 'suppressed' END AS lvl0,
             CASE WHEN cd >= {k} THEN d
                  WHEN cw >= {k} THEN w
                  WHEN cm >= {k} THEN m
                  ELSE 'suppressed' END AS rel0
      FROM base
      JOIN cd USING (qi, d) JOIN cw USING (qi, w) JOIN cm USING (qi, m)
    ), rc AS (
      SELECT qi, lvl0, rel0, COUNT(*) AS rc
      FROM cand GROUP BY qi, lvl0, rel0
    )
    SELECT {id_col}, qi,
           CASE WHEN lvl0 <> 'suppressed' AND rc >= {k}
                THEN lvl0 ELSE 'suppressed' END AS level,
           CASE WHEN lvl0 <> 'suppressed' AND rc >= {k}
                THEN rel0 ELSE 'suppressed' END AS released
    FROM cand JOIN rc USING (qi, lvl0, rel0)
    """
