"""Scalable exact global ranking / ntile without an unpartitioned window.

The unpartitioned-window class (``rfm_scores``'s three ntiles, the
KS / Mann-Whitney distinct-value grids, ``equi_depth_bins``) is exact
and fine while the ranked table is bounded-cardinality (one row per
user / per distinct value), but at 100 TB event data "one row per
user" is billions of rows through a SINGLE window task. This module is
the promised two-pass alternative — the classic
range-partition + partition-offset ranking:

1. ``repartitionByRange`` on the sort key → globally ordered partition
   RANGES (each partition holds a contiguous key range, ~N/P rows).
2. One tiny aggregation: per-partition row counts → ``P`` rows pulled
   to the driver (a parameter-bounded k-row pull, same class as the
   BPE merge table) → cumulative offsets → broadcast back.
3. ``row_number`` over a window PARTITIONED by the range-partition id
   (max partition ~N/P rows, never the whole table) + offset = exact
   1-based global rank.

The partitioned frame is ``stage_checkpoint``-ed before step 2 so the
range-partitioner's sampled boundaries (and therefore partition ids)
are IDENTICAL between the counts pass and the ranking pass, and so the
audit sees the pre-checkpoint lineage.

``ntile_from_rank`` then reproduces SQL ``NTILE`` bit-for-bit from
(rank, N): the first ``N mod n`` buckets get ``ceil(N/n)`` rows, the
rest ``floor(N/n)`` — so every caller can swap a global
``ntile(n) OVER (ORDER BY ...)`` for the composition with NO semantic
change (equality-tested against the window spelling in
tests/test_behavior.py and tests/test_ranks.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from beis_orp_data_service_spark.checkpointing import stage_checkpoint


def _guard_columns(df: DataFrame, names: list[str], func: str) -> None:
    """Fail fast if the caller's frame already carries a column this
    operator injects (or emits). The internal names (``_rnk_*``,
    ``_off_*``, ``_offk_*``, ``<c>_cum``) would otherwise be silently
    replaced by ``withColumn`` or collide in the offsets self-join —
    corrupting the caller's data or failing with an ambiguity error
    far from the cause."""
    clash = sorted(
        c
        for c in df.columns
        if c in names or c.startswith(("_rnk_", "_offk_"))
    )
    if clash:
        raise ValueError(
            f"{func}: input columns {clash} collide with reserved "
            f"internal/output names (_rnk_*, _offk_*, {sorted(names)}); "
            "rename them before calling"
        )


__all__ = [
    "exact_global_ranks",
    "ntile_from_rank",
    "ntile_from_rank_col",
    "distributed_ntile",
    "grouped_exact_ranks",
    "grouped_ntile",
    "grouped_prefix_sums",
    "prefix_sums",
]


def exact_global_ranks(
    df: DataFrame,
    sort_cols: list[Column],
    rank_col: str = "_grank",
    n_parts: int = 32,
    label: str = "ranks",
) -> tuple[DataFrame, int]:
    """Attach an exact 1-based global rank over the ``sort_cols`` total
    order without any unpartitioned window; returns ``(df_with_rank,
    n_rows)``. ``sort_cols`` must be a TOTAL order (include a unique
    tiebreak column) — rows equal on the sort key may straddle a range
    boundary, which would make ranks of ties partition-dependent.

    Cost: one range shuffle + one ``P``-row driver pull + one hash
    shuffle for the per-partition window. Max window partition is
    ~N/``n_parts`` rows — size ``n_parts`` so that fits one executor.
    """
    _guard_columns(df, [rank_col], "exact_global_ranks")
    # lazy checkpoint: the counts .collect() below is the first action
    # and materializes it — one job instead of two per call (the
    # boundary still pins the range-partitioner's sampled split points
    # so the ranking pass sees the SAME partition ids)
    part = stage_checkpoint(
        df.repartitionByRange(n_parts, *sort_cols).withColumn(
            "_rnk_pid", F.spark_partition_id()
        ),
        eager=False,
        label=f"{label}:range_parts",
    )
    # P-row pull: cumulative offset per range partition
    counts = sorted(
        (r["_rnk_pid"], r["n"])
        for r in part.groupBy("_rnk_pid").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    n_rows = sum(c for _, c in counts)
    offsets, acc = {}, 0
    for pid, c in counts:
        offsets[pid] = acc
        acc += c
    off_df = F.broadcast(
        df.sparkSession.createDataFrame(
            [(int(p), int(o)) for p, o in offsets.items()],
            "_rnk_pid int, _rnk_off bigint",
        )
    )
    # Window scale: partitions on the physical partition id — per-task
    # rows are capped by the range partitioner; this IS the two-pass
    # scale route.
    w = Window.partitionBy("_rnk_pid").orderBy(*sort_cols)
    ranked = (
        part.join(off_df, "_rnk_pid")
        .withColumn(
            rank_col,
            (F.col("_rnk_off") + F.row_number().over(w)).cast("bigint"),
        )
        .drop("_rnk_pid", "_rnk_off")
    )
    return ranked, n_rows


def ntile_from_rank(rank: Column, n_rows: int, n_tiles: int) -> Column:
    """SQL ``NTILE(n_tiles)`` computed from a 1-based global rank and
    the total row count — the first ``n_rows mod n_tiles`` buckets hold
    ``floor(n_rows/n_tiles) + 1`` rows, the remainder one fewer
    (identical to Spark's and DuckDB's NTILE). Bucket assignment is
    pure BIGINT arithmetic (``div``, never IEEE division), so it stays
    exact past 2^53 rows per group — the quiet boundary a
    double-floor spelling would hit."""
    q, rem = divmod(int(n_rows), int(n_tiles))
    big = F.lit(q + 1).cast("bigint")
    cut = F.lit(rem * (q + 1)).cast("bigint")  # rows in the big buckets
    rank = rank.cast("bigint")
    small = (
        F.lit(rem)
        + F.call_function("div", rank - cut - 1, F.lit(q).cast("bigint"))
        + 1
        if q > 0
        else F.lit(None).cast("bigint")  # n_rows < n_tiles: never taken
    )
    return (
        F.when(rank <= cut, F.call_function("div", rank - 1, big) + 1)
        .otherwise(small)
        .cast("bigint")
    )


def prefix_sums(
    df: DataFrame,
    sort_cols: list[Column],
    sum_cols: list[str],
    n_parts: int = 32,
    label: str = "psum",
) -> DataFrame:
    """Attach exact global RUNNING sums (inclusive of the current row)
    over the ``sort_cols`` total order — the cumulative half of the KS
    / Mann-Whitney distinct-value grids — without an unpartitioned
    window. Adds one ``<c>_cum`` BIGINT column per ``sum_cols`` entry.

    Same two-pass shape as :func:`exact_global_ranks`: range-partition
    on the sort key, pull the P per-partition column sums to the driver
    (P rows), broadcast cumulative offsets back, and run the running
    sum inside each range partition only. ``sort_cols`` must be a total
    order; ``sum_cols`` must be non-null integers (counts).
    """
    _guard_columns(
        df,
        [f"{c}_cum" for c in sum_cols] + [f"_off_{c}" for c in sum_cols],
        "prefix_sums",
    )
    part = stage_checkpoint(
        df.repartitionByRange(n_parts, *sort_cols).withColumn(
            "_rnk_pid", F.spark_partition_id()
        ),
        eager=False,  # the totals .collect() materializes it (one job)
        label=f"{label}:range_parts",
    )
    totals = sorted(
        (r["_rnk_pid"], tuple(r[c] for c in sum_cols))
        for r in part.groupBy("_rnk_pid")
        .agg(*(F.sum(c).alias(c) for c in sum_cols))
        .collect()
    )
    rows, acc = [], [0] * len(sum_cols)
    for pid, sums in totals:
        rows.append((int(pid), *(int(a) for a in acc)))
        acc = [a + int(s or 0) for a, s in zip(acc, sums)]
    off_schema = ", ".join(
        ["_rnk_pid int"] + [f"_off_{c} bigint" for c in sum_cols]
    )
    off_df = F.broadcast(df.sparkSession.createDataFrame(rows, off_schema))
    w = (
        # Window scale: partitions on the physical partition id (range-
        # partitioner-capped tasks); the offsets come from a driver fold
        # over ≤ P partition sums.
        Window.partitionBy("_rnk_pid")
        .orderBy(*sort_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = part.join(off_df, "_rnk_pid")
    for c in sum_cols:
        out = out.withColumn(
            f"{c}_cum",
            (F.col(f"_off_{c}") + F.sum(c).over(w)).cast("bigint"),
        )
    return out.drop("_rnk_pid", *(f"_off_{c}" for c in sum_cols))


def distributed_ntile(
    df: DataFrame,
    sort_cols: list[Column],
    n_tiles: int,
    out_col: str,
    n_parts: int = 32,
    label: str = "ntile",
) -> DataFrame:
    """``ntile(n_tiles) OVER (ORDER BY sort_cols)`` via
    :func:`exact_global_ranks` + :func:`ntile_from_rank` — exact NTILE
    semantics, no unpartitioned window."""
    _guard_columns(df, [out_col], "distributed_ntile")
    ranked, n_rows = exact_global_ranks(
        df, sort_cols, rank_col="_rnk_tmp", n_parts=n_parts, label=label
    )
    return ranked.withColumn(
        out_col, ntile_from_rank(F.col("_rnk_tmp"), n_rows, n_tiles)
    ).drop("_rnk_tmp")


def ntile_from_rank_col(rank: Column, n_rows: Column, n_tiles: int) -> Column:
    """Column-typed :func:`ntile_from_rank` — ``n_rows`` is a per-row
    COLUMN (each group's own total) instead of a Python int, so one
    expression buckets every group of a grouped ranking at once. Same
    SQL NTILE fill rule: the first ``n_rows mod n_tiles`` buckets hold
    ``floor(n_rows/n_tiles) + 1`` rows, the rest one fewer. The
    ``greatest(q, 1)`` guard keeps the never-taken small-bucket branch
    from dividing by zero when a group has fewer rows than tiles
    (vectorized evaluation computes both branches under ANSI mode).
    All-BIGINT arithmetic (``div``, ``pmod`` — never IEEE division):
    the assignment stays exact past 2^53 rows per group, where a
    double-floor spelling silently loses rank resolution. Operands are
    non-negative in every taken branch, so truncating ``div`` equals
    floor division."""
    n = F.lit(int(n_tiles)).cast("bigint")
    n_rows = n_rows.cast("bigint")
    rank = rank.cast("bigint")
    q = F.call_function("div", n_rows, n)
    rem = F.pmod(n_rows, n).cast("bigint")
    big = q + F.lit(1)
    cut = rem * big
    small = (
        rem
        + F.call_function("div", rank - cut - 1, F.greatest(q, F.lit(1)))
        + 1
    )
    return (
        F.when(rank <= cut, F.call_function("div", rank - 1, big) + 1)
        .otherwise(small)
        .cast("bigint")
    )


def _join_offsets_null_safe(
    part: DataFrame, off: DataFrame, group_cols: list[str]
) -> DataFrame:
    """Broadcast-join the per-(group, pid) offsets back onto the
    partitioned frame with NULL-SAFE group equality: SQL window
    functions treat NULL as one more group (both engines), so a plain
    equi-join here would silently DROP every null-group row from the
    two_pass spelling while the window spelling keeps them — a
    semantic divergence, not just a missing row. Returns the joined
    frame with the offsets side's duplicate key columns dropped
    (part's group/pid columns survive for the downstream window)."""
    # off derives FROM part, so part[g]/off[g] share attribute ids and
    # dataframe-qualified references degenerate to trivially-true
    # predicates — rename the offsets side's keys before joining
    renamed = off.select(
        *[F.col(g).alias(f"_offk_{i}") for i, g in enumerate(group_cols)],
        F.col("_rnk_pid").alias("_offk_pid"),
        *[c for c in off.columns if c not in (*group_cols, "_rnk_pid")],
    )
    cond = F.col("_rnk_pid") == F.col("_offk_pid")
    for i, g in enumerate(group_cols):
        cond = cond & F.col(g).eqNullSafe(F.col(f"_offk_{i}"))
    return part.join(F.broadcast(renamed), cond).drop(
        "_offk_pid", *(f"_offk_{i}" for i in range(len(group_cols)))
    )


def grouped_exact_ranks(
    df: DataFrame,
    group_cols: list[str],
    sort_cols: list[Column],
    rank_col: str = "_grank",
    total_col: str = "_gtotal",
    n_parts: int = 32,
    label: str = "granks",
) -> DataFrame:
    """Exact 1-based rank WITHIN each ``group_cols`` group over the
    ``sort_cols`` total order, plus the group's row count — the grouped
    sibling of :func:`exact_global_ranks` for
    windows like ``PARTITION BY lang`` where one dominant group (half a
    100 TB corpus is English) would otherwise ride through a single
    window task.

    Shape: range-partition on ``(group, sort)`` so every partition
    holds ~N/P rows of a contiguous (group, key) range (a dominant
    group simply spans MANY partitions), then rank inside each
    ``(group, partition)`` cell and add the group's per-partition
    offsets. Unlike the global variant there is NO driver pull at all:
    the per-(group, pid) counts table (≤ P·|groups| rows) computes its
    own cumulative offsets with a window whose partitions are ≤
    ``n_parts`` rows — bounded by construction at any group
    cardinality — and joins back broadcast (P rows per group is
    broadcast-sized even at millions of groups; if it ever isn't, the
    hint is the only thing to drop).

    ``sort_cols`` must be a total order WITHIN each group (include a
    unique tiebreak). Same pid-pinning rule as the global variant: the
    partitioned frame is stage-checkpointed so the counts pass and the
    ranking pass see identical partition ids.
    """
    _guard_columns(df, [rank_col, total_col], "grouped_exact_ranks")
    part = stage_checkpoint(
        df.repartitionByRange(
            n_parts, *[F.col(g) for g in group_cols], *sort_cols
        ).withColumn("_rnk_pid", F.spark_partition_id()),
        eager=False,  # one final action materializes it for BOTH consumers
        label=f"{label}:range_parts",
    )
    cnt = part.groupBy(*group_cols, "_rnk_pid").agg(
        F.count(F.lit(1)).alias("_rnk_n")
    )
    w_off = (
        # Window scale: offset windows run over the (group, pid) COUNT
        # rows (≤ groups x P), not data rows; the data window partitions
        # on (group, pid), capped by the range partitioner — this IS the
        # two-pass scale route.
        Window.partitionBy(*group_cols)
        .orderBy("_rnk_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_tot = Window.partitionBy(*group_cols)
    off = cnt.select(
        *group_cols,
        "_rnk_pid",
        F.coalesce(F.sum("_rnk_n").over(w_off), F.lit(0)).alias("_rnk_off"),
        F.sum("_rnk_n").over(w_tot).cast("bigint").alias(total_col),
    )
    w_rank = Window.partitionBy(*group_cols, "_rnk_pid").orderBy(*sort_cols)
    return (
        _join_offsets_null_safe(part, off, group_cols)
        .withColumn(
            rank_col,
            (F.col("_rnk_off") + F.row_number().over(w_rank)).cast("bigint"),
        )
        .drop("_rnk_pid", "_rnk_off")
    )


def grouped_ntile(
    df: DataFrame,
    group_cols: list[str],
    sort_cols: list[Column],
    n_tiles: int,
    out_col: str,
    n_parts: int = 32,
    label: str = "gntile",
) -> DataFrame:
    """``ntile(n_tiles) OVER (PARTITION BY group_cols ORDER BY
    sort_cols)`` via :func:`grouped_exact_ranks` +
    :func:`ntile_from_rank_col` — exact per-group NTILE semantics
    (equality-tested against the window spelling in
    tests/test_ranks.py, dominant-group fixture included) with max
    per-task state ~N/``n_parts`` rows regardless of how skewed the
    group sizes are."""
    _guard_columns(df, [out_col, "_tot_tmp"], "grouped_ntile")
    ranked = grouped_exact_ranks(
        df,
        group_cols,
        sort_cols,
        rank_col="_rnk_tmp",
        total_col="_tot_tmp",
        n_parts=n_parts,
        label=label,
    )
    return ranked.withColumn(
        out_col,
        ntile_from_rank_col(F.col("_rnk_tmp"), F.col("_tot_tmp"), n_tiles),
    ).drop("_rnk_tmp", "_tot_tmp")


def grouped_prefix_sums(
    df: DataFrame,
    group_cols: list[str],
    sort_cols: list[Column],
    sum_cols: list[str],
    n_parts: int = 32,
    label: str = "gpsum",
) -> DataFrame:
    """Exact per-group RUNNING sums (inclusive) over the ``sort_cols``
    total order — ``SUM(c) OVER (PARTITION BY group ORDER BY sort ROWS
    UNBOUNDED PRECEDING)`` without a whole-group window task. Adds one
    ``<c>_cum`` BIGINT column per ``sum_cols`` entry.

    The grouped sibling of :func:`prefix_sums`, with
    :func:`grouped_exact_ranks`' fully distributed offset scheme:
    range-partition on (group, sort), aggregate per-(group, pid)
    column sums (map-side combined, ≤ P·|groups| rows), turn them into
    per-(group, pid) cumulative offsets with a window whose partitions
    are ≤ ``n_parts`` rows, broadcast-join back, and run the running
    sum inside each (group, pid) cell only. ``sort_cols`` must be a
    total order within each group; ``sum_cols`` non-null integers.

    This is the budget-selection primitive: "take each language's
    best documents until N tokens" is a filter on the running token
    sum in quality order — which at 100 TB must not serialize a
    dominant language through one window task.
    """
    _guard_columns(
        df,
        [f"{c}_cum" for c in sum_cols]
        + [f"_off_{c}" for c in sum_cols]
        + [f"_sum_{c}" for c in sum_cols],
        "grouped_prefix_sums",
    )
    part = stage_checkpoint(
        df.repartitionByRange(
            n_parts, *[F.col(g) for g in group_cols], *sort_cols
        ).withColumn("_rnk_pid", F.spark_partition_id()),
        eager=False,  # one final action materializes it for BOTH consumers
        label=f"{label}:range_parts",
    )
    cnt = part.groupBy(*group_cols, "_rnk_pid").agg(
        *(F.sum(c).alias(f"_sum_{c}") for c in sum_cols)
    )
    w_off = (
        # Window scale: offset windows run over (group, pid) partial-sum
        # rows (≤ groups x P), not data rows; the data window partitions
        # on (group, pid), capped by the range partitioner — this IS the
        # two-pass scale route.
        Window.partitionBy(*group_cols)
        .orderBy("_rnk_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = cnt.select(
        *group_cols,
        "_rnk_pid",
        *(
            F.coalesce(F.sum(f"_sum_{c}").over(w_off), F.lit(0))
            .cast("bigint")
            .alias(f"_off_{c}")
            for c in sum_cols
        ),
    )
    w_run = (
        Window.partitionBy(*group_cols, "_rnk_pid")
        .orderBy(*sort_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = _join_offsets_null_safe(part, off, group_cols)
    for c in sum_cols:
        out = out.withColumn(
            f"{c}_cum",
            (F.col(f"_off_{c}") + F.sum(c).over(w_run)).cast("bigint"),
        )
    return out.drop("_rnk_pid", *(f"_off_{c}" for c in sum_cols))
