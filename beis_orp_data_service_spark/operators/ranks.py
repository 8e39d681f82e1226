"""Scalable exact ranks, NTILEs and running sums without a whole-table
or whole-group window task.

The unpartitioned-window class (``rfm_scores``' ntiles, the KS /
Mann-Whitney distinct-value grids, ``equi_depth_bins``) is exact and
fine while the ranked table is bounded-cardinality, but at 100 TB
event data "one row per user" is billions of rows through a SINGLE
window task, and a ``PARTITION BY lang`` window sends a dominant
language (half a corpus is English) through one task too. Every entry
point here runs the same two-pass alternative, one range-partitioned
pass (:func:`_running_sums`):

1. ``repartitionByRange`` on ``(group, sort)`` → every partition holds
   a contiguous (group, key) range of ~N/P rows; a dominant group
   simply spans MANY partitions.
2. Per-(group, partition) column sums (map-side combined, ≤ P·|groups|
   rows) become per-(group, partition) cumulative offsets and group
   totals through windows over those sum rows — ≤ ``n_parts`` rows per
   group, bounded by construction — joined back broadcast. No driver
   pull.
3. A running sum inside each (group, partition) cell + its offset =
   the exact per-group running sum.

``group_cols=[]`` is one group: a constant key is added and dropped
here, so the offsets windows stay keyed and span ≤ ``n_parts`` rows.
:func:`grouped_exact_ranks` is the running sum of a constant 1 plus
the group total; :func:`grouped_ntile` composes it with
:func:`ntile_from_rank_col`, which reproduces SQL ``NTILE``
bit-for-bit from (rank, group size) — so every caller can swap
``ntile(n) OVER (...)`` for the composition with NO semantic change
(equality-tested against the window spellings in tests/test_ranks.py
and tests/test_behavior.py).

The partitioned frame is ``stage_checkpoint``-ed (lazily: one final
action materializes it for both consumers) so the range-partitioner's
sampled boundaries, and therefore the partition ids, are IDENTICAL
between the offsets pass and the running-sum pass, and so the audit
sees the pre-checkpoint lineage.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from beis_orp_data_service_spark.checkpointing import stage_checkpoint

__all__ = [
    "grouped_exact_ranks",
    "grouped_ntile",
    "grouped_prefix_sums",
    "ntile_from_rank_col",
]


def _guard_columns(df: DataFrame, names: list[str], func: str) -> None:
    """Fail fast if the caller's frame already carries a column this
    operator injects (``_rnk_*``) or emits (``names``). Those would
    otherwise be silently replaced by ``withColumn`` or collide in the
    offsets self-join — corrupting the caller's data or failing with an
    ambiguity error far from the cause."""
    clash = sorted(c for c in df.columns if c in names or c.startswith("_rnk_"))
    if clash:
        raise ValueError(
            f"{func}: input columns {clash} collide with reserved "
            f"internal/output names (_rnk_*, {sorted(names)}); "
            "rename them before calling"
        )


def ntile_from_rank_col(rank: Column, n_rows: Column, n_tiles: int) -> Column:
    """SQL ``NTILE(n_tiles)`` computed from a 1-based rank and its
    group's row count ``n_rows`` (a per-row COLUMN, so one expression
    buckets every group of a grouped ranking at once). The first
    ``n_rows mod n_tiles`` buckets hold ``floor(n_rows/n_tiles) + 1``
    rows, the rest one fewer (identical to Spark's and DuckDB's NTILE).
    The ``greatest(q, 1)`` guard keeps the never-taken small-bucket
    branch from dividing by zero when a group has fewer rows than tiles
    (vectorized evaluation computes both branches under ANSI mode).
    All-BIGINT arithmetic (``div``, ``pmod`` — never IEEE division):
    the assignment stays exact past 2^53 rows per group, where a
    double-floor spelling silently loses rank resolution. Operands are
    non-negative in every taken branch, so truncating ``div`` equals
    floor division."""
    if n_tiles < 1:
        raise ValueError(
            f"ntile_from_rank_col: n_tiles must be >= 1, got {n_tiles}"
        )
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
        *[F.col(g).alias(f"_rnk_k{i}") for i, g in enumerate(group_cols)],
        F.col("_rnk_pid").alias("_rnk_kpid"),
        *[c for c in off.columns if c not in (*group_cols, "_rnk_pid")],
    )
    cond = F.col("_rnk_pid") == F.col("_rnk_kpid")
    for i, g in enumerate(group_cols):
        cond = cond & F.col(g).eqNullSafe(F.col(f"_rnk_k{i}"))
    return part.join(F.broadcast(renamed), cond).drop(
        "_rnk_kpid", *(f"_rnk_k{i}" for i in range(len(group_cols)))
    )


def _running_sums(
    df: DataFrame,
    group_cols: list[str],
    sort_cols: list[Column],
    sum_cols: list[str],
    n_parts: int,
    label: str,
) -> DataFrame:
    """The one range-partitioned pass (module docstring): adds the
    inclusive per-group running sum of ``sum_cols[i]`` as
    ``_rnk_cum{i}`` and the group's total of it as ``_rnk_tot{i}``."""
    keys = group_cols or ["_rnk_g"]
    if not group_cols:
        df = df.withColumn("_rnk_g", F.lit(0))
    part = stage_checkpoint(
        df.repartitionByRange(
            n_parts, *[F.col(g) for g in keys], *sort_cols
        ).withColumn("_rnk_pid", F.spark_partition_id()),
        eager=False,  # one final action materializes it for BOTH consumers
        label=f"{label}:range_parts",
    )
    idx = range(len(sum_cols))
    sums = part.groupBy(*keys, "_rnk_pid").agg(
        *(F.sum(c).alias(f"_rnk_sum{i}") for i, c in zip(idx, sum_cols))
    )
    w_off = (
        # Window scale: offset and total windows run over (group, pid)
        # partial-sum rows (≤ groups x P), not data rows; the data
        # window partitions on (group, pid), capped by the range
        # partitioner — this IS the two-pass scale route.
        Window.partitionBy(*keys)
        .orderBy("_rnk_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_tot = Window.partitionBy(*keys)
    off = sums.select(
        *keys,
        "_rnk_pid",
        *(
            F.coalesce(F.sum(f"_rnk_sum{i}").over(w_off), F.lit(0))
            .cast("bigint")
            .alias(f"_rnk_off{i}")
            for i in idx
        ),
        *(
            F.sum(f"_rnk_sum{i}").over(w_tot).cast("bigint").alias(f"_rnk_tot{i}")
            for i in idx
        ),
    )
    w_run = (
        Window.partitionBy(*keys, "_rnk_pid")
        .orderBy(*sort_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = _join_offsets_null_safe(part, off, keys)
    for i, c in zip(idx, sum_cols):
        out = out.withColumn(
            f"_rnk_cum{i}",
            (F.col(f"_rnk_off{i}") + F.sum(c).over(w_run)).cast("bigint"),
        )
    return out.drop(
        "_rnk_pid",
        *(f"_rnk_off{i}" for i in idx),
        *([] if group_cols else ["_rnk_g"]),
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
    ``sort_cols`` total order (``row_number() OVER (PARTITION BY group
    ORDER BY sort)``), plus the group's row count — the running sum of
    a constant 1 through the one range-partitioned pass, so a dominant
    group spans many tasks instead of one. ``group_cols=[]`` ranks the
    whole frame as one group.

    ``sort_cols`` must be a total order WITHIN each group (include a
    unique tiebreak): rows equal on the sort key may straddle a range
    boundary, which would make ranks of ties partition-dependent. Max
    window partition is ~N/``n_parts`` rows — size ``n_parts`` so that
    fits one executor.
    """
    _guard_columns(df, [rank_col, total_col], "grouped_exact_ranks")
    return (
        _running_sums(
            df.withColumn("_rnk_one", F.lit(1)),
            group_cols, sort_cols, ["_rnk_one"], n_parts, label,
        )
        .withColumnRenamed("_rnk_tot0", total_col)
        .withColumnRenamed("_rnk_cum0", rank_col)
        .drop("_rnk_one")
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
    group sizes are. ``group_cols=[]`` is the global
    ``ntile(n_tiles) OVER (ORDER BY sort_cols)``."""
    # checked here, not only in ntile_from_rank_col: building the
    # checkpointed range partitions below already runs Spark jobs (the
    # range partitioner samples its input)
    if n_tiles < 1:
        raise ValueError(f"grouped_ntile: n_tiles must be >= 1, got {n_tiles}")
    _guard_columns(df, [out_col], "grouped_ntile")
    ranked = grouped_exact_ranks(
        df,
        group_cols,
        sort_cols,
        rank_col="_rnk_r",
        total_col="_rnk_n",
        n_parts=n_parts,
        label=label,
    )
    return ranked.withColumn(
        out_col,
        ntile_from_rank_col(F.col("_rnk_r"), F.col("_rnk_n"), n_tiles),
    ).drop("_rnk_r", "_rnk_n")


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
    ``<c>_cum`` BIGINT column per ``sum_cols`` entry. ``group_cols=[]``
    is the global running sum (the KS / Mann-Whitney value grids).
    ``sort_cols`` must be a total order within each group; ``sum_cols``
    non-null integers.

    This is also the budget-selection primitive: "take each language's
    best documents until N tokens" is a filter on the running token
    sum in quality order — which at 100 TB must not serialize a
    dominant language through one window task.
    """
    _guard_columns(df, [f"{c}_cum" for c in sum_cols], "grouped_prefix_sums")
    out = _running_sums(df, group_cols, sort_cols, sum_cols, n_parts, label)
    for i, c in enumerate(sum_cols):
        out = out.withColumnRenamed(f"_rnk_cum{i}", f"{c}_cum")
    return out.drop(*(f"_rnk_tot{i}" for i in range(len(sum_cols))))
