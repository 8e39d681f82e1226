"""Record linkage / entity resolution: blocked pairwise scoring.

The reference's duplicate pipeline matches whole documents by MinHash
cosine (lambdas/check_duplicate/check_duplicate.py:128-151) and merges
metadata-equal records (record_handler.py:39-80); a training-data
pipeline additionally needs FIELD-WISE record linkage — "are these two
catalogue rows the same real-world entity?" — the Fellegi-Sunter shape:
block on cheap equality keys, score candidate pairs with a weighted sum
of per-field similarities, keep pairs above a threshold, then close the
match graph transitively into entity clusters.

Spark-first shape:

- **Blocking is one shuffle.** The self-join on the block key
  co-partitions both sides; comparison cost is quadratic only WITHIN a
  block. At 100 TB the block key must be chosen so block sizes stay
  bounded as data grows (a fixed-cardinality key degenerates — every
  new row lands in an existing block and the pair count grows
  quadratically). ``max_block`` makes that failure loud: it scans block
  sizes first (one cheap aggregate over the footprint the join reads
  anyway) and raises before launching a quadratic join.
- **Scoring is pure Catalyst.** levenshtein / abs / greatest are
  whole-stage-codegen built-ins; no UDF, no Python in the pair loop.
- **Clustering reuses** :func:`~beis_orp_data_service_spark.operators.
  corpus.dup_clusters` (pointer-doubling min-label propagation,
  O(log diameter) rounds, lineage truncated every round).

Scores are emitted quantized (``round(score * 1e6)`` as BIGINT) so the
DuckDB oracle twin compares exactly — same IEEE-double expression tree
on both engines, integer at the boundary.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# (kind) -> similarity in [0, 1]:
#   exact    1.0 if equal else 0.0
#   edit     1 - levenshtein / greatest(len_a, len_b, 1)
#   numeric  1 - |a - b| / greatest(|a|, |b|, 1)
_KINDS = ("exact", "edit", "numeric")

SCALE = 1_000_000  # score quantization for exact oracle comparison


def _field_sim(kind: str, a: Column, b: Column) -> Column:
    if kind == "exact":
        return F.when(a == b, F.lit(1.0)).otherwise(F.lit(0.0))
    if kind == "edit":
        return F.lit(1.0) - F.levenshtein(a, b) / F.greatest(
            F.length(a), F.length(b), F.lit(1)
        )
    if kind == "numeric":
        return F.lit(1.0) - F.abs(a - b) / F.greatest(
            F.abs(a), F.abs(b), F.lit(1)
        )
    raise ValueError(f"unknown field kind {kind!r}; expected one of {_KINDS}")


def linkage_pairs(
    df: DataFrame,
    id_col: str,
    block_cols: list[str],
    fields: list[tuple[str, str, float]],
    threshold: float,
    max_block: int | None = None,
) -> DataFrame:
    """Blocked pairwise record scoring → ``(a_id, b_id, score_q)``.

    ``fields`` is a list of ``(column, kind, weight)`` with kind in
    ``{"exact", "edit", "numeric"}``; the pair score is the weighted
    sum of per-field similarities (weights normally sum to 1, not
    enforced). Pairs are generated only within equal ``block_cols``
    values, ordered ``a_id < b_id``, and kept when
    ``score >= threshold``. ``score_q = round(score * 1e6)``.

    ``max_block``: when set, raise ``ValueError`` if any block holds
    more rows — the guard that turns a degenerate blocking key (the
    quadratic blow-up that takes down a 100 TB run) into an immediate
    error instead of a hung stage. The check is one groupBy over the
    projected input.
    """
    cols = [id_col, *block_cols, *[f[0] for f in fields]]
    base = df.select(*dict.fromkeys(cols))  # dedupe, keep order
    if max_block is not None:
        top = (
            base.groupBy(*block_cols)
            .count()
            .agg(F.max("count").alias("m"))
            .collect()[0]["m"]
        )
        if top is not None and top > max_block:
            raise ValueError(
                f"linkage_pairs: largest block has {top} rows "
                f"(> max_block={max_block}); refine block_cols or salt"
            )
    a = base.select([F.col(c).alias(f"a_{c}") for c in base.columns])
    b = base.select([F.col(c).alias(f"b_{c}") for c in base.columns])
    cond = F.col(f"a_{id_col}") < F.col(f"b_{id_col}")
    for bc in block_cols:
        cond = cond & (F.col(f"a_{bc}") == F.col(f"b_{bc}"))
    score = F.lit(0.0)
    for col, kind, w in fields:
        score = score + F.lit(float(w)) * _field_sim(
            kind, F.col(f"a_{col}"), F.col(f"b_{col}")
        )
    return (
        a.join(b, cond)
        .select(
            F.col(f"a_{id_col}").cast("bigint").alias("a_id"),
            F.col(f"b_{id_col}").cast("bigint").alias("b_id"),
            F.round(score * SCALE).cast("bigint").alias("score_q"),
        )
        .filter(F.col("score_q") >= int(round(threshold * SCALE)))
    )


def linkage_pairs_salted(
    df: DataFrame,
    id_col: str,
    block_cols: list[str],
    fields: list[tuple[str, str, float]],
    threshold: float,
    n_salt: int = 8,
) -> DataFrame:
    """Skew-safe remediation for a DEGENERATE block (the incident
    ``max_block`` raises on): the exact same pair set as
    :func:`linkage_pairs`, with every block's quadratic comparison
    work split across ``n_salt``² shuffle cells instead of one reducer.

    Each row gets a deterministic salt ``xxhash64(id) % n_salt``; a
    pair (x, y) lives in exactly ONE cell keyed
    ``(block, salt(x), salt(y))``, so both sides replicate ``n_salt``×
    (an explode — the A side enumerates the partner's salt, the B side
    its own row's partner slots) and the hot block's n² comparisons
    become n_salt² tasks of (n/n_salt)² — the replicated-salt self-join.
    Cost: 2·n_salt× shuffle volume, so at 100 TB route ONLY the blocks
    the max_block scan flags through this variant and the remainder
    through the plain join (the probe in scripts/skew_probe.py measures
    both; pair-set equality is pinned by tests/test_linkage.py).
    """
    cols = [id_col, *block_cols, *[f[0] for f in fields]]
    base = df.select(*dict.fromkeys(cols)).withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_salt))
    )
    slots = F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    a = base.select(
        *[F.col(c).alias(f"a_{c}") for c in base.columns],
        slots.alias("_sb"),
    ).withColumnRenamed("a__salt", "_sa")
    b = base.select(
        *[F.col(c).alias(f"b_{c}") for c in base.columns],
        slots.alias("_sa2"),
    ).withColumnRenamed("b__salt", "_sb2")
    cond = (
        (F.col(f"a_{id_col}") < F.col(f"b_{id_col}"))
        & (F.col("_sa") == F.col("_sa2"))
        & (F.col("_sb") == F.col("_sb2"))
    )
    for bc in block_cols:
        cond = cond & (F.col(f"a_{bc}") == F.col(f"b_{bc}"))
    score = F.lit(0.0)
    for col, kind, w in fields:
        score = score + F.lit(float(w)) * _field_sim(
            kind, F.col(f"a_{col}"), F.col(f"b_{col}")
        )
    return (
        a.join(b, cond)
        .select(
            F.col(f"a_{id_col}").cast("bigint").alias("a_id"),
            F.col(f"b_{id_col}").cast("bigint").alias("b_id"),
            F.round(score * SCALE).cast("bigint").alias("score_q"),
        )
        .filter(F.col("score_q") >= int(round(threshold * SCALE)))
    )


def _sim_sql(kind: str, a: str, b: str) -> str:
    if kind == "exact":
        return f"(CASE WHEN {a} = {b} THEN 1.0 ELSE 0.0 END)"
    if kind == "edit":
        return (
            f"(1.0 - levenshtein({a}, {b}) / "
            f"greatest(length({a}), length({b}), 1))"
        )
    if kind == "numeric":
        return f"(1.0 - abs({a} - {b}) / greatest(abs({a}), abs({b}), 1))"
    raise ValueError(kind)


def linkage_pairs_cte_sql(
    table: str,
    id_col: str,
    block_cols: list[str],
    fields: list[tuple[str, str, float]],
    threshold: float,
) -> str:
    """DuckDB CTE body mirroring :func:`linkage_pairs` term for term
    (same weighted-sum order → same IEEE double → same quantized
    integer). Yields a CTE named ``er_pairs(a_id, b_id, score_q)``."""
    block = " AND ".join(f"a.{c} = b.{c}" for c in block_cols)
    score = " + ".join(
        f"{float(w)} * {_sim_sql(kind, 'a.' + col, 'b.' + col)}"
        for col, kind, w in fields
    )
    return f"""
    er_pairs AS (
      SELECT * FROM (
        SELECT CAST(a.{id_col} AS BIGINT) AS a_id,
               CAST(b.{id_col} AS BIGINT) AS b_id,
               CAST(round((0.0 + {score}) * {SCALE}) AS BIGINT) AS score_q
        FROM {table} a JOIN {table} b
          ON a.{id_col} < b.{id_col} AND {block}
      ) WHERE score_q >= {int(round(threshold * SCALE))}
    )"""
