"""Empirical scaling probe: measure, don't claim.

Times registry queries on a base fixture AND on a ``factor``×
self-authored inflation of it, and reports the wall-clock ratio per
query. For a data-linear (or n·log n) operator the ratio must stay
≤ ~1.5 × factor; anything above is a superlinearity the plan audit
can't see (degenerate hot band keys, accidental all-pairs growth,
driver pulls scaling with the corpus).

Inflation is deterministic replication with PERTURBED ids/text/vectors
(same schema). Replica k of a document translates a 9-letter alphabet
slice through permutation k (distinct permutation per replica, identity
for k=0), so replicas are NOT near-duplicates of their originals — the
dedup surfaces keep their candidate densities instead of exploding with
planted cross-replica duplicates (which would measure output growth,
not engine scaling). Embedding replicas get per-(dim, k) deterministic
±25% scaling, events get offset ids/users. Untouched tables are
symlinked.

Each factor has one table in SCALING.md: the 10× table opens the file,
any other factor lives in a ``## {factor}× tier`` section. A run
rewrites only its factor's table; every other byte of the file stays.

- Without ``--queries`` (the coverage run): measures the ~20 slowest
  queries of BENCH_LOCAL.json, every registry query without a row in
  this factor's table, and the over-age carried rows; exits 2 if any
  registry query is still without a row.
- With ``--queries``: measures exactly the named queries.

Either way the other rows of the table carry forward one run older.

Usage:
    python scripts/scaling_probe.py --base SF_DIR --factor N \\
        [--reps R] [--queries Q [Q ...]]

Exit status: 0 clean, 1 outliers, 2 coverage gap.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import re
import sys
from typing import NamedTuple

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from beis_orp_data_service_spark import declared  # noqa: E402
from beis_orp_data_service_spark.catalog import (  # noqa: E402
    TABLES,
    load_table,
    table_path,
)
from beis_orp_data_service_spark.session import get_spark  # noqa: E402
from bench import materialize, time_query  # noqa: E402

SCALING_MD = os.path.join(REPO, "SCALING.md")
BENCH_LOCAL = os.path.join(REPO, "BENCH_LOCAL.json")
SCALE_DIR = os.path.join(REPO, ".scale")

MAIN_FACTOR = 10  # the table that opens SCALING.md
STRIDE = 10**12  # replica id offset: keeps % predicates per-replica-stable
INFLATED = ("documents", "embeddings", "events", "part")

# part is inflated (perturbed p_name per replica) so er_pairs/
# er_clusters see real data growth: replicas land in NEW name-prefix
# blocks, the way a growing catalogue grows name diversity — block
# sizes stay bounded while block count scales, which is exactly the
# property the refined (brand, type, name_pfx) key + max_block guard
# claims.


# All-pairs-over-a-bounded-sample kernel demos: their OUTPUT is
# factor²-quadratic by construction (the declared query is a sampled
# sub-square exercising the similarity kernel itself; the scale path
# for the same semantics is the banded/LSH/ANN family, probed above).
# Graded against 1.5·factor² — a ratio past even that means the kernel
# itself degraded, not just the pair count.
QUADRATIC_BY_DESIGN = {"cos_sim"}


# carried rows older than this many probe runs are rotated back into
# the fresh set, oldest first — a carried measurement is coverage, not
# a regression guarantee, so it must not fossilize forever
MAX_CARRY_AGE = 3
ROTATE_CAP = 15  # bound per-run re-probe cost

# Growth attribution (r13 verdict ask #6): the probe records each
# fresh row's OUTPUT-rows ratio next to its wall ratio, separating
# engine behavior from result growth mechanically. A row whose wall
# ratio exceeds 2× its rows ratio (and isn't just fixed-overhead
# noise, wall ratio > 2) carries a NAMED cause from this dict — or
# renders UNATTRIBUTED, which the probe reports loudly. Causes are
# claims about the ENGINE-side work that grows with input while the
# output doesn't; name them from the plan, don't guess.
GROWTH_CAUSES = {
    "jaccard_prefix_join": "prefix-bucket candidate pairs grow with "
    "corpus (verify step output-filtered; candidates are the work)",
    "pretrain_corpus": "full pipeline rescans the inflated corpus at "
    "each stage; output is the fixed token-budget selection",
    "nb_lang_score": "vocabulary × class score matrix grows with "
    "distinct tokens while the output stays per-class",
    "er_clusters": "pointer-doubling rounds touch every edge per "
    "round; cluster OUTPUT is block-bounded",
    "emb_clusters_cells": "per-cell Gram work grows with vectors per "
    "cell; cluster assignments output one row per vector",
    "decontaminate_fuzzy": "LSH bucket explode + verify grows with "
    "corpus featurization; matches output stays probe-bounded",
    "minhash_lsh_pairs": "OR-amplified bucket join candidates grow "
    "with corpus; emitted pairs are threshold-filtered",
    "ngram_diversity": "distinct n-gram state grows near-linearly "
    "with fresh text while the report is one row",
    "tokenizer_sweep": "trainer rounds rescan the grown distinct-word "
    "vocab; the report is 12 rows at any scale",
    "containment_join": "prefix-filter candidates grow with corpus; "
    "containment survivors are data-dependent",
    "stream_dedup_ttl_e2e": "fixture-built stream; state and batch "
    "count are sf-independent by design",
    "dup_clusters": "pointer-doubling rounds touch every candidate "
    "edge per round; cluster rows are dup-bounded",
    "canonical_docs": "same pointer-doubling lineage as dup_clusters "
    "feeding the per-cluster argmax",
    "decontaminate": "n-gram overlap screen scans the grown corpus; "
    "flagged output is probe-bounded",
    "dedup_savings": "cluster closure work grows with corpus; the "
    "savings report is one row",
    "wordpiece_encode": "encode pass scans the grown corpus; the "
    "longest-match trie work is per-token",
    "seq_pack": "packing scans all grown documents; emitted sequences "
    "grow with token mass, rows≈docs/pack_len",
    "psi_drift": "one full scan + reference min/max pass over the "
    "grown events table; the PSI report stays n_bins rows per group "
    "(sub-second wall both sizes — scan growth, not plan growth)",
    "ann_recall_report": "the exact ground-truth top-k arms "
    "brute-force the grown vector table and the kmeans/IVF/PQ arms "
    "re-fit and re-assign over 10x vectors; the recall report is 6 "
    "rows at any scale",
}

ALPHA = "aeiounrst"  # ~50% of English letter mass — permuting it drops
#                      char-5-shingle Jaccard vs the original below any
#                      dedup threshold in the registry

# Queries whose fixtures are self-built and bounded by design (the
# ingest/SCD family builds ~60-doc streams regardless of sf) — their
# ratio is expected ~1 and is reported as sf-independent, not graded.
SF_INDEPENDENT = {"stream_ingest_e2e", "scd_changes", "scd_time_travel",
                  "scd_vacuum_history", "lsh_index_compact_probe",
                  "ingest_e2e", "stream_tumbling", "stream_session"}


class Measured(NamedTuple):
    """One table row: best wall seconds at each size, their ratio, the
    output-rows ratio (None for rows measured before that column
    existed), ``age`` = probe runs since measured (0 = this run) and
    the base directory the row was measured on (carried unchanged)."""

    base_s: float
    big_s: float
    ratio: float
    rows_ratio: float | None
    age: int
    base: str | None = None


def _perm(k: int) -> str:
    chars = list(ALPHA)
    random.Random(k).shuffle(chars)
    return "".join(chars)


def fixture_dir(base: str, factor: int) -> str:
    """Inflation cache entry for ``base`` at ``factor``: keyed by both,
    so a run on another base never reuses this one's fixture."""
    name = os.path.basename(os.path.normpath(os.path.abspath(base)))
    return os.path.join(SCALE_DIR, f"{name}-x{factor}")


def inflate(spark, src: str, dst: str, factor: int) -> None:
    os.makedirs(dst, exist_ok=True)
    for t in TABLES:
        sp = os.path.abspath(table_path(src, t))
        if not os.path.exists(sp):
            continue
        dp = table_path(dst, t)
        if t not in INFLATED:
            if not os.path.exists(dp):
                os.symlink(sp, dp)
            continue
        if os.path.islink(dp):
            os.unlink(dp)  # table newly promoted to INFLATED: rebuild
        if os.path.exists(os.path.join(dp, "_SUCCESS")):
            continue  # reuse a completely written fixture only
        base = load_table(spark, src, t)
        parts = []
        for k in range(factor):
            if t == "documents":
                text = (
                    F.col("text") if k == 0
                    else F.translate(F.col("text"), ALPHA, _perm(k))
                )
                parts.append(
                    base.select(
                        (F.col("doc_id") + k * STRIDE).alias("doc_id"),
                        text.alias("text"),
                        "lang",
                        "source",
                        F.length(text).cast("bigint").alias("n_chars"),
                    )
                )
            elif t == "embeddings":
                vec = (
                    F.col("embedding") if k == 0
                    else F.transform(
                        "embedding",
                        lambda x, i: (
                            x
                            * (
                                1.0
                                + (
                                    F.pmod(
                                        F.xxhash64(i * 1000 + F.lit(k)),
                                        F.lit(200),
                                    ).cast("double")
                                    - 100.0
                                )
                                / 400.0
                            )
                        ).cast("float"),
                    )
                )
                parts.append(
                    base.select(
                        (F.col("vec_id") + k * STRIDE).alias("vec_id"),
                        vec.alias("embedding"),
                        "label",
                    )
                )
            elif t == "part":
                # perturbed names: replicas form NEW name-prefix
                # linkage blocks instead of piling into existing ones
                name = (
                    F.col("p_name") if k == 0
                    else F.translate(F.col("p_name"), ALPHA, _perm(k))
                )
                parts.append(
                    base.select(
                        (F.col("p_partkey") + k * STRIDE).alias("p_partkey"),
                        name.alias("p_name"),
                        "p_brand",
                        "p_type",
                        "p_size",
                        "p_retailprice",
                    )
                )
            else:  # events
                parts.append(
                    base.select(
                        (F.col("event_id") + k * STRIDE).alias("event_id"),
                        "ts",
                        (F.col("user_id") + k * 10_000_000).alias("user_id"),
                        "event_type",
                        "value",
                        "props",
                    )
                )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.write.mode("overwrite").parquet(dp)
        print(f"inflated {t}: {factor}x -> {dp}")


def split_sections(lines: list[str]) -> list[tuple[str | None, list[str]]]:
    """(title, lines) per '## title' section, heading line included;
    the text before the first heading comes first, titled None."""
    parts: list[tuple[str | None, list[str]]] = [(None, [])]
    for line in lines:
        if line.startswith("## "):
            parts.append((line[3:].strip(), []))
        parts[-1][1].append(line)
    return parts


def write_section(path: str, title: str | None, body: list[str]) -> None:
    """Replace section ``title`` (None: the text before the first
    heading) with ``body``, or append it as a new section; every other
    byte of the file stays as it was."""
    lines: list[str] = []
    if os.path.exists(path):
        with open(path) as f:
            lines = f.read().splitlines()
    parts = split_sections(lines)
    new = _rstrip_blank(body if title is None else [f"## {title}", "", *body])
    for i, (t, old) in enumerate(parts):
        if t == title:
            n_blank = len(old) - len(_rstrip_blank(old))
            parts[i] = (t, new + [""] * n_blank)
            break
    else:
        last = _rstrip_blank(parts[-1][1])
        parts[-1] = (parts[-1][0], last + [""] if last else last)
        parts.append((title, new))
    with open(path, "w") as f:
        f.write("\n".join(x for _, part in parts for x in part) + "\n")


def _rstrip_blank(lines: list[str]) -> list[str]:
    end = len(lines)
    while end and not lines[end - 1].strip():
        end -= 1
    return lines[:end]


def _num(cell: str | None, kind=float):
    try:
        return kind(cell)
    except (TypeError, ValueError):
        return None


def parse_rows(lines: list[str]) -> dict[str, Measured]:
    """Query name -> Measured for every registry row of the tables in
    ``lines`` (one factor's section). Cells are read by their header's
    column names, so rows written before the ``rows×`` column read
    rows_ratio None, rows written before the ``age`` column read
    age 1, and rows written before the ``base`` column read the
    section's ``Base `...``` line. Rows that are not registry queries
    (diagnosis tables' ``| 1× | ...`` rows) are ignored."""
    rows: dict[str, Measured] = {}
    cols: list[str] = []
    header_base = next(
        (m.group(1) for x in lines if (m := re.match(r"Base `([^`]+)`", x))),
        None,
    )
    for line in lines:
        if not line.startswith("|"):
            continue
        cells = [c.strip() for c in line.strip().strip("|").split("|")]
        if cells[0] == "query":
            cols = cells
            continue
        if cells[0] not in declared.REGISTRY or len(cells) != len(cols):
            continue
        nums = [_num(c) for c in cells[1:4]]
        if None in nums:
            continue
        rec = dict(zip(cols, cells))
        age = _num(rec.get("age"), int)
        base = rec.get("base")
        rows[cells[0]] = Measured(
            *nums,
            _num(rec.get("rows×")),
            1 if age is None else age,
            header_base if base in (None, "—") else base,
        )
    return rows


def select(
    prior: dict[str, Measured], by_cost: list[str], queries: list[str]
) -> list[str]:
    """The queries this run measures. Named ``queries``: exactly
    those. Otherwise the coverage run: the 10 slowest of ``by_cost``
    plus the next 10 data-scaling ones, every registry query without
    a ``prior`` row, and the carried rows that would pass
    MAX_CARRY_AGE (oldest first, at most ROTATE_CAP)."""
    if queries:
        return list(dict.fromkeys(queries))
    # slowest-10 regardless of kind, plus the next-10 most expensive
    # DATA-SCALING queries (the sf-independent fixtures' ratio ~1 is a
    # design property, not a measurement)
    chosen = by_cost[:10] + [
        k for k in by_cost[10:] if k not in SF_INDEPENDENT
    ][:10]
    never = sorted(
        k for k in declared.REGISTRY if k not in prior and k not in chosen
    )
    if never:
        print(f"never-probed (force-included): {never}")
    # without rotation a regression in an already-probed operator
    # would hide behind its carried row forever
    stale = sorted(
        (
            k
            for k in prior
            if k not in chosen and prior[k].age + 1 > MAX_CARRY_AGE
        ),
        key=lambda k: (-prior[k].age, k),
    )[:ROTATE_CAP]
    if stale:
        print(f"over-age carried rows (re-probed): {stale}")
    return chosen + never + stale


def merge(
    fresh: dict[str, Measured], prior: dict[str, Measured]
) -> dict[str, Measured]:
    """This run's table: fresh rows in measured order, then every other
    prior row by name, carried one run older."""
    carried = {
        k: m._replace(age=m.age + 1)
        for k, m in sorted(prior.items())
        if k not in fresh
    }
    return {**fresh, **carried}


def grade(
    name: str, ratio: float, rows_ratio: float | None, factor: int
) -> tuple[str, int]:
    """Verdict text and outlier count for one row, fresh or carried.
    Wall growth beyond output growth (ratio > 2 and > 2× rows ratio)
    needs a GROWTH_CAUSES entry or counts as an outlier; rows at wall
    ratio ≤ 2 are exempt — at probe scale they measure the JVM floor,
    not engine scaling."""
    if name in SF_INDEPENDENT:
        return "sf-independent fixture (not graded)", 0
    if name in QUADRATIC_BY_DESIGN:
        bar = 1.5 * factor * factor
        ok = (
            "OK (pair-quadratic by design: sampled all-pairs kernel "
            f"demo, graded vs 1.5·{factor}²)"
        )
        bad = "**OUTLIER** — kernel itself degraded"
    else:
        bar, ok, bad = 1.5 * factor, "OK", "**OUTLIER** — diagnose plan"
    n_bad = int(ratio > bar)
    verdict = bad if n_bad else ok
    if rows_ratio is not None and ratio > 2 and ratio > 2 * rows_ratio:
        cause = GROWTH_CAUSES.get(name)
        if cause:
            verdict += f" — wall>2×rows: {cause}"
        else:
            verdict += " — **UNATTRIBUTED engine-side growth**"
            n_bad += 1
    return verdict, n_bad


def render_table(
    rows: dict[str, Measured], factor: int
) -> tuple[list[str], int]:
    """Markdown table lines for one factor, and its outlier count."""
    lines = [
        f"| query | base s | {factor}× s | ratio | rows× | age | base | verdict |",
        "|---|---|---|---|---|---|---|---|",
    ]
    n_bad = 0
    for name, m in rows.items():
        verdict, bad = grade(name, m.ratio, m.rows_ratio, factor)
        n_bad += bad
        if m.age:
            verdict += " (carried)"
        rr = "—" if m.rows_ratio is None else f"{m.rows_ratio:.2f}"
        lines.append(
            f"| {name} | {m.base_s:.2f} | {m.big_s:.2f} | {m.ratio:.2f} | "
            f"{rr} | {m.age} | {m.base or '—'} | {verdict} |"
        )
    return lines, n_bad


def section_title(factor: int) -> str | None:
    return None if factor == MAIN_FACTOR else f"{factor}× tier"


def section_body(
    base: str, factor: int, reps: int, master: str,
    table: list[str], n_bad: int,
) -> list[str]:
    run = (
        f"`scripts/scaling_probe.py`, best-of-{reps} per point, "
        f"`{master}`"
    )
    if factor != MAIN_FACTOR:
        return [
            f"Base `{base}` vs **{factor}×** inflation ({run}). Same "
            f"recipe, grading and growth attribution as the "
            f"{MAIN_FACTOR}× table at the top of this file; pass bar "
            f"ratio ≤ {1.5 * factor:.0f}. Rows carry forward per "
            "factor, each with the `base` it was measured on: this "
            "table never takes rows from another.",
            "",
            *table,
            "",
            f"Outliers: {n_bad}.",
        ]
    return [
        "# SCALING — empirical wall-ratio probe",
        "",
        f"Base `{base}` vs self-authored **{factor}×** inflation "
        f"({run}). Inflation = deterministic replication with "
        "perturbed ids/text/vectors (replicas are NOT near-dups of "
        "their originals — see the script docstring), so ratios "
        "measure ENGINE scaling, not output growth.",
        "",
        f"Pass bar: ratio ≤ {1.5 * factor:.0f} (≈1.5× the data-growth "
        "factor, n·log n slack) for every query whose input actually "
        "inflates; self-built bounded fixtures are reported but not "
        "graded (their work is sf-independent by design).",
        "",
        "Rows measured in an earlier probe run carry forward verbatim "
        "(`age` = probe runs since measured; 0 = fresh this run; "
        "`base` = the base directory the row was measured on, which "
        "can differ from this run's) so "
        "this table always covers the FULL registry — 'no row' can "
        "only ever mean 'never probed', which the script itself fails "
        f"on (exit 2). Carried rows older than {MAX_CARRY_AGE} runs "
        f"rotate back into the fresh set ({ROTATE_CAP}/run, oldest "
        "first), so no measurement fossilizes.",
        "",
        "The `rows×` column is the OUTPUT-rows growth at the same "
        "inflation — the mechanical separation of engine behavior "
        "from result growth. A fresh row whose wall ratio is > 2 and "
        "> 2× its rows ratio must carry a named engine-side cause "
        "(GROWTH_CAUSES in the script); an UNATTRIBUTED such row "
        "counts as an outlier. '—' = measured before this column "
        "existed (re-measured on rotation).",
        "",
        *table,
        "",
        f"Outliers: {n_bad}.",
        "",
        "Probe fixtures live under `.scale/<base>-x<factor>` "
        "(git-ignored) and are reused only when completely written; "
        "rebuild by deleting them. Timings are machine-dependent — "
        "compare ratios, not absolute seconds.",
    ]


def measure(spark, name: str, base: str, big: str, reps: int) -> Measured:
    fn = declared.REGISTRY[name].fn
    # one untimed run before either size is timed: otherwise the base
    # point absorbs the query's first-run costs (code generation, Python
    # workers, fixture builds) and, at --reps 1, the ratio reads low
    materialize(fn(spark, base))
    t, n = {}, {}
    for d in (base, big):
        t[d] = min(time_query(spark, fn, d, reps))
        # OUTPUT rows at each size, so wall growth separates into
        # engine work vs result growth (one extra execution per size)
        n[d] = fn(spark, d).count()
    ratio = t[big] / t[base] if t[base] > 0 else float("inf")
    rows_ratio = n[big] / max(1, n[base])
    print(
        f"{name}: {t[base]:.2f}s -> {t[big]:.2f}s  ratio {ratio:.2f}  "
        f"rows {n[base]} -> {n[big]} ({rows_ratio:.2f}x)"
    )
    return Measured(t[base], t[big], ratio, rows_ratio, 0, base)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(
        description="Time registry queries on a base fixture and on its "
        "inflation; rewrite that factor's table in SCALING.md."
    )
    p.add_argument("--base", required=True, help="base sf directory")
    p.add_argument(
        "--factor", type=int, required=True,
        help="inflation factor; each factor has its own table",
    )
    p.add_argument(
        "--reps", type=int, default=2,
        help="timed runs per point, best one reported (default 2)",
    )
    p.add_argument(
        "--queries", nargs="+", default=[], metavar="Q",
        help="measure exactly these registry queries and carry the "
        "other rows (default: the coverage run)",
    )
    args = p.parse_args(argv)
    unknown = [q for q in args.queries if q not in declared.REGISTRY]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    title = section_title(args.factor)
    lines: list[str] = []
    if os.path.exists(SCALING_MD):
        with open(SCALING_MD) as f:
            lines = f.read().splitlines()
    prior = parse_rows(dict(split_sections(lines)).get(title, []))
    by_cost: list[str] = []
    if not args.queries:
        with open(BENCH_LOCAL) as f:
            bench = json.load(f)["queries"]
        by_cost = sorted(bench, key=lambda k: -bench[k])
    chosen = select(prior, by_cost, args.queries)

    spark = get_spark("scaling-probe")
    big = fixture_dir(args.base, args.factor)
    inflate(spark, args.base, big, args.factor)
    # warm once per size so footer/JVM costs don't land on query 1
    materialize(declared.q_search_flagship(spark, args.base))
    materialize(declared.q_search_flagship(spark, big))

    fresh = {q: measure(spark, q, args.base, big, args.reps) for q in chosen}
    rows = merge(fresh, prior)
    table, n_bad = render_table(rows, args.factor)
    write_section(
        SCALING_MD,
        title,
        section_body(
            args.base, args.factor, args.reps, spark.sparkContext.master,
            table, n_bad,
        ),
    )
    print(f"wrote SCALING.md {args.factor}× table ({n_bad} outliers)")
    uncovered = sorted(k for k in declared.REGISTRY if k not in rows)
    if uncovered and not args.queries:
        print(f"COVERAGE GAP — registry queries with no row: {uncovered}")
        return 2
    return 1 if n_bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
