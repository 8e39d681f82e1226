"""Spark-free tests for scripts/scaling_probe.py's pure parts: table
parsing, query selection, grading and growth attribution, the
per-factor carry-forward, the fixture-cache key and the one SCALING.md
section writer."""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "scripts"))

import scaling_probe as sp  # noqa: E402
from beis_orp_data_service_spark import declared  # noqa: E402

M = sp.Measured

MAIN_TEXT = """# SCALING — empirical wall-ratio probe

intro

| query | base s | 10× s | ratio | rows× | age | verdict |
|---|---|---|---|---|---|---|
| decontaminate_fuzzy | 17.55 | 15.16 | 0.86 | 10.00 | 0 | OK |
| q_project | 0.15 | 0.12 | 0.77 | — | 4 | OK (carried) |

Outliers: 0.

## simhash_pairs: bucket-occupancy diagnosis

| scale | docs | buckets | max bucket | p99 bucket | candidate pairs | output pairs |
|---|---|---|---|---|---|---|
| 1× | 5000 | 1939 | 1656 | 138 | 3863559 | 425432 |

## 100× tier

| query | base s | 100× s | ratio | rows× | verdict |
|---|---|---|---|---|---|
| decontaminate_fuzzy | 3.13 | 40.75 | 13.01 | 100.00 | OK |
"""


def _sections(text: str) -> dict:
    return dict(sp.split_sections(text.splitlines()))


# ---- row parsing ----

def test_parse_new_nine_cell_rows():
    rows = sp.parse_rows(_sections(MAIN_TEXT)[None])
    assert rows == {
        "decontaminate_fuzzy": M(17.55, 15.16, 0.86, 10.0, 0),
        "q_project": M(0.15, 0.12, 0.77, None, 4),
    }


def test_parse_old_eight_cell_rows_and_pre_age_rows():
    old = [
        "| query | base s | 10× s | ratio | age | verdict |",
        "|---|---|---|---|---|---|",
        "| cos_sim | 1.00 | 24.04 | 24.04 | 3 | OK |",
    ]
    assert sp.parse_rows(old) == {"cos_sim": M(1.0, 24.04, 24.04, None, 3)}
    pre_age = [
        "| query | base s | 10× s | ratio | verdict |",
        "| cos_sim | 1.00 | 2.00 | 2.00 | OK |",
    ]
    assert sp.parse_rows(pre_age) == {"cos_sim": M(1.0, 2.0, 2.0, None, 1)}


def test_parse_rows_without_age_keep_their_rows_ratio():
    rows = sp.parse_rows(_sections(MAIN_TEXT)["100× tier"])
    assert rows == {"decontaminate_fuzzy": M(3.13, 40.75, 13.01, 100.0, 1)}


def test_parse_ignores_non_registry_and_unparseable_rows():
    lines = [
        "| query | base s | 10× s | ratio | rows× | age | verdict |",
        "| not_a_query | 1.00 | 2.00 | 2.00 | 1.00 | 0 | OK |",
        "| 1× | 5000 | 1939 | 1656 | 138 | 3863559 | 425432 |",
        "| cos_sim | n/a | 2.00 | 2.00 | 1.00 | 0 | OK |",
    ]
    assert "not_a_query" not in declared.REGISTRY
    assert sp.parse_rows(lines) == {}
    diag = _sections(MAIN_TEXT)["simhash_pairs: bucket-occupancy diagnosis"]
    assert sp.parse_rows(diag) == {}


def test_carried_rows_never_cross_factor_tables():
    secs = _sections(MAIN_TEXT)
    ten = sp.parse_rows(secs.get(sp.section_title(10), []))
    hundred = sp.parse_rows(secs.get(sp.section_title(100), []))
    two = sp.parse_rows(secs.get(sp.section_title(2), []))
    assert ten["decontaminate_fuzzy"].big_s == 15.16
    assert hundred["decontaminate_fuzzy"].big_s == 40.75
    assert "q_project" not in hundred and two == {}


# ---- selection ----

def _prior(names, age=0):
    return {n: M(1.0, 2.0, 2.0, 1.0, age) for n in names}


def test_select_force_includes_never_probed():
    registry = sorted(declared.REGISTRY)
    missing = registry[:2]
    prior = _prior(registry[2:])
    chosen = sp.select(prior, [], [])
    assert chosen == missing


def test_select_rotates_over_age_oldest_first_capped():
    registry = sorted(declared.REGISTRY)
    prior = _prior(registry)
    old = registry[: sp.ROTATE_CAP + 5]
    for i, name in enumerate(old):
        prior[name] = prior[name]._replace(age=sp.MAX_CARRY_AGE + i % 4)
    chosen = sp.select(prior, [], [])
    assert len(chosen) == sp.ROTATE_CAP
    ages = [prior[n].age for n in chosen]
    assert ages == sorted(ages, reverse=True)
    # rows one run short of MAX_CARRY_AGE stay carried
    young = _prior(registry, age=sp.MAX_CARRY_AGE - 2)
    assert sp.select(young, [], []) == []


def test_select_slowest_skips_sf_independent_after_ten():
    registry = sorted(set(declared.REGISTRY) - sp.SF_INDEPENDENT)
    indep = sorted(sp.SF_INDEPENDENT)[0]
    by_cost = registry[:10] + [indep] + registry[10:30]
    chosen = sp.select(_prior(declared.REGISTRY), by_cost, [])
    assert chosen == registry[:20]


def test_select_named_queries_exactly():
    prior = _prior(sorted(declared.REGISTRY), age=9)
    named = ["simhash_pairs", "cos_sim", "simhash_pairs"]
    assert sp.select(prior, ["q_project"], named) == ["simhash_pairs", "cos_sim"]


# ---- grading and attribution ----

def test_grade_sf_independent_is_never_graded():
    assert sp.grade("stream_ingest_e2e", 99.0, 1.0, 10) == (
        "sf-independent fixture (not graded)", 0
    )


def test_grade_quadratic_by_design_uses_factor_squared():
    verdict, bad = sp.grade("cos_sim", 100.0, 100.0, 10)
    assert bad == 0 and "graded vs 1.5·10²" in verdict
    verdict, bad = sp.grade("cos_sim", 151.0, 100.0, 10)
    assert bad == 1 and "kernel itself degraded" in verdict
    # the same rule holds at any factor
    assert sp.grade("cos_sim", 5.0, 4.0, 2)[1] == 0


def test_grade_bar_and_attribution():
    assert sp.grade("q_project", 15.0, 10.0, 10) == ("OK", 0)
    assert sp.grade("q_project", 16.0, 10.0, 10) == (
        "**OUTLIER** — diagnose plan", 1
    )
    named, bad = sp.grade("jaccard_prefix_join", 5.0, 1.0, 10)
    assert bad == 0
    assert named == "OK — wall>2×rows: " + sp.GROWTH_CAUSES["jaccard_prefix_join"]
    assert "q_project" not in sp.GROWTH_CAUSES
    verdict, bad = sp.grade("q_project", 5.0, 1.0, 10)
    assert bad == 1 and "UNATTRIBUTED" in verdict
    # wall ratio ≤ 2 is the fixed-overhead floor; unknown rows ratio
    # (rows measured before the column) is never attributed
    assert sp.grade("q_project", 2.0, 0.1, 10) == ("OK", 0)
    assert sp.grade("q_project", 5.0, None, 10) == ("OK", 0)


def test_carried_rows_are_graded_like_fresh_ones():
    fresh = {"q_project": M(1.0, 5.0, 5.0, 1.0, 0)}
    prior = {
        "q_project": M(1.0, 1.0, 1.0, 1.0, 7),
        "cos_sim": M(1.0, 100.0, 100.0, 100.0, 2),
        "jaccard_prefix_join": M(1.0, 5.0, 5.0, 1.0, 0),
    }
    rows = sp.merge(fresh, prior)
    assert list(rows) == ["q_project", "cos_sim", "jaccard_prefix_join"]
    assert rows["q_project"].age == 0
    assert rows["cos_sim"].age == 3 and rows["jaccard_prefix_join"].age == 1
    table, n_bad = sp.render_table(rows, 10)
    assert n_bad == 1  # the fresh unattributed q_project row
    assert table[0] == "| query | base s | 10× s | ratio | rows× | age | base | verdict |"
    assert table[2].startswith("| q_project | 1.00 | 5.00 | 5.00 | 1.00 | 0 |")
    assert "UNATTRIBUTED" in table[2] and "(carried)" not in table[2]
    assert table[3].startswith("| cos_sim | 1.00 | 100.00 | 100.00 | 100.00 | 3 | — | OK (pair-")
    assert table[3].endswith("(carried) |")
    assert "wall>2×rows" in table[4] and table[4].endswith("(carried) |")
    # a rendered table parses back to the same rows
    assert sp.parse_rows(table) == rows


def test_each_row_keeps_the_base_it_was_measured_on():
    """Rows written before the ``base`` column read the section's
    ``Base`` line; a run on another base writes its own base on its
    fresh rows and carries every other row's base unchanged."""
    old_section = [
        "Base `/data/sf0.1` vs self-authored **10×** inflation (...).",
        "",
        "| query | base s | 10× s | ratio | rows× | age | verdict |",
        "|---|---|---|---|---|---|---|",
        "| cos_sim | 1.00 | 2.00 | 2.00 | 1.00 | 0 | OK |",
        "| q_project | 1.00 | 1.00 | 1.00 | 1.00 | 2 | OK (carried) |",
    ]
    prior = sp.parse_rows(old_section)
    assert {k: m.base for k, m in prior.items()} == {
        "cos_sim": "/data/sf0.1", "q_project": "/data/sf0.1",
    }
    fresh = {"q_project": M(0.5, 0.6, 1.2, 1.0, 0, "/data/sf0.001")}
    table, _ = sp.render_table(sp.merge(fresh, prior), 10)
    body = sp.section_body("/data/sf0.001", 10, 1, "local[2]", table, 0)
    rows = sp.parse_rows(body)
    assert rows["q_project"].base == "/data/sf0.001"
    assert rows["cos_sim"] == M(1.0, 2.0, 2.0, 1.0, 1, "/data/sf0.1")


# ---- fixture cache key ----

def test_fixture_key_is_base_and_factor():
    a = sp.fixture_dir("/data/sf0.01", 10)
    assert a == os.path.join(sp.SCALE_DIR, "sf0.01-x10")
    assert sp.fixture_dir("/data/sf0.01/", 10) == a
    assert sp.fixture_dir("/data/sf0.1", 10) != a
    assert sp.fixture_dir("/data/sf0.01", 100) != a
    assert sp.SCALE_DIR == os.path.join(REPO, ".scale")


# ---- the one section writer ----

def test_write_section_preserves_other_content(tmp_path):
    p = tmp_path / "SCALING.md"
    p.write_text("# SCALING\n\nintro\n\n## other section\n\nkeep me\n")
    sp.write_section(str(p), "100x tier", ["| a | 1 |"])
    assert p.read_text() == (
        "# SCALING\n\nintro\n\n## other section\n\nkeep me\n"
        "\n## 100x tier\n\n| a | 1 |\n"
    )
    sp.write_section(str(p), "100x tier", ["| b | 2 |"])
    text = p.read_text()
    assert "| b | 2 |" in text and "| a | 1 |" not in text
    assert text.count("## 100x tier") == 1
    assert "keep me" in text


def test_write_section_rerun_leaves_one_copy_and_every_other_byte(tmp_path):
    p = tmp_path / "SCALING.md"
    p.write_text(MAIN_TEXT)
    body = ["fresh 2x table", "", "Outliers: 0."]
    sp.write_section(str(p), "2× tier", body)
    once = p.read_text()
    sp.write_section(str(p), "2× tier", body)
    assert p.read_text() == once
    assert once.count("## 2× tier") == 1
    assert once.startswith(MAIN_TEXT)
    # replacing a middle section keeps its neighbours byte-for-byte
    sp.write_section(str(p), "simhash_pairs: bucket-occupancy diagnosis", ["x"])
    text = p.read_text()
    head, _, tail = MAIN_TEXT.partition("## simhash_pairs")
    assert text.startswith(head + "## simhash_pairs: bucket-occupancy diagnosis\n\nx\n\n## 100× tier")
    assert text.endswith(tail.partition("## 100× tier")[2] + "\n## 2× tier\n\nfresh 2x table\n\nOutliers: 0.\n")


def test_write_section_replaces_the_preamble_only(tmp_path):
    p = tmp_path / "SCALING.md"
    p.write_text(MAIN_TEXT)
    sp.write_section(str(p), None, ["# SCALING — new", "", "table"])
    text = p.read_text()
    rest = MAIN_TEXT[MAIN_TEXT.index("## simhash_pairs"):]
    assert text == "# SCALING — new\n\ntable\n\n" + rest


def test_measure_warms_each_query_before_timing_either_size(monkeypatch):
    calls = []

    class Frame:
        def __init__(self, d):
            self.d = d

        def count(self):
            return 10 if self.d == "big" else 5

    monkeypatch.setitem(
        declared.REGISTRY, "fake_q", declared.QueryDef(lambda _s, d: Frame(d), None)
    )
    monkeypatch.setattr(sp, "materialize", lambda df: calls.append(("warm", df.d)))

    def timed(_spark, fn, d, reps):
        calls.append(("time", d))
        return [2.0 if d == "big" else 1.0] * reps

    monkeypatch.setattr(sp, "time_query", timed)
    m = sp.measure(None, "fake_q", "base", "big", 1)
    assert calls == [("warm", "base"), ("time", "base"), ("time", "big")]
    assert (m.base_s, m.big_s, m.ratio, m.rows_ratio) == (1.0, 2.0, 2.0, 2.0)
