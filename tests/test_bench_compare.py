"""Policy unit tests for scripts/bench_compare.py — the mechanical
bench-regression line (per-query common-set ratios with an additive
jitter allowance; sub-second queries can swing 1.4-1.9x with zero code
change, so a bare ratio threshold misfires)."""

import sys

sys.path.insert(0, "scripts")

from bench_compare import JITTER, RATIO, compare


def test_subsecond_jitter_never_flags():
    old = {"a": 0.30, "b": 0.57, "c": 0.83}
    new = {"a": 0.57, "b": 0.93, "c": 1.17}  # the r11 judge-flag trio
    r = compare(old, new)
    assert r["flagged"] == {}


def test_real_regression_on_slow_query_flags():
    r = compare({"q": 10.0}, {"q": 21.0})
    assert "q" in r["flagged"]
    assert r["flagged"]["q"]["ratio"] == 2.1


def test_boundary_is_ratio_times_old_plus_jitter():
    old = {"q": 2.0}
    line = RATIO * 2.0 + JITTER
    assert compare(old, {"q": line - 0.01})["flagged"] == {}
    assert "q" in compare(old, {"q": line + 0.01})["flagged"]


def test_added_removed_never_flag_and_median():
    r = compare({"a": 1.0, "gone": 5.0}, {"a": 1.0, "new": 50.0})
    assert r["flagged"] == {}
    assert r["added"] == ["new"] and r["removed"] == ["gone"]
    assert r["n_common"] == 1 and r["median_ratio"] == 1.0


def test_improvement_reported_symmetrically():
    r = compare({"q": 10.0}, {"q": 4.0})
    assert "q" in r["improved"] and r["flagged"] == {}


def test_rep_min_auto_adjudicates_flag():
    # median inflated 4x by in-run contention, but one rep ran clean:
    # the flag self-adjudicates, exit policy sees zero flags
    old, new = {"q": 2.0}, {"q": 8.0}
    new_rec = {"queries": new, "spread": {"q": [2.1, 8.0, 9.5]}}
    r = compare(old, new, new_rec=new_rec)
    assert r["flagged"] == {}
    assert r["auto_adjudicated"]["q"]["new_rep_min"] == 2.1


def test_rep_min_above_line_keeps_flag():
    # every rep was slow — a real regression must NOT self-adjudicate
    old, new = {"q": 2.0}, {"q": 8.0}
    new_rec = {"queries": new, "spread": {"q": [7.8, 8.0, 8.3]}}
    r = compare(old, new, new_rec=new_rec)
    assert "q" in r["flagged"]
    assert r["auto_adjudicated"] == {}


def test_loaded_host_annotation_on_surviving_flags():
    old, new = {"q": 2.0}, {"q": 8.0}
    old_rec = {"queries": old, "load_start": [4.2, 1.0, 0.5]}
    new_rec = {"queries": new, "spread": {"q": [7.8, 8.0, 8.3]}}
    r = compare(old, new, old_rec=old_rec, new_rec=new_rec)
    assert r["loaded_host"] == {"old": 4.2}
    assert r["flagged"]["q"]["loaded_host"] == {"old": 4.2}


def test_idle_records_carry_no_loaded_annotation():
    old, new = {"q": 2.0}, {"q": 2.1}
    old_rec = {"queries": old, "load_start": [0.3, 0.2, 0.1]}
    new_rec = {"queries": new, "load_start": [0.4, 0.3, 0.2]}
    r = compare(old, new, old_rec=old_rec, new_rec=new_rec)
    assert r["loaded_host"] is None and r["flagged"] == {}


def test_legacy_records_without_evidence_fields_still_work():
    # pre-r14 records (no spread / load_start): policy falls back to
    # the bare flag line, nothing crashes
    r = compare({"q": 2.0}, {"q": 8.0}, old_rec={"queries": {"q": 2.0}})
    assert "q" in r["flagged"] and r["auto_adjudicated"] == {}

