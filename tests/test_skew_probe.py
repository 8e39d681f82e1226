"""Planted-hot-key skew probe (round-5 ask #8 / round-6 ask #3).

Runs scripts/skew_probe.py as a subprocess — the probe sets session
confs per case and ships at a fixed local[8] parallelism, so it keeps a
session of its own (task metrics come from the driver's status store,
UI off) — and asserts the partition-METRIC contract, not wall time: a boilerplate
text planted on 30% of docs makes the band join's naive max/median
task shuffle-read ratio blow past 6x, and each mitigation (AQE skew
split, replicated-salt join, broadcast) holds it within 4x with the
aggregation results unchanged.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def probe_result():
    out = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "scripts", "skew_probe.py"),
            "/root/testdata/sf0.001",
            "40",
        ],
        capture_output=True,
        text=True,
        timeout=540,
        cwd=REPO,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_plant_creates_a_real_hot_key(probe_result):
    # 30% of 20k inflated docs share one text -> 6k rows per band key
    assert probe_result["n_docs"] == 20000
    assert probe_result["hot_band_key_rows"] >= 5500


def test_naive_join_exhibits_the_incident(probe_result):
    c = probe_result["cases"]["join_naive"]
    # one reducer drags the hot band key: documented, not bounded
    assert c["ratio"] >= 6, c
    assert c["max_records"] >= 6000, c


def test_aqe_skew_split_bounds_the_join(probe_result):
    c = probe_result["cases"]["join_aqe"]
    assert c["ratio"] <= 4, c
    # the bound must come from an actual multi-task split, not a
    # single coalesced reader flattering the ratio
    assert c["n_shuffle_tasks"] >= 4, c


def test_replicated_salt_join_bounds_the_join(probe_result):
    c = probe_result["cases"]["join_salted"]
    assert c["ratio"] <= 4, c
    # the hot key is spread across salts: no task carries the full 6k
    assert c["max_records"] < 4000, c


def test_partial_agg_already_bounds_decomposable_aggs(probe_result):
    # map-side combine: the hot key reaches its reducer as <= n_map
    # partial rows — this is why the decomposable-agg path needs no salt
    assert probe_result["cases"]["agg_naive"]["ratio"] <= 4
    assert probe_result["cases"]["agg_salted"]["ratio"] <= 4


def test_salted_aggregate_result_identical(probe_result):
    assert probe_result["agg_equal"] is True


def test_er_guard_raises_and_salted_matches(probe_result):
    """On the planted hot (brand, type, prefix)
    block, max_block raises; the salted self-join yields the exact
    pair set of the plain join, overall and on the non-degenerate
    remainder."""
    assert probe_result["er_guard_raised"] is True
    assert "max_block" in probe_result["er_guard_msg"]
    assert probe_result["er_pair_sets_equal"] is True
    assert probe_result["er_remainder_equal"] is True
    assert probe_result["er_pairs_plain"] > 0


def test_dominant_group_window_incident_and_two_pass_bound(probe_result):
    """Round 10: the unpartitioned-window class, measured. With one
    language planted on 95% of rows, the ntile window's hottest task
    carries ~the whole corpus; grouped_ntile (two_pass) caps every
    task near total/n_parts — with the outputs exceptAll-equal."""
    assert probe_result["window_results_equal"] is True
    assert probe_result["window_dominant_rows"] >= 0.9 * probe_result[
        "window_total_rows"
    ]
    hot = probe_result["cases"]["window_ntile_dominant"]
    cold = probe_result["cases"]["window_two_pass"]
    # the incident: one window task processes >= 90% of all shuffled rows
    assert hot["max_share"] >= 0.9, hot
    # the remediation: no task sees more than ~4x the ideal N/n_parts
    # slice (20% of total at n_parts=32 is a generous ceiling)
    assert cold["max_share"] <= 0.2, cold
    assert cold["n_shuffle_tasks"] >= 8, cold
