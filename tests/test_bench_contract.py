"""Driver-parseability contract for bench.py.

The driver captures only the TAIL of bench stdout and parses the last
line — three rounds of BENCH_r{N}.json came back `parsed: null` before
the summary-last rule landed. The record/summary shape is pinned
Spark-free on ``bench.bench_output`` with a synthetic registry-sized
map:
  - the LAST stdout line is a standalone JSON object with the driver's
    expected fields and the per-query median map;
  - the full record (with the per-query map) precedes it and matches
    the on-disk record;
  - the rep spread is file-only, and host load rides everywhere.
One real CLI run on a two-query subset, outside the repo cwd, pins
exit 0 and a parseable last line. The full-registry run is covered by
running the registry bench itself.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import bench_output  # noqa: E402
from conftest import SF_SMOKE  # noqa: E402

SUMMARY_FIELDS = {
    "metric", "value", "unit", "n_queries", "sf", "reps", "stat",
    "load_start", "load_end", "slowest10", "sampled", "queries",
}


def _synthetic_output(n: int = 290, subset: bool = False):
    samples = {
        f"q{i:03d}": [0.01 * i + 0.3, 0.01 * i + 0.1, 0.01 * i + 0.2]
        for i in range(n)
    }
    record, lines = bench_output(
        samples,
        sf=0.1,
        reps=3,
        load_start=[0.5, 0.4, 0.3],
        load_end=[0.6, 0.5, 0.4],
        subset=subset,
    )
    return samples, record, lines


def test_summary_is_last_line_with_the_per_query_map():
    samples, _, lines = _synthetic_output()
    summary = json.loads(lines[-1])  # the driver's tail-parse target
    assert set(summary) == SUMMARY_FIELDS
    assert summary["metric"] == "declared_queries_total_wall"
    assert summary["unit"] == "sec"
    assert summary["stat"] == "median"
    assert summary["sf"] == 0.1 and summary["reps"] == 3
    assert summary["n_queries"] == 290
    # the PER-QUERY MEDIAN MAP rides the summary (last) line itself —
    # anything printed earlier is lost to the driver's tail capture
    assert len(summary["queries"]) == summary["n_queries"]
    assert summary["queries"]["q007"] == round(0.01 * 7 + 0.2, 3)
    assert summary["value"] == round(
        sum(sorted(s)[1] for s in samples.values()), 3
    )
    assert list(summary["slowest10"]) == [f"q{i:03d}" for i in range(289, 279, -1)]


def test_full_record_precedes_summary_and_matches_disk():
    _, record, lines = _synthetic_output()
    assert len(lines) == 2
    full, summary = json.loads(lines[0]), json.loads(lines[1])
    assert full["queries"] == summary["queries"]
    assert full["value"] == summary["value"]
    # the disk record is what BENCH_LOCAL.json receives
    disk = json.loads(json.dumps(record))
    assert {k: v for k, v in disk.items() if k != "spread"} == full


def test_spread_is_file_only_and_brackets_the_median():
    samples, record, lines = _synthetic_output()
    full = json.loads(lines[0])
    assert "spread" not in full and "spread" not in json.loads(lines[1])
    assert set(record["spread"]) == set(record["queries"]) == set(samples)
    for q, (lo, med, hi) in record["spread"].items():
        assert lo <= med <= hi
        assert med == record["queries"][q]


def test_load_fields_everywhere():
    _, record, lines = _synthetic_output()
    for rec in (record, *map(json.loads, lines)):
        assert len(rec["load_start"]) == 3
        assert len(rec["load_end"]) == 3


def test_subset_flag_marks_both_records():
    _, record, lines = _synthetic_output(n=2, subset=True)
    assert record["subset"] is True
    assert all(json.loads(line)["subset"] is True for line in lines)
    _, record, lines = _synthetic_output(n=2)
    assert "subset" not in record and "subset" not in json.loads(lines[1])


def test_bench_summary_is_last_stdout_line(tmp_path):
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=SF_SMOKE,
        SPARK_GRAFT_BENCH_REPS="1",
        SPARK_GRAFT_CPUS="8",
        # keep the committed sf0.1 BENCH_LOCAL.json out of reach
        SPARK_GRAFT_BENCH_OUT=str(tmp_path / "BENCH_LOCAL.json"),
        # Python workers unpickle package UDFs: the repo must be on
        # PYTHONPATH when bench runs outside the repo cwd
        PYTHONPATH=REPO,
    )
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"), "q_project", "q_tpch19"],
        capture_output=True,
        text=True,
        env=env,
        cwd=str(tmp_path),  # must not depend on repo cwd
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    summary = json.loads(lines[-1])
    assert set(summary) == SUMMARY_FIELDS | {"subset"}
    assert summary["sf"] == 0.001
    assert sorted(summary["queries"]) == ["q_project", "q_tpch19"]
    assert json.loads(lines[-2])["queries"] == summary["queries"]
    # subset runs never write the full-registry artifact
    assert not (tmp_path / "BENCH_LOCAL.json").exists()
