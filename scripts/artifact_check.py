"""Snapshot-artifact equality gate (round-7 verdict ask #2).

Rounds 6 and 7 both shipped snapshot commits whose committed
verification artifacts were stale relative to the final tree (recorded
test/query counts < what HEAD actually contains). This script makes
that failure mechanical instead of procedural: run it as the LAST step
before the end-of-round snapshot commit; it exits non-zero unless

- ``CORRECTNESS_LOCAL.json``'s ``n_queries`` equals ``len(queries())``
  at HEAD and its ``n_fail`` is 0,
- ``CORRECTNESS_ALT.json`` (the perturbed-dataset differential sweep,
  round-9 verdict ask #1) covers the same count with ``n_fail`` 0,
- ``BENCH_LOCAL.json``'s per-query map covers the same count,
- ``PYTEST_LOCAL.txt``'s recorded pass+skip total equals the number of
  tests pytest collects from the current tree (and records 0 failed).

Registry size comes from importing ``declared`` (no SparkSession is
started — the module only builds the name→callable map); the collected
count comes from ``pytest --collect-only -q``.

Usage: python scripts/artifact_check.py
"""

from __future__ import annotations

import json
import pathlib
import re
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))


def main() -> int:
    from beis_orp_data_service_spark import declared

    n_reg = len(declared.REGISTRY)
    errs: list[str] = []

    cj = json.load(open(ROOT / "CORRECTNESS_LOCAL.json"))
    if cj.get("n_queries") != n_reg:
        errs.append(
            f"CORRECTNESS_LOCAL.json records {cj.get('n_queries')} queries "
            f"but HEAD declares {n_reg} — refresh it AFTER the last code "
            "commit (python scripts/check_oracle.py /root/testdata/sf0.01)"
        )
    if cj.get("n_fail", 1) != 0:
        errs.append(f"CORRECTNESS_LOCAL.json records n_fail={cj.get('n_fail')}")

    aj = json.load(open(ROOT / "CORRECTNESS_ALT.json"))
    if aj.get("n_queries") != n_reg:
        errs.append(
            f"CORRECTNESS_ALT.json records {aj.get('n_queries')} queries "
            f"but HEAD declares {n_reg} — refresh it (python "
            "scripts/check_oracle_alt.py /root/testdata/sf0.01)"
        )
    if aj.get("n_fail", 1) != 0:
        errs.append(f"CORRECTNESS_ALT.json records n_fail={aj.get('n_fail')}")

    bj = json.load(open(ROOT / "BENCH_LOCAL.json"))
    n_bench = len(bj.get("queries", {}))
    if n_bench != n_reg:
        errs.append(
            f"BENCH_LOCAL.json records {n_bench} queries but HEAD declares "
            f"{n_reg} — re-run bench.py after the last code commit"
        )

    tail = open(ROOT / "PYTEST_LOCAL.txt").read()
    m = re.search(r"(\d+) passed(?:, (\d+) skipped)?", tail)
    if not m:
        errs.append("PYTEST_LOCAL.txt has no '<N> passed' record")
    elif "failed" in tail or "error" in tail.lower():
        errs.append(f"PYTEST_LOCAL.txt records failures: {tail.strip()!r}")
    else:
        recorded = int(m.group(1)) + int(m.group(2) or 0)
        out = subprocess.run(
            [sys.executable, "-m", "pytest", "tests/", "--collect-only", "-q"],
            capture_output=True,
            text=True,
            cwd=ROOT,
        ).stdout
        mc = re.search(r"(\d+) tests? collected", out)
        collected = int(mc.group(1)) if mc else -1
        if collected != recorded:
            errs.append(
                f"PYTEST_LOCAL.txt records {recorded} tests (passed+skipped) "
                f"but the tree collects {collected} — re-run the suite after "
                "the last code commit"
            )

    if errs:
        for e in errs:
            print(f"STALE: {e}")
        return 1
    print(
        f"ARTIFACTS CURRENT: {n_reg} queries (correctness+alt+bench), "
        f"pytest record matches {m.group(0)}"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
