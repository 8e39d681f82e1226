"""Capture ``.explain("formatted")`` for declared queries into plans/rNN/.

Usage:
    python scripts/capture_plans.py <suffix> <query> [<query> ...]
    python scripts/capture_plans.py before decontaminate_fuzzy minhash_lsh_pairs

Writes ``plans/r16/<query>_<suffix>.txt`` for each query, so plan claims
(Exchange counts, join strategies, PushedFilters, Python-eval nodes) can
be checked against the code; they are captured
from the exact registry entry the bench times, at the bench's sf_dir.

Queries built around non-plan work (streaming fixtures, multi-action
lifecycles) still produce a plan for their FINAL returned DataFrame,
which is what the noop sink materializes.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from beis_orp_data_service_spark import declared  # noqa: E402
from beis_orp_data_service_spark.session import get_spark  # noqa: E402

ROUND_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r16"
)


def main() -> None:
    if len(sys.argv) < 3:
        raise SystemExit(__doc__)
    suffix = sys.argv[1]
    names = sys.argv[2:]
    unknown = [q for q in names if q not in declared.REGISTRY]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(ROUND_DIR, exist_ok=True)
    spark = get_spark("capture_plans")
    for name in names:
        df = declared.REGISTRY[name].fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        out = os.path.join(ROUND_DIR, f"{name}_{suffix}.txt")
        with open(out, "w") as f:
            f.write(plan)
        print(f"wrote {out} ({len(plan.splitlines())} lines)")


if __name__ == "__main__":
    main()
