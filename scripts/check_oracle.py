"""Local emulation of the driver's DuckDB-oracle correctness gate.

Runs every ``queries()`` entry from ``__spark_entry__`` at the given
scale factor and compares against ``oracle_sql()`` via DuckDB:
row-count + column names + order-insensitive value comparison.

A FULL run (no query filter) also writes ``CORRECTNESS_LOCAL.json`` at
the repo root — per-query ``{status, grade, rows, seconds}`` for every
registry entry. Commit it with each refresh.

Usage: python scripts/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import json
import math
import pathlib
import sys
import time

import duckdb
import pandas as pd

ROOT = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

import __spark_entry__ as entrymod  # noqa: E402
from beis_orp_data_service_spark import declared as declared_mod  # noqa: E402
from beis_orp_data_service_spark.catalog import TABLES, table_path  # noqa: E402
from beis_orp_data_service_spark.session import get_spark  # noqa: E402


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: str(v) if v is not None else None)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def values_equal(a, b) -> bool:
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b or math.isclose(a, b, rel_tol=1e-12, abs_tol=1e-12)
    return str(a) == str(b)


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"rowcount spark={len(spark_pdf)} duck={len(duck_pdf)}")
    scols, dcols = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if scols != dcols:
        problems.append(f"schema spark={scols} duck={dcols}")
    if problems:
        return problems
    s, d = normalize(spark_pdf), normalize(duck_pdf)
    n_bad = 0
    first = None
    for c in s.columns:
        sv, dv = s[c].tolist(), d[c].tolist()
        for i, (x, y) in enumerate(zip(sv, dv)):
            if not values_equal(x, y):
                n_bad += 1
                if first is None:
                    first = f"col={c} row={i} spark={x!r} duck={y!r}"
    if n_bad:
        problems.append(f"{n_bad} value mismatches; first: {first}")
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    con = duckdb.connect()
    import os

    # file-inventory oracles (scan_listing/scan_sidecar) glob this dir
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir

    for t in TABLES:
        p = table_path(sf_dir, t)
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    spark = get_spark("oracle-check")
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()

    # smoke: entry()
    t0 = time.time()
    n = entrymod.entry(spark).count()
    print(f"entry() smoke: {n} rows [{time.time()-t0:.1f}s]")

    n_fail = 0
    record: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            record[name] = {"status": "fail", "grade": "error",
                            "rows": None, "seconds": round(time.time() - t0, 2),
                            "err": str(e)[:200]}
            n_fail += 1
            continue
        if name not in oracles:
            # rows-only entries pin a minimum row count (QueryDef.min_rows):
            # a legitimately-zero-row result can't distinguish "working"
            # from "broken join", so 0 < floor is a hard failure.
            qdef = declared_mod.REGISTRY.get(name)
            floor = qdef.min_rows if qdef is not None else 0
            ok_floor = len(spark_pdf) >= floor
            record[name] = {
                "status": "ok" if ok_floor else "fail",
                "grade": "rows_only", "rows": len(spark_pdf),
                "min_rows": floor, "seconds": round(time.time() - t0, 2),
            }
            if not ok_floor:
                print(
                    f"FAIL {name}: rows-only floor: {len(spark_pdf)} rows "
                    f"< min_rows={floor} [{time.time()-t0:.1f}s]"
                )
                n_fail += 1
                continue
            print(
                f"ok   {name}: rows-only ({len(spark_pdf)} rows >= floor {floor}) "
                f"[{time.time()-t0:.1f}s]"
            )
            continue
        try:
            duck_pdf = con.sql(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            record[name] = {"status": "fail", "grade": "hash",
                            "rows": len(spark_pdf),
                            "seconds": round(time.time() - t0, 2),
                            "err": f"duckdb: {str(e)[:200]}"}
            n_fail += 1
            continue
        problems = compare(name, spark_pdf, duck_pdf)
        record[name] = {
            "status": "fail" if problems else "ok", "grade": "hash",
            "rows": len(spark_pdf), "seconds": round(time.time() - t0, 2),
        }
        if problems:
            record[name]["err"] = "; ".join(problems)[:200]
            n_fail += 1
            print(f"FAIL {name}: {'; '.join(problems)} [{time.time()-t0:.1f}s]")
        else:
            print(f"ok   {name}: {len(spark_pdf)} rows match [{time.time()-t0:.1f}s]")
    if not only:
        out = {
            "sf_dir": sf_dir,
            "n_queries": len(record),
            "n_fail": n_fail,
            "queries": record,
        }
        with open(ROOT / "CORRECTNESS_LOCAL.json", "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
        print(f"wrote CORRECTNESS_LOCAL.json ({len(record)} queries)")
    print(f"\n{'ALL OK' if n_fail == 0 else f'{n_fail} FAILURES'}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
