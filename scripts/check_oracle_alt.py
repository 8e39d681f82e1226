"""Differential oracle re-check on a PERTURBED dataset.

All hash-grade oracles passing on ONE fixed dataset is necessary, not
sufficient: an oracle pair can agree because the fixture is degenerate,
not because the operator is right — round 8's exact-hash
`dup_rate_by_source` was green-and-vacuous because the corpus holds
ZERO exact-duplicate texts (caught by hand, commit 4dbd8b5). This
script makes that catch mechanical:

1. Build a deterministic PERTURBED clone of sf0.01 under
   ``.alt/sf0.01`` (cached; delete to rebuild):
   - documents: odd doc_ids alphabet-translated (the scaling probe's
     permutation machinery — bijective, so near-dup structure is
     preserved while every hash/token changes), PLUS planted blocks the
     base corpus lacks: cross-source EXACT duplicate texts (the
     dup_rate_by_source class), leading/trailing-whitespace texts (the
     word_dropout position class), and tiny/empty texts.
   - events: deterministic value/ts jitter per event_id, plus a planted
     same-timestamp burst (funnel/session tie class).
   - embeddings: per-(dim) deterministic ±25% scaling, plus planted
     exact-duplicate vectors (near-dup class).
   - part: odd p_partkey names translated (new linkage blocks);
     lineitem/orders: deterministic measure/date jitter (range-filter
     and aggregate twins see genuinely different data);
     region/nation/customer/supplier: symlinked.
2. Run the FULL query registry against the clone, comparing every
   hash-grade query to its DuckDB oracle on the same clone — a
   mismatch here is a REAL cross-engine divergence on valid input.
3. Anti-vacuity asserts: every hash-grade query must return >0 rows on
   at least one of (base, alt); every boolean/flag column (bool dtype
   or integer values ⊆ {0,1}) must be non-constant on at least one
   dataset when the query emits >1 row. Violations fail the run.

Rows-only queries run too, but their ``min_rows`` floors were
calibrated on the base fixture — a floor miss on the perturbed clone is
recorded as a WARNING, not a failure (hash-grade divergence and
vacuity are the hard gates here).

Writes ``CORRECTNESS_ALT.json``. Run it next to ``artifact_check``
as part of the end-of-round verification recipe.

Usage: python scripts/check_oracle_alt.py [base_sf_dir] [query ...]
"""

from __future__ import annotations

import json
import os
import pathlib
import sys
import time

ROOT = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(ROOT / "scripts"))

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

import check_oracle as co  # noqa: E402
import __spark_entry__ as entrymod  # noqa: E402
from beis_orp_data_service_spark import declared as declared_mod  # noqa: E402
from beis_orp_data_service_spark.catalog import (  # noqa: E402
    TABLES,
    load_table,
    table_path,
)
from beis_orp_data_service_spark.session import get_spark  # noqa: E402
from scaling_probe import ALPHA, _perm  # noqa: E402

PLANT_STRIDE = 10**12

# flag columns that are LEGITIMATELY constant on both datasets, with the
# reason inline — extend only with a comment
FLAG_ALLOWLIST: dict[tuple[str, str], str] = {
    # the lossy path needs CID-font (Identity-H, no /ToUnicode) PDF
    # bytes that can't be synthesized in the SQL-mirrored fixture;
    # exercised by the golden tests in tests/test_converters.py
    ("convert_stats", "n_lossy"): "CID-font goldens in tests/test_converters.py",
}

# categorical anti-vacuity: these label columns must
# cover their FULL expected value set on BOTH datasets — a tercile/
# quartile label that never emits one of its values is the same vacuity
# class as a constant flag, just multi-valued
CATEGORICAL_EXPECT: dict[tuple[str, str], set] = {
    ("ccnet_buckets", "bucket_label"): {"head", "middle", "tail"},
    ("ccnet_two_pass", "bucket_label"): {"head", "middle", "tail"},
    ("train_mix", "bucket_label"): {"head", "middle", "tail"},
    ("train_mix_two_pass", "bucket_label"): {"head", "middle", "tail"},
    ("length_quartiles", "bin"): {1, 2, 3, 4},
    ("length_quartiles_two_pass", "bin"): {1, 2, 3, 4},
    ("dup_classify", "dup_class"): None,  # >1 distinct value (open set)
    # the sweep's selection surface must cover every (family, budget)
    # cell on both datasets
    ("tokenizer_sweep", "tokenizer"): {
        "bpe", "bpe_bytes", "unigram", "wordpiece",
    },
    ("tokenizer_sweep", "budget"): {2, 4, 8},
    # the dictionary-resplit branch must fire on both datasets (the
    # per-character-spaced twins exist exactly for this)
    ("title_preprocess", "was_resplit"): {True, False},
    ("title_preprocess_bundled", "was_resplit"): {True, False},
}

# train_mix's md5 per-mille gates: every ACCEPT branch must admit rows
# (the categorical check above) and every sub-1000 rate must also
# REJECT rows — an acceptance gate that admits everything is vacuous
TRAIN_MIX_QUERIES = ("train_mix", "train_mix_two_pass")


def _translate_half(col, key_col):
    """Alphabet-translate the text of odd-keyed rows (deterministic
    permutation 1); even-keyed rows unchanged — keeps every language /
    block class populated while changing half the corpus."""
    return F.when(
        F.pmod(F.col(key_col), F.lit(2)) == 1,
        F.translate(col, ALPHA, _perm(1)),
    ).otherwise(col)


def _write_single_file(out, dp: str) -> None:
    """Write a DataFrame as ONE parquet FILE named like the base layout
    (X.parquet as a file, not a directory) — the file-inventory queries
    (scan_listing/scan_sidecar) and the DuckDB views both expect the
    base fixture's one-file-per-table shape."""
    import shutil

    tmp = dp + ".tmpdir"
    out.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = [f for f in os.listdir(tmp) if f.endswith(".parquet")]
    assert len(part) == 1, part
    shutil.move(os.path.join(tmp, part[0]), dp)
    shutil.rmtree(tmp)


def build_alt(spark, src: str, dst: str) -> None:
    os.makedirs(dst, exist_ok=True)
    for t in TABLES:
        sp = table_path(src, t)
        if not os.path.exists(sp):
            continue
        dp = table_path(dst, t)
        if os.path.exists(dp) or os.path.islink(dp):
            continue  # cached — delete .alt/ to rebuild
        if t in ("region", "nation", "customer", "supplier"):
            os.symlink(sp, dp)
            continue
        base = load_table(spark, src, t)
        if t == "documents":
            text = _translate_half(F.col("text"), "doc_id")
            main = base.select(
                "doc_id",
                text.alias("text"),
                "lang",
                "source",
                F.length(text).cast("bigint").alias("n_chars"),
            )
            seed = base.orderBy("doc_id").limit(20).collect()
            plants = []
            for i, r in enumerate(seed):
                # cross-source exact duplicates (all 20)
                plants.append(
                    (r.doc_id + 2 * PLANT_STRIDE, r.text, r.lang,
                     "alt_dup", len(r.text))
                )
                if i < 5:  # leading/trailing whitespace variants
                    ws = "\t" + r.text + " \n"
                    plants.append(
                        (r.doc_id + 3 * PLANT_STRIDE, ws, r.lang,
                         "alt_ws", len(ws))
                    )
            for i, tiny in enumerate(
                ["a", "one two one two", " ", "", "word word word"]
            ):
                plants.append(
                    (4 * PLANT_STRIDE + i, tiny, "en", "alt_tiny", len(tiny))
                )
            # entity-rich docs: URLs / ISO dates / money / numbers /
            # multi-sentence — the extract_entities + readability
            # regexes never fire on the synthetic corpus (vacuity
            # catch); these exercise the regex parity cross-engine
            for i, rich in enumerate(
                [
                    "See https://example.org/a and https://data.example.org/"
                    "p%2Fq published 2024-05-01. Costs $12.50! Is 42 enough? "
                    "Budget was £3 then €7.25 on 2023-12-31.",
                    "Visit http://a-b.example.net now. Three sentences here. "
                    "Really... 1.5 million was 2024-01-15 revised.",
                    "No entities here just words and more words",
                ]
            ):
                plants.append(
                    (5 * PLANT_STRIDE + i, rich, "en", "alt_rich", len(rich))
                )
            # heavy-hitter plant: one token past the φ = N/50 frequency
            # threshold (~600 of ~30k tokens) so heavy_hitters returns
            # rows on alt (it was 0-rows here — boilerplate this common
            # is exactly what the operator exists to surface)
            heavy = ("qqfiller " * 600).strip()
            for i in range(2):
                plants.append(
                    (6 * PLANT_STRIDE + i, heavy, "en", "alt_heavy",
                     len(heavy))
                )
            # vertical-tab docs: Java \s includes \x0B, RE2
            # \s does not — both sides now spell the whitespace class
            # explicitly, and these plants pin the parity (a revert to
            # a bare \s desynchronizes every tokenization oracle here)
            for i, vt in enumerate(
                ["alpha\x0bbeta gamma", "\x0bword\x0b", "x\x0b\x0by z"]
            ):
                plants.append(
                    (8 * PLANT_STRIDE + i, vt, "en", "alt_vtab", len(vt))
                )
            # perplexity-spread plants: per
            # language, a LOW-perplexity cluster (one fixed sentence,
            # half of it on EVEN ids so the bigram LM trains on it —
            # its bigrams are the training distribution) and a HIGH-
            # perplexity cluster (per-doc-unique gibberish bigrams the
            # LM never sees). Guarantees each language's tercile
            # boundaries separate real score spread — head, middle and
            # tail all populated with both planted and organic docs —
            # and gives train_mix's middle/tail md5 gates enough rows
            # to populate BOTH the accept and reject branches on alt.
            for li, lang in enumerate(("en", "de", "es", "fr", "zh")):
                lowppl = (
                    f"common {lang} corpus sentence repeated verbatim "
                    "across the reference slice"
                )
                for i in range(8):
                    plants.append(
                        (7 * PLANT_STRIDE + 100 * li + i, lowppl, lang,
                         "alt_ppl_low", len(lowppl))
                    )
                for i in range(8):
                    gib = (
                        f"zq{li}x{i} vrk{i}w{li} qj{li}h{i}p "
                        f"wxn{i}b{li} kzf{li}t{i}"
                    )
                    plants.append(
                        (7 * PLANT_STRIDE + 100 * li + 50 + i, gib, lang,
                         "alt_ppl_high", len(gib))
                    )
            # nonzero-slope plants (linreg anti-vacuity): every existing
            # lang carries 10^12-scale planted doc_ids, which bounds the
            # per-lang OLS slope of n_chars on doc_id at
            # |slope| <= sd_y/sd_x ~ 1e-9 — so slope_micro was
            # mathematically pinned to 0 on alt (the half-vacuous gate).
            # Two plant-only languages at SMALL consecutive doc_ids with
            # exactly linear n_chars give slope_micro = m*1e6 (one
            # positive, one negative, r2 = 1e6) while leaving the
            # deliberate huge-id decimal-overflow traps untouched.
            filler = "ordered drift corpus sample text " * 20
            for lj, (slang, m) in enumerate((("pt", 7), ("nl", -5))):
                for i in range(12):
                    ln = 200 + m * i
                    st = filler[:ln]
                    plants.append(
                        (500_000 + 100 * lj + i, st, slang,
                         "alt_slope", len(st))
                    )
            out = main.unionByName(
                spark.createDataFrame(
                    plants,
                    "doc_id long, text string, lang string, "
                    "source string, n_chars long",
                )
            )
        elif t == "embeddings":
            vec = F.transform(
                "embedding",
                lambda x, i: (
                    x
                    * (
                        1.0
                        + (
                            F.pmod(F.xxhash64(i * 1000 + F.lit(1)), F.lit(200))
                            .cast("double")
                            - 100.0
                        )
                        / 400.0
                    )
                ).cast("float"),
            )
            main = base.select(
                "vec_id", vec.alias("embedding"), "label"
            )
            dups = (
                base.orderBy("vec_id")
                .limit(10)
                .select(
                    (F.col("vec_id") + 2 * PLANT_STRIDE).alias("vec_id"),
                    vec.alias("embedding"),  # duplicate of the PERTURBED row
                    "label",
                )
            )
            out = main.unionByName(dups)
        elif t == "events":
            main = base.select(
                "event_id",
                (
                    F.col("ts")
                    + F.make_interval(
                        secs=F.pmod(F.col("event_id"), F.lit(3)).cast("double")
                    )
                ).alias("ts"),
                "user_id",
                "event_type",
                F.round(
                    F.col("value") + F.pmod(F.col("event_id"), F.lit(7)) * 0.25,
                    2,
                ).alias("value"),
                "props",
            )
            burst_user = int(
                base.agg(F.max("user_id")).first()[0] or 0
            ) + 1
            burst = spark.createDataFrame(
                [
                    (
                        2 * PLANT_STRIDE + i,
                        "2024-03-01T12:00:00",
                        burst_user,
                        ["click", "view", "purchase"][i % 3],
                        float(i),
                        '{"k": %d}' % i,  # props is a JSON column by contract
                    )
                    for i in range(10)
                ],
                "event_id long, ts string, user_id long, "
                "event_type string, value double, props string",
            ).withColumn("ts", F.col("ts").cast("timestamp"))
            out = main.unionByName(burst)
        elif t == "part":
            name = _translate_half(F.col("p_name"), "p_partkey")
            out = base.select(
                "p_partkey", name.alias("p_name"), "p_brand",
                "p_type", "p_size", "p_retailprice",
            )
        elif t == "lineitem":
            out = base.select(
                "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                (F.col("l_quantity") + F.pmod(F.col("l_orderkey"), F.lit(5)))
                .alias("l_quantity"),
                # money stays CENT-QUANTIZED (the engine's documented
                # money-column contract; TPC-H prices are 2-decimal) —
                # un-rounded perturbation would measure double-sum
                # ordering noise, not operator correctness
                F.round(
                    F.col("l_extendedprice")
                    * (1.0 + F.pmod(F.col("l_orderkey"), F.lit(10)) / 100.0),
                    2,
                ).alias("l_extendedprice"),
                "l_discount", "l_tax", "l_returnflag", "l_linestatus",
                (
                    F.col("l_shipdate")
                    + F.make_interval(
                        days=F.pmod(F.col("l_orderkey"), F.lit(20)).cast("int")
                    )
                ).alias("l_shipdate"),
            )
        elif t == "orders":
            out = base.select(
                "o_orderkey", "o_custkey", "o_orderstatus",
                F.round(
                    F.col("o_totalprice")
                    * (1.0 + F.pmod(F.col("o_orderkey"), F.lit(7)) / 100.0),
                    2,
                ).alias("o_totalprice"),
                (
                    F.col("o_orderdate")
                    + F.make_interval(
                        days=F.pmod(F.col("o_orderkey"), F.lit(11)).cast("int")
                    )
                ).alias("o_orderdate"),
                "o_orderpriority",
            )
        else:
            os.symlink(sp, dp)
            continue
        _write_single_file(out, dp)
        print(f"alt-built {t} -> {dp}")


def flag_columns(pdf: pd.DataFrame) -> list[str]:
    """Columns that are boolean-like: bool dtype, or integer with all
    non-null values in {0, 1}."""
    out = []
    for c in pdf.columns:
        s = pdf[c].dropna()
        if s.empty:
            continue
        if s.dtype == bool:
            out.append(c)
        elif str(s.dtype).startswith(("int", "uint", "Int")):
            u = set(s.unique().tolist())
            if u <= {0, 1}:
                out.append(c)
    return out


def main() -> int:
    base_sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    alt_sf = str(ROOT / ".alt" / os.path.basename(os.path.normpath(base_sf)))

    spark = get_spark("oracle-alt")
    build_alt(spark, base_sf, alt_sf)

    con = duckdb.connect()
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = alt_sf
    for t in TABLES:
        p = table_path(alt_sf, t)
        if os.path.isdir(p):  # Spark-written table = directory of parts
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')"
            )
        elif os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
            )

    # base-run row counts for the "zero rows on BOTH datasets" check
    base_rows: dict[str, int] = {}
    try:
        with open(ROOT / "CORRECTNESS_LOCAL.json") as f:
            base_rows = {
                k: v.get("rows") or 0
                for k, v in json.load(f)["queries"].items()
            }
    except FileNotFoundError:
        pass

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    n_fail = n_warn = 0
    record: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        rec: dict = {"grade": "hash" if name in oracles else "rows_only"}
        try:
            spark_pdf = fn(spark, alt_sf).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error on alt: {e}")
            rec.update(status="fail", err=f"spark: {str(e)[:300]}")
            record[name] = rec
            n_fail += 1
            continue
        rec["rows_alt"] = len(spark_pdf)
        rec["rows_base"] = base_rows.get(name)
        problems: list[str] = []
        warnings: list[str] = []
        if name in oracles:
            try:
                duck_pdf = con.sql(oracles[name]).df()
            except Exception as e:  # noqa: BLE001
                print(f"FAIL {name}: duckdb error on alt: {e}")
                rec.update(status="fail", err=f"duckdb: {str(e)[:300]}")
                record[name] = rec
                n_fail += 1
                continue
            problems += co.compare(name, spark_pdf, duck_pdf)
            # anti-vacuity 1: >0 rows on at least one dataset
            if len(spark_pdf) == 0 and base_rows.get(name, 1) == 0:
                problems.append("vacuous: 0 rows on BOTH base and alt")
            elif len(spark_pdf) == 0:
                warnings.append("0 rows on alt (rows on base)")
            # anti-vacuity 2: boolean/flag columns must be non-constant
            # on AT LEAST ONE dataset. Constant on alt → re-run on base
            # (cheap, only for flagged queries); constant on BOTH with
            # the same value = vacuous fixture → hard fail unless
            # allowlisted with a reason.
            const_alt = [
                c
                for c in flag_columns(spark_pdf)
                if len(spark_pdf) > 1 and spark_pdf[c].nunique() <= 1
            ]
            if const_alt:
                try:
                    base_pdf = fn(spark, base_sf).toPandas()
                except Exception as e:  # noqa: BLE001
                    base_pdf = None
                    warnings.append(f"base recheck errored: {str(e)[:80]}")
                for c in const_alt:
                    why = FLAG_ALLOWLIST.get((name, c))
                    if why is not None:
                        continue
                    if (
                        base_pdf is not None
                        and c in base_pdf.columns
                        and base_pdf[c].nunique() > 1
                    ):
                        warnings.append(
                            f"flag column {c!r} constant on alt "
                            f"(={spark_pdf[c].iloc[0]!r}) but varies on base"
                        )
                    else:
                        problems.append(
                            f"vacuous: flag column {c!r} constant on BOTH "
                            f"datasets (={spark_pdf[c].iloc[0]!r})"
                        )
            # anti-vacuity 3: named categorical
            # label columns must cover their full value set on BOTH
            # datasets (hard fail on either)
            for (qn, c), expect in CATEGORICAL_EXPECT.items():
                if qn != name or c not in spark_pdf.columns:
                    continue
                got_alt = set(spark_pdf[c].dropna().unique().tolist())
                try:
                    base_pdf_c = fn(spark, base_sf).toPandas()
                    got_base = set(base_pdf_c[c].dropna().unique().tolist())
                except Exception as e:  # noqa: BLE001
                    got_base = None
                    warnings.append(f"base recheck errored: {str(e)[:80]}")
                for label, got in (("alt", got_alt), ("base", got_base)):
                    if got is None:
                        continue
                    if expect is None:
                        if len(got) <= 1:
                            problems.append(
                                f"vacuous: label column {c!r} has <=1 "
                                f"distinct value on {label} ({got})"
                            )
                    elif not expect <= got:
                        problems.append(
                            f"vacuous: label column {c!r} missing "
                            f"{sorted(expect - got)} on {label}"
                        )
            # anti-vacuity 4: train_mix's sub-1000 per-mille gates must
            # BOTH admit and reject rows per bucket; the 1000 gate
            # (head) must admit exactly its full bucket
            if name in TRAIN_MIX_QUERIES and "ccnet_buckets" in qs:
                full = (
                    qs["ccnet_buckets"](spark, alt_sf)
                    .toPandas()["bucket_label"]
                    .value_counts()
                    .to_dict()
                )
                out = spark_pdf["bucket_label"].value_counts().to_dict()
                if out.get("head", 0) != full.get("head", -1):
                    problems.append(
                        "train_mix head rate is 1000 per-mille but output "
                        f"head count {out.get('head', 0)} != bucket size "
                        f"{full.get('head')}"
                    )
                for lbl in ("middle", "tail"):
                    if not 0 < out.get(lbl, 0) < full.get(lbl, 0):
                        problems.append(
                            f"vacuous: train_mix {lbl} gate did not both "
                            f"admit and reject on alt (out="
                            f"{out.get(lbl, 0)}, bucket={full.get(lbl, 0)})"
                        )
        else:
            qdef = declared_mod.REGISTRY.get(name)
            floor = qdef.min_rows if qdef is not None else 0
            if len(spark_pdf) < floor:
                warnings.append(
                    f"rows-only floor miss on alt: {len(spark_pdf)} < "
                    f"{floor} (floor calibrated on base; warning only)"
                )
        dt = round(time.time() - t0, 2)
        rec["seconds"] = dt
        if problems:
            rec.update(status="fail", err="; ".join(problems)[:300])
            n_fail += 1
            print(f"FAIL {name}: {'; '.join(problems)} [{dt}s]")
        else:
            rec["status"] = "ok"
            if warnings:
                rec["warn"] = "; ".join(warnings)[:300]
                n_warn += 1
                print(f"warn {name}: {'; '.join(warnings)} [{dt}s]")
            else:
                print(f"ok   {name}: {len(spark_pdf)} rows [{dt}s]")
        record[name] = rec
    if not only:
        with open(ROOT / "CORRECTNESS_ALT.json", "w") as f:
            json.dump(
                {
                    "base_sf": base_sf,
                    "alt_sf": alt_sf,
                    "n_queries": len(record),
                    "n_fail": n_fail,
                    "n_warn": n_warn,
                    "queries": record,
                },
                f,
                indent=1,
                sort_keys=True,
            )
        print(f"wrote CORRECTNESS_ALT.json ({len(record)} queries)")
    print(
        f"\n{'ALL OK' if n_fail == 0 else f'{n_fail} FAILURES'}"
        f" ({n_warn} warnings)"
    )
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
