"""Planted-hot-key skew probe (round-5 ask #8 / round-6 ask #3).

The single most likely 100 TB production incident for the dedup path
is a DEGENERATE BAND KEY: one boilerplate text (a cookie banner, a
licence header) shared by a large fraction of documents makes every
copy hash to the same MinHash band keys, and the band join's reducer
for that key drags the whole stage. This probe MANUFACTURES that
incident deterministically and measures it with task metrics, not
wall time:

1. inflate the sf documents table ``inflate``x with perturbed ids and
   texts (same recipe as scripts/scaling_probe.py), then plant ONE
   boilerplate text on 30% of the rows;
2. sign everything (lsh_band_rows) — the hot rows now share band keys;
3. probe a 50-doc ingest batch against the corpus band table (the
   lsh_index_probe join shape) under four strategies, asserting on the
   per-task shuffle-read record distribution of the join stage
   (diagnostics.task_shuffle_skew):

   - ``join_naive``    broadcast off, AQE skew-split off, no salt —
                       the incident: max/median task ratio ~ hot-key
                       mass over mean partition load (documented, not
                       bounded);
   - ``join_aqe``      AQE skew-join split on (thresholds lowered to
                       toy scale: the hot partition is ~0.5 MB here vs
                       the 256 MB production default) — Spark splits
                       the hot partition across tasks by mapper range
                       and replicates the probe side's partition;
   - ``join_salted``   operators.skew.replicated_salt_join — the
                       explicit planned-skew form: fact side salted by
                       doc_id, probe side replicated x n_salts;
   - ``join_broadcast``autoBroadcastJoinThreshold restored — the
                       *default session* answer: a 50-doc probe side
                       broadcasts, the band table never shuffles at
                       all (no shuffle stage to skew; reported as
                       ratio 1.0).

   plus the aggregation half:

   - ``agg_naive``     groupBy(band_key).count() — partial (map-side)
                       aggregation already bounds the reducer: each
                       map task emits ONE partial row per band key, so
                       the hot key reaches its reducer as <= n_map
                       rows, not n_docs. Measured to document WHY the
                       decomposable-agg path needs no salting;
   - ``agg_salted``    operators.skew.salted_aggregate over the same
                       input — result-equality is checked against the
                       naive counts (the bound matters only if the
                       answer is still right).

Run:  python scripts/skew_probe.py [sf_dir] [inflate]
Writes SKEW_PROBE.json at the repo root and prints one JSON line.
The session is the engine's default ``session.get_spark`` one (task
metrics come from the driver's status store, UI off). tests/test_skew_probe.py
runs this as a subprocess and asserts the documented bounds: naive
ratio >= 6 (the incident is real), every mitigated ratio <= 4, agg
results equal.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

BOILERPLATE = (
    "this website uses cookies to ensure you get the best experience "
    "on our website by continuing to browse you agree to our use of "
    "cookies and our privacy policy which describes how we process "
    "personal data learn more in our terms and conditions page "
)


def build(spark, sf_dir: str, inflate: int):
    from pyspark.sql import functions as F

    from beis_orp_data_service_spark.catalog import load_table

    base = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    reps = spark.range(inflate).select(F.col("id").alias("_rep"))
    docs = (
        base.crossJoin(reps)
        .select(
            (F.col("doc_id") * inflate + F.col("_rep")).alias("doc_id"),
            # perturb non-hot copies so inflation does not create its
            # own near-dups; the hot 30% get the SAME boilerplate
            F.when(
                (F.col("doc_id") * inflate + F.col("_rep")) % 10 < 3,
                F.lit(BOILERPLATE),
            )
            .otherwise(
                F.concat_ws(
                    " ",
                    F.col("text"),
                    F.format_string("rep%d", F.col("_rep")),
                    F.format_string("doc%d", F.col("doc_id")),
                )
            )
            .alias("text"),
        )
    )
    return docs


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    inflate = int(sys.argv[2]) if len(sys.argv) > 2 else 40
    from pyspark.sql import functions as F

    from beis_orp_data_service_spark.session import get_spark

    spark = get_spark(
        "skew-probe",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]",
        shuffle_partitions=32,
    )
    spark.sparkContext.setLogLevel("ERROR")
    from beis_orp_data_service_spark.diagnostics import task_shuffle_skew
    from beis_orp_data_service_spark.operators import dedup as dd
    from beis_orp_data_service_spark.operators import skew as sk

    docs = build(spark, sf_dir, inflate)
    n_docs = docs.count()
    bands = dd.lsh_band_rows(docs, "doc_id", "text", 4, None).localCheckpoint()
    probe_docs = docs.where(F.col("doc_id") < 50)
    probe = (
        dd.lsh_band_rows(probe_docs, "doc_id", "text", 4, None)
        .select("band_key", F.col("doc_id").alias("probe_id"))
        .localCheckpoint()
    )
    hot_rows = bands.groupBy("band_key").count().agg(F.max("count")).first()[0]

    conf = spark.conf
    out: dict = {
        "sf_dir": sf_dir,
        "inflate": inflate,
        "n_docs": n_docs,
        "n_band_rows": bands.count(),
        "hot_band_key_rows": hot_rows,
        "cases": {},
    }

    def run_case(name, fn):
        out["cases"][name] = task_shuffle_skew(spark, fn)
        print(
            f"{name}: ratio {out['cases'][name]['ratio']:.1f} "
            f"(max {out['cases'][name]['max_records']} / median "
            f"{out['cases'][name]['median_records']})",
            file=sys.stderr,
        )

    # ---- the incident: plain shuffle join, no mitigation ----
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    run_case("join_naive", lambda: bands.join(probe, "band_key").count())

    # ---- AQE skew-join split (thresholds scaled to the toy data) ----
    conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
    conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64k")
    conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32k")
    # minPartitionSize defaults to 1 MB — at toy scale coalescing would
    # otherwise swallow the whole shuffle into one task and report a
    # meaningless ratio of 1.0 over a single reader
    conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16k")
    run_case("join_aqe", lambda: bands.join(probe, "band_key").count())
    conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionFactor")
    conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
    conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    conf.unset("spark.sql.adaptive.coalescePartitions.minPartitionSize")

    # ---- explicit salting (planned skew, no AQE assistance) ----
    conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    run_case(
        "join_salted",
        lambda: sk.replicated_salt_join(
            bands, probe, "band_key", F.col("doc_id"), n_salts=32
        ).count(),
    )

    # ---- the default-session answer: broadcast the 50-doc probe ----
    conf.set("spark.sql.autoBroadcastJoinThreshold", "10MB")
    joined = bands.join(probe, "band_key")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, "probe side did not broadcast"
    joined.count()
    out["cases"]["join_broadcast"] = {
        "ratio": 1.0,
        "note": "BroadcastHashJoin - band table never shuffles, no "
        "reducer to skew (plan-asserted)",
    }
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    # ---- aggregation half: partial agg already bounds the reducer ----
    run_case("agg_naive", lambda: bands.groupBy("band_key").count().count())
    naive_counts = {
        r.band_key: r["count"]
        for r in bands.groupBy("band_key").count().collect()
    }
    salted = sk.salted_aggregate(
        bands, ["band_key"], {"n": ("count", "band_key")}, F.col("doc_id"), 32
    )
    run_case("agg_salted", lambda: salted.count())
    salted_counts = {r.band_key: r.n for r in salted.collect()}
    out["agg_equal"] = naive_counts == salted_counts

    # ---- ER family under a planted hot block ----
    # A 10× part catalogue where 10% of rows collapse into ONE
    # (brand, type, name-prefix) block — the degenerate-key incident
    # the linkage guard exists for. The proof chain: (1) max_block
    # RAISES on the planted data; (2) linkage_pairs_salted runs the
    # same data and its pair set EQUALS the plain unguarded join's
    # (exceptAll both ways, distributed — no driver pull), including
    # restricted to the non-degenerate remainder; (3) per-task shuffle
    # metrics show the plain join's single hot reducer vs the salted
    # join's bounded cells.
    from beis_orp_data_service_spark.catalog import load_table
    from beis_orp_data_service_spark.operators import linkage as lk

    er_fields = [
        ("p_name", "edit", 0.5),
        ("p_type", "exact", 0.3),
        ("p_size", "numeric", 0.2),
    ]
    er_blocks = ["p_brand", "p_type", "name_pfx"]
    part = load_table(spark, sf_dir, "part")
    reps10 = spark.range(10).select(F.col("id").alias("_rep"))
    nid = (F.col("p_partkey") * 10 + F.col("_rep"))
    # 20% of rows -> one block (400 rows even at sf0.001's 200-part
    # table: comfortably past the max_block=200 guard)
    is_hot = nid % 10 < 2
    planted = (
        part.crossJoin(reps10)
        .select(
            nid.alias("p_partkey"),
            F.when(is_hot, F.lit("HOTBRAND"))
            .otherwise(F.col("p_brand"))
            .alias("p_brand"),
            F.when(is_hot, F.lit("HOTTYPE"))
            .otherwise(F.col("p_type"))
            .alias("p_type"),
            F.when(
                is_hot,
                F.concat(F.lit("hotprefix widget mk"), (nid % 4).cast("string")),
            )
            .otherwise(F.col("p_name"))
            .alias("p_name"),
            "p_size",
        )
        .withColumn("name_pfx", F.substring("p_name", 1, 8))
        .localCheckpoint()
    )
    try:
        lk.linkage_pairs(
            planted, "p_partkey", er_blocks, er_fields, 0.8, max_block=200
        ).count()
        out["er_guard_raised"] = False
    except ValueError as e:
        out["er_guard_raised"] = True
        out["er_guard_msg"] = str(e)[:120]
        print(f"er guard: {e}", file=sys.stderr)

    plain = lk.linkage_pairs(
        planted, "p_partkey", er_blocks, er_fields, 0.8
    ).localCheckpoint()
    salted = lk.linkage_pairs_salted(
        planted, "p_partkey", er_blocks, er_fields, 0.8, n_salt=8
    ).localCheckpoint()
    out["er_pairs_plain"] = plain.count()
    out["er_pair_sets_equal"] = (
        plain.exceptAll(salted).count() == 0
        and salted.exceptAll(plain).count() == 0
    )
    hot_ids = planted.where(F.col("p_brand") == "HOTBRAND").select(
        F.col("p_partkey").alias("a_id")
    )
    rem_plain = plain.join(F.broadcast(hot_ids), "a_id", "left_anti")
    rem_salted = salted.join(F.broadcast(hot_ids), "a_id", "left_anti")
    out["er_remainder_equal"] = (
        rem_plain.exceptAll(rem_salted).count() == 0
        and rem_salted.exceptAll(rem_plain).count() == 0
    )
    run_case(
        "er_join_plain",
        lambda: lk.linkage_pairs(
            planted, "p_partkey", er_blocks, er_fields, 0.8
        ).count(),
    )
    run_case(
        "er_join_salted",
        lambda: lk.linkage_pairs_salted(
            planted, "p_partkey", er_blocks, er_fields, 0.8, n_salt=8
        ).count(),
    )

    # ---- the dominant-group WINDOW incident (round 10) ----
    # The unpartitioned-window class made measurable: one language
    # holds 95% of an inflated corpus (the English-at-100TB shape), so
    # `ntile OVER (PARTITION BY lang)` funnels 95% of rows through ONE
    # window task — per-task shuffle-read records show the single hot
    # reducer directly. The two_pass spelling (ranks.grouped_ntile via
    # equi_depth_bins) range-partitions (lang, value, id) so the
    # dominant language spans ~n_parts tasks; the proof chain mirrors
    # the ER section: (1) results exceptAll-EQUAL both ways, (2) the
    # window spelling's ratio documents the incident, (3) the two_pass
    # ratio stays bounded.
    from beis_orp_data_service_spark.operators import corpus as co

    wdid = F.col("doc_id") * inflate + F.col("_rep")
    wdocs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .crossJoin(spark.range(inflate).select(F.col("id").alias("_rep")))
        .select(
            wdid.alias("doc_id"),
            F.when(
                wdid % 20 == 0,
                F.concat(F.lit("xx"), (wdid % 4).cast("string")),
            )
            .otherwise(F.lit("en"))
            .alias("lang"),
            # deterministic well-spread value (Knuth multiplicative);
            # the id tiebreak makes the total order unique either way
            ((wdid * 2654435761) % 100000).alias("n_chars"),
        )
        .localCheckpoint()
    )
    # the INCIDENT case must pin the window spelling explicitly — the
    # library default is two_pass now, which is the remediation this
    # probe measures against
    w_win = co.equi_depth_bins(
        wdocs, "lang", "n_chars", "doc_id", 4, method="ntile"
    )
    w_two = co.equi_depth_bins(
        wdocs, "lang", "n_chars", "doc_id", 4, method="two_pass", n_parts=32
    )
    out["window_results_equal"] = (
        w_win.exceptAll(w_two).count() == 0
        and w_two.exceptAll(w_win).count() == 0
    )
    out["window_dominant_rows"] = wdocs.where(F.col("lang") == "en").count()
    out["window_total_rows"] = wdocs.count()

    # a bare count() lets the optimizer PRUNE the unused window (row
    # count is window-invariant) and the probe would time the wrong
    # stage — the noop write keeps every column, forcing the real plan
    def _mat(df):
        return lambda: df.write.format("noop").mode("overwrite").save()

    run_case("window_ntile_dominant", _mat(w_win))
    run_case("window_two_pass", _mat(w_two))
    # the contract metric here is the MAX TASK'S SHARE of all shuffled
    # rows, not max/median: with 5 languages only a handful of tasks
    # read anything under the window spelling, so the median is itself
    # a straggler and flatters the ratio. One task carrying ~95% of the
    # corpus IS the incident; two_pass caps any task near total/n_parts.
    for case in ("window_ntile_dominant", "window_two_pass"):
        c = out["cases"][case]
        c["max_share"] = c["max_records"] / max(1, c["total_records"])
        print(f"{case}: max_share {c['max_share']:.3f}", file=sys.stderr)

    print(json.dumps(out))
    if sf_dir.rstrip("/").endswith("sf0.01") and inflate == 40:
        with open(os.path.join(REPO, "SKEW_PROBE.json"), "w") as f:
            json.dump(out, f, indent=1)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
