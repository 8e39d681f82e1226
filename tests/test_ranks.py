"""The scalable exact-rank / ntile / running-sum helpers: the two-pass
replacement for the unpartitioned-window class must equal the window
spelling bit-for-bit, grouped and (``group_cols=[]``) global."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from beis_orp_data_service_spark.operators import ranks
from tests.conftest import spark_jobs


def _global_ranks(df, sort_cols, n_parts):
    """``(ranked, n_rows)`` for the whole frame as one group; every
    row must carry the same group total."""
    out = ranks.grouped_exact_ranks(df, [], sort_cols, n_parts=n_parts)
    totals = {r._gtotal for r in out.select("_gtotal").distinct().collect()}
    assert len(totals) == 1, totals
    return out.drop("_gtotal"), totals.pop()


def _ntile_reference(rank, n_rows, n_tiles):
    """SQL NTILE's fill rule in Python ints: the first ``n_rows mod
    n_tiles`` buckets hold one row more."""
    q, rem = divmod(n_rows, n_tiles)
    cut = rem * (q + 1)
    if rank <= cut:
        return (rank - 1) // (q + 1) + 1
    return rem + (rank - cut - 1) // q + 1


class TestExactGlobalRanks:
    def test_matches_global_row_number(self, spark):
        df = spark.createDataFrame(
            [((i * 7919) % 500, i) for i in range(1000)], "v long, id long"
        ).repartition(16)
        got, n = _global_ranks(df, [F.col("v").desc(), F.col("id")], n_parts=7)
        assert n == 1000
        want = df.withColumn(
            "_grank",
            F.row_number()
            .over(Window.orderBy(F.col("v").desc(), F.col("id")))
            .cast("bigint"),
        )
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        )

    def test_partition_count_invariant(self, spark):
        df = spark.createDataFrame(
            [((i * 31) % 97, i) for i in range(300)], "v long, id long"
        )
        a, _ = _global_ranks(df, [F.col("v"), F.col("id")], n_parts=3)
        b, _ = _global_ranks(df, [F.col("v"), F.col("id")], n_parts=11)
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))

    def test_fewer_rows_than_partitions(self, spark):
        df = spark.createDataFrame([(3, 1), (1, 2), (2, 3)], "v long, id long")
        got, n = _global_ranks(df, [F.col("v"), F.col("id")], n_parts=8)
        assert n == 3
        assert {(r.v, r._grank) for r in got.collect()} == {
            (1, 1), (2, 2), (3, 3),
        }


class TestNtileFromRank:
    def test_matches_sql_ntile_all_shapes(self, spark):
        # N x n grid covering rem==0, rem>0, N<n, N==n
        for n_rows, n_tiles in [(10, 5), (11, 5), (13, 4), (3, 7), (5, 5), (1, 3)]:
            df = spark.createDataFrame(
                [(i, n_rows) for i in range(1, n_rows + 1)], "r long, n long"
            )
            got = {
                row.r: row.t
                for row in df.select(
                    "r",
                    ranks.ntile_from_rank_col(
                        F.col("r"), F.col("n"), n_tiles
                    ).alias("t"),
                ).collect()
            }
            want = {
                row.r: row.t
                for row in df.select(
                    "r",
                    F.ntile(n_tiles)
                    .over(Window.orderBy("r"))
                    .cast("bigint")
                    .alias("t"),
                ).collect()
            }
            assert got == want, f"N={n_rows} n={n_tiles}"


class TestPrefixSums:
    def test_matches_window_running_sum(self, spark):
        df = spark.createDataFrame(
            [((i * 53) % 211, i % 3, (i % 5) + 1) for i in range(400)],
            "v long, a long, b long",
        ).repartition(8)
        # total order: v is not unique here, so dedupe to a grid first
        grid = df.groupBy("v").agg(
            F.sum("a").alias("a"), F.sum("b").alias("b")
        )
        got = sorted(
            map(
                tuple,
                ranks.grouped_prefix_sums(
                    grid, [], [F.col("v")], ["a", "b"], n_parts=5
                )
                .select("v", "a_cum", "b_cum")
                .collect(),
            )
        )
        w = (
            Window.orderBy("v")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        want = sorted(
            map(
                tuple,
                grid.select(
                    "v",
                    F.sum("a").over(w).cast("bigint").alias("a_cum"),
                    F.sum("b").over(w).cast("bigint").alias("b_cum"),
                ).collect(),
            )
        )
        assert got == want

    def test_ks_and_mw_two_pass_equal_window(self, spark):
        """The wired consumers: ks_statistic / mannwhitney_u
        method='two_pass' must equal the window spelling exactly."""
        from beis_orp_data_service_spark.operators import analytics as an

        df = spark.createDataFrame(
            [("a" if i % 3 else "b", (i * 17) % 40) for i in range(500)],
            "grp string, v long",
        ).repartition(8)
        for fn in (an.ks_statistic, an.mannwhitney_u):
            a = fn(df, "grp", "v", "v", "a", "b", method="window").collect()
            b = fn(df, "grp", "v", "v", "a", "b", method="two_pass").collect()
            assert list(map(tuple, a)) == list(map(tuple, b))


class TestDistributedNtile:
    def test_matches_window_ntile(self, spark):
        df = spark.createDataFrame(
            [((i * 137) % 61, i) for i in range(523)], "v long, id long"
        ).repartition(9)
        got = sorted(
            map(
                tuple,
                ranks.grouped_ntile(
                    df, [], [F.col("v").desc(), F.col("id")], 5, "tile",
                    n_parts=6,
                ).collect(),
            )
        )
        want = sorted(
            map(
                tuple,
                df.select(
                    "v",
                    "id",
                    F.ntile(5)
                    .over(Window.orderBy(F.col("v").desc(), F.col("id")))
                    .cast("bigint")
                    .alias("tile"),
                ).collect(),
            )
        )
        assert got == want

    def test_no_unpartitioned_window_in_plan(self, spark):
        """The whole point: the plan must contain no Window with an
        empty partition spec (every Window here is keyed by the range
        partition id)."""
        df = spark.createDataFrame([(i, i) for i in range(100)], "v long, id long")
        out = ranks.grouped_ntile(df, [], [F.col("v"), F.col("id")], 5, "t")
        plan = out._jdf.queryExecution().executedPlan().toString()
        # Spark prints unpartitioned windows as 'Window [...], [order...]'
        # with no partition list; partitioned ones carry the partition
        # spec after the ordering. Cheap + robust proxy: the single-
        # partition exchange that an empty spec forces must be absent.
        assert "SinglePartition" not in plan


class TestNtileFromRankCol:
    def test_matches_python_int_form(self, spark):
        # column-typed N must reproduce the fill rule computed in Python
        # ints on the same (rem==0, rem>0, N<n, N==n, N==1) grid
        for n_rows, n_tiles in [(10, 5), (11, 5), (13, 4), (3, 7), (5, 5), (1, 3)]:
            df = spark.createDataFrame(
                [(i, n_rows) for i in range(1, n_rows + 1)], "r long, n long"
            )
            got = {
                row.r: row.t
                for row in df.select(
                    "r",
                    ranks.ntile_from_rank_col(
                        F.col("r"), F.col("n"), n_tiles
                    ).alias("t"),
                ).collect()
            }
            want = {
                r: _ntile_reference(r, n_rows, n_tiles)
                for r in range(1, n_rows + 1)
            }
            assert got == want, (n_rows, n_tiles)

    def test_bad_n_tiles_fails_before_any_job(self, spark):
        import pytest

        df = spark.createDataFrame(
            [(i % 3, i) for i in range(50)], "g long, id long"
        )

        def call(n_tiles):
            try:
                ranks.grouped_ntile(
                    df, ["g"], [F.col("id")], n_tiles, "t"
                ).collect()
            except ValueError as e:
                return e

        for n_tiles in (0, -2):
            err, n_jobs = spark_jobs(spark, lambda: call(n_tiles))
            assert "n_tiles" in str(err), n_tiles
            assert n_jobs == 0, n_tiles
        with pytest.raises(ValueError, match="n_tiles"):
            ranks.ntile_from_rank_col(F.col("id"), F.lit(50), 0)


class TestGroupedNtile:
    def test_matches_window_ntile_per_group(self, spark):
        # uneven groups, including one smaller than the tile count
        rows = [("g%d" % (i % 5), (i * 137) % 61, i) for i in range(523)]
        rows += [("tiny", 1, 9001), ("tiny", 2, 9002)]
        df = spark.createDataFrame(rows, "grp string, v long, id long").repartition(9)
        got = sorted(
            map(
                tuple,
                ranks.grouped_ntile(
                    df, ["grp"], [F.col("v").desc(), F.col("id")], 4, "tile",
                    n_parts=6,
                ).collect(),
            )
        )
        want = sorted(
            map(
                tuple,
                df.select(
                    "grp",
                    "v",
                    "id",
                    F.ntile(4)
                    .over(
                        Window.partitionBy("grp").orderBy(
                            F.col("v").desc(), F.col("id")
                        )
                    )
                    .cast("bigint")
                    .alias("tile"),
                ).collect(),
            )
        )
        assert got == want

    def test_dominant_group(self, spark):
        # the r9 verdict fixture: ONE group holds 90% of the rows (the
        # English-at-100TB shape) — assignment must still equal the
        # window spelling exactly, with ties on v broken by id
        rows = [("en", (i * 31) % 7, i) for i in range(900)]
        rows += [("xx%d" % (i % 10), i % 13, 10_000 + i) for i in range(100)]
        df = spark.createDataFrame(rows, "grp string, v long, id long")
        got = sorted(
            map(
                tuple,
                ranks.grouped_ntile(
                    df, ["grp"], [F.col("v"), F.col("id")], 3, "b", n_parts=8
                ).collect(),
            )
        )
        want = sorted(
            map(
                tuple,
                df.select(
                    "grp",
                    "v",
                    "id",
                    F.ntile(3)
                    .over(
                        Window.partitionBy("grp").orderBy(
                            F.col("v"), F.col("id")
                        )
                    )
                    .cast("bigint")
                    .alias("b"),
                ).collect(),
            )
        )
        assert got == want

    def test_grouped_ranks_totals(self, spark):
        df = spark.createDataFrame(
            [("a", i, i) for i in range(10)] + [("b", i, 100 + i) for i in range(3)],
            "grp string, v long, id long",
        )
        out = ranks.grouped_exact_ranks(
            df, ["grp"], [F.col("v"), F.col("id")], n_parts=4
        )
        rows = {(r.grp, r.id): (r._grank, r._gtotal) for r in out.collect()}
        assert rows[("a", 0)] == (1, 10)
        assert rows[("a", 9)] == (10, 10)
        assert rows[("b", 102)] == (3, 3)

    def test_no_single_partition_exchange(self, spark):
        # no whole-group (let alone whole-table) window task: the only
        # windows in the plan are keyed by (group, range-pid) on the
        # data path and by group over the <=P-row counts table
        df = spark.createDataFrame(
            [("g", i % 9, i) for i in range(200)], "grp string, v long, id long"
        )
        out = ranks.grouped_ntile(
            df, ["grp"], [F.col("v"), F.col("id")], 4, "b", n_parts=5
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "SinglePartition" not in plan


class TestTwoPassOperatorWiring:
    def test_ccnet_buckets_two_pass_equals_window(self, spark):
        # dominant-language corpus: 90% 'en'
        rows = [
            (i, "en" if i < 90 else "fr", "tok%d word common text %d" % (i % 7, i))
            for i in range(100)
        ]
        docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
        train = docs.where(F.col("doc_id") % 2 == 0)
        from beis_orp_data_service_spark.operators import lm as lm_ops

        a = lm_ops.ccnet_buckets(docs, train, "doc_id", "text", "lang")
        b = lm_ops.ccnet_buckets(
            docs, train, "doc_id", "text", "lang", method="two_pass", n_parts=5
        )
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))

    def test_equi_depth_bins_two_pass_equals_window(self, spark):
        from beis_orp_data_service_spark.operators import corpus as corpus_ops

        rows = [("en", (i * 17) % 23, i) for i in range(180)]
        rows += [("de", i % 5, 1000 + i) for i in range(20)]
        df = spark.createDataFrame(rows, "lang string, n long, doc_id long")
        a = corpus_ops.equi_depth_bins(df, "lang", "n", "doc_id", 4)
        b = corpus_ops.equi_depth_bins(
            df, "lang", "n", "doc_id", 4, method="two_pass", n_parts=6
        )
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))

    def test_unknown_method_raises(self, spark):
        import pytest

        from beis_orp_data_service_spark.operators import corpus as corpus_ops
        from beis_orp_data_service_spark.operators import lm as lm_ops

        df = spark.createDataFrame([("a", 1, 1)], "lang string, n long, doc_id long")
        with pytest.raises(ValueError):
            corpus_ops.equi_depth_bins(df, "lang", "n", "doc_id", 4, method="nope")
        docs = spark.createDataFrame(
            [(1, "en", "a b")], "doc_id long, lang string, text string"
        )
        with pytest.raises(ValueError):
            lm_ops.ccnet_buckets(docs, docs, method="nope")

    def test_quantile_family_two_pass_equals_window(self, spark):
        # the r10 repo-wide window-class sweep: group_quantiles /
        # mad_outliers / winsorize under a dominant group (90% of rows)
        from beis_orp_data_service_spark.operators import analytics as an
        from beis_orp_data_service_spark.operators import corpus as co

        rows = [("en", (i * 37) % 101, i) for i in range(900)]
        rows += [("xx%d" % (i % 7), (i * 13) % 29, 10_000 + i) for i in range(100)]
        df = spark.createDataFrame(rows, "grp string, v long, id long")
        for a, b in [
            (
                co.group_quantiles(df, "grp", "v", "id", (50, 90, 99)),
                co.group_quantiles(
                    df, "grp", "v", "id", (50, 90, 99),
                    method="two_pass", n_parts=6,
                ),
            ),
            (
                an.mad_outliers(df, "grp", "v", "id", n_mads=2),
                an.mad_outliers(
                    df, "grp", "v", "id", n_mads=2,
                    method="two_pass", n_parts=6,
                ),
            ),
            (
                an.winsorize(df, "grp", "v", "id", 5, 95),
                an.winsorize(
                    df, "grp", "v", "id", 5, 95,
                    method="two_pass", n_parts=6,
                ),
            ),
        ]:
            assert sorted(map(tuple, a.collect())) == sorted(
                map(tuple, b.collect())
            )


class TestGroupedPrefixSums:
    def test_matches_window_running_sums(self, spark):
        rows = [("en", (i * 31) % 17, i, 1 + i % 7) for i in range(900)]
        rows += [("xx%d" % (i % 5), i % 11, 10_000 + i, 1 + i % 3)
                 for i in range(100)]
        df = spark.createDataFrame(rows, "grp string, v long, id long, n long")
        got = sorted(
            map(
                tuple,
                ranks.grouped_prefix_sums(
                    df, ["grp"], [F.col("v"), F.col("id")], ["n"], n_parts=7
                ).collect(),
            )
        )
        w = (
            Window.partitionBy("grp")
            .orderBy(F.col("v"), F.col("id"))
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        want = sorted(
            map(
                tuple,
                df.select(
                    "grp", "v", "id", "n",
                    F.sum("n").over(w).cast("bigint").alias("n_cum"),
                ).collect(),
            )
        )
        assert got == want

    def test_token_budget_select_prefix_semantics(self, spark):
        from beis_orp_data_service_spark.operators import corpus as co

        # group a: tokens 5,5,5 under budget 12 -> keep first two (cum
        # 5,10; third would be 15); group b: first row alone overflows
        df = spark.createDataFrame(
            [("a", 1, 5), ("a", 2, 5), ("a", 3, 5), ("b", 1, 99)],
            "grp string, id long, n long",
        )
        for method in ("window", "two_pass"):
            kept = co.token_budget_select(
                df, "grp", [F.col("id")], "n", 12, method=method, n_parts=3
            )
            assert sorted(
                (r.grp, r.id, r.tok_cum) for r in kept.collect()
            ) == [("a", 1, 5), ("a", 2, 10)], method
        # a row landing EXACTLY on the budget is kept (inclusive)
        kept = co.token_budget_select(df, "grp", [F.col("id")], "n", 15)
        assert [r.id for r in kept.where("grp = 'a'").collect()] == [1, 2, 3]

    def test_budget_select_methods_equal_dominant_group(self, spark):
        from beis_orp_data_service_spark.operators import corpus as co

        rows = [("en", i, 1 + (i * 13) % 9) for i in range(900)]
        rows += [("de", 10_000 + i, 1 + i % 4) for i in range(100)]
        df = spark.createDataFrame(rows, "grp string, id long, n long")
        a = co.token_budget_select(df, "grp", [F.col("id")], "n", 500)
        b = co.token_budget_select(
            df, "grp", [F.col("id")], "n", 500, method="two_pass", n_parts=6
        )
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))

    def test_budget_select_validation(self, spark):
        import pytest

        from beis_orp_data_service_spark.operators import corpus as co

        df = spark.createDataFrame([("a", 1, 1)], "grp string, id long, n long")
        with pytest.raises(ValueError):
            co.token_budget_select(df, "grp", [F.col("id")], "n", -1)
        with pytest.raises(ValueError):
            co.token_budget_select(df, "grp", [F.col("id")], "n", 1, method="x")


class TestNullGroupParity:
    def test_null_group_rows_survive_two_pass(self, spark):
        """SQL windows treat NULL as one more group; the two_pass
        offsets join must be null-safe or every null-group row silently
        vanishes (caught by self-audit, round 10)."""
        from beis_orp_data_service_spark.operators import corpus as co

        rows = [("a", i, i) for i in range(10)]
        rows += [(None, 100 + i, 100 + i) for i in range(7)]
        df = spark.createDataFrame(rows, "grp string, v long, id long")
        win = co.equi_depth_bins(df, "grp", "v", "id", 3)
        two = co.equi_depth_bins(df, "grp", "v", "id", 3, method="two_pass",
                                 n_parts=4)
        assert two.count() == 17
        key = lambda t: tuple((x is None, x) for x in t)  # noqa: E731
        assert sorted(map(tuple, win.collect()), key=key) == sorted(
            map(tuple, two.collect()), key=key
        )
        ps = ranks.grouped_prefix_sums(
            df, ["grp"], [F.col("v"), F.col("id")], ["v"], n_parts=4
        )
        assert ps.count() == 17


class TestBigintExactness:
    def test_ntile_exact_past_double_precision(self, spark):
        """Bucket assignment is bigint div, not IEEE floor-divide: at
        group sizes past 2^53 a double spelling collapses adjacent
        ranks onto the same quotient and misassigns boundary rows. Pin
        boundary ranks of a 2^60-row (virtual) group."""
        n_rows = 2**60  # q = 2^60//3, rem = 1
        n_tiles = 3
        q, rem = divmod(n_rows, n_tiles)
        cut = rem * (q + 1)
        # boundary ranks around the big->small bucket cut and the ends
        probes = [1, cut, cut + 1, cut + q, cut + q + 1, n_rows]
        expect = {r: _ntile_reference(r, n_rows, n_tiles) for r in probes}
        df = spark.createDataFrame(
            [(r, n_rows) for r in probes], "r long, n long"
        )
        got_col = {
            row.r: row.t
            for row in df.select(
                "r",
                ranks.ntile_from_rank_col(F.col("r"), F.col("n"), n_tiles)
                .alias("t"),
            ).collect()
        }
        assert got_col == expect, got_col


class TestReservedColumnGuard:
    def test_internal_names_rejected_up_front(self, spark):
        import pytest

        df_pid = spark.createDataFrame(
            [("a", 1, 2)], "grp string, id long, _rnk_pid long"
        )
        with pytest.raises(ValueError, match="_rnk_pid"):
            ranks.grouped_exact_ranks(df_pid, ["grp"], [F.col("id")])
        df_out = spark.createDataFrame(
            [("a", 1, 2)], "grp string, id long, _grank long"
        )
        with pytest.raises(ValueError, match="_grank"):
            ranks.grouped_exact_ranks(df_out, [], [F.col("id")])
        df_cum = spark.createDataFrame(
            [("a", 1, 2)], "grp string, n long, n_cum long"
        )
        with pytest.raises(ValueError, match="n_cum"):
            ranks.grouped_prefix_sums(
                df_cum, ["grp"], [F.col("n")], ["n"]
            )
        with pytest.raises(ValueError, match="n_cum"):
            ranks.grouped_prefix_sums(df_cum, [], [F.col("n")], ["n"])
        df_tile = spark.createDataFrame(
            [("a", 1, 2)], "grp string, id long, tile long"
        )
        with pytest.raises(ValueError, match="tile"):
            ranks.grouped_ntile(df_tile, ["grp"], [F.col("id")], 3, "tile")
        with pytest.raises(ValueError, match="tile"):
            ranks.grouped_ntile(df_tile, [], [F.col("id")], 3, "tile")
        # the constant key that stands in for group_cols=[]
        df_key = spark.createDataFrame([(1, 2)], "id long, _rnk_g long")
        with pytest.raises(ValueError, match="_rnk_g"):
            ranks.grouped_ntile(df_key, [], [F.col("id")], 3, "tile")
