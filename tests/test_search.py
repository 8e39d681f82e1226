"""Search-surface tests on a domain-shaped documents fixture.

Mirrors SURVEY.md §5.5: each query_builder branch (Q1-Q19), pagination
stability, and the empty-result path.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from beis_orp_data_service_spark.operators.search import (
    SearchParams,
    build_predicate,
    search,
    sort_page,
)


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        # (uid, regulator, type, topics, keywords, status, title, date_published)
        ("d1", "hse", "GD", ["env", "env/water"], ["fish", "water"], "published", "Water quality", _ts("2021-01-05")),
        ("d2", "hse", "HS", ["env"], ["fish"], "published", "Fishing rules", _ts("2021-03-05")),
        ("d3", "ea", "GD", ["air"], ["smoke"], "archive", "Old air rules", _ts("2020-01-01")),
        ("d4", "ea", "MSI", ["air", "air/quality"], ["smoke", "air"], "published", "Air quality", _ts("2021-02-01")),
        ("d5", "defra", "GD", ["env/water"], ["water"], "published", "Rivers", _ts("2021-02-01")),
    ]
    return spark.createDataFrame(
        rows,
        "document_uid string, regulator_id string, document_type string, "
        "regulatory_topic array<string>, subject_keywords array<string>, "
        "status string, title string, date_published timestamp",
    )


def run(docs, **kw):
    return {
        r.document_uid
        for r in docs.filter(build_predicate(SearchParams(**kw))).collect()
    }


def test_not_archived_default(docs):
    assert run(docs) == {"d1", "d2", "d4", "d5"}


def test_point_lookup(docs):
    assert run(docs, id="d1") == {"d1"}
    assert run(docs, id="d3") == set()  # archived excluded even by id


def test_keyword_and_semantics(docs):
    assert run(docs, keyword=["fish"]) == {"d1", "d2"}
    assert run(docs, keyword=["fish", "water"]) == {"d1"}


def test_or_in_filters(docs):
    assert run(docs, regulator_id=["hse", "defra"]) == {"d1", "d2", "d5"}
    assert run(docs, document_type=["GD"]) == {"d1", "d5"}


def test_topic_equality(docs):
    assert run(docs, regulatory_topic="env/water") == {"d1", "d5"}


def test_date_range_open_sides(docs):
    assert run(docs, date_start="2021-02-01") == {"d2", "d4", "d5"}
    assert run(docs, date_end="2021-01-31") == {"d1"}
    assert run(docs, date_start="2021-01-06", date_end="2021-02-15") == {"d4", "d5"}


def test_title_substring_case_insensitive(docs):
    assert run(docs, title="QUALITY") == {"d1", "d4"}


def test_empty_result_path(docs):
    assert run(docs, keyword=["nonexistent"]) == set()


def test_sort_page_stable_and_disjoint(docs):
    base = docs.filter(build_predicate(SearchParams()))
    # 0-based pages (reference handler.py:20)
    p1 = sort_page(base, "date_published", False, 0, 2, "document_uid")
    p2 = sort_page(base, "date_published", False, 1, 2, "document_uid")
    ids1 = [r.document_uid for r in p1.collect()]
    ids2 = [r.document_uid for r in p2.collect()]
    assert ids1 == ["d2", "d5"]  # 2021-03-05, then 2021-02-01 tie → uid desc
    assert ids2 == ["d4", "d1"]
    assert not set(ids1) & set(ids2)
    # the cap clips the page window: nothing past the cap-th row
    capped = [
        [r.document_uid for r in sort_page(base, "date_published", False, 1, 2, "document_uid", cap=c).collect()]
        for c in (3, 2)
    ]
    assert capped == [["d4"], []]


def test_search_end_to_end_with_left_join(spark, docs):
    legs = spark.createDataFrame(
        [("d1", "ukpga/2000/1")], "document_uid string, leg_href string"
    )
    out = search(docs, SearchParams(page_size=10), legislation_edges=legs,
                 return_cols=["document_uid", "leg_href"])
    got = {r.document_uid: r.leg_href for r in out.collect()}
    assert got == {"d1": "ukpga/2000/1", "d2": None, "d4": None, "d5": None}


class TestGroupedTopK:
    def test_topk_per_group_with_tiebreak(self, spark):
        from pyspark.sql import functions as F

        from beis_orp_data_service_spark.operators.search import grouped_topk

        rows = [("a", i, 100 - (i % 3)) for i in range(9)] + [("b", 100, 5)]
        df = spark.createDataFrame(rows, "g string, id bigint, v bigint")
        got = grouped_topk(
            df, ["g"], [F.col("v").desc(), F.col("id").asc()], 2
        ).collect()
        by = {(r.g, r.rank_in_group): r.id for r in got}
        # group a: v=100 for ids 0,3,6 -> tiebreak id asc picks 0 then 3
        assert by[("a", 1)] == 0 and by[("a", 2)] == 3
        # group b has a single row
        assert by[("b", 1)] == 100 and ("b", 2) not in by

    def test_no_global_sort_in_plan(self, spark):
        from pyspark.sql import functions as F

        from beis_orp_data_service_spark.catalog import load_table
        from beis_orp_data_service_spark.operators.search import grouped_topk
        from tests.conftest import SF_SMOKE

        docs = load_table(spark, SF_SMOKE, "documents")
        plan = (
            grouped_topk(
                docs.select("source", "doc_id", "n_chars"),
                ["source"],
                [F.col("n_chars").desc(), F.col("doc_id").asc()],
                3,
            )
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # window sort is group-partitioned, never a global Sort/Exchange
        # into a single range partition
        assert "rangepartitioning" not in plan.lower()

    def test_k_validation(self, spark):
        import pytest

        from beis_orp_data_service_spark.operators.search import grouped_topk

        df = spark.createDataFrame([("a", 1)], "g string, id bigint")
        with pytest.raises(ValueError):
            grouped_topk(df, ["g"], [], 0)


def test_search_facets_null_bucket_and_single_pass(spark):
    from beis_orp_data_service_spark.operators import search as so

    df = spark.createDataFrame(
        [(1, "en", "web"), (2, "en", "pdf"), (3, None, "web"), (4, "fr", None)],
        "id bigint, lang string, src string",
    )
    out = so.search_facets(df, ["lang", "src"])
    got = {(r.facet, r.value): r.n for r in out.collect()}
    assert got == {
        ("lang", "en"): 2,
        ("lang", "fr"): 1,
        ("lang", "(null)"): 1,
        ("src", "web"): 2,
        ("src", "pdf"): 1,
        ("src", "(null)"): 1,
    }
    # ONE Expand pass, not one aggregate per facet (AQE repeats the
    # tree under '== Initial Plan ==' — inspect the final section only)
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Expand") == 1
    assert final.count("Scan") == 1  # the facet panel costs one scan

    with pytest.raises(ValueError):
        so.search_facets(df, [])


class TestPhraseMatch:
    def test_finds_exact_occurrences_with_offsets(self, spark):
        from beis_orp_data_service_spark.operators import search as so

        docs = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps"),
                (2, "quick brown  fox and quick brown fox again"),
                (3, "brown quick fox"),          # wrong order
                (4, "quick brownish fox"),       # token-boundary exact
                (5, "Quick BROWN Fox"),          # case-folded
            ],
            "doc_id long, text string",
        )
        out = {
            (r["doc_id"], r["start"])
            for r in so.phrase_match(docs, "quick brown fox").collect()
        }
        assert out == {(1, 1), (2, 0), (2, 4), (5, 0)}

    def test_repeated_token_phrase(self, spark):
        from beis_orp_data_service_spark.operators import search as so

        docs = spark.createDataFrame(
            [(1, "a b a b a"), (2, "a b b a"), (3, "b a b a b")],
            "doc_id long, text string",
        )
        out = {
            (r["doc_id"], r["start"])
            for r in so.phrase_match(docs, "a b a").collect()
        }
        assert out == {(1, 0), (1, 2), (3, 1)}

    def test_single_token_and_empty_phrase(self, spark):
        import pytest

        from beis_orp_data_service_spark.operators import search as so

        docs = spark.createDataFrame([(1, "x y x")], "doc_id long, text string")
        out = {
            (r["doc_id"], r["start"])
            for r in so.phrase_match(docs, "x").collect()
        }
        assert out == {(1, 0), (1, 2)}
        with pytest.raises(ValueError, match="phrase"):
            so.phrase_match(docs, "   ")


class TestSuggestIndex:
    def test_prefixes_ranked_by_frequency(self, spark):
        from beis_orp_data_service_spark.operators import search as so

        docs = spark.createDataFrame(
            [
                (1, "scan scan scan scale scale scatter"),
                (2, "scan table scale"),
            ],
            "doc_id long, text string",
        )
        out = so.suggest_index(docs, "text", min_prefix=2, max_prefix=4, k=2)
        rows = {(r["prefix"], r["rank"]): (r["token"], r["freq"]) for r in out.collect()}
        # 'sc' prefix: scan(4) > scale(3) > scatter(1); k=2 keeps two
        assert rows[("sc", 1)] == ("scan", 4)
        assert rows[("sc", 2)] == ("scale", 3)
        assert ("sc", 3) not in rows
        # full-length prefix capped at max_prefix=4
        assert ("scan", 1) in rows and ("scatt", 1) not in rows
        # no prefix shorter than min
        assert all(len(p) >= 2 for p, _ in rows)

    def test_tie_breaks_lexicographic(self, spark):
        from beis_orp_data_service_spark.operators import search as so

        docs = spark.createDataFrame(
            [(1, "alpha alps")], "doc_id long, text string"
        )
        out = {
            (r["prefix"], r["rank"]): r["token"]
            for r in so.suggest_index(docs, "text", 2, 4, 5).collect()
        }
        assert out[("al", 1)] == "alpha" and out[("al", 2)] == "alps"

    def test_bad_bounds(self, spark):
        import pytest

        from beis_orp_data_service_spark.operators import search as so

        docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        with pytest.raises(ValueError, match="min_prefix"):
            so.suggest_index(docs, "text", 5, 2)
