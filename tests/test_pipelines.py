"""Integration tests for the composed pipelines: end-to-end ingestion,
the search API contract, and the legislation refresh (SURVEY §3)."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from beis_orp_data_service_spark.pipelines import ingestion, legislation_refresh, search_api
from tests.conftest import spark_jobs

CSV = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "beis_orp_data_service_spark", "resources", "leg_division.csv",
)


@pytest.fixture(scope="module")
def binaries(spark):
    texts = {
        1: "the water quality act applies to rivers and lakes " * 8,
        2: "fishing rules for coastal waters and licensed vessels " * 8,
        3: "the water quality act applies to rivers and lakes " * 8,  # dup of 1
    }
    rows = [
        (i, fmt, bytearray(texts[i].encode()))
        for i, fmt in [(1, "PDF"), (2, "DOCX"), (3, "PDF")]
    ]
    return spark.createDataFrame(
        rows, "media_id bigint, document_format string, content binary"
    )


def test_ingest_end_to_end(spark, binaries):
    out = ingestion.ingest(binaries)
    docs = out["documents"].toPandas()
    # doc 3 is an exact dup of doc 1 AFTER cleaning — but with no
    # existing store everything is 'new'; the store carries all three
    assert len(docs) == 3
    assert set(docs.columns) >= {
        "media_id", "text", "title", "summary", "subject_keywords",
        "language", "node_id", "sig_text", "classification", "version", "status",
    }
    # docs 1 and 3 share node_id (same title/format/lang) → SCD versions
    grp = docs.groupby("node_id").size()
    assert sorted(grp.tolist()) == [1, 2]
    live = docs[docs.status == "published"].groupby("node_id").size()
    assert (live == 1).all()
    # ORPML sink rows exist and carry the envelope
    orpml = out["orpml"].first().orpml
    assert orpml.startswith("<orpml") and "<documentContent>" in orpml
    stats = {r.document_format: r.n_failures for r in out["stats"].collect()}
    assert stats == {"PDF": 0, "DOCX": 0}


def test_ingest_against_existing_store_rejects_duplicates(spark, binaries):
    first = ingestion.ingest(binaries.filter("media_id = 1"))
    store = first["documents"]
    second = ingestion.ingest(binaries.filter("media_id = 3"), existing_store=store)
    # same bytes + same derived metadata already in the store →
    # rejected as duplicate (check_duplicate.py is_duplicate rule)
    assert second["rejected"].count() == 1
    assert second["documents"].filter("media_id = 3").count() == 0


def test_classify_similar_with_metadata_difference_is_version(spark, binaries):
    # identical text re-uploaded under a different format: similar
    # (cosine = 1 fast path) but metadata differs → 'version', inserted
    first = ingestion.ingest(binaries.filter("media_id = 1"))
    store = first["documents"]
    reupload = binaries.filter("media_id = 1").select(
        (F.col("media_id") + 10).alias("media_id"),
        F.lit("DOCX").alias("document_format"),
        "content",
    )
    out = ingestion.ingest(reupload, existing_store=store)
    cls = out["documents"].filter("media_id = 11").select("classification").first()
    assert cls is not None and cls.classification == "version"
    assert out["rejected"].count() == 0


def test_classify_near_duplicate_same_metadata_rejected(spark, binaries):
    # near-identical text (short suffix appended to a long varied doc),
    # same derived metadata → signature cosine ≥ 0.95 → 'duplicate' even
    # though the content hashes differ (the non-exact duplicate path)
    base = " ".join(f"clause {i} water quality obligations apply" for i in range(40))
    near = base + " annex"
    rows = [(1, "PDF", bytearray(base.encode())), (21, "PDF", bytearray(near.encode()))]
    df = spark.createDataFrame(
        rows, "media_id bigint, document_format string, content binary"
    )
    first = ingestion.ingest(df.filter("media_id = 1"))
    out = ingestion.ingest(df.filter("media_id = 21"), existing_store=first["documents"])
    assert out["rejected"].count() == 1
    assert out["documents"].filter("media_id = 21").count() == 0


@pytest.fixture(scope="module")
def searchable(spark):
    rows = [
        ("d1", "hse", "GD", ["env"], ["fish"], "published", "Water quality",
         dt.datetime(2021, 1, 5)),
        ("d2", "ea", "HS", ["air"], ["smoke"], "published", "Air rules",
         dt.datetime(2021, 2, 5)),
        ("d3", "ea", "GD", ["air"], ["smoke"], "archive", "Old", dt.datetime(2020, 1, 1)),
    ]
    return spark.createDataFrame(
        rows,
        "document_uid string, regulator_id string, document_type string, "
        "regulatory_topic array<string>, subject_keywords array<string>, "
        "status string, title string, date_published timestamp",
    )


def test_search_api_envelope(spark, searchable):
    res = search_api.handle_search(searchable, {"regulator_id": ["ea"]})
    assert res["status_code"] == 200
    assert res["total_search_results"] == 1  # archive excluded
    assert res["documents"][0]["document_uid"] == "d2"


def test_search_api_empty_and_400(spark, searchable):
    empty = search_api.handle_search(searchable, {"keyword": ["nope"]})
    assert empty["status_code"] == 404 and empty["documents"] == []
    bad = search_api.handle_search(searchable, {"frobnicate": 1})
    assert bad["status_code"] == 400 and "frobnicate" in bad["error"]


N_LIVE = 10_050  # matches past the 10,000 cap


@pytest.fixture(scope="module")
def crowded(spark):
    """N_LIVE live documents plus 50 archived ones, 500 distinct dates:
    every date is shared, so the document_uid tiebreak decides order."""
    return spark.range(N_LIVE + 50, numPartitions=4).select(
        F.format_string("d%05d", "id").alias("document_uid"),
        F.lit("ea").alias("regulator_id"),
        F.when(F.col("id") < N_LIVE, "published").otherwise("archive").alias("status"),
        F.timestamp_seconds(F.lit(1_600_000_000) + F.col("id") % 500 * 86_400)
        .alias("date_published"),
    )


def _desc_order(n):
    return [f"d{i:05d}" for i in sorted(range(n), key=lambda i: (i % 500, i), reverse=True)]


def test_search_api_total_capped_and_page_clipped_at_cap(spark, crowded):
    want = _desc_order(N_LIVE)
    first = search_api.handle_search(crowded, {})
    assert first["total_search_results"] == 10_000
    assert [d["document_uid"] for d in first["documents"]] == want[:10]
    # offset 9,995 (page 5 of 1,999): the window is clipped at the cap,
    # so only the 9,996th..10,000th matches come back
    last = search_api.handle_search(crowded, {"page": 5, "page_size": 1999})
    assert last["status_code"] == 200 and last["total_search_results"] == 10_000
    assert [d["document_uid"] for d in last["documents"]] == want[9_995:10_000]
    for page, size in [(1000, 10), (2, 5000), (5000, 10)]:  # offset >= cap
        past = search_api.handle_search(crowded, {"page": page, "page_size": size})
        assert past == {"status_code": 404, "total_search_results": 10_000, "documents": []}


def test_search_api_below_cap_page_past_cap_keeps_total(spark, searchable):
    res = search_api.handle_search(searchable, {"page": 1000, "page_size": 10})
    assert res == {"status_code": 404, "total_search_results": 2, "documents": []}


def test_search_api_folded_predicate_is_total_zero(spark, searchable):
    # Catalyst folds this plan to an empty relation and drops the
    # observed-metrics node with it
    res = search_api.handle_search(searchable.where(F.lit(False)), {})
    assert res == {"status_code": 404, "total_search_results": 0, "documents": []}


def test_search_api_request_is_one_spark_job(spark, crowded):
    res, jobs = spark_jobs(
        spark, lambda: search_api.handle_search(crowded, {"page": 3, "order": "asc"})
    )
    assert res["status_code"] == 200 and len(res["documents"]) == 10
    assert res["total_search_results"] == 10_000
    assert jobs == 1


def test_search_api_page_matches_search(spark, crowded):
    from beis_orp_data_service_spark.operators.search import search

    for body in [{}, {"page": 7, "order": "asc"}, {"page": 5, "page_size": 1999}]:
        got = [d["document_uid"] for d in search_api.handle_search(crowded, body)["documents"]]
        want = [r.document_uid for r in search(crowded, search_api.parse_request(body)).collect()]
        assert got == want and got


def test_legislation_refresh_idempotent_overlap(spark):
    w1 = [
        ("ukpga/2000/1/x/ukpga", "Water Act 2000", "Water Act", "WA 2000", None,
         "2000", 1, "Primary", "England and Wales"),
        ("uksi/2001/2/x/uksi", "Fish Rules 2001", None, None, None,
         "2001", 2, "Secondary", "England and Wales"),
    ]
    # overlap window redelivers act 1 with a newer year (amended)
    w2 = [
        ("ukpga/2005/9/x/ukpga", "Water Act 2000", "Water Act", None, None,
         "2005", 9, "Primary", "England and Wales"),
    ]
    raw1 = legislation_refresh.fetch_updated_acts(spark, w1)
    t1 = legislation_refresh.refresh(spark, raw1, CSV)
    assert t1.filter("candidate_titles = 'Water Act'").count() == 1
    # divAbbv derived from ref; division metadata joined
    row = t1.filter("candidate_titles = 'Water Act 2000'").first()
    assert row.divAbbv == "ukpga" and row.legDivision == "England and Wales"

    raw2 = legislation_refresh.fetch_updated_acts(spark, w2)
    t2 = legislation_refresh.refresh(spark, raw2, CSV, existing=t1.withColumn(
        "candidates", F.array("candidate_titles")))
    # replayed title converges to one row, newest wins
    water = t2.filter("candidate_titles = 'Water Act 2000'").collect()
    assert len(water) == 1 and water[0].year == "2005"
    # untouched rows survive the merge
    assert t2.filter("candidate_titles = 'Fish Rules 2001'").count() == 1


def test_sparql_watermark_cursor_arithmetic():
    from datetime import datetime

    lr = legislation_refresh
    # 14-day window crossing a month boundary
    assert lr.watermark_cursor(datetime(2026, 3, 10, 8, 30, 45)) == "2026-02-24T08:30:45"
    # leap-year February
    assert lr.watermark_cursor(datetime(2024, 3, 1, 0, 0, 0)) == "2024-02-16T00:00:00"
    # year boundary
    assert lr.watermark_cursor(datetime(2026, 1, 7, 23, 59, 59)) == "2025-12-24T23:59:59"
    # custom window width
    assert lr.watermark_cursor(datetime(2026, 3, 10, 8, 0, 0), days=1) == "2026-03-09T08:00:00"


def test_sparql_query_builder_embeds_cursor_and_validates():
    import pytest as _pytest

    lr = legislation_refresh
    q = lr.build_sparql_query("2026-02-24T08:30:45")
    assert "FILTER(str(?actTime) > '2026-02-24T08:30:45')" in q
    # the query asks for the full projection the transform consumes
    for var in ("?ref", "?title", "?shorttitle", "?citation",
                "?acronymcitation", "?year", "?number"):
        assert var in q
    assert "leg:Legislation" in q and "provenance/Addition" in q
    # malformed cursors (including injection attempts) are rejected
    for bad in ("2026-2-4T08:30:45", "2026-02-24", "x') } #", ""):
        with _pytest.raises(ValueError):
            lr.build_sparql_query(bad)


def test_fetch_updated_acts_consumes_builder_query(spark):
    lr = legislation_refresh
    seen = {}

    def fake_executor(query: str) -> list[tuple]:
        seen["q"] = query
        return [
            ("ukpga/2000/1/x/ukpga", "Water Act 2000", "Water Act", None, None,
             "2000", 1, "Primary", "England and Wales"),
        ]

    q = lr.build_sparql_query("2026-02-24T08:30:45")
    df = lr.fetch_updated_acts(spark, query=q, executor=fake_executor)
    assert seen["q"] == q and "2026-02-24T08:30:45" in seen["q"]
    assert df.count() == 1 and df.first().title == "Water Act 2000"
