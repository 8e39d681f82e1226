from __future__ import annotations

import pandas as pd
import pytest

import reference


@pytest.fixture
def store():
    ts = lambda s: pd.Timestamp(s, tz="UTC")  # noqa: E731
    return pd.DataFrame(
        {
            "document_uid": ["a", "b", "c", "d"],
            "regulator_id": ["r1", "r1", "r2", "r1"],
            "document_type": ["GD"] * 4,
            "subject_keywords": [["x", "y"], ["x"], ["x", "y"], ["y"]],
            "status": ["published", "published", "published", "archive"],
            "title": ["Water Rules", "Air", "water quality", "Water"],
            "date_published": [ts("2020-01-02"), ts("2020-01-02"), ts("2021-05-01"), ts("2019-01-01")],
        }
    )


def test_filters_order_and_pages(store):
    assert reference.evaluate(store, {"regulator_id": ["r1"]}) == (2, ["b", "a"])
    assert reference.evaluate(store, {"regulator_id": ["r1"], "order": "asc"}) == (2, ["a", "b"])
    assert reference.evaluate(store, {"keyword": ["X", "y"]}) == (2, ["c", "a"])
    assert reference.evaluate(store, {"title": "WATER"}) == (2, ["c", "a"])
    dates = {"date_published": {"start_date": "2020-01-02", "end_date": "2020-12-31"}}
    assert reference.evaluate(store, dates) == (2, ["b", "a"])
    assert reference.evaluate(store, {"page": 1, "page_size": 2}) == (3, ["a"])
    assert reference.evaluate(store, {"id": "d"}) == (0, [])  # archived never matches


def test_check_response(store):
    ok = {"status_code": 200, "total_search_results": 2,
          "documents": [{"document_uid": "b"}, {"document_uid": "a"}]}
    assert reference.check_response(store, {"regulator_id": ["r1"]}, ok) is None
    bad = dict(ok, documents=[{"document_uid": "a"}, {"document_uid": "b"}])
    assert "page ids differ" in reference.check_response(store, {"regulator_id": ["r1"]}, bad)
    empty = {"status_code": 404, "total_search_results": 0, "documents": []}
    assert reference.check_response(store, {"id": "zz"}, empty) is None


def test_lsh_bands_shape_and_sensitivity():
    text = " ".join(f"w{i}x{i * 7 % 13}" for i in range(80))
    bands = reference.lsh_bands(text)
    assert len(bands) == 2 and {b[0] for b in bands} == {0, 1}
    assert all(len(b) == 5 for b in bands)
    assert reference.lsh_bands(text) == bands
    assert not reference.lsh_bands("completely different words here") & bands
    assert reference.lsh_bands("ab") == reference.lsh_bands("ab")  # shorter than a shingle
