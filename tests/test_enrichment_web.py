"""N14 web-half golden tests — dti_web_rank / dti_resolve
(rule_based_dti.py:36-66 semantics over prefetched response columns)."""

from __future__ import annotations

import pathlib
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

from beis_orp_data_service_spark.operators import enrichment as enr

MAPPING = [
    (0, "statutory_guidance", "MSI"),
    (1, "regulation", "MSI"),
    (2, "guidance", "GD"),
    (3, "hs-guidance", "HS"),
]
MAPPING_SCHEMA = "map_idx bigint, document_type string, orp_dt string"

DOCS_SCHEMA = (
    "doc_id bigint, url string, api_response string, html string, "
    "parent_url string, parent_api string, parent_html string"
)


def _web(spark, rows):
    docs = spark.createDataFrame(rows, DOCS_SCHEMA)
    mapping = spark.createDataFrame(MAPPING, MAPPING_SCHEMA)
    out = enr.dti_web_rank(
        docs,
        "doc_id",
        "url",
        "api_response",
        "html",
        mapping,
        parent_url_col="parent_url",
        parent_api_json_col="parent_api",
        parent_html_col="parent_html",
    )
    return {r.doc_id: r.web_document_type for r in out.collect()}


def test_govuk_parent_chain_and_mapping_order(spark):
    # own type guidance (map_idx 2) + parent statutory_guidance (map_idx 0):
    # the FIRST mapping row wins (df[...isin].iloc[0]) → MSI, not GD
    api = (
        '{"document_type":"guidance","links":{"parent":'
        '[{"document_type":"statutory_guidance"}]}}'
    )
    got = _web(spark, [(1, "https://www.gov.uk/guidance/x", api, None, None, None, None)])
    assert got[1] == "MSI"


def test_govuk_own_type_only(spark):
    api = '{"document_type":"guidance","links":{}}'
    got = _web(spark, [(1, "https://www.gov.uk/x", api, None, None, None, None)])
    assert got[1] == "GD"


def test_hse_body_class(spark):
    html = '<html><body class="hs-guidance other-cls">x</body></html>'
    got = _web(spark, [(2, "https://www.hse.gov.uk/y", None, html, None, None, None)])
    assert got[2] == "HS"


def test_parent_url_depth_one_fallback(spark):
    # unknown host, but a gov.uk parent with a prefetched response:
    # dti_web(parent_url, None) — one level, then stop
    p_api = '{"document_type":"regulation","links":{}}'
    rows = [
        (3, "https://example.org/z", None, None,
         "https://www.gov.uk/p", p_api, None),
        # parent also unknown → no candidates → NA
        (4, "https://example.org/w", None, None,
         "https://elsewhere.org/p", None, None),
    ]
    got = _web(spark, rows)
    assert got[3] == "MSI"
    assert got[4] == "NA"


def test_unmapped_types_resolve_na(spark):
    api = '{"document_type":"press_release","links":{}}'
    got = _web(spark, [(5, "https://www.gov.uk/x", api, None, None, None, None)])
    assert got[5] == "NA"


def test_dti_resolve_web_first_text_fallback(spark):
    web = spark.createDataFrame(
        [(1, "MSI"), (2, "NA"), (3, "NA")],
        "doc_id bigint, web_document_type string",
    )
    text = spark.createDataFrame(
        [(1, "SPARK"), (2, "VEC")], "doc_id bigint, document_type string"
    )
    out = {
        r.doc_id: r.document_type
        for r in enr.dti_resolve(web, text, "doc_id").collect()
    }
    # web wins when set; text only fills NA; both missing → NA
    assert out == {1: "MSI", 2: "VEC", 3: "NA"}
