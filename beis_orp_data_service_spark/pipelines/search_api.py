"""Search API facade — the reference's request handler surface
(lambdas/typedb_search_query/handler.py) over the engine's search plan.

Reproduces the contract, not just the query: accepted-parameter
validation with the 400 path for unsupported keys (handler.py:54-58),
defaulted paging (page 1, size 10 — handler.py:20,51-52), and the
response envelope {status_code, total_search_results, documents}
(handler.py:60-71). The reference's three TypeDB round-trips become one
Spark job: the match count rides the page's plan as an observed metric
(``DataFrame.observe``), and the page is a capped top-K
(``sort_page``), so a request scans the store once, with no shuffle
(plus a broadcast build when legislation edges are joined).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from beis_orp_data_service_spark.operators.search import (
    SEARCH_MATCH_LIMIT,
    SearchParams,
    build_predicate,
    page_args,
    sort_page,
)

ACCEPTED_KEYS = {
    # handler.py:16-18
    "id",
    "keyword",
    "title",
    "date_published",
    "regulator_id",
    "status",
    "document_type",
    "regulatory_topic",
    "legislation_href",
    "page",
    "page_size",
    "order",
}


def parse_request(body: dict[str, Any]) -> SearchParams:
    """Validate + coerce the JSON request body. Raises ValueError for
    unsupported params (the 400 path)."""
    unsupported = set(body) - ACCEPTED_KEYS
    if unsupported:
        raise ValueError(f"unsupported search parameters: {sorted(unsupported)}")
    dates = body.get("date_published") or {}
    return SearchParams(
        id=body.get("id"),
        keyword=body.get("keyword", []),
        title=body.get("title"),
        date_start=dates.get("start_date"),
        date_end=dates.get("end_date"),
        regulator_id=body.get("regulator_id", []),
        status=body.get("status", []),
        document_type=body.get("document_type", []),
        regulatory_topic=body.get("regulatory_topic"),
        page=int(body.get("page", 0)),  # 0-based, handler.py:20
        page_size=int(body.get("page_size", 10)),
        order=body.get("order", "desc"),
    )


def _observed_count(seen: Observation) -> int | None:
    """The observed match count, or None when Catalyst folded the plan
    to an empty relation and dropped the observing node with it (an
    always-false predicate, or a page window empty by arithmetic): the
    metrics row is then empty and ``Observation.get`` would fail on it."""
    if seen._jo.getRow().length() == 0:
        return None
    return seen.get["n"]


def handle_search(
    documents: DataFrame,
    body: dict[str, Any],
    legislation_edges: DataFrame | None = None,
) -> dict[str, Any]:
    """The handler: validate → one Spark job → envelope.

    The page is :func:`sort_page` over the matches with the same
    :func:`page_args` as ``operators.search.search``; the match count is
    observed on the same scan, so a request with a page to return and no
    ``legislation_edges`` runs one job of one stage.
    total_search_results is the match count capped at the match limit
    (handler.py:66 counts the full TQL answer set, whose ``limit 10000``
    caps it); a page starting at or past the cap is empty (404). Above
    the cap the page is the deterministic top of all matches — see
    :func:`page_args`.
    """
    try:
        params = parse_request(body)
    except ValueError as e:
        return {"status_code": 400, "error": str(e)}

    matches = documents.filter(build_predicate(params))
    seen = Observation()
    paged = sort_page(
        matches.observe(seen, F.count(F.lit(1)).alias("n")), **page_args(params)
    )
    if legislation_edges is not None:
        paged = paged.join(F.broadcast(legislation_edges), "document_uid", "left")
    docs = [r.asDict(recursive=True) for r in paged.collect()]
    n = _observed_count(seen)
    if n is None:
        n = matches.count()
    return {
        "status_code": 200 if docs else 404,  # empty-result path handler.py:69-71
        "total_search_results": min(n, SEARCH_MATCH_LIMIT),
        "documents": docs,
    }
