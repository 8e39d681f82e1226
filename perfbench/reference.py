"""Independent evaluations the benchmark checks outputs against (no
Spark here).

Search follows the search API contract: archived documents never match,
every given filter must hold, the answer set is capped at the match
limit, and pages are 0-based slices of the (date_published,
document_uid) order, descending unless ``order`` is ``asc``.

LSH bands follow the dedup layer's documented signature: 5-byte
shingles hashed by the polynomial fold ``h = h*31 + byte (mod 2^31-1)``,
8 universal hashes ``(a*h + b) mod (2^31-1)`` with (a, b) from the LCG
``x = x*6364136223846793005 + 1442695040888963407 (mod 2^63)`` seeded
with 1, minimum per hash, and bands of 4 consecutive minima.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

#: handle_search caps its answer set at this many matches; above it the
#: capped page is not deterministic, so no request may reach it
MATCH_LIMIT = 10_000

_P = 2**31 - 1
_SHINGLE = 5
_BAND = 4


def _lcg_perms(n: int, seed: int = 1) -> np.ndarray:
    out, x = [], seed
    for _ in range(n):
        x = (x * 6_364_136_223_846_793_005 + 1_442_695_040_888_963_407) % (1 << 63)
        a = 1 + x % (_P - 1)
        x = (x * 6_364_136_223_846_793_005 + 1_442_695_040_888_963_407) % (1 << 63)
        out.append((a, 1 + x % (_P - 1)))
    return np.array(out, dtype=np.int64)


_PERMS = _lcg_perms(8)


def minhash(text: str) -> list[int]:
    b = np.frombuffer(text.encode("utf-8"), dtype=np.uint8).astype(np.int64)
    if len(b) < _SHINGLE:
        b = np.pad(b, (0, _SHINGLE - len(b)))
    n = len(b) - _SHINGLE + 1
    h = b[:n].copy()
    for j in range(1, _SHINGLE):
        h = (h * 31 + b[j : n + j]) % _P
    return ((_PERMS[:, :1] * h[None, :] + _PERMS[:, 1:]) % _P).min(axis=1).tolist()


def lsh_bands(text: str) -> set[tuple]:
    """The text's LSH band keys, as (band index, minima...) tuples."""
    sig = minhash(text)
    return {(i // _BAND, *sig[i : i + _BAND]) for i in range(0, len(sig), _BAND)}


def evaluate(store: pd.DataFrame, body: dict) -> tuple[int, list[str]]:
    """(total_search_results, page document_uids) for one request."""
    m = store["status"] != "archive"
    if body.get("id") is not None:
        m &= store["document_uid"] == body["id"]
    for kw in body.get("keyword", []):
        m &= store["subject_keywords"].map(lambda ks, kw=kw.lower(): kw in ks)
    for col in ("regulator_id", "status", "document_type"):
        if body.get(col):
            m &= store[col].isin(body[col])
    dates = body.get("date_published") or {}
    if dates.get("start_date"):
        m &= store["date_published"] >= pd.Timestamp(dates["start_date"], tz="UTC")
    if dates.get("end_date"):
        m &= store["date_published"] <= pd.Timestamp(dates["end_date"], tz="UTC")
    if body.get("title") is not None:
        m &= store["title"].str.lower().str.contains(body["title"].lower(), regex=False)
    hits = store.loc[m, ["date_published", "document_uid"]]
    if len(hits) > MATCH_LIMIT:
        raise ValueError(f"request matches {len(hits)} > {MATCH_LIMIT}: page is not deterministic")
    asc = body.get("order", "desc") == "asc"
    ordered = hits.sort_values(["date_published", "document_uid"], ascending=asc)
    size = int(body.get("page_size", 10))
    lo = int(body.get("page", 0)) * size
    return len(hits), ordered["document_uid"].iloc[lo : lo + size].tolist()


def check_response(store: pd.DataFrame, body: dict, response: dict) -> str | None:
    """None when the response matches the reference, else what differs."""
    total, ids = evaluate(store, body)
    want_status = 200 if ids else 404
    if response.get("status_code") != want_status:
        return f"status {response.get('status_code')} != {want_status}"
    if response.get("total_search_results") != total:
        return f"total {response.get('total_search_results')} != {total}"
    got = [d["document_uid"] for d in response.get("documents", [])]
    if got != ids:
        return f"page ids differ: {got[:3]}... != {ids[:3]}..."
    return None
