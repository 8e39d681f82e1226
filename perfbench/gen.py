"""Seeded input generators for the benchmark workloads (no Spark here).

Every generator takes a ``seed`` and returns plain Python / pandas /
pyarrow values, so the same seed gives byte-identical inputs and the
program under test only ever sees the generated data. Texts are built
from a fixed vocabulary of random-letter pseudo-words: two independently
drawn documents share almost no shingles, so the only near-duplicates in
an input are the ones a generator plants.
"""

from __future__ import annotations

import datetime as dt
import json
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa

import reference

def _vocab(n: int) -> list[str]:
    # random letters, so two documents share few 5-char shingles (the dedup
    # layer's unit); drawn from a fixed generator: the vocabulary is not seeded
    rng = np.random.default_rng(20240101)
    lens = rng.integers(4, 10, n)
    letters = rng.integers(0, 26, (n, 9))
    out = dict.fromkeys("".join(chr(97 + c) for c in row[:k]) for row, k in zip(letters, lens))
    return list(out)


#: ~20,000 distinct pseudo-words
VOCAB = _vocab(20_000)

DOC_TYPES = ["GD", "HS", "MSI", "RG", "CP", "PN", "ST", "OR"]
TOPICS = ["environment", "energy", "finance", "health", "transport", "trade"]
SUBTOPICS = ["policy", "standards", "reporting", "licensing"]
N_REGULATORS = 60
#: keywords come from a small Zipf-skewed vocabulary so AND filters match
KEYWORDS = VOCAB[:400]
DATE_LO = dt.datetime(2014, 1, 1, tzinfo=dt.timezone.utc)
DATE_SPAN_DAYS = 3650


def _zipf_probs(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def words(rng: np.random.Generator, n: int) -> str:
    """``n`` pseudo-words. No stopwords: two drawn texts share (almost) no
    5-char shingle, so they never collide in an LSH band by accident."""
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n))


# --- search_api --------------------------------------------------------------


def search_store(seed: int, n_docs: int) -> pa.Table:
    """The search store in the search API's document schema."""
    rng = np.random.default_rng([seed, 1])
    regs = rng.choice(N_REGULATORS, n_docs, p=_zipf_probs(N_REGULATORS, 1.0))
    topic = rng.integers(0, len(TOPICS), n_docs)
    sub = rng.integers(0, len(SUBTOPICS), n_docs)
    # up to 8 keyword draws per doc, deduped in draw order, first 3..8 kept
    kw_draws = rng.choice(len(KEYWORDS), (n_docs, 8), p=_zipf_probs(len(KEYWORDS), 0.8))
    kw_n = rng.integers(3, 9, n_docs)
    title_idx = rng.integers(0, len(VOCAB), (n_docs, 7))
    title_n = rng.integers(3, 8, n_docs)
    days = rng.integers(0, DATE_SPAN_DAYS, n_docs)
    secs = rng.integers(0, 86_400, n_docs)
    uid_hi = rng.integers(0, 2**63, n_docs)
    archived = rng.random(n_docs) < 0.2
    doc_type = rng.integers(0, len(DOC_TYPES), n_docs)
    topics = [[f"/{TOPICS[t]}", f"/{TOPICS[t]}/{SUBTOPICS[u]}"] for t, u in zip(topic, sub)]
    kws = [
        sorted(KEYWORDS[j] for j in list(dict.fromkeys(row))[:k])
        for row, k in zip(kw_draws.tolist(), kw_n)
    ]
    titles = [
        " ".join(VOCAB[j] for j in row[:k]).capitalize()
        for row, k in zip(title_idx.tolist(), title_n)
    ]
    base_us = int(DATE_LO.timestamp()) * 1_000_000
    return pa.table(
        {
            "document_uid": pa.array(
                [f"{h:016x}{i:016x}" for i, h in enumerate(uid_hi.tolist())], pa.string()
            ),
            "regulator_id": pa.array([f"reg{r:02d}" for r in regs], pa.string()),
            "document_type": pa.array([DOC_TYPES[i] for i in doc_type], pa.string()),
            "regulatory_topic": pa.array(topics, pa.list_(pa.string())),
            "subject_keywords": pa.array(kws, pa.list_(pa.string())),
            "status": pa.array(np.where(archived, "archive", "published").tolist(), pa.string()),
            "title": pa.array(titles, pa.string()),
            "date_published": pa.array(
                base_us + (days * 86_400 + secs) * 1_000_000, pa.timestamp("us", tz="UTC")
            ),
        }
    )


#: request kinds and their shares of the mix, per 20 requests. These
#: shares, the Zipf exponents above and the stream shares below
#: are assumptions, not measured traffic: they are chosen so that every
#: request kind and every ingest outcome occurs in each run (see README)
REQUEST_MIX = {
    "id": 4,
    "regulator": 5,
    "keyword_and": 4,
    "title": 3,
    "date_range": 2,
    "deep_page": 2,
}
#: the kinds in a fixed interleaved order, so every seed sends the same
#: mix in the same order and only the parameters vary
KIND_CYCLE = [
    kind
    for _pos, _i, kind in sorted(
        ((j + 0.5) / n, i, kind)
        for i, (kind, n) in enumerate(REQUEST_MIX.items())
        for j in range(n)
    )
]


def search_requests(seed: int, store: pd.DataFrame, n: int) -> list[dict]:
    """``n`` seeded request bodies for ``handle_search``: id point lookups,
    Zipf-skewed regulator filters, keyword AND, title substring, date range
    and deep pages. ``store`` is the pandas form of :func:`search_store`."""
    rng = np.random.default_rng([seed, 2])
    live = store[store["status"] != "archive"]
    reg_p = _zipf_probs(N_REGULATORS, 1.0)
    kw_p = _zipf_probs(len(KEYWORDS), 0.8)
    out = []
    for i in range(n):
        kind = KIND_CYCLE[i % len(KIND_CYCLE)]
        order = "asc" if rng.random() < 0.3 else "desc"
        if kind == "id":
            body = {"id": str(live["document_uid"].iloc[rng.integers(0, len(live))])}
        elif kind == "regulator":
            body = {"regulator_id": [f"reg{rng.choice(N_REGULATORS, p=reg_p):02d}"],
                    "order": order}
        elif kind == "keyword_and":
            ks = rng.choice(len(KEYWORDS), 2, replace=False, p=kw_p)
            body = {"keyword": [KEYWORDS[j] for j in ks], "order": order}
        elif kind == "title":
            title = str(live["title"].iloc[rng.integers(0, len(live))])
            body = {"title": title.split()[0].lower()}
        elif kind == "date_range":
            start = DATE_LO + dt.timedelta(days=int(rng.integers(0, DATE_SPAN_DAYS - 90)))
            end = start + dt.timedelta(days=int(rng.integers(7, 90)))
            body = {"date_published": {"start_date": start.strftime("%Y-%m-%d"),
                                       "end_date": end.strftime("%Y-%m-%d")},
                    "order": order}
        else:  # deep_page: a page well inside a regulator's answer set
            reg = f"reg{rng.integers(0, 8):02d}"
            n_live = int((live["regulator_id"] == reg).sum())
            body = {"regulator_id": [reg], "page": int(rng.integers(n_live // 40, n_live // 15 + 1)),
                    "order": order}
        out.append(body)
    return out


# --- stream_ingest -------------------------------------------------------------


#: HTML that looks like HTML but has no selector tier the converter accepts
UNPARSABLE = "<html><body><div class='nav'>{}</div></body></html>"


@dataclass
class StreamPlan:
    """Seeded micro-batches of queue messages plus what must come out."""

    batches: list[list[dict]]
    near_dups: set[int] = field(default_factory=set)  # to be flagged, never stored
    unparsable: set[int] = field(default_factory=set)  # parse error, never stored
    #: media_id -> expected SCD version of every admitted message
    versions: dict[int, int] = field(default_factory=dict)


def stream_plan(
    seed: int,
    n_batches: int,
    batch_size: int,
    near_dup_share: float = 0.1,
    reupload_share: float = 0.1,
    unparsable_share: float = 0.05,
) -> StreamPlan:
    """Messages in the ingest stream's contract (event_id = message id,
    user_id = doc_key, props = payload, ts = upload time). From the second
    batch on, seeded shares of each batch are near-dups of a document an
    earlier batch admitted (a one-word tail on a fresh doc_key, source and
    tail redrawn until the tailed text shares an LSH band with its source)
    and
    re-uploads of an admitted doc_key with new text (version + 1); any
    batch carries unparsable payloads.

    The expected outcome of every message follows the stream's admission
    rule, evaluated by ``reference.lsh_bands``: a message is flagged when
    it shares a band with any message of an earlier batch; it is stored
    when it parses and is not flagged, as the next version of its key."""
    rng = np.random.default_rng([seed, 3])
    plan = StreamPlan(batches=[])
    admitted: dict[int, tuple[str, set]] = {}  # media_id -> (payload, bands)
    key_versions: dict[int, int] = {}  # doc_key -> versions admitted so far
    index: set = set()  # bands of every message of earlier batches
    eid, next_key = 1, 1
    t0 = dt.datetime(2024, 1, 1)
    for _b in range(n_batches):
        batch, bands = [], []
        earlier = list(admitted)  # admitted by EARLIER batches only
        for _ in range(batch_size):
            u = rng.random()
            if earlier and u < near_dup_share:
                # the shingle joining a text to any tail is the same for
                # every tail, and it can break both bands of some sources:
                # redraw source and tail a bounded number of times (a last
                # miss is still planned right, as an admitted document)
                for _ in range(20):
                    src_text, src_bands = admitted[earlier[rng.integers(0, len(earlier))]]
                    text = src_text + " " + VOCAB[rng.integers(0, len(VOCAB))]
                    if reference.lsh_bands(text) & src_bands:
                        break
                key, next_key = next_key, next_key + 1
            elif earlier and u < near_dup_share + reupload_share:
                key = int(rng.choice(sorted(key_versions)))
                text = words(rng, int(rng.integers(60, 120)))
            elif u > 1.0 - unparsable_share:
                key, next_key = next_key, next_key + 1
                text = UNPARSABLE.format(words(rng, 60))
                plan.unparsable.add(eid)
            else:
                key, next_key = next_key, next_key + 1
                text = words(rng, int(rng.integers(60, 120)))
            ts = (t0 + dt.timedelta(seconds=eid)).strftime("%Y-%m-%dT%H:%M:%S")
            batch.append(
                {"event_id": eid, "ts": ts, "user_id": key, "event_type": "HTML",
                 "value": 0.0, "props": text}
            )
            bands.append(reference.lsh_bands(text))
            eid += 1
        for m, mb in zip(batch, bands):  # in ts order: versions ascend within a batch
            if mb & index:
                plan.near_dups.add(m["event_id"])
            elif m["event_id"] not in plan.unparsable:
                key_versions[m["user_id"]] = key_versions.get(m["user_id"], 0) + 1
                plan.versions[m["event_id"]] = key_versions[m["user_id"]]
                admitted[m["event_id"]] = (m["props"], mb)
        for mb in bands:
            index |= mb
        plan.batches.append(batch)
    return plan


def jsonl(batch: list[dict]) -> str:
    return "".join(json.dumps(m, sort_keys=True) + "\n" for m in batch)
