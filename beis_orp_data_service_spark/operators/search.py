"""Search query surface — the reference's TQL query builder as Spark plans.

The reference builds one TQL string per search request
(lambdas/typedb_search_query/search_functions.py:9-65), executes it
against TypeDB, and post-processes in pandas across three sequential
round-trips. Here the same accepted parameters
(lambdas/typedb_search_query/handler.py:16-18) become a single Catalyst
plan: predicate build → filter → sort → paginate → join enrichments →
project. Catalyst's column pruning gives us the reference's
late-materialization optimization (search_functions.py:90-125) for free,
and predicate pushdown moves every filter into the Parquet scan.

Operator map (SURVEY.md §2.5):
  Q1 point lookup        search_functions.py:14-19   → col == lit
  Q2 equality filter     search_functions.py:35-36   → col == v
  Q3 AND list filter     search_functions.py:39-41   → conjunction of array_contains
  Q4 OR regex filter     search_functions.py:44-47   → isin
  Q5 date range          search_functions.py:50-57   → >= / <=
  Q6 substring           search_functions.py:59-61   → lower(col).contains
  Q7 not-archive         search_functions.py:16,26,64→ col != 'archive'
  Q8 limit guard         search_functions.py:64      → page window clipped at the cap
  Q9 sort                search_functions.py:98,121  → orderBy
  Q10 pagination         search_functions.py:122     → limit + offset (top-K)
  Q11 two-phase fetch    search_functions.py:90-125  → single plan (pruning)
  Q15 left-join merge    search_functions.py:128-131 → left join + coalesce
  Q18 projection         search_functions.py:4-6     → select
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

SEARCH_MATCH_LIMIT = 10_000  # search_functions.py:64
DEFAULT_PAGE_SIZE = 10  # handler.py:20


@dataclass
class SearchParams:
    """Accepted search parameters (handler.py:16-18)."""

    id: str | None = None
    keyword: Sequence[str] = field(default_factory=list)
    title: str | None = None
    date_start: str | None = None
    date_end: str | None = None
    regulator_id: Sequence[str] = field(default_factory=list)
    status: Sequence[str] = field(default_factory=list)
    document_type: Sequence[str] = field(default_factory=list)
    regulatory_topic: str | None = None
    page: int = 0  # 0-based, reference handler.py:20 (offset = page*size)
    page_size: int = DEFAULT_PAGE_SIZE
    order: str = "desc"  # sort on date_published


def not_archived(status_col: str = "status") -> Column:
    """Q7 — applied to every query (search_functions.py:16,26,64)."""
    return F.col(status_col) != F.lit("archive")


def build_predicate(p: SearchParams) -> Column:
    """Convert search params into one Column predicate (Q1-Q7).

    The TQL string builder's semantics, declaratively: Catalyst pushes the
    whole conjunction into the Parquet scan.
    """
    pred = not_archived()
    if p.id is not None:  # Q1
        pred = pred & (F.col("document_uid") == F.lit(p.id))
    if p.regulatory_topic is not None:  # Q2
        pred = pred & F.array_contains("regulatory_topic", p.regulatory_topic)
    for kw in p.keyword:  # Q3 — every keyword must be owned
        pred = pred & F.array_contains("subject_keywords", kw.lower())
    if p.regulator_id:  # Q4
        pred = pred & F.col("regulator_id").isin(list(p.regulator_id))
    if p.status:  # Q4
        pred = pred & F.col("status").isin(list(p.status))
    if p.document_type:  # Q4
        pred = pred & F.col("document_type").isin(list(p.document_type))
    if p.date_start is not None:  # Q5 (either side open)
        pred = pred & (F.col("date_published") >= F.lit(p.date_start))
    if p.date_end is not None:
        pred = pred & (F.col("date_published") <= F.lit(p.date_end))
    if p.title is not None:  # Q6
        pred = pred & F.lower(F.col("title")).contains(p.title.lower())
    return pred


def sort_page(
    df: DataFrame,
    order_col: str,
    ascending: bool,
    page: int,
    page_size: int,
    tiebreak: str,
    cap: int | None = None,
) -> DataFrame:
    """Q9 + Q10 — deterministic sort + offset pagination.

    ``page`` is 0-based with offset = page·page_size — the reference
    API contract (handler.py:20: page defaults 0). A unique tiebreak
    column makes pagination stable — the reference relies on pandas'
    stable sort (search_functions.py:121-122). ``cap`` clips the page
    window so no row past the cap-th in sort order is returned (a page
    starting at or past it is empty).

    Scale shape: ``orderBy(...).limit(offset+size).offset(offset)``
    compiles to one TakeOrderedAndProject(limit, offset) — a per-
    partition top-K merged on the driver, which drops the offset rows —
    so there is no global sort, no Exchange and no Window. At the root of
    ``collect()`` over a scan, the whole page is one Spark job of one
    stage.
    """
    cols = (
        [F.col(order_col).asc(), F.col(tiebreak).asc()]
        if ascending
        else [F.col(order_col).desc(), F.col(tiebreak).desc()]
    )
    lo, hi = page * page_size, (page + 1) * page_size
    if cap is not None:
        lo, hi = min(lo, cap), min(hi, cap)
    return df.orderBy(*cols).limit(hi).offset(lo)


def page_args(params: SearchParams) -> dict:
    """:func:`sort_page` arguments for a search request's page: newest
    (or oldest) ``date_published`` first, ``document_uid`` tiebreak, and
    the Q8 match cap (search_functions.py:64) as a clip on the page
    window rather than a ``limit`` on the matches.

    Below the cap this is the reference's page exactly. Above it, the
    reference's TQL ``limit 10000`` keeps an arbitrary 10,000 matches and
    pages through those; here the page is the deterministic top of ALL
    matches in sort order, clipped at the 10,000th — one of the outcomes
    the reference already allows."""
    return dict(
        order_col="date_published",
        ascending=(params.order == "asc"),
        page=params.page,
        page_size=params.page_size,
        tiebreak="document_uid",
        cap=SEARCH_MATCH_LIMIT,
    )


def search(
    documents: DataFrame,
    params: SearchParams,
    legislation_edges: DataFrame | None = None,
    return_cols: Sequence[str] | None = None,
) -> DataFrame:
    """The full search entry point — one Catalyst plan instead of the
    reference's three sequential TypeDB round-trips (search_functions.py:88-144).

    Phase structure of the reference (ids+dates → page → full attrs →
    legislative origins) collapses into filter → capped top-K page →
    left join → project; Catalyst prunes the unused columns from phase 1
    automatically.
    """
    filtered = documents.filter(build_predicate(params))
    paged = sort_page(filtered, **page_args(params))
    if legislation_edges is not None:  # Q15 — docs ⟕ legislative origins
        paged = paged.join(F.broadcast(legislation_edges), "document_uid", "left")
    if return_cols:
        paged = paged.select(*return_cols)  # Q18
    return paged


def grouped_topk(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[Column],
    k: int,
) -> DataFrame:
    """Top-k rows per group (the per-source/per-regulator 'latest N'
    every listing page needs; the grouped analog of Q8-Q10's global
    sort+page). Pass fully deterministic ``order_cols`` (unique
    tiebreak last) — rank ties would otherwise make the page
    non-replayable.

    One shuffle partitioned by the GROUP columns; within each group
    Spark sorts locally and the rank filter truncates — there is never
    a global sort, and with AQE skew handling a hot group splits
    rather than stalling a task. (Spark has no grouped partial top-k
    aggregate; window-rank-filter is the canonical plan and the
    filter is pushed into the window via LimitPushDownThroughWindow
    when eligible.)
    """
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    # Window scale: grouped top-k rank-filter (canonical plan,
    # LimitPushDownThroughWindow-eligible); dominant group = one spill-
    # backed sort task with k rows retained.
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= k)
        .withColumnRenamed("_rk", "rank_in_group")
        .withColumn("rank_in_group", F.col("rank_in_group").cast("bigint"))
    )


def search_facets(
    df: DataFrame,
    facet_cols: list[str],
    predicate: Column | None = None,
) -> DataFrame:
    """Faceted-search sidebar counts: for the documents matching the
    current query, the per-value hit count of EVERY facet dimension in
    one pass — ``(facet, value, n)``, values cast to string for the
    uniform report schema.

    One ``GROUPING SETS`` aggregate (one Expand of rows x facets,
    partially aggregated map-side) instead of one groupBy per facet —
    the filtered scan happens ONCE however many facets the UI shows.
    The filter is pushed beneath the Expand, so at 100 TB the facet
    panel costs the same scan the result page already paid. NULL facet
    values are real data (missing metadata) and are reported as the
    literal '(null)' bucket, distinguished from the grouping NULL via
    GROUPING()."""
    if not facet_cols:
        raise ValueError("need at least one facet column")
    if predicate is not None:
        df = df.filter(predicate)
    sets = ", ".join(f"({c})" for c in facet_cols)
    facet_case = (
        "CASE "
        + " ".join(f"WHEN GROUPING({c}) = 0 THEN '{c}'" for c in facet_cols)
        + " END"
    )
    value_case = (
        "CASE "
        + " ".join(
            f"WHEN GROUPING({c}) = 0 "
            f"THEN COALESCE(CAST({c} AS STRING), '(null)')"
            for c in facet_cols
        )
        + " END"
    )
    return df.sparkSession.sql(
        f"""
        SELECT {facet_case} AS facet, {value_case} AS value, COUNT(*) AS n
        FROM {{df}} GROUP BY GROUPING SETS ({sets})
        """,
        df=df,
    )


def phrase_match(
    docs: DataFrame,
    phrase: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact phrase occurrences over a positional token index — the
    inverted-index phrase query (the half of a search engine the
    substring filter Q6 can't express: token-boundary-exact, any
    whitespace between words).

    Shape: posexplode the token stream to (doc, pos, token), keep ONLY
    rows whose token appears in the phrase (the pruning predicate sits
    before the shuffle, so the full vocabulary never moves), emit one
    (doc, candidate_start = pos − i) vote per phrase slot i the token
    could fill, and count votes per (doc, start): a start with
    exactly len(phrase) votes matched every slot — a full occurrence.
    ONE groupBy, NO n-way self-join, repeated phrase tokens handled
    (each slot votes independently). At 100 TB the (token, doc, pos)
    stream is the materialized positional index; the isin filter is
    the posting-list fetch.

    Returns (doc_id, start, n_tokens) — one row per occurrence, start
    = 0-based token offset."""
    terms = [t for t in phrase.lower().split() if t]
    if not terms:
        raise ValueError("phrase must contain at least one token")
    n = len(terms)
    slots = [(t, i) for i, t in enumerate(terms)]
    toks = docs.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.regexp_replace(F.lower(F.col(text_col)), r"^[ \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+$", ""), r"[ \t\n\x0B\f\r]+")
        ).alias("pos", "token"),
    ).filter(F.col("token").isin(terms))
    slot_df = toks.sparkSession.createDataFrame(slots, "token string, i int")
    votes = toks.join(F.broadcast(slot_df), "token").select(
        id_col, (F.col("pos") - F.col("i")).alias("start")
    )
    return (
        votes.filter(F.col("start") >= 0)
        .groupBy(id_col, "start")
        .agg(F.count(F.lit(1)).alias("votes"))
        .filter(F.col("votes") == n)
        .select(
            F.col(id_col),
            F.col("start").cast("bigint").alias("start"),
            F.lit(n).cast("bigint").alias("n_tokens"),
        )
    )


def phrase_match_oracle_sql(
    phrase: str,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin: list-slice equality at every candidate start —
    an INDEPENDENT spelling (direct window compare, not vote
    counting), so agreement checks the algorithm, not the
    transcription."""
    terms = [t for t in phrase.lower().split() if t]
    lit = "[" + ", ".join("'" + t.replace("'", "''") + "'" for t in terms) + "]"
    n = len(terms)
    return f"""
    WITH toks AS (
      SELECT {id_col},
             string_split_regex(regexp_replace(lower({text_col}), '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), '[ \\t\\n\\x0B\\f\\r]+') AS w
      FROM {table}
    ), starts AS (
      SELECT {id_col}, unnest(range(1, len(w) - {n} + 2)) AS s, w
      FROM toks WHERE len(w) >= {n}
    )
    SELECT {id_col}, CAST(s - 1 AS BIGINT) AS start,
           CAST({n} AS BIGINT) AS n_tokens
    FROM starts
    WHERE list_slice(w, s, s + {n} - 1) = {lit}
    """


def suggest_index(
    docs: DataFrame,
    text_col: str = "text",
    min_prefix: int = 2,
    max_prefix: int = 6,
    k: int = 5,
) -> DataFrame:
    """Autocomplete suggestion index: for every token prefix of length
    ``min_prefix..max_prefix``, the top-k completions by corpus
    frequency (ties to the lexicographically smaller token) — the
    type-ahead surface a search API serves from a KV store.

    Shape: tokenize → token frequency (map-side combined — the only
    corpus-scale shuffle) → explode each DISTINCT token into its ≤
    (max−min+1) prefixes → per-prefix top-k window. The prefix fan-out
    runs on the VOCABULARY, not the corpus, so index cost tracks
    distinct tokens. Serve-side this table is broadcast/KV-loaded;
    at 100 TB only the vocabulary stage grows.

    Output (prefix, token, freq, rank)."""
    if not (1 <= min_prefix <= max_prefix):
        raise ValueError(
            f"need 1 <= min_prefix <= max_prefix, got {min_prefix}, {max_prefix}"
        )
    toks = docs.select(
        F.explode(
            F.split(F.regexp_replace(F.lower(F.col(text_col)), r"^[ \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+$", ""), r"[ \t\n\x0B\f\r]+")
        ).alias("token")
    ).filter(F.col("token") != "")
    freq = toks.groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
    prefixes = (
        freq.where(F.length("token") >= min_prefix)  # before explode: a
        # shorter token would make sequence(min, len) DESCEND
        .select(
            "token",
            "freq",
            F.explode(
                F.sequence(
                    F.lit(min_prefix),
                    F.least(F.length("token"), F.lit(max_prefix)),
                )
            ).alias("_plen"),
        )
        .select(
            F.col("token").substr(F.lit(1), F.col("_plen")).alias("prefix"),
            "token",
            "freq",
        )
    )
    # Window scale: partition key is the prefix; rows per task =
    # vocabulary tokens sharing one prefix, with only k retained (vocab-
    # bounded, not corpus-bounded).
    w = Window.partitionBy("prefix").orderBy(
        F.col("freq").desc(), F.col("token").asc()
    )
    return (
        prefixes.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("prefix", "token", "freq", "rank")
    )


def suggest_index_oracle_sql(
    table: str = "documents",
    text_col: str = "text",
    min_prefix: int = 2,
    max_prefix: int = 6,
    k: int = 5,
) -> str:
    """DuckDB twin — same tokenization, frequency, prefix fan-out and
    tiebreak."""
    return f"""
    WITH t AS (
      SELECT unnest(list_filter(
               string_split_regex(regexp_replace(lower({text_col}), '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), '[ \\t\\n\\x0B\\f\\r]+'),
               x -> x <> '')) AS token
      FROM {table}
    ), freq AS (
      SELECT token, COUNT(*) AS freq FROM t GROUP BY token
    ), pre AS (
      SELECT substr(token, 1, p) AS prefix, token, freq
      FROM freq
      CROSS JOIN (SELECT unnest(range({min_prefix}, {max_prefix} + 1)) AS p) ps
      WHERE len(token) >= p
    ), ranked AS (
      SELECT prefix, token, freq,
             CAST(row_number() OVER (PARTITION BY prefix
                                     ORDER BY freq DESC, token ASC) AS BIGINT)
               AS rank
      FROM pre
    )
    SELECT prefix, token, freq, rank FROM ranked WHERE rank <= {k}
    """
