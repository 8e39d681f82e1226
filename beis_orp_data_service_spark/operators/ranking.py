"""Full-text relevance ranking — BM25 and TF-IDF scoring over a
document corpus, as single declarative Spark plans.

Engine extension beyond the reference surface: the reference's search
API (see `search` / SURVEY §2 Q1-Q11) filters and sorts by metadata
only; a production corpus service also needs *relevance* ranking for
free-text queries, and an LLM-data pipeline uses the same scoring for
query-based corpus selection (e.g. retrieval-weighted sampling).

Determinism design (what makes this hash-oracle-checkable):
- Okapi BM25's term-frequency saturation is a RATIONAL function of
  integers once k1 and b are expressed in percent: with k1 = k1_pct/100
  and b = b_pct/100 and avgdl = sumdl/N,

      tf_part = tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

  multiplying numerator and denominator by 100*100*sumdl clears every
  fraction:

      num = tf * (100+k1_pct) * 100 * sumdl
      den = tf*10000*sumdl + k1_pct*(100-b_pct)*sumdl + k1_pct*b_pct*dl*N

  both exact int64, so `idf_micro * num DIV den` is bit-identical in
  any engine. The only transcendental is ln() inside idf, quantized
  once per TERM to an integer micro value (same cross-engine 1-ulp
  assumption as dsir_weights — documented there; measure-zero risk).
- OVERFLOW PRECONDITION (documented, like the quantized-cosine 2^53
  headroom in similarity.py): idf_micro*num < 2^63 requires roughly
  tf * sumdl < 2·10^9 * ln(N). Holds through ~10^8 total corpus tokens;
  beyond that use score_mode="float" (production scale: double-math
  scoring is fine when you are not hash-comparing engines).

Scale notes (100 TB):
- Tokens are exploded then IMMEDIATELY filtered to the (tiny) query
  vocabulary, so only rows containing a query term ever reach a
  shuffle; the corpus-wide stats (N, sumdl) are one map-side-combined
  aggregate producing a single row that broadcasts.
- Per-term document frequencies are a groupBy over the already-pruned
  (doc, term) pairs — at most |docs|×|terms| rows.
- The final ranking is orderBy+limit → TakeOrderedAndProject (per
  partition top-k, then k·partitions rows to one reducer), never a
  global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from beis_orp_data_service_spark.functions.text import LC_TOKEN_SPLIT, lc_tokens

TOKEN_SPLIT = LC_TOKEN_SPLIT  # oracle twins interpolate this
_tokens = lc_tokens


def bm25_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k: int = 10,
    k1_pct: int = 120,
    b_pct: int = 75,
    score_mode: str = "int",
) -> DataFrame:
    """Okapi BM25 top-k (Robertson & Zaragoza 2009) as one declarative
    plan. Returns (id, score, n_terms_hit) — `score` is the summed
    per-term BM25 contribution, as an exact integer micro value
    (score_mode="int", hash-oracle-checkable; see module docstring for
    the derivation and the int64 headroom precondition) or a double
    (score_mode="float", unbounded scale). idf uses the Lucene-style
    non-negative form ln(1 + (N - df + 0.5)/(df + 0.5)).

    Ordering: score desc, id asc (unique tiebreak, stable pagination).
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    if score_mode not in ("int", "float"):
        raise ValueError(f"score_mode must be 'int' or 'float': {score_mode}")

    toks = df.select(
        F.col(id_col).alias("_id"), _tokens(text_col).alias("_toks")
    ).select("_id", F.size("_toks").alias("dl"), F.col("_toks"))

    # Corpus stats: one map-side-combined aggregate -> a single row that
    # Spark broadcasts into the nested-loop join below (1 row x N rows
    # is a broadcast, not a shuffle).
    stats = toks.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sumdl")
    )

    # Explode then prune to the query vocabulary BEFORE any shuffle:
    # only (doc, query-term) occurrences survive the map side.
    hits = (
        toks.select("_id", "dl", F.explode("_toks").alias("term"))
        .where(F.col("term").isin(query_terms))
        .groupBy("_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )

    # Per-term document frequency over the pruned pairs (<= |docs|x|terms|
    # rows), then idf quantized once per term to micro integers.
    dfreq = hits.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    dfreq = dfreq.crossJoin(F.broadcast(stats)).select(
        "term",
        F.round(
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df_t") + F.lit(0.5))
                / (F.col("df_t") + F.lit(0.5))
            )
            * 1_000_000
        )
        .cast("bigint")
        .alias("idf_micro"),
    )

    scored = hits.join(F.broadcast(dfreq), "term").crossJoin(F.broadcast(stats))
    if score_mode == "int":
        num = (
            F.col("tf")
            * F.lit(100 + k1_pct)
            * F.lit(100)
            * F.col("sumdl")
        )
        den = (
            F.col("tf") * F.lit(10_000) * F.col("sumdl")
            + F.lit(k1_pct * (100 - b_pct)) * F.col("sumdl")
            + F.lit(k1_pct * b_pct) * F.col("dl") * F.col("n_docs")
        )
        # Runtime headroom guard: the documented int64
        # precondition (idf·tf·sumdl products < 2^63) is now CHECKED in
        # the plan — a double-precision estimate with slack below 2^63
        # trips a clear raise_error naming the escape hatch instead of
        # an opaque ANSI overflow. Costs one codegen comparison per
        # (doc, term) hit; no extra job.
        approx_n = (
            F.col("idf_micro").cast("double")
            * F.col("tf").cast("double")
            * F.lit(float((100 + k1_pct) * 100))
            * F.col("sumdl").cast("double")
        )
        guarded_n = F.when(
            approx_n > 8.5e18,
            F.raise_error(
                F.lit(
                    "bm25_topk score_mode='int' exceeds the int64 headroom "
                    "(idf*tf*sumdl too large for exact integer scoring at "
                    "this corpus size) - use score_mode='float'"
                )
            ).cast("bigint"),
        ).otherwise(F.col("idf_micro") * num)
        # DIV needs SQL-expr form; alias the two exact int64 operands
        # first so the expression stays readable.
        scored = scored.select(
            "_id",
            "term",
            guarded_n.alias("_n"),
            den.alias("_d"),
        ).select("_id", "term", F.expr("_n DIV _d").alias("term_score"))
    else:
        k1 = k1_pct / 100.0
        b = b_pct / 100.0
        avgdl = F.col("sumdl") / F.col("n_docs")
        tf = F.col("tf").cast("double")
        scored = scored.select(
            "_id",
            "term",
            (
                F.col("idf_micro").cast("double")
                / 1_000_000.0
                * (tf * (k1 + 1.0))
                / (tf + k1 * (1.0 - b + b * F.col("dl") / avgdl))
            ).alias("term_score"),
        )

    out = scored.groupBy("_id").agg(
        F.sum("term_score").alias("score"),
        F.count(F.lit(1)).alias("n_terms_hit"),
    )
    return (
        out.select(F.col("_id").alias(id_col), "score", "n_terms_hit")
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def bm25_topk_oracle_sql(
    table: str,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k: int = 10,
    k1_pct: int = 120,
    b_pct: int = 75,
) -> str:
    """DuckDB twin of bm25_topk(score_mode='int'): identical integer
    rational arithmetic; ln() carries the same cross-engine 1-ulp
    assumption as dsir_weights."""
    terms_sql = ", ".join("'" + t.replace("'", "''") + "'" for t in query_terms)
    return f"""
    WITH toks AS (
      SELECT {id_col} AS _id,
             list_filter(string_split_regex(lower({text_col}), '{TOKEN_SPLIT}'),
                         t -> t <> '') AS _toks
      FROM {table}
    ), dl AS (
      SELECT _id, len(_toks) AS dl, _toks FROM toks
    ), stats AS (
      SELECT count(*) AS n_docs, sum(dl) AS sumdl FROM dl
    ), hits AS (
      SELECT _id, dl, term, count(*) AS tf
      FROM (SELECT _id, dl, unnest(_toks) AS term FROM dl)
      WHERE term IN ({terms_sql})
      GROUP BY _id, dl, term
    ), dfreq AS (
      SELECT term,
             CAST(round(ln(1.0 + (s.n_docs - count(*) + 0.5)
                               / (count(*) + 0.5)) * 1000000) AS BIGINT)
               AS idf_micro
      FROM hits, stats s GROUP BY term, s.n_docs
    ), scored AS (
      SELECT h._id,
             (d.idf_micro * (h.tf * {100 + k1_pct} * 100 * s.sumdl))
             // (h.tf * 10000 * s.sumdl
                 + {k1_pct * (100 - b_pct)} * s.sumdl
                 + {k1_pct * b_pct} * h.dl * s.n_docs) AS term_score
      FROM hits h JOIN dfreq d USING (term), stats s
    )
    SELECT _id AS {id_col}, CAST(sum(term_score) AS BIGINT) AS score,
           count(*) AS n_terms_hit
    FROM scored GROUP BY _id
    ORDER BY score DESC, {id_col} ASC LIMIT {k}
    """


def tfidf_vectors(
    df: DataFrame, id_col: str, text_col: str, min_df: int = 1
) -> DataFrame:
    """Per-(doc, term) TF-IDF micro weights — the classic retrieval /
    feature-extraction table, exploded form (one row per doc-term).
    tfidf_micro = tf * round(ln(N / df_t) * 1e6); integer-exact given
    the same per-term ln quantization as bm25_topk. min_df prunes the
    long hapax tail BEFORE the join (at corpus scale most terms appear
    once; dropping them map-side shrinks the dfreq join input).
    """
    toks = df.select(F.col(id_col).alias("_id"), _tokens(text_col).alias("_toks"))
    pairs = (
        toks.select("_id", F.explode("_toks").alias("term"))
        .groupBy("_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    n_docs = toks.agg(F.count(F.lit(1)).alias("n_docs"))
    dfreq = (
        pairs.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df_t"))
        .where(F.col("df_t") >= min_df)
        .crossJoin(F.broadcast(n_docs))
        .select(
            "term",
            F.round(F.log(F.col("n_docs") / F.col("df_t")) * 1_000_000)
            .cast("bigint")
            .alias("idf_micro"),
        )
    )
    return pairs.join(dfreq, "term").select(
        F.col("_id").alias(id_col),
        "term",
        "tf",
        (F.col("tf") * F.col("idf_micro")).alias("tfidf_micro"),
    )


def tfidf_vectors_oracle_sql(
    table: str, id_col: str, text_col: str, min_df: int = 1
) -> str:
    return f"""
    WITH pairs AS (
      SELECT {id_col} AS _id, term, count(*) AS tf
      FROM (
        SELECT {id_col}, unnest(list_filter(
          string_split_regex(lower({text_col}), '{TOKEN_SPLIT}'),
          t -> t <> '')) AS term
        FROM {table})
      GROUP BY _id, term
    ), n AS (SELECT count(*) AS n_docs FROM {table}
    ), dfreq AS (
      SELECT term, CAST(round(ln(CAST(n.n_docs AS DOUBLE) / count(*))
                              * 1000000) AS BIGINT) AS idf_micro
      FROM pairs, n GROUP BY term, n.n_docs
      HAVING count(*) >= {min_df}
    )
    SELECT p._id AS {id_col}, p.term, p.tf,
           p.tf * d.idf_micro AS tfidf_micro
    FROM pairs p JOIN dfreq d USING (term)
    """


def rerank_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k: int = 10,
    n_candidates: int = 50,
    scorer=None,
) -> DataFrame:
    """Two-stage retrieval — the production search shape the reference
    approximates with OpenSearch-then-enrich (SURVEY §2 Q8-Q11 list +
    fetch): a cheap RELATIONAL candidate generator (BM25 top-
    ``n_candidates``) followed by an expensive MODEL scorer that runs
    over ONLY the candidate set. That bound is the whole point at
    scale: cross-encoder inference is O(n_candidates), never O(corpus),
    no matter how big the table gets — the kernel sees ≤ n_candidates
    rows regardless of corpus size.

    ``scorer`` is a ``list[str] -> list[int]`` micro-score batch
    callable (a real cross-encoder goes here — same drop-in contract
    as operators/models.py); the default is the deterministic fake:
    ``matched_query_terms * 1e6 + total_occurrences`` (coverage
    dominates frequency), whose semantics are SQL-expressible so the
    WHOLE two-stage pipeline carries a hash-grade oracle — the model
    harness is exercised end-to-end with bit-checked output.

    Output (id, ce_score_micro, rank), rank 1..k by (score desc, id)."""
    import re

    import pandas as pd

    terms = list(query_terms)

    qset = set(terms)

    def _fake_batch(texts: list[str]) -> list[int]:
        # ASCII whitespace split — the same token boundary as
        # lc_tokens (Java \s) and the RE2 twin on the oracle side
        out = []
        for t in texts:
            toks = [w for w in re.split("[ \t\n\x0b\f\r]+", (t or "").lower()) if w]
            tokset = set(toks)
            matched = sum(1 for q in qset if q in tokset)
            tf = sum(1 for w in toks if w in qset)
            out.append(matched * 1_000_000 + tf)
        return out

    run = scorer if scorer is not None else _fake_batch

    cands = bm25_topk(df, id_col, text_col, terms, k=n_candidates).select(id_col)
    cand_docs = df.select(id_col, text_col).join(cands, id_col, "left_semi")

    def _score(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].values,
                    "ce_score_micro": run(list(pdf[text_col])),
                }
            )

    scored = cand_docs.mapInPandas(
        _score, f"{id_col} bigint, ce_score_micro bigint"
    )
    return (
        scored.orderBy(F.col("ce_score_micro").desc(), F.col(id_col).asc())
        .limit(k)
        .select(
            id_col,
            "ce_score_micro",
            F.row_number()
            .over(
                # Window scale: the rank window runs on the limit(k)
                # result, ≤ k rows.
                Window.orderBy(F.col("ce_score_micro").desc(), F.col(id_col).asc())
            )
            .cast("bigint")
            .alias("rank"),
        )
    )


def rerank_topk_oracle_sql(
    table: str,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k: int = 10,
    n_candidates: int = 50,
) -> str:
    """DuckDB twin of :func:`rerank_topk` with the fake scorer — the
    BM25 twin generates the same candidate set, then coverage*1e6 + tf
    scores it."""
    terms_sql = ", ".join("'" + t.replace("'", "''") + "'" for t in query_terms)
    bm25 = bm25_topk_oracle_sql(
        table, id_col, text_col, query_terms, k=n_candidates
    )
    return f"""
    WITH cands AS (SELECT {id_col} FROM ({bm25})),
    ctoks AS (
      SELECT d.{id_col},
             list_filter(string_split_regex(lower(d.{text_col}), '{TOKEN_SPLIT}'),
                         t -> t <> '') AS _toks
      FROM {table} d JOIN cands USING ({id_col})
    ), scored AS (
      SELECT {id_col},
             CAST((SELECT count(DISTINCT t) FROM unnest(_toks) AS u(t)
                   WHERE t IN ({terms_sql})) AS BIGINT) * 1000000
             + CAST((SELECT count(*) FROM unnest(_toks) AS u(t)
                     WHERE t IN ({terms_sql})) AS BIGINT) AS ce_score_micro
      FROM ctoks
    )
    SELECT {id_col}, ce_score_micro,
           CAST(row_number() OVER (ORDER BY ce_score_micro DESC, {id_col} ASC)
                AS BIGINT) AS rank
    FROM scored ORDER BY ce_score_micro DESC, {id_col} ASC LIMIT {k}
    """


def top_terms_by_group(
    df: DataFrame,
    group_col: str,
    text_col: str,
    k: int = 5,
) -> DataFrame:
    """Class-based TF-IDF distinctive terms (the BERTopic c-TF-IDF
    recipe, Grootendorst 2022): score(t, g) = tf(t, g) · ln(1 + A /
    f(t)) with A = average tokens per group and f(t) = corpus-wide
    term frequency — the "what makes this slice different" labels for
    sources / clusters / dedup groups. Output ``(group, term,
    score_micro, rank)``, rank 1..k per group.

    Shape: one (group, term) count aggregate (map-side combined), a
    |vocab|-keyed term-frequency join, group sizes as a broadcast
    |groups|-row join, 1-row average broadcast; ranking is the grouped
    top-k window on the group key. ln quantizes to micro BEFORE the
    rank (the dsir/lm 1-ulp cross-engine convention — docstring of
    corpus.py::dsir_weights)."""
    toks = df.select(
        F.col(group_col).alias("grp"),
        F.explode(_tokens(text_col)).alias("term"),
    )
    tf_g = toks.groupBy("grp", "term").agg(F.count(F.lit(1)).alias("tf"))
    f_t = toks.groupBy("term").agg(F.count(F.lit(1)).alias("f_all"))
    g_sz = toks.groupBy("grp").agg(F.count(F.lit(1)).alias("g_tokens"))
    avg_a = g_sz.agg(
        (F.sum("g_tokens").cast("double") / F.count(F.lit(1))).alias("_a")
    )
    scored = (
        tf_g.join(f_t, "term")
        .crossJoin(F.broadcast(avg_a))
        .select(
            "grp",
            "term",
            F.round(
                F.col("tf")
                * F.log(F.lit(1.0) + F.col("_a") / F.col("f_all"))
                * 1_000_000
            )
            .cast("bigint")
            .alias("score_micro"),
        )
    )
    # Window scale: per-group term rank; rows per task bounded by the
    # group's distinct vocabulary, with only k retained (pre-cap vocab
    # for web-scale hot groups).
    w = Window.partitionBy("grp").orderBy(
        F.col("score_micro").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(F.col("grp").alias(group_col), "term", "score_micro", "rank")
    )


def top_terms_by_group_oracle_sql(
    table: str, group_col: str, text_col: str, k: int = 5
) -> str:
    """DuckDB twin — same counts, same single-expression score, same
    tie-break."""
    return f"""
    WITH toks AS (
      SELECT {group_col} AS grp,
             unnest(list_filter(string_split_regex(lower({text_col}),
                                                   '{TOKEN_SPLIT}'),
                    t -> t <> '')) AS term
      FROM {table}
    ), tf_g AS (
      SELECT grp, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
    ), f_t AS (
      SELECT term, COUNT(*) AS f_all FROM toks GROUP BY 1
    ), g_sz AS (
      SELECT grp, COUNT(*) AS g_tokens FROM toks GROUP BY 1
    ), avg_a AS (
      SELECT CAST(SUM(g_tokens) AS DOUBLE) / COUNT(*) AS _a FROM g_sz
    ), scored AS (
      SELECT tf_g.grp, tf_g.term,
             CAST(round(tf * ln(1.0 + _a / f_all) * 1000000) AS BIGINT)
               AS score_micro
      FROM tf_g JOIN f_t ON tf_g.term = f_t.term CROSS JOIN avg_a
    )
    SELECT grp AS {group_col}, term, score_micro, rank FROM (
      SELECT grp, term, score_micro,
             CAST(row_number() OVER (PARTITION BY grp
                                     ORDER BY score_micro DESC, term ASC)
                  AS BIGINT) AS rank
      FROM scored) WHERE rank <= {k}
    """
