"""Corpus-curation operators for LLM training-data pipelines — the
post-candidate-generation half of deduplication (connected-components
duplicate clustering) plus the standard curation battery: Gopher-style
quality filters, repetition statistics, PII redaction, deterministic
sequence packing, and hash-based stratified / mixture sampling.

Engine extension beyond the reference surface (the reference stops at
pairwise duplicate checks, check_duplicate.py; a production corpus
pipeline must then CLUSTER the pairs and pick canonicals). Everything
here is oracle-checkable: integer-exact Catalyst expressions, and a
documented deterministic variant wherever the textbook algorithm is
order-dependent (greedy packing) or engine-specific (hash sampling).

Scale notes (100 TB):
- ``dup_clusters`` is iterative min-label propagation — per round one
  equi-join shuffle (edges × labels, both hash-partitioned on node) and
  one map-side-combining groupBy. Rounds = graph diameter; duplicate
  graphs are dense cliques bridged by LSH bands, so diameter is small
  (single digits). ``localCheckpoint`` each round truncates lineage so
  plans don't grow; the per-round convergence count is a scalar
  aggregate, not a collect of data.
- Quality / repetition stats are explode + two-level groupBy: the first
  (doc, word) aggregation partially aggregates map-side before its
  shuffle, so the wire carries ≈ |vocab per doc|, not |words|.
- Packing windows partition by the shard column (``source``) — no
  global single-partition window at any scale.
- Sampling is pure per-row arithmetic on an int64 universal hash — no
  shuffle at all, and deterministic across engines and re-runs (unlike
  ``df.sample`` which is seed- and partitioning-dependent).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from beis_orp_data_service_spark.checkpointing import stage_checkpoint
from beis_orp_data_service_spark.functions.text import lc_tokens

# Universal-hash constants for deterministic sampling: Lehmer/Park-Miller
# multiplier mod the Mersenne prime 2^31-1. doc_id * 48271 stays far
# inside int64 (and < 2^53) for any realistic id space.
SAMPLE_A = 48271
SAMPLE_B = 11
SAMPLE_P = 2_147_483_647

STOPWORDS = ("the", "a", "of", "and")


def sample_hash(id_col) -> F.Column:
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return (c * F.lit(SAMPLE_A) + F.lit(SAMPLE_B)) % F.lit(SAMPLE_P)


# ---------------------------------------------------------------------------
# Connected-components duplicate clustering
# ---------------------------------------------------------------------------


def _driver_closure(edge_rows, nodes: DataFrame, id_col: str) -> DataFrame:
    """Driver-local exact min-label closure over a bounded edge list:
    union-find with path compression, min id tracked per root, shipped
    back as one broadcast left join (unmatched nodes are singletons and
    keep themselves — exactly what the propagation rounds conclude)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    for r in edge_rows:
        a, b = r[0], r[1]
        if a is None or b is None:
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min id so the root IS the component's label
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    ids = set()
    for r in edge_rows:
        if r[0] is not None and r[1] is not None:
            ids.add(r[0])
            ids.add(r[1])
    out_nodes = nodes.select(F.col(id_col).cast("bigint").alias("_n")).distinct()
    if not ids:
        return out_nodes.select(
            F.col("_n").alias(id_col), F.col("_n").alias("cluster_id")
        )
    spark = nodes.sparkSession
    mapping = spark.createDataFrame(
        [(int(x), int(find(x))) for x in sorted(ids)],
        schema="node bigint, label bigint",
    )
    return out_nodes.join(
        F.broadcast(mapping), out_nodes._n == mapping.node, "left"
    ).select(
        F.col("_n").alias(id_col),
        F.coalesce("label", F.col("_n")).alias("cluster_id"),
    )


def dup_clusters(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 15,
    driver_closure_threshold: int = 1_000_000,
) -> DataFrame:
    """Transitive closure of duplicate pairs → (doc_id, cluster_id).

    ``cluster_id`` is the minimum node id reachable from the node —
    the canonical representative a dedup pipeline keeps. Iterative
    min-label propagation: each round every node takes the min of its
    own label and its neighbours' labels; converged when no label
    drops. Singletons (nodes in no pair) keep themselves. Pair
    endpoints are assumed to be nodes (every caller passes the
    endpoint-closed node set).

    Adaptive execution (r14 — the tokenizer trainers'
    ``driver_train_threshold`` pattern, guide §1.2): cluster_id is a
    pure graph property (min id reachable over undirected pairs), so
    when the PAIR table fits the driver — one bounded
    ``limit(threshold+1).collect()`` probe — an exact union-find
    computes the same labels in microseconds and ships them back as
    ONE broadcast join against the node set, replacing O(log diameter)
    rounds of shuffle-join jobs whose per-round scheduling overhead
    dominates sparse graphs. Near-dup graphs are sparse by
    construction (banded candidates, thresholded verifies), so even a
    100 TB corpus commonly has a driver-sized edge set; the
    distributed loop below is unchanged and takes over past the
    threshold (``driver_closure_threshold=0`` disables the probe).

    Scale (distributed path): per round one edge-propagation shuffle
    join + a combining groupBy + a pointer-doubling self-join, all
    keyed on node. The doubling step (take your label's label) halves
    remaining chain length each round, so rounds = O(log diameter) —
    the same convergence class as large-star/small-star (Kiveris et
    al., "Connected Components in MapReduce") with simpler primitives.
    The per-round boundary truncates lineage so the plan stays flat
    however many rounds run.
    """
    if driver_closure_threshold:
        # Materialize the (possibly expensive) pair pipeline ONCE at
        # full parallelism before probing: a bare limit().collect()
        # would run it through CollectLimit's incremental partition
        # escalation — partial serial executions + re-runs — which is
        # slower than one parallel pass whenever pairs is non-trivial.
        # Both paths consume the materialized table (the probe reads
        # checkpointed partitions; the distributed loop builds its edge
        # list from it), so nothing executes twice.
        pairs = pairs.select(
            F.col("a_id").cast("bigint"), F.col("b_id").cast("bigint")
        ).transform(stage_checkpoint, label="dup_clusters:pairs")
        probe = pairs.limit(driver_closure_threshold + 1).collect()
        if len(probe) <= driver_closure_threshold:
            return _driver_closure(probe, nodes, id_col)
    # --- distributed path ---
    # Undirected edge list + a self-loop per node, built ONCE outside
    # the loop: with self-loops, "min of self and neighbours" is a
    # single join+groupBy per round — no per-round Union (which also
    # sidesteps a Spark 4.1 constraint-rewrite crash on Union over
    # checkpointed self-joined relations).
    edges = (
        pairs.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
        .union(pairs.select(F.col("b_id").alias("src"), F.col("a_id").alias("dst")))
        .union(
            nodes.select(
                F.col(id_col).alias("src"), F.col(id_col).alias("dst")
            )
        )
        .distinct()
        .transform(stage_checkpoint, label="dup_clusters:edges")
    )
    labels = nodes.select(
        F.col(id_col).alias("node"), F.col(id_col).alias("label")
    ).transform(stage_checkpoint, label="dup_clusters:labels")

    # Convergence detection (r14, guide §1.2): labels are pointwise
    # non-increasing round over round (each round takes a min over a
    # self-loop-bearing edge set, then jumps to the label's own — also
    # non-increased — label), so "no label changed" is EXACTLY "the
    # label sum is unchanged". One scan-agg over the just-checkpointed
    # round output replaces the old per-round shuffle join of new
    # labels against old + count. DECIMAL(38,0) keeps the sum exact at
    # any scale (1e12 nodes × 2^63-bounded ids fits in 38 digits).
    def _label_sum(df: DataFrame):
        return df.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("_s")
        ).collect()[0]["_s"]

    prev_sum = _label_sum(labels)
    for _ in range(max_iter):
        l1 = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("label"))
            .toDF("node", "label")
        )
        # pointer doubling: jump to the label's own label. Every label
        # is itself a node (labels start as self and min() only selects
        # existing ids), so the inner join is total.
        lb = l1.toDF("node2", "label2")
        new_labels = (
            l1.join(lb, l1.label == lb.node2)
            .select(F.col("node"), F.col("label2").alias("label"))
            .transform(stage_checkpoint, label="dup_clusters:round")
        )
        new_sum = _label_sum(new_labels)
        labels = new_labels
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    return labels.select(
        F.col("node").alias(id_col).cast("bigint"),
        F.col("label").alias("cluster_id").cast("bigint"),
    )


def simhash_band_pairs(docs_sim: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """OR-amplified candidate pairs from a 16-bit SimHash: two band
    keys (high byte, low byte); docs agreeing on EITHER byte pair up.
    Two scalable equi-joins — nothing meets outside a band bucket.

    Input must carry ``simhash16`` (see dedup.simhash16_table). For the
    corpus-scale variant — 48-bit fingerprints, 4 bands, exact-popcount
    Hamming verification with a recall-1.0 guarantee — use
    ``dedup.simhash_band_pairs``; its (a_id, b_id) output plugs
    straight into :func:`dup_clusters`.
    """
    keyed = docs_sim.select(
        F.col(id_col),
        F.array(
            F.concat_ws("_", F.lit("hi"), (F.col("simhash16") / 256).cast("bigint")),
            F.concat_ws("_", F.lit("lo"), F.col("simhash16") % 256),
        ).alias("bands"),
    ).select(F.col(id_col), F.explode("bands").alias("band_key"))
    a, b = keyed.alias("a"), keyed.alias("b")
    return (
        a.join(b, "band_key")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(F.col(f"a.{id_col}").alias("a_id"), F.col(f"b.{id_col}").alias("b_id"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# Quality filtering (Gopher-style rules) and repetition statistics
# ---------------------------------------------------------------------------


def gopher_quality(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 40,
    max_words: int = 100_000,
    min_mean_wlen_c: int = 300,  # centi-chars: 3.00
    max_mean_wlen_c: int = 1000,  # 10.00
    min_stop_hits: int = 2,
    max_word_pm: int = 200,  # most-common word ≤ 20% of tokens
) -> DataFrame:
    """Gopher-rule quality signals + verdict, integer-exact.

    Signals per document (scaled integers so every engine agrees):
      n_words, mean_wlen_c (mean word length ×100), stop_pm
      (stopword per-mille), maxword_pm (most-common-word per-mille),
      distinct_pm (type-token ratio per-mille), and ``gopher_pass``
      (1/0) applying the Rae et al. Gopher bounds re-expressed on
      those signals.

    Plan: explode → (doc, word) combining agg → (doc) agg; the heavy
    first shuffle carries one row per distinct word per doc.
    """
    words = df.select(
        F.col(id_col), F.explode(F.split(F.regexp_replace(F.col(text_col), r"^[ \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+$", ""), r"[ \t\n\x0B\f\r]+")).alias("w")
    )
    per_word = words.groupBy(id_col, "w").agg(
        F.count("*").alias("c"), F.sum(F.length("w")).alias("lsum")
    )
    per_doc = per_word.groupBy(id_col).agg(
        F.sum("c").cast("bigint").alias("n_words"),
        F.count("*").cast("bigint").alias("n_distinct"),
        F.max("c").cast("bigint").alias("max_c"),
        F.sum("lsum").cast("bigint").alias("char_sum"),
        F.coalesce(
            F.sum(F.when(F.col("w").isin(*STOPWORDS), F.col("c"))), F.lit(0)
        )
        .cast("bigint")
        .alias("stop_hits"),
    )
    sig = per_doc.select(
        F.col(id_col),
        F.col("n_words"),
        F.expr("char_sum * 100 div n_words").alias("mean_wlen_c"),
        F.expr("stop_hits * 1000 div n_words").alias("stop_pm"),
        F.expr("max_c * 1000 div n_words").alias("maxword_pm"),
        F.expr("n_distinct * 1000 div n_words").alias("distinct_pm"),
        F.col("stop_hits"),
    )
    verdict = (
        (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words)
        & (F.col("mean_wlen_c") >= min_mean_wlen_c)
        & (F.col("mean_wlen_c") <= max_mean_wlen_c)
        & (F.col("stop_hits") >= min_stop_hits)
        & (F.col("maxword_pm") <= max_word_pm)
    )
    return sig.select(
        F.col(id_col),
        "n_words",
        "mean_wlen_c",
        "stop_pm",
        "maxword_pm",
        "distinct_pm",
        F.when(verdict, F.lit(1)).otherwise(F.lit(0)).cast("bigint").alias("gopher_pass"),
    )


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Top-n-gram repetition fractions (C4/Gopher 'repetitive text'
    signals): per-mille share of the most frequent word bigram and
    trigram. High values flag boilerplate / degenerate generations.

    Word n-grams via ``pyspark.ml.feature.NGram`` (JVM-side; ~5× the
    interpreted HOF chain — see dedup.ngram_jaccard_pairs). Totals use
    greatest(n_words-(n-1), 0); documents too short for a gram report 0.
    """
    from pyspark.ml.feature import NGram

    base = df.select(
        F.col(id_col), F.split(F.regexp_replace(F.col(text_col), r"^[ \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+$", ""), r"[ \t\n\x0B\f\r]+").alias("words")
    )
    out = base.select(F.col(id_col), F.size("words").cast("bigint").alias("n_words"))
    for n, name in ((2, "top2_pm"), (3, "top3_pm")):
        grams = NGram(n=n, inputCol="words", outputCol="grams").transform(base)
        top = (
            grams.select(F.col(id_col), F.explode("grams").alias("g"))
            .groupBy(id_col, "g")
            .agg(F.count("*").alias("c"))
            .groupBy(id_col)
            .agg(F.max("c").cast("bigint").alias("max_c"))
        )
        out = (
            out.join(top, id_col, "left")
            .withColumn(
                name,
                F.expr(
                    f"CASE WHEN n_words > {n - 1} THEN "
                    f"coalesce(max_c, 0) * 1000 div (n_words - {n - 1}) "
                    "ELSE CAST(0 AS BIGINT) END"
                ),
            )
            .drop("max_c")
        )
    return out


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

# Patterns restricted to the RE2 ∩ java.util.regex common subset (no
# backreferences, no lookaround) so the oracle runs them verbatim.
EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PHONE_RE = r"\b555-[0-9]{4}\b"
IP_RE = r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b"


def pii_redact(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Redact emails / phone numbers / IPv4 addresses with typed
    placeholders and report per-document match counts.

    Pure regexp expressions — codegen'd, no shuffle; order of the
    replace chain matters (IP before phone would still be safe here,
    but emails must go before the bare-domain heuristics a richer
    battery would add) and is fixed: email → phone → IP.
    """
    c = F.col(text_col)
    red = F.regexp_replace(c, EMAIL_RE, "<EMAIL>")
    red = F.regexp_replace(red, PHONE_RE, "<PHONE>")
    red = F.regexp_replace(red, IP_RE, "<IP>")
    return df.select(
        F.col(id_col),
        red.alias("redacted"),
        F.regexp_count(c, F.lit(EMAIL_RE)).cast("bigint").alias("n_emails"),
        F.regexp_count(c, F.lit(PHONE_RE)).cast("bigint").alias("n_phones"),
        F.regexp_count(c, F.lit(IP_RE)).cast("bigint").alias("n_ips"),
    )


# ---------------------------------------------------------------------------
# Sequence packing
# ---------------------------------------------------------------------------


#: polynomial base/modulus for passage window fingerprints — values keep
#: every intermediate (< P·B + P ≈ 2^51) inside int64 AND exactly
#: representable as a double, so the fold is engine-portable
PASSAGE_P = 2_147_483_647
PASSAGE_B = 1_000_003


def _window_fold_sql(th: str, i: str, k: int) -> str:
    """Unrolled order-sensitive fold over ``th[i .. i+k-1]`` (1-based
    bracket indexing, DuckDB): ((th[i]·B + th[i+1]) mod P … — the same
    arithmetic the Spark side computes as a ``lead()`` chain, so the
    two sides cannot drift in shape, only in indexing syntax."""
    h = f"{th}[{i}]"
    for j in range(1, k):
        h = f"(({h})*{PASSAGE_B} + {th}[{i}+{j}]) % {PASSAGE_P}"
    return h


def repeated_passages(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Passage-level (substring) dedup candidates — the train-data
    dedup step that removes verbatim passages repeated ACROSS documents
    (boilerplate, licenses, quoted spans) rather than whole near-dup
    docs (the suffix-array dedup of Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better", re-expressed as
    relational fingerprinting).

    Every k-token window gets an order-sensitive polynomial fingerprint;
    a fingerprint appearing in ≥ ``min_docs`` distinct documents marks
    its windows repeated; per document, runs of adjacent repeated
    windows merge into maximal spans (gaps-and-islands via
    ``win_idx − row_number``). Output one row per span:
    ``(doc_id, span_start, span_end, n_windows, span_tokens)`` with
    0-based inclusive token indexes.

    Scale shape (100 TB): token hashes come from a posexplode table (one
    single-level fold per token); window fingerprints are an unrolled
    ``lead()`` chain over (doc, pos) — one WindowExec pass, no arrays,
    no interpreted per-window lambda. The only other shuffles are the
    fingerprint groupBy (map-side combined count-distinct — hot
    boilerplate fingerprints never collect id lists) and the islands
    window back on the doc key. Windows never span documents, so
    partitioning by doc_id co-locates every stage after the fingerprint
    semi-join.
    """
    from pyspark.sql.window import Window

    toks = df.select(
        F.col(id_col),
        F.posexplode(
            F.split(
                F.regexp_replace(F.col(text_col), r"^[ \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+$", ""), r"[ \t\n\x0B\f\r]+"
            )
        ).alias("pos", "_tok"),
    )
    th = toks.select(
        F.col(id_col),
        F.col("pos"),
        F.expr(
            "aggregate(sequence(1, length(_tok)), CAST(0 AS BIGINT),"
            f" (acc, i) -> (acc*31 + ascii(substr(_tok, i, 1))) % {PASSAGE_P})"
        ).alias("_th"),
    )
    # Window scale: both windows partition on the doc id; per-task rows
    # = one document's token windows (bounded by doc length).
    w = Window.partitionBy(id_col).orderBy("pos")
    fold = F.col("_th")
    for j in range(1, k):
        fold = (fold * PASSAGE_B + F.lead("_th", j).over(w)) % PASSAGE_P
    wins = (
        th.select(
            F.col(id_col),
            F.col("pos").cast("bigint").alias("win_idx"),
            fold.alias("win_hash"),
            F.lead("_th", k - 1).over(w).alias("_last"),
        )
        .filter(F.col("_last").isNotNull())
        .drop("_last")
    )
    rep = (
        wins.groupBy("win_hash")
        .agg(F.count_distinct(id_col).alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("win_hash")
    )
    flagged = wins.join(rep, "win_hash", "left_semi")
    iw = Window.partitionBy(id_col).orderBy("win_idx")
    grouped = flagged.withColumn(
        "_grp", F.col("win_idx") - F.row_number().over(iw)
    )
    return grouped.groupBy(id_col, "_grp").agg(
        F.min("win_idx").alias("span_start"),
        (F.max("win_idx") + F.lit(k - 1)).cast("bigint").alias("span_end"),
        F.count("*").cast("bigint").alias("n_windows"),
        (F.max("win_idx") - F.min("win_idx") + F.lit(k)).cast("bigint").alias(
            "span_tokens"
        ),
    ).drop("_grp")


def repeated_passages_oracle_sql(k: int = 8, min_docs: int = 2) -> str:
    """DuckDB twin of :func:`repeated_passages` over the ``documents``
    view — generated from the same fold shape so the two can't drift."""
    fold = _window_fold_sql("th", "i", k)
    return f"""
    WITH t AS (
      SELECT doc_id,
             list_transform(string_split_regex(regexp_replace(text, '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), '[ \\t\\n\\x0B\\f\\r]+'),
               s -> list_reduce(list_prepend(CAST(0 AS BIGINT),
                      [CAST(ascii(s[i:i]) AS BIGINT)
                       for i in range(1, length(s)+1)]),
                    (acc, x) -> (acc*31 + x) % {PASSAGE_P})) AS th
      FROM documents
    ), w AS (
      SELECT doc_id, CAST(unnest(range(1, len(th)-{k}+2)) AS BIGINT) - 1 AS win_idx, th
      FROM t WHERE len(th) >= {k}
    ), h AS (
      SELECT doc_id, win_idx, {fold} AS win_hash
      FROM (SELECT doc_id, win_idx, CAST(win_idx + 1 AS BIGINT) AS i, th FROM w)
    ), rep AS (
      SELECT win_hash FROM h GROUP BY win_hash
      HAVING count(DISTINCT doc_id) >= {min_docs}
    ), f AS (
      SELECT doc_id, win_idx,
             CAST(row_number() OVER (PARTITION BY doc_id ORDER BY win_idx)
                  AS BIGINT) AS rn
      FROM h WHERE win_hash IN (SELECT win_hash FROM rep)
    )
    SELECT doc_id, CAST(min(win_idx) AS BIGINT) AS span_start,
           CAST(max(win_idx) + {k} - 1 AS BIGINT) AS span_end,
           CAST(count(*) AS BIGINT) AS n_windows,
           CAST(max(win_idx) - min(win_idx) + {k} AS BIGINT) AS span_tokens
    FROM f GROUP BY doc_id, win_idx - rn
    """


def export_shards(
    df: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic export layout — the 'global shuffle' step that
    turns a curated corpus into N training shards: every row gets
    ``(shard_id, shard_pos)`` where the shard is a universal hash of
    the id and the position is the row's rank *within its shard* by a
    second hash (so within-shard order is also pseudo-random yet
    reproducible). Re-running on the same corpus — under any
    partitioning, any engine — yields byte-identical shard layouts,
    which `df.repartition(...).sortWithinPartitions(rand())` cannot
    promise (RNG state, partition-count dependence).

    One shuffle (the per-shard rank window, partitioned on shard_id —
    parallel across shards, no global ordering bottleneck). The
    writer-side contract is ``partitionBy(shard_id)`` + sort on
    shard_pos, so executors stream each shard straight to its
    directory.
    """
    mix = (sample_hash(id_col) * F.lit(SAMPLE_A) + F.lit(SAMPLE_B)) % F.lit(
        SAMPLE_P
    )
    # Window scale: partition key shard_id; rows per shard =
    # corpus/n_shards, sized by the caller (shard count scales with
    # data).
    w = Window.partitionBy("shard_id").orderBy("_order", id_col)
    return (
        df.withColumn(
            "shard_id", (sample_hash(id_col) % n_shards).cast("bigint")
        )
        .withColumn("_order", mix)
        .withColumn(
            "shard_pos", (F.row_number().over(w) - 1).cast("bigint")
        )
        .drop("_order")
    )


def export_shards_oracle_sql(n_shards: int) -> str:
    """DuckDB twin of :func:`export_shards` over ``documents``
    (projected to the id + shard layout columns)."""
    h = f"(doc_id * {SAMPLE_A} + {SAMPLE_B}) % {SAMPLE_P}"
    mix = f"(({h}) * {SAMPLE_A} + {SAMPLE_B}) % {SAMPLE_P}"
    return f"""
    SELECT doc_id,
           CAST(({h}) % {n_shards} AS BIGINT) AS shard_id,
           CAST(row_number() OVER (
             PARTITION BY ({h}) % {n_shards}
             ORDER BY {mix}, doc_id) - 1 AS BIGINT) AS shard_pos
    FROM documents
    """


def decontaminate(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_hits: int = 1,
) -> DataFrame:
    """Benchmark decontamination — flag training documents sharing any
    word n-gram with a held-out evaluation set (the GPT-3 appendix-C /
    PaLM / Llama train–test overlap rule, re-expressed relationally).

    Returns one row per training document:
    ``(id, n_grams, n_hits, contaminated)`` where ``n_hits`` counts the
    document's DISTINCT n-grams that occur anywhere in the benchmark
    and ``contaminated = 1`` when ``n_hits >= min_hits``.

    Scale shape (100 TB corpus, benchmark ≪ corpus): the benchmark
    gram set is distinct-ed and **broadcast** — the corpus never
    shuffles for the probe. Per-document grams are deduped row-side
    (``array_distinct`` on the NGram array — no shuffle), and only
    grams that actually collide with the benchmark reach the per-doc
    count aggregation, so the single shuffle moves hit rows only.
    Word n-grams via JVM ``pyspark.ml.feature.NGram`` (codegen'd; no
    grams for docs shorter than ``n``, mirrored by the oracle's
    ``greatest(len - n + 1, 0)``).
    """
    from pyspark.ml.feature import NGram

    def grams_of(df_: DataFrame, *keep: str) -> DataFrame:
        base = df_.select(
            *keep, F.split(F.regexp_replace(F.col(text_col), r"^[ \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+$", ""), r"[ \t\n\x0B\f\r]+").alias("words")
        )
        return NGram(n=n, inputCol="words", outputCol="grams").transform(base)

    bench_grams = (
        grams_of(bench)
        .select(F.explode("grams").alias("g"))
        .distinct()
    )
    doc_grams = grams_of(docs, id_col).select(
        F.col(id_col), F.explode(F.array_distinct("grams")).alias("g")
    )
    hits = (
        doc_grams.join(F.broadcast(bench_grams), "g")
        .groupBy(id_col)
        .agg(F.count("*").cast("bigint").alias("n_hits"))
    )
    per_doc = grams_of(docs, id_col).select(
        F.col(id_col), F.size("grams").cast("bigint").alias("n_grams")
    )
    return per_doc.join(hits, id_col, "left").select(
        F.col(id_col),
        F.col("n_grams"),
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint").alias("n_hits"),
        F.when(F.coalesce(F.col("n_hits"), F.lit(0)) >= min_hits, F.lit(1))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("contaminated"),
    )


def decontaminate_oracle_sql(
    n: int = 5, min_hits: int = 1, bench_pred: str = "doc_id % 97 = 0"
) -> str:
    """DuckDB twin of :func:`decontaminate` over the ``documents`` view
    with the benchmark selected by ``bench_pred``."""
    gram = f"array_to_string(words[i:i+{n - 1}], ' ')"
    rng = f"range(1, len(words)-{n}+2)"
    return f"""
    WITH bw AS (
      SELECT string_split_regex(regexp_replace(text, '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), '[ \\t\\n\\x0B\\f\\r]+') AS words
      FROM documents WHERE {bench_pred}
    ), bg AS (
      SELECT DISTINCT unnest([{gram} for i in {rng}]) AS g
      FROM bw WHERE len(words) >= {n}
    ), dw AS (
      SELECT doc_id, string_split_regex(regexp_replace(text, '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), '[ \\t\\n\\x0B\\f\\r]+') AS words
      FROM documents
    ), dg AS (
      SELECT DISTINCT doc_id, unnest([{gram} for i in {rng}]) AS g
      FROM dw WHERE len(words) >= {n}
    ), h AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits
      FROM dg JOIN bg USING (g) GROUP BY doc_id
    )
    SELECT dw.doc_id,
           CAST(greatest(len(dw.words) - {n} + 1, 0) AS BIGINT) AS n_grams,
           CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(CASE WHEN coalesce(h.n_hits, 0) >= {min_hits}
                     THEN 1 ELSE 0 END AS BIGINT) AS contaminated
    FROM dw LEFT JOIN h ON dw.doc_id = h.doc_id
    """


def seq_pack(
    df: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    shard_col: str = "source",
) -> DataFrame:
    """Deterministic sequence packing: concat-then-chunk at document
    granularity (the GPT-style pretraining layout). Documents are laid
    out in ``id_col`` order within each shard; a document's bin is the
    chunk its FIRST token lands in (``offset_in_bin`` gives the
    position). Greedy first-fit packs marginally tighter but is
    inherently order-of-arrival dependent — this variant is
    reproducible across engines, re-runs and partitionings, which a
    training pipeline needs more than the last few percent of fill.

    Window partitions by the shard column — parallel across shards, no
    global ordering bottleneck.
    """
    from pyspark.sql.window import Window

    toks = F.size(F.split(F.regexp_replace(F.col(text_col), r"^[ \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+$", ""), r"[ \t\n\x0B\f\r]+")).cast("bigint")
    w = (
        # Window scale: partition key is the shard column; per-task rows
        # = one shard's docs, sized by the caller.
        Window.partitionBy(shard_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        df.select(F.col(id_col), F.col(shard_col), toks.alias("n_tokens"))
        .withColumn("cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
        .select(
            F.col(id_col),
            F.col(shard_col),
            "n_tokens",
            F.expr(f"cum_before div {budget}").cast("bigint").alias("bin_id"),
            (F.col("cum_before") % budget).cast("bigint").alias("offset_in_bin"),
        )
    )


def group_quantiles(
    df: DataFrame,
    group_col: str = "lang",
    value_col: str = "n_chars",
    id_col: str = "doc_id",
    qs: tuple[int, ...] = (50, 90, 99),
    method: str = "two_pass",
    n_parts: int = 32,
) -> DataFrame:
    """Exact discrete quantiles per group (corpus length/size reporting):
    value at rank ``ceil(q·n/100)`` under a total order — integer-exact,
    so every engine returns the identical number (interpolating
    percentile functions differ across engines and are not
    hash-comparable).

    ``method="window"`` (opt-in, for bounded-group inputs): one
    shuffle on the group key; rank + group-size via windows inside the
    partition — a dominant group is one window task (the
    unpartitioned-window class).
    ``method="two_pass"`` (default) routes the (rank, n) pair through
    :func:`~beis_orp_data_service_spark.operators.ranks.
    grouped_exact_ranks` — identical output, max task state
    ~N/``n_parts`` rows at any group skew; the exact form then stays
    usable as a gate even when one group holds half the corpus
    (``percentile_approx`` remains the dashboard path).
    """
    if method not in ("window", "two_pass"):
        raise ValueError(f"group_quantiles: unknown method {method!r}")
    if method == "two_pass":
        from beis_orp_data_service_spark.operators.ranks import (
            grouped_exact_ranks,
        )

        ranked = grouped_exact_ranks(
            df.select(F.col(group_col), F.col(value_col), F.col(id_col)),
            [group_col],
            [F.col(value_col), F.col(id_col)],
            rank_col="rn",
            total_col="n",
            n_parts=n_parts,
            label="gq",
        )
    else:
        from pyspark.sql.window import Window

        w = Window.partitionBy(group_col).orderBy(value_col, id_col)
        wn = Window.partitionBy(group_col)
        ranked = df.select(
            F.col(group_col),
            F.col(value_col),
            F.row_number().over(w).alias("rn"),
            F.count("*").over(wn).alias("n"),
        )
    aggs = [F.count("*").cast("bigint").alias("n_rows")]
    for q in qs:
        aggs.append(
            F.max(
                F.when(
                    F.col("rn") == F.expr(f"(n * {q} + 99) div 100"),
                    F.col(value_col),
                )
            )
            .cast("bigint")
            .alias(f"p{q}")
        )
    return ranked.groupBy(group_col).agg(*aggs)


# ---------------------------------------------------------------------------
# Deterministic sampling
# ---------------------------------------------------------------------------


def stratified_sample(
    df: DataFrame,
    rates_pm: dict[str, int],
    strat_col: str = "lang",
    id_col: str = "doc_id",
    default_pm: int = 0,
) -> DataFrame:
    """Per-stratum deterministic sampling: keep a row iff
    ``hash(id) % 1000 < rate_pm[stratum]``. The universal hash makes
    the decision a pure per-row expression — no shuffle, no RNG state,
    identical sample under any partitioning (``df.sample`` is none of
    those), and consistent across engines for the oracle.
    """
    rate = None
    for k, v in rates_pm.items():
        cond = F.col(strat_col) == k
        rate = F.when(cond, v) if rate is None else rate.when(cond, v)
    rate = (rate.otherwise(default_pm) if rate is not None else F.lit(default_pm))
    return df.filter(sample_hash(id_col) % 1000 < rate)


def mixture_sample_plan(
    df: DataFrame,
    target_per_source: int,
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Mixture-weighting plan: per source, the sampling rate that hits
    ``target_per_source`` documents in expectation, plus the exact
    count the deterministic hash sample admits. Returns one row per
    source: (source, n_docs, frac_pm, n_sampled).

    Two combining aggregations + a broadcast-sized join of per-source
    rates back onto rows — the big table shuffles once.
    """
    counts = df.groupBy(source_col).agg(F.count("*").cast("bigint").alias("n_docs"))
    rates = counts.select(
        source_col,
        "n_docs",
        F.least(
            F.lit(1000), F.expr(f"{target_per_source} * 1000 div n_docs")
        )
        .cast("bigint")
        .alias("frac_pm"),
    )
    sampled = (
        df.select(id_col, source_col)
        .join(F.broadcast(rates), source_col)
        .filter(sample_hash(id_col) % 1000 < F.col("frac_pm"))
        .groupBy(source_col)
        .agg(F.count("*").cast("bigint").alias("n_sampled"))
    )
    return rates.join(sampled, source_col, "left").select(
        source_col,
        "n_docs",
        "frac_pm",
        F.coalesce(F.col("n_sampled"), F.lit(0)).cast("bigint").alias("n_sampled"),
    )


# ---------------------------------------------------------------------------
# Paragraph-level exact dedup (CCNet-style) and DSIR importance weights
# ---------------------------------------------------------------------------


def chunk_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 16,
) -> DataFrame:
    """Paragraph-level exact dedup — CCNet's "dedup repeated paragraphs
    across the corpus, keep the first occurrence" rule (Wenzek et al.
    2020), with fixed-width token chunks standing in for paragraphs on
    newline-free corpora (the same chunking contract as
    ``functions.text.sentence_chunks``).

    A chunk occurrence survives iff it is the globally FIRST occurrence
    of that chunk text: minimal ``(doc_id, pos)`` over every document
    containing it. Output one row per document:
    ``(id, n_chunks, n_kept, text_kept)`` where ``text_kept`` re-joins
    the surviving chunks in position order.

    Scale shape (100 TB): the keeper per chunk is a ``min(struct(doc,
    pos))`` groupBy — map-side combined, so a boilerplate chunk
    repeated a billion times ships one pre-aggregated row per map task
    rather than a sorted window partition (the row_number formulation
    would funnel every occurrence of a hot chunk through one reducer).
    Survivors come back via an equi-join on (chunk, doc, pos) against
    the full occurrence table, then one reassembly groupBy on the doc
    key. Three shuffles total, none skew-prone.
    """
    # chunk construction stays in whole-stage codegen (r14): explode
    # the chunk INDEX, then slice+concat as plain expressions over the
    # pre-split token array — the previous array-building transform()
    # lambda was interpreted per chunk and re-ran the split per element
    toks = F.split(
        F.regexp_replace(
            F.col(text_col), r"^[ \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+$", ""
        ),
        r"[ \t\n\x0B\f\r]+",
    )
    chunks = df.select(
        F.col(id_col),
        toks.alias("_toks"),
        F.posexplode(
            F.sequence(
                F.lit(0),
                F.ceil(F.size(toks) / F.lit(width)).cast("int") - 1,
            )
        ).alias("pos", "_i"),
    ).select(
        F.col(id_col),
        "pos",
        F.concat_ws(
            " ", F.slice(F.col("_toks"), F.col("_i") * width + 1, width)
        ).alias("chunk"),
    )
    # the keeper key is re-aliased so the join compares DISTINCT
    # attributes — groupBy keeps the input's attribute id, and a
    # chunks.chunk == keeper.chunk condition would silently resolve to a
    # trivially-true self-reference (Spark's failAmbiguousSelfJoin
    # hazard); kchunk makes the equality real and analyzer-stable
    keeper = chunks.groupBy("chunk").agg(
        F.min(F.struct(F.col(id_col).alias("kid"), F.col("pos").alias("kpos"))).alias(
            "k"
        )
    ).withColumnRenamed("chunk", "kchunk")
    kept = chunks.join(
        keeper,
        (chunks.chunk == keeper.kchunk)
        & (chunks[id_col] == keeper.k.kid)
        & (chunks.pos == keeper.k.kpos),
        "left_semi",
    )
    per_doc = chunks.groupBy(id_col).agg(
        F.count("*").cast("bigint").alias("n_chunks")
    )
    kept_agg = kept.groupBy(id_col).agg(
        F.count("*").cast("bigint").alias("n_kept"),
        F.concat_ws(
            " ", F.transform(F.array_sort(F.collect_list(F.struct("pos", "chunk"))), lambda s: s.chunk)
        ).alias("text_kept"),
    )
    return per_doc.join(kept_agg, id_col, "left").select(
        F.col(id_col),
        "n_chunks",
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("bigint").alias("n_kept"),
        F.coalesce(F.col("text_kept"), F.lit("")).alias("text_kept"),
    )


def chunk_dedup_oracle_sql(width: int = 16) -> str:
    """DuckDB twin of :func:`chunk_dedup` over the ``documents`` view."""
    w = width
    return f"""
    WITH dw AS (
      SELECT doc_id, string_split_regex(regexp_replace(text, '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), '[ \\t\\n\\x0B\\f\\r]+') AS words
      FROM documents
    ), c AS (
      SELECT doc_id,
             CAST(i - 1 AS INT) AS pos,
             array_to_string(words[(i-1)*{w}+1 : least(i*{w}, len(words))], ' ')
               AS chunk
      FROM dw, unnest(range(1, CAST(ceil(len(words) / {w}.0) AS BIGINT) + 1))
                 AS t(i)
    ), k AS (
      SELECT chunk, min(struct_pack(kid := doc_id, kpos := pos)) AS k
      FROM c GROUP BY chunk
    ), kept AS (
      SELECT c.doc_id, c.pos, c.chunk
      FROM c JOIN k ON c.chunk = k.chunk
                   AND c.doc_id = k.k.kid AND c.pos = k.k.kpos
    ), pd AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks FROM c GROUP BY doc_id
    ), ka AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
             string_agg(chunk, ' ' ORDER BY pos) AS text_kept
      FROM kept GROUP BY doc_id
    )
    SELECT pd.doc_id, pd.n_chunks,
           CAST(coalesce(ka.n_kept, 0) AS BIGINT) AS n_kept,
           coalesce(ka.text_kept, '') AS text_kept
    FROM pd LEFT JOIN ka ON pd.doc_id = ka.doc_id
    """


def dsir_weights(
    docs: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every raw
    document by the log-likelihood ratio of its word-bigram features
    under a target-domain unigram-of-bigrams model vs the raw-corpus
    model, with add-one smoothing over the raw vocabulary.

        weight(d) = Σ_g c_{d,g} · ln( (t_g + 1)/(T + V) / ((r_g + 1)/(R + V)) )

    where ``c_{d,g}`` is the bigram's count in the document, ``t_g``/
    ``r_g`` its total count in the target / raw corpus, ``T``/``R`` the
    corpus totals, and ``V`` the raw vocabulary size. A pipeline then
    resamples ∝ exp(weight) — the weight itself is the deterministic,
    oracle-checkable part.

    Determinism: each term is scaled to integer micro-units
    (``round(c·lr·1e6)`` as BIGINT) before summation, so the per-doc
    sum is integer-exact and independent of aggregation order — the
    float division at the end is a single exact int→double cast per
    row. Cross-engine caveat: unlike the fully-integer intermediates of
    the dedup family, the per-term value goes through a transcendental
    (``ln``) in double precision before rounding, so Spark↔DuckDB
    hash-equality additionally assumes both engines' ``ln`` round
    identically — true for IEEE-754 libm on this data, but a 1-ulp
    divergence landing exactly on a ``round(x·1e6)`` half-way boundary
    would flip one ``term_micro``. Within a single engine the result is
    still exactly reproducible whatever the aggregation order.

    Scale shape (100 TB): gram-count tables are map-side-combined
    groupBys (wire carries ≈ vocab, not tokens); the scalar totals
    (T, R, V) ride along via a broadcast cross-join of one row; the
    doc-gram table shuffles once on the gram key to meet the count
    tables, once on the doc key for the final sum. DSIR's production
    form caps the feature space by hashing grams into 2^20 buckets —
    here the corpus vocabulary is small enough to keep raw grams, and
    the hashed variant only changes the gram expression (portable
    md5-prefix bucket), not the plan shape.
    """
    from pyspark.ml.feature import NGram

    def doc_grams(df_: DataFrame, *keep: str) -> DataFrame:
        base = df_.select(
            *keep, F.split(F.regexp_replace(F.col(text_col), r"^[ \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+$", ""), r"[ \t\n\x0B\f\r]+").alias("words")
        )
        return (
            NGram(n=2, inputCol="words", outputCol="grams")
            .transform(base)
            .select(*keep, F.explode("grams").alias("g"))
        )

    dg = doc_grams(docs, id_col).groupBy(id_col, "g").agg(
        F.count("*").cast("bigint").alias("c")
    )
    raw = dg.groupBy("g").agg(F.sum("c").cast("bigint").alias("r"))
    tg = doc_grams(target).groupBy("g").agg(
        F.count("*").cast("bigint").alias("t")
    )
    # scalar totals get collision-proof names: Spark resolution is
    # case-insensitive by default, so "T" would alias tg's "t".
    totals = raw.agg(
        F.sum("r").cast("bigint").alias("r_tot"),
        F.count("*").cast("bigint").alias("v_size"),
    ).crossJoin(
        tg.agg(F.coalesce(F.sum("t"), F.lit(0)).cast("bigint").alias("t_tot"))
    )
    scored = (
        dg.join(raw, "g")
        .join(tg, "g", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            F.col(id_col),
            F.col("c"),
            F.round(
                F.col("c")
                * (
                    F.log(
                        (F.coalesce(F.col("t"), F.lit(0)) + 1)
                        / (F.col("t_tot") + F.col("v_size"))
                    )
                    - F.log((F.col("r") + 1) / (F.col("r_tot") + F.col("v_size")))
                )
                * F.lit(1_000_000.0)
            )
            .cast("bigint")
            .alias("term_micro"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.sum("c").cast("bigint").alias("n_grams"),
        F.sum("term_micro").cast("bigint").alias("weight_micro"),
        (F.sum("term_micro") / F.lit(1_000_000.0)).alias("weight"),
    )


def dsir_weights_oracle_sql(target_pred: str = "lang = 'en'") -> str:
    """DuckDB twin of :func:`dsir_weights` over the ``documents`` view
    with the target domain selected by ``target_pred``."""
    gram = "words[i] || ' ' || words[i+1]"
    rng = "range(1, len(words))"
    return f"""
    WITH dw AS (
      SELECT doc_id, string_split_regex(regexp_replace(text, '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), '[ \\t\\n\\x0B\\f\\r]+') AS words
      FROM documents
    ), dg AS (
      SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c
      FROM (SELECT doc_id, unnest([{gram} for i in {rng}]) AS g
            FROM dw WHERE len(words) >= 2)
      GROUP BY doc_id, g
    ), raw AS (
      SELECT g, CAST(sum(c) AS BIGINT) AS r FROM dg GROUP BY g
    ), tg AS (
      SELECT g, CAST(count(*) AS BIGINT) AS t
      FROM (SELECT unnest([{gram} for i in {rng}]) AS g
            FROM dw JOIN documents USING (doc_id)
            WHERE ({target_pred}) AND len(words) >= 2)
      GROUP BY g
    ), tot AS (
      SELECT (SELECT CAST(sum(r) AS BIGINT) FROM raw) AS R,
             (SELECT CAST(count(*) AS BIGINT) FROM raw) AS V,
             (SELECT CAST(coalesce(sum(t), 0) AS BIGINT) FROM tg) AS T
    ), scored AS (
      SELECT dg.doc_id, dg.c,
             CAST(round(dg.c * (ln((coalesce(tg.t, 0) + 1.0) / (tot.T + tot.V))
                                - ln((raw.r + 1.0) / (tot.R + tot.V)))
                        * 1000000.0) AS BIGINT) AS term_micro
      FROM dg JOIN raw USING (g) LEFT JOIN tg USING (g) CROSS JOIN tot
    )
    SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
           CAST(sum(term_micro) AS BIGINT) AS weight_micro,
           sum(term_micro) / 1000000.0 AS weight
    FROM scored GROUP BY doc_id
    """


# ---------------------------------------------------------------------------
# Bloom-filter membership — incremental dedup / decontamination at scale
# ---------------------------------------------------------------------------


# DuckDB twin of md5_int60's 60-bit fold — THE one copy every oracle
# that replays the md5 hash family interpolates (bloom, count-min,
# priority sampling). Editing either side without the other breaks
# every md5-replaying oracle at once, which is why there is one copy.
DUCK_MD5_HEXFOLD = (
    "list_reduce([CAST(strpos('0123456789abcdef', h[i:i]) - 1 AS BIGINT) "
    "for i in range(1, 16)], (a, x) -> a * 16 + x)"
)


def md5_int60(c):
    """Deterministic 60-bit integer from a string: the first 15 hex
    chars of md5. Engine-portable (Spark ``conv``; DuckDB rebuilds the
    same value by folding the hex digits), which is what makes the
    Bloom positions oracle-replayable — unlike murmur/xxhash whose
    implementations differ across engines."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def bloom_positions(key_col, m_bits: int, k: int):
    """The k bit positions of a key: pos_j = md5_int60(j || ':' || key)
    mod m — k independent-ish hashes derived from one digest family
    (the standard double-hashing trick is also fine; explicit per-j
    digests keep the SQL twin trivial)."""
    c = F.col(key_col) if isinstance(key_col, str) else key_col
    return F.array(
        *[
            md5_int60(F.concat(F.lit(str(j)), F.lit(":"), c)) % m_bits
            for j in range(k)
        ]
    )


def bloom_filter_words(
    df: DataFrame, key_col: str, m_bits: int = 1 << 20, k: int = 4
) -> DataFrame:
    """Build a distributed Bloom filter over ``df[key_col]`` as
    ``(word, bits)`` rows — 32 bits per word (mask fits int64 with no
    sign games in any engine).

    Scale shape (100 TB): one explode (k rows per key) + one map-side-
    combined ``bit_or`` groupBy on the word index; the filter is
    ≤ m/32 rows however big the corpus is. Membership pipelines size m
    to the key cardinality (≈10 bits/key for ~1% FPR); the result is
    small enough to broadcast for the probe side, or to keep as rows
    and equi-join on ``word`` when m itself is huge. This is the
    standing alternative to shipping the full key set that
    ``decontaminate`` broadcasts — O(m) bits instead of O(keys)."""
    pos = df.select(
        F.explode(bloom_positions(key_col, m_bits, k)).alias("pos")
    )
    return (
        pos.select(
            F.expr("pos div 32").cast("bigint").alias("word"),
            F.expr("shiftleft(cast(1 as bigint), cast(pos % 32 as int))").alias(
                "mask"
            ),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )


def bloom_probe(
    keys: DataFrame,
    bloom: DataFrame,
    id_col: str,
    key_col: str,
    m_bits: int = 1 << 20,
    k: int = 4,
) -> DataFrame:
    """Probe every key against a ``bloom_filter_words`` filter. Output
    ``(id, maybe_present)`` — 1 iff ALL k positions are set (no false
    negatives; false positives at the filter's design rate).

    Plan: explode the k positions, left-join the filter on the word
    index (the filter side is tiny → broadcast), test the bit with a
    mask AND, then a min-agg back to one row per key. Missing words
    (null bits) are unset by definition."""
    pos = keys.select(
        F.col(id_col),
        F.posexplode(bloom_positions(key_col, m_bits, k)).alias("j", "pos"),
    ).select(
        F.col(id_col),
        F.expr("pos div 32").cast("bigint").alias("word"),
        F.expr("shiftleft(cast(1 as bigint), cast(pos % 32 as int))").alias(
            "mask"
        ),
    )
    hit = pos.join(F.broadcast(bloom), "word", "left").select(
        F.col(id_col),
        F.when(
            F.coalesce(F.col("bits"), F.lit(0)).bitwiseAND(F.col("mask")) != 0,
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("hit"),
    )
    return hit.groupBy(id_col).agg(
        F.min("hit").cast("bigint").alias("maybe_present")
    )


def bloom_probe_oracle_sql(
    insert_pred: str = "doc_id % 2 = 0", m_bits: int = 1 << 20, k: int = 4
) -> str:
    """DuckDB twin of build(documents WHERE insert_pred) + probe(all
    documents) on the text key: the same md5-hex fold, positions, 32-bit
    words and bit arithmetic."""
    hexfold = DUCK_MD5_HEXFOLD
    return f"""
    WITH ins AS (
      SELECT j, md5(j || ':' || text) AS h
      FROM documents CROSS JOIN (SELECT unnest(range(0, {k})) AS j)
      WHERE {insert_pred}
    ), ipos AS (
      SELECT {hexfold} % {m_bits} AS pos FROM (SELECT substr(h, 1, 15) AS h FROM ins)
    ), flt AS (
      SELECT pos // 32 AS word,
             CAST(bit_or(CAST(pow(2, pos % 32) AS BIGINT)) AS BIGINT) AS bits
      FROM ipos GROUP BY pos // 32
    ), q AS (
      SELECT doc_id, j, substr(md5(j || ':' || text), 1, 15) AS h
      FROM documents CROSS JOIN (SELECT unnest(range(0, {k})) AS j)
    ), qpos AS (
      SELECT doc_id, {hexfold} % {m_bits} AS pos FROM q
    ), hits AS (
      SELECT doc_id,
             CASE WHEN coalesce(flt.bits, 0) & CAST(pow(2, qpos.pos % 32) AS BIGINT)
                       <> 0
                  THEN 1 ELSE 0 END AS hit
      FROM qpos LEFT JOIN flt ON qpos.pos // 32 = flt.word
    )
    SELECT doc_id, CAST(min(hit) AS BIGINT) AS maybe_present
    FROM hits GROUP BY doc_id
    """


# ---------------------------------------------------------------------------
# Canonical-document selection — dedup-cluster representative picking
# ---------------------------------------------------------------------------


def canonical_docs(
    clusters: DataFrame,
    quality: DataFrame,
    id_col: str = "doc_id",
    quality_col: str = "q",
) -> DataFrame:
    """Pick each duplicate cluster's canonical representative: the
    member with the highest quality score, ties to the lower id — the
    keep-decision a dedup pipeline applies after ``dup_clusters``
    (cluster assignment alone says *what* is duplicated; this says
    *which copy survives*). Output one row per document:
    ``(id, cluster_id, cluster_size, is_canonical)``.

    Scale shape: one equi-join on the id, one max-struct groupBy on
    ``cluster_id`` (map-side combined — a billion-member boilerplate
    cluster pre-aggregates per map task instead of sorting through one
    window reducer), and one join back on ``cluster_id``. No windows,
    no skew funnel."""
    q = clusters.join(
        quality.select(F.col(id_col), F.col(quality_col).alias("_q")), id_col
    )
    best = q.groupBy("cluster_id").agg(
        F.max(F.struct(F.col("_q"), (-F.col(id_col)).alias("_neg_id"))).alias("b"),
        F.count("*").cast("bigint").alias("cluster_size"),
    ).select(
        "cluster_id",
        (-F.col("b._neg_id")).cast("bigint").alias("_keep_id"),
        "cluster_size",
    )
    return q.join(best, "cluster_id").select(
        F.col(id_col).cast("bigint"),
        F.col("cluster_id").cast("bigint").alias("cluster_id"),
        F.col("cluster_size"),
        F.when(F.col(id_col) == F.col("_keep_id"), F.lit(1))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("is_canonical"),
    )


def bloom_merge(*filters: DataFrame) -> DataFrame:
    """Union Bloom filters built with the same (m, k): bitwise OR of
    word rows — the property that makes Bloom membership incremental
    (build per day/shard/source, merge into the corpus filter without
    touching raw keys). One combining groupBy on the word index."""
    merged = filters[0]
    for f in filters[1:]:
        merged = merged.unionByName(f)
    return merged.groupBy("word").agg(F.bit_or("bits").alias("bits"))


# ---------------------------------------------------------------------------
# Tokenizer-training prep — BPE adjacent-pair counting at corpus scale
# ---------------------------------------------------------------------------


def bpe_pair_counts(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Corpus-wide adjacent-symbol pair counts over the initial BPE
    alphabet (characters) — the expensive first step of BPE tokenizer
    training (Sennrich et al. 2016): the merge loop itself iterates on
    the compact (pair, count) table this produces.

    Scale shape (100 TB): the character explode runs over DISTINCT
    words weighted by their corpus frequency, so the heavy fan-out is
    O(vocab · word-length), not O(corpus tokens); both groupBys are
    map-side combined. Output: ``(a, b, pair_count)``."""
    words = df.select(
        F.explode(F.split(F.regexp_replace(F.col(text_col), r"^[ \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+$", ""), r"[ \t\n\x0B\f\r]+")).alias("w")
    ).filter(F.length("w") >= 1)
    wf = words.groupBy("w").agg(F.count("*").cast("bigint").alias("freq"))
    pairs = (
        wf.filter(F.length("w") >= 2)
        .select(
            "freq",
            F.explode(
                F.expr(
                    "transform(sequence(1, length(w) - 1), "
                    "i -> struct(substring(w, i, 1) AS a, "
                    "substring(w, i + 1, 1) AS b))"
                )
            ).alias("pr"),
        )
    )
    return pairs.groupBy(
        F.col("pr.a").alias("a"), F.col("pr.b").alias("b")
    ).agg(F.sum("freq").cast("bigint").alias("pair_count"))


def bpe_pair_counts_oracle_sql() -> str:
    """DuckDB twin of :func:`bpe_pair_counts` over ``documents``."""
    return """
    WITH w AS (
      SELECT unnest(string_split_regex(regexp_replace(text, '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), '[ \\t\\n\\x0B\\f\\r]+')) AS w FROM documents
    ), wf AS (
      SELECT w, CAST(count(*) AS BIGINT) AS freq
      FROM w WHERE length(w) >= 1 GROUP BY w
    ), p AS (
      SELECT unnest([{'a': w[i:i], 'b': w[i+1:i+1]}
                     for i in range(1, length(w))]) AS pr,
             freq
      FROM wf WHERE length(w) >= 2
    )
    SELECT pr.a AS a, pr.b AS b, CAST(sum(freq) AS BIGINT) AS pair_count
    FROM p GROUP BY pr.a, pr.b
    """


def word_freq_table(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The whitespace-token word-frequency table ``(w, freq)`` every
    tokenizer trainer starts from — the ONE corpus-scale scan in the
    whole training pipeline. Derive it once (``stage_checkpoint``) and
    feed it to :func:`bpe_learn_merges`, :func:`unigram_scores`, and
    :func:`wordpiece_learn_merges` via their ``word_freq`` parameter
    when racing families on the same corpus: the three trainers share
    an identical base, so recomputing it per trainer is pure waste —
    at 100 TB it is three full corpus scans instead of one."""
    return (
        df.select(
            F.explode(
                F.split(
                    F.regexp_replace(
                        F.col(text_col),
                        r"^[ \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+$",
                        "",
                    ),
                    r"[ \t\n\x0B\f\r]+",
                )
            ).alias("w")
        )
        .filter(F.length("w") >= 1)
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("freq"))
    )


def _bpe_greedy_driver(
    words: list[tuple[list[str], int]], n_merges: int
) -> list[tuple[int, str, str, int]]:
    """Driver-local replica of the distributed BPE loop — SAME
    semantics to the bit: pair counts are freq-weighted over adjacent
    symbols, the argmax ties break (pair_count DESC, a ASC, b ASC)
    (Python string comparison is code-point order == Spark's binary
    UTF-8 order), merges apply left-to-right with the i+=2 skip."""
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        counts: dict[tuple[str, str], int] = {}
        for syms, freq in words:
            for i in range(len(syms) - 1):
                pr = (syms[i], syms[i + 1])
                counts[pr] = counts.get(pr, 0) + freq
        if not counts:
            break
        (a, b), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        nxt: list[tuple[list[str], int]] = []
        for syms, freq in words:
            res, i, n = [], 0, len(syms)
            while i < n:
                if i + 1 < n and syms[i] == a and syms[i + 1] == b:
                    res.append(a + b)
                    i += 2
                else:
                    res.append(syms[i])
                    i += 1
            nxt.append((res, freq))
        words = nxt
        merges.append((rank, a, b, int(cnt)))
    return merges


def bpe_learn_merges(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_merges: int = 8,
    word_freq: DataFrame | None = None,
    driver_train_threshold: int = 100_000,
) -> DataFrame:
    """Distributed BPE merge learning (Sennrich et al. 2016): starting
    from the character alphabet, repeatedly (1) count adjacent symbol
    pairs across the frequency-weighted DISTINCT-word vocabulary,
    (2) pick the most frequent pair (ties: lexicographically smallest —
    deterministic across partitionings), (3) apply the merge
    left-to-right in every word's symbol sequence. Output is the
    tokenizer artifact itself: ``(merge_rank, a, b, pair_count)``.

    Scale shape (100 TB): the corpus is touched ONCE (the word-
    frequency groupBy); every iteration after that runs on the vocab
    table (O(distinct words)), which is how production BPE trainers
    work too. Per merge: one map-side-combined pair aggregation, a
    1-row argmax collect (the standard driver scalar for iterative
    algorithms), and one Arrow map pass applying the merge; the
    per-iteration stage boundary keeps the plan flat.
    ``word_freq``: a precomputed :func:`word_freq_table` ``(w, freq)``
    — pass it when several trainers share one corpus so the base scan
    runs once.

    ``driver_train_threshold`` is the broadcast-join decision applied
    to training: the model base (the distinct-word table) is counted
    after the one corpus scan, and when it fits the driver (≤ threshold
    rows) the greedy loop runs driver-local on the SAME table —
    per-round Spark-job latency, the dominant cost of iterative
    training on small/medium vocabularies, disappears, and the output
    is IDENTICAL (:func:`_bpe_greedy_driver`, equality-tested against
    the distributed path). Above the threshold — any real corpus; a
    100 TB dedup'd word table is 10⁷-10⁸ rows — the distributed
    per-round path below runs unchanged. 0 disables the fast path."""
    wf = word_freq_table(df, text_col) if word_freq is None else word_freq
    vocab = wf.select(
        F.split("w", "").alias("syms"), F.col("freq").cast("bigint")
    )
    return _bpe_train_loop(vocab, n_merges, driver_train_threshold, "bpe:vocab")


def _driver_vocab_probe(
    vocab: DataFrame, threshold: int
) -> list | None:
    """ONE-job spelling of the adaptive-execution decision ``count() <=
    threshold`` + ``collect()``: pull at most ``threshold + 1`` rows —
    if everything fit, those ARE all the rows (return them for the
    driver-local trainer); if the cap was hit, return None (distributed
    path). The driver pull stays bounded by the threshold either way,
    and the greedy trainers are row-order independent (counting sums +
    a total-order argmax), so ``limit``'s arbitrary row order changes
    nothing."""
    if not threshold:
        return None
    rows = vocab.limit(threshold + 1).collect()
    return rows if len(rows) <= threshold else None


def _bpe_train_loop(
    vocab: DataFrame,
    n_merges: int,
    driver_train_threshold: int,
    ckpt_label: str,
) -> DataFrame:
    """The greedy merge loop shared by the char-level and byte-level
    BPE trainers — symbol-alphabet-agnostic: ``vocab`` is any
    ``(syms array<string>, freq bigint)`` table and the loop counts /
    argmaxes / merges over whatever symbols it carries (characters for
    :func:`bpe_learn_merges`, hex byte pairs for
    :func:`bpe_bytes_learn_merges`). The vocab is checkpointed here
    ONLY on the distributed path — the driver path's single probe job
    reads it once and never revisits it."""
    from pyspark.sql import functions as SF

    spark = vocab.sparkSession
    probe = _driver_vocab_probe(vocab, driver_train_threshold)
    if probe is not None:
        words = [(list(r["syms"]), int(r["freq"])) for r in probe]
        return spark.createDataFrame(
            _bpe_greedy_driver(words, n_merges),
            "merge_rank bigint, a string, b string, pair_count bigint",
        )
    vocab = vocab.transform(stage_checkpoint, label=ckpt_label)

    pair_expr = F.explode(
        F.expr(
            "transform(sequence(1, size(syms) - 1), "
            "i -> struct(element_at(syms, i) AS a, element_at(syms, i + 1) AS b))"
        )
    ).alias("pr")

    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        counts = (
            vocab.filter(F.size("syms") >= 2)
            .select("freq", pair_expr)
            .groupBy(F.col("pr.a").alias("a"), F.col("pr.b").alias("b"))
            .agg(F.sum("freq").cast("bigint").alias("pair_count"))
        )
        best = counts.orderBy(
            F.desc("pair_count"), F.asc("a"), F.asc("b")
        ).limit(1).collect()
        if not best:
            break
        a, b, cnt = best[0].a, best[0].b, best[0].pair_count

        def _merge_udf(ma: str, mb: str):
            @SF.pandas_udf("array<string>")
            def _merge(seqs: pd.Series) -> pd.Series:
                out = []
                for seq in seqs:
                    res, i, n = [], 0, len(seq)
                    while i < n:
                        if i + 1 < n and seq[i] == ma and seq[i + 1] == mb:
                            res.append(ma + mb)
                            i += 2
                        else:
                            res.append(seq[i])
                            i += 1
                    out.append(res)
                return pd.Series(out)

            return _merge

        vocab = vocab.select(
            _merge_udf(a, b)(F.col("syms")).alias("syms"), "freq"
        ).transform(stage_checkpoint, label="bpe:merge")
        merges.append((rank, a, b, int(cnt)))

    return spark.createDataFrame(
        merges, "merge_rank bigint, a string, b string, pair_count bigint"
    )


def bpe_tokenize(
    df: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply a learned BPE merge list (from :func:`bpe_learn_merges`)
    to the corpus — the encode half of the tokenizer: each word starts
    as characters and the merges are applied greedily in rank order.
    Output per document: ``(id, n_tokens, n_chars)`` — the token-budget
    numbers a training pipeline actually consumes (the token arrays
    themselves stay executor-side; emit them instead if a sink needs
    them).

    One Arrow pass over the corpus; the merge list rides in the UDF
    closure (it is the tokenizer model — KBs, broadcast once per
    executor)."""
    ranked = list(merges)

    @F.pandas_udf("bigint")
    def _count(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            total = 0
            for w in (t or "").split():
                seq = list(w)
                for a, b in ranked:
                    i, res = 0, []
                    n = len(seq)
                    while i < n:
                        if i + 1 < n and seq[i] == a and seq[i + 1] == b:
                            res.append(a + b)
                            i += 2
                        else:
                            res.append(seq[i])
                            i += 1
                    seq = res
                total += len(seq)
            out.append(total)
        return pd.Series(out)

    return df.select(
        F.col(id_col),
        _count(F.col(text_col)).alias("n_tokens"),
        F.length(F.col(text_col)).cast("bigint").alias("n_chars"),
    )


_BPE_WORDS_CTE = """
    w0 AS (
      SELECT unnest(string_split_regex(regexp_replace(text, '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), '[ \\t\\n\\x0B\\f\\r]+')) AS w
      FROM {table}{pred}
    ), wf AS (
      SELECT w, CAST(count(*) AS BIGINT) AS freq
      FROM w0 WHERE length(w) >= 1 GROUP BY w
    ), s0 AS (
      SELECT w,
             array_to_string([w[i:i] for i in range(1, length(w) + 1)],
                             chr(9)) AS ts,
             freq
      FROM wf
    )"""

# One merge round: pair counts over the tab-joined symbol state, a
# deterministic 1-row argmax, then the greedy LEFT-TO-RIGHT merge as a
# list_reduce fold — "last symbol == a AND next == b" detected on the
# tab-delimited accumulator (tokens cannot contain whitespace, so the
# tab is collision-free), and merging appends b WITHOUT a tab, which
# also removes the merged token from the match window exactly like the
# i += 2 skip in bpe_learn_merges' kernel.
_BPE_ROUND_CTE = """
    , p{r} AS MATERIALIZED (
      SELECT pr.a AS a, pr.b AS b, CAST(sum(freq) AS BIGINT) AS pair_count
      FROM (
        SELECT unnest([{{'a': tk[i], 'b': tk[i+1]}}
                       for i in range(1, len(tk))]) AS pr,
               freq
        FROM (SELECT string_split(ts, chr(9)) AS tk, freq FROM s{prev}) q
        WHERE len(tk) >= 2
      ) GROUP BY pr.a, pr.b
    ), m{r} AS MATERIALIZED (
      SELECT a, b, pair_count FROM p{r}
      ORDER BY pair_count DESC, a, b LIMIT 1
    ), s{r} AS MATERIALIZED (
      SELECT s.w,
             list_reduce(
               string_split(s.ts, chr(9)),
               (acc, x) -> CASE
                 WHEN (acc = m.a OR suffix(acc, chr(9) || m.a)) AND x = m.b
                 THEN acc || x
                 ELSE acc || chr(9) || x END) AS ts,
             s.freq
      FROM s{prev} s CROSS JOIN m{r} m
      UNION ALL
      SELECT s.w, s.ts, s.freq FROM s{prev} s
      WHERE NOT EXISTS (SELECT 1 FROM m{r})
    )"""


def bpe_merges_oracle_sql(
    n_merges: int, table: str = "documents", doc_pred: str | None = None
) -> str:
    """DuckDB twin of :func:`bpe_learn_merges`: the iterative Sennrich
    merge loop UNROLLED as one CTE chain (the logreg-GD oracle move) —
    per rank one overlapping-pair aggregation, one (count DESC, a, b)
    argmax, one greedy fold — so the trained artifact itself is
    hash-checked, not just its row count. A rank whose pair table is
    empty yields no merge row (matching the trainer's break) and the
    symbol state carries forward unchanged, so downstream consumers
    (:func:`bpe_encode_oracle_sql`) still read the true final state
    when the corpus admits fewer than ``n_merges`` merges."""
    pred = f" WHERE {doc_pred}" if doc_pred else ""
    parts = ["WITH " + _BPE_WORDS_CTE.format(table=table, pred=pred)]
    for r in range(1, n_merges + 1):
        parts.append(_BPE_ROUND_CTE.format(r=r, prev=r - 1))
    unions = "\n      UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS merge_rank, a, b, pair_count "
        f"FROM m{r}"
        for r in range(1, n_merges + 1)
    )
    return "".join(parts) + "\n    " + unions


def bpe_encode_oracle_sql(
    n_merges: int, table: str = "documents", doc_pred: str | None = None
) -> str:
    """DuckDB twin of the learn→encode chain (:func:`bpe_learn_merges`
    + :func:`bpe_tokenize`): replays the training chain, then reads
    each word's token count straight off the FINAL merge state — valid
    because both the trainer and the encoder apply merges as full
    left-to-right passes in rank order, so the trained vocabulary state
    IS the encoding of every in-corpus word. Per-document totals join
    word occurrences (with multiplicity) back to the vocab."""
    pred = f" WHERE {doc_pred}" if doc_pred else ""
    parts = ["WITH " + _BPE_WORDS_CTE.format(table=table, pred=pred)]
    for r in range(1, n_merges + 1):
        parts.append(_BPE_ROUND_CTE.format(r=r, prev=r - 1))
    tail = f"""
    , wtok AS (
      SELECT w, CAST(len(string_split(ts, chr(9))) AS BIGINT) AS n_tok
      FROM s{n_merges}
    ), docw AS (
      SELECT doc_id,
             unnest(string_split_regex(regexp_replace(text, '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), '[ \\t\\n\\x0B\\f\\r]+')) AS w
      FROM {table}{pred}
    ), agg AS (
      SELECT dw.doc_id, CAST(sum(v.n_tok) AS BIGINT) AS n_tokens
      FROM (SELECT doc_id, w FROM docw WHERE length(w) >= 1) dw
      JOIN wtok v USING (w)
      GROUP BY dw.doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(length(d.text) AS BIGINT) AS n_chars
    FROM {table} d LEFT JOIN agg a USING (doc_id){pred}
    """
    return "".join(parts) + tail


# ---------------------------------------------------------------------------
# Byte-level BPE — the GPT-2 / tiktoken family (Radford et al. 2019)
# ---------------------------------------------------------------------------
#
# Char-level BPE has an unsegmentable-word class: any word containing a
# character outside the training alphabet cannot be encoded. Byte-level
# BPE removes it entirely — the base alphabet is the 256 byte values of
# the word's UTF-8 encoding, so EVERY string is segmentable and merges
# can cross the byte boundaries inside multi-byte characters. Symbols
# are spelled as UPPERCASE HEX byte pairs ("61", "C3", merged "C3A9"):
# fixed-width, printable, and — decisive for the cross-engine oracle —
# lexicographic comparison of hex strings is ORDER-ISOMORPHIC to
# bytewise comparison of the underlying byte sequences (both engines
# compare ASCII hex identically, and a prefix sorts before its
# extensions in both), so the (pair_count DESC, a, b) argmax tie-break
# picks the same merge everywhere. GPT-2's unicode remapping
# (bytes_to_unicode) is exactly such a printable-alias table; hex is
# the SQL-friendly spelling of the same idea.


# hex-pair symbol array of a word's UTF-8 bytes, JVM-side (no Python in
# the vocab build): Spark hex(binary) is uppercase like DuckDB's
_BYTE_SYMS_EXPR = (
    "transform(sequence(1, octet_length(w)), "
    "i -> substring(hex(encode(w, 'UTF-8')), 2*i - 1, 2))"
)


def bpe_bytes_learn_merges(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_merges: int = 8,
    word_freq: DataFrame | None = None,
    driver_train_threshold: int = 100_000,
) -> DataFrame:
    """Byte-level BPE merge learning — :func:`bpe_learn_merges` with
    the 256-byte base alphabet instead of characters. Identical scale
    shape (one corpus scan into the shared word-frequency base, then
    per-round work on the vocab table) and the identical greedy loop
    (:func:`_bpe_train_loop` is shared verbatim, including the adaptive
    driver-local path); only the symbol seeding differs. Output
    ``(merge_rank, a, b, pair_count)`` with a/b as uppercase hex byte
    strings — the artifact a GPT-2-family tokenizer persists."""
    wf = word_freq_table(df, text_col) if word_freq is None else word_freq
    vocab = wf.select(
        F.expr(_BYTE_SYMS_EXPR).alias("syms"),
        F.col("freq").cast("bigint"),
    )
    return _bpe_train_loop(
        vocab, n_merges, driver_train_threshold, "bpe_bytes:vocab"
    )


def bpe_bytes_tokenize(
    df: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Encode half of byte-level BPE: each word starts as the hex-pair
    spelling of its UTF-8 bytes and the learned merges apply greedily
    in rank order (same full left-to-right passes as the trainer, so
    trained state == encoding for in-corpus words). No unknown branch
    exists by construction — the byte-fallback property. Output per
    document: ``(id, n_tokens, n_bytes)``; ``n_bytes`` (not chars) is
    the byte-level budget denominator. One Arrow pass; the merge list
    is the model and rides the closure."""
    ranked = list(merges)

    @F.pandas_udf("bigint")
    def _count(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            total = 0
            for w in (t or "").split():
                seq = ["%02X" % byt for byt in w.encode("utf-8")]
                for a, b in ranked:
                    i, res = 0, []
                    n = len(seq)
                    while i < n:
                        if i + 1 < n and seq[i] == a and seq[i + 1] == b:
                            res.append(a + b)
                            i += 2
                        else:
                            res.append(seq[i])
                            i += 1
                    seq = res
                total += len(seq)
            out.append(total)
        return pd.Series(out)

    return df.select(
        F.col(id_col),
        _count(F.col(text_col)).alias("n_tokens"),
        F.expr(f"octet_length({text_col})").cast("bigint").alias("n_bytes"),
    )


# GPT-2's pre-tokenizer regex, lookahead-free: the reference pattern's
# trailing `\s+(?!\S)` alternative exists only to keep the LAST space
# of a whitespace run attached to the following word; RE2 (DuckDB) has
# no lookahead, so this spelling folds whole whitespace runs into one
# piece instead — single spaces before words still attach (the ` ?`
# alternatives fire first), so the Ġword pieces that carry GPT-2's
# vocabulary structure are preserved, and the divergence is confined
# to runs of ≥2 whitespace. Java regex (Spark) and RE2 (DuckDB) agree
# on every alternative including the Unicode \p{L}/\p{N} classes —
# pinned by tests/test_corpus.py::TestBpeBytesPretok.
GPT2_PRETOK_RE = (
    r"'s|'t|'re|'ve|'m|'ll|'d"
    r"| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"
)


def gpt2_pieces(col: "Column | str"):
    """GPT-2 pre-tokenization as an engine-side expression: the array
    of regex pieces covering the text exactly (pieces re-concatenate
    to the input — leading spaces stay attached to words, contractions
    split off, digit/punct runs separate). No Python in the split."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(GPT2_PRETOK_RE), F.lit(0))


def piece_freq_table(df: DataFrame, text_col: str = "text") -> DataFrame:
    """``word_freq_table``'s twin over GPT-2 pre-tokenizer pieces —
    the ``(w, freq)`` base a pre-tokenized byte-BPE trainer starts
    from. Same one-corpus-scan shape; pieces may contain spaces (the
    Ġ-prefix class) and BE whitespace, which the hex byte symbols
    carry without escaping."""
    return (
        df.select(F.explode(gpt2_pieces(text_col)).alias("w"))
        .filter(F.length("w") >= 1)
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("freq"))
    )


def bpe_bytes_pretok_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Encode under the GPT-2 pre-tokenizer — with a better scale
    shape than the per-document kernel: the engine regex explodes
    pieces, the Arrow kernel applies merges over the DISTINCT-piece
    table only (vocabulary-sized work, like the trainer), and a join
    carries each piece's token count back to its occurrences. At
    100 TB the kernel cost is O(distinct pieces), not O(tokens); the
    join's build side is vocabulary-sized (AQE broadcasts it when
    small). Output ``(id, n_tokens, n_bytes)``."""
    ranked = list(merges)

    @F.pandas_udf("bigint")
    def _piece_tok(pieces: pd.Series) -> pd.Series:
        out = []
        for w in pieces:
            seq = ["%02X" % byt for byt in w.encode("utf-8")]
            for a, b in ranked:
                i, res = 0, []
                n = len(seq)
                while i < n:
                    if i + 1 < n and seq[i] == a and seq[i + 1] == b:
                        res.append(a + b)
                        i += 2
                    else:
                        res.append(seq[i])
                        i += 1
                seq = res
            out.append(len(seq))
        return pd.Series(out)

    occ = df.select(
        F.col(id_col), F.explode(gpt2_pieces(text_col)).alias("w")
    ).filter(F.length("w") >= 1)
    ptok = (
        occ.select("w")
        .distinct()
        .select("w", _piece_tok(F.col("w")).alias("_n_tok"))
    )
    agg = (
        occ.join(ptok, "w")
        .groupBy(id_col)
        .agg(F.sum("_n_tok").cast("bigint").alias("n_tokens"))
    )
    return (
        df.select(
            F.col(id_col),
            F.expr(f"octet_length({text_col})")
            .cast("bigint")
            .alias("n_bytes"),
        )
        .join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_tokens", F.lit(0))
            .cast("bigint")
            .alias("n_tokens"),
            "n_bytes",
        )
    )


def _gpt2_pat_sql() -> str:
    return GPT2_PRETOK_RE.replace("'", "''")


# piece-split words CTE: the byte words CTE with regexp pieces instead
# of the whitespace split
_BPE_BYTES_PRETOK_WORDS_CTE = """
    w0 AS (
      SELECT unnest(regexp_extract_all(text, '{pat}')) AS w
      FROM {src}
    ), wf AS (
      SELECT w, CAST(count(*) AS BIGINT) AS freq
      FROM w0 WHERE length(w) >= 1 GROUP BY w
    ), s0 AS (
      SELECT w,
             array_to_string(
               [h[2*i - 1:2*i]
                for i in range(1, octet_length(encode(w)) + 1)],
               chr(9)) AS ts,
             freq
      FROM (SELECT w, hex(encode(w)) AS h, freq FROM wf)
    )"""


def bpe_bytes_pretok_merges_oracle_sql(
    n_merges: int,
    table: str = "documents",
    doc_pred: str | None = None,
    src_sql: str | None = None,
) -> str:
    """DuckDB twin of the pre-tokenized trainer: regexp pieces feed
    the byte-seeded words CTE; the round chain is reused verbatim."""
    src = _bpe_bytes_src(table, doc_pred, src_sql)
    parts = [
        "WITH "
        + _BPE_BYTES_PRETOK_WORDS_CTE.format(src=src, pat=_gpt2_pat_sql())
    ]
    for r in range(1, n_merges + 1):
        parts.append(_BPE_ROUND_CTE.format(r=r, prev=r - 1))
    unions = "\n      UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS merge_rank, a, b, pair_count "
        f"FROM m{r}"
        for r in range(1, n_merges + 1)
    )
    return "".join(parts) + "\n    " + unions


def bpe_bytes_pretok_encode_oracle_sql(
    n_merges: int,
    table: str = "documents",
    doc_pred: str | None = None,
    src_sql: str | None = None,
) -> str:
    """DuckDB twin of the pre-tokenized learn→encode chain: training
    replayed over pieces, per-piece token counts read off the final
    state, occurrences joined back per document."""
    src = _bpe_bytes_src(table, doc_pred, src_sql)
    parts = [
        "WITH "
        + _BPE_BYTES_PRETOK_WORDS_CTE.format(src=src, pat=_gpt2_pat_sql())
    ]
    for r in range(1, n_merges + 1):
        parts.append(_BPE_ROUND_CTE.format(r=r, prev=r - 1))
    tail = f"""
    , wtok AS (
      SELECT w, CAST(len(string_split(ts, chr(9))) AS BIGINT) AS n_tok
      FROM s{n_merges}
    ), src_docs AS (
      SELECT doc_id, text FROM {src}
    ), docw AS (
      SELECT doc_id,
             unnest(regexp_extract_all(text, '{_gpt2_pat_sql()}')) AS w
      FROM src_docs
    ), agg AS (
      SELECT dw.doc_id, CAST(sum(v.n_tok) AS BIGINT) AS n_tokens
      FROM (SELECT doc_id, w FROM docw WHERE length(w) >= 1) dw
      JOIN wtok v USING (w)
      GROUP BY dw.doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(octet_length(encode(d.text)) AS BIGINT) AS n_bytes
    FROM src_docs d LEFT JOIN agg a USING (doc_id)
    """
    return "".join(parts) + tail


# words CTE for the byte alphabet: same whitespace split / freq table
# as _BPE_WORDS_CTE, but s0 seeds each word as tab-joined hex byte
# pairs (DuckDB hex(encode(w)) is uppercase like Spark's). {src} is a
# row source producing (doc_id, text) — a bare table name or a
# parenthesized UNION (the multi-byte-twin pattern).
_BPE_BYTES_WORDS_CTE = """
    w0 AS (
      SELECT unnest(string_split_regex(regexp_replace(text, '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), '[ \\t\\n\\x0B\\f\\r]+')) AS w
      FROM {src}
    ), wf AS (
      SELECT w, CAST(count(*) AS BIGINT) AS freq
      FROM w0 WHERE length(w) >= 1 GROUP BY w
    ), s0 AS (
      SELECT w,
             array_to_string(
               [h[2*i - 1:2*i]
                for i in range(1, octet_length(encode(w)) + 1)],
               chr(9)) AS ts,
             freq
      FROM (SELECT w, hex(encode(w)) AS h, freq FROM wf)
    )"""


def _bpe_bytes_src(
    table: str, doc_pred: str | None, src_sql: str | None
) -> str:
    if src_sql is not None:
        return f"({src_sql})"
    return f"{table} WHERE {doc_pred}" if doc_pred else table


def bpe_bytes_merges_oracle_sql(
    n_merges: int,
    table: str = "documents",
    doc_pred: str | None = None,
    src_sql: str | None = None,
) -> str:
    """DuckDB twin of :func:`bpe_bytes_learn_merges`: the byte-seeded
    words CTE, then the SAME unrolled round chain as the char-level
    oracle — ``_BPE_ROUND_CTE`` is symbol-agnostic (it folds
    tab-delimited tokens; hex tokens contain no tabs), so the byte
    family reuses it verbatim. ``src_sql`` overrides the row source
    (the multi-byte-twin corpus)."""
    src = _bpe_bytes_src(table, doc_pred, src_sql)
    parts = ["WITH " + _BPE_BYTES_WORDS_CTE.format(src=src)]
    for r in range(1, n_merges + 1):
        parts.append(_BPE_ROUND_CTE.format(r=r, prev=r - 1))
    unions = "\n      UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS merge_rank, a, b, pair_count "
        f"FROM m{r}"
        for r in range(1, n_merges + 1)
    )
    return "".join(parts) + "\n    " + unions


def bpe_bytes_encode_oracle_sql(
    n_merges: int,
    table: str = "documents",
    doc_pred: str | None = None,
    src_sql: str | None = None,
) -> str:
    """DuckDB twin of the byte-level learn→encode chain: replays
    training, reads each word's token count off the FINAL merge state
    (valid as in :func:`bpe_encode_oracle_sql` — full rank-order
    passes both sides), joins back per document. ``n_bytes`` is
    ``octet_length(encode(text))`` — the byte-level denominator."""
    src = _bpe_bytes_src(table, doc_pred, src_sql)
    parts = ["WITH " + _BPE_BYTES_WORDS_CTE.format(src=src)]
    for r in range(1, n_merges + 1):
        parts.append(_BPE_ROUND_CTE.format(r=r, prev=r - 1))
    tail = f"""
    , wtok AS (
      SELECT w, CAST(len(string_split(ts, chr(9))) AS BIGINT) AS n_tok
      FROM s{n_merges}
    ), src_docs AS (
      SELECT doc_id, text FROM {src}
    ), docw AS (
      SELECT doc_id,
             unnest(string_split_regex(regexp_replace(text, '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), '[ \\t\\n\\x0B\\f\\r]+')) AS w
      FROM src_docs
    ), agg AS (
      SELECT dw.doc_id, CAST(sum(v.n_tok) AS BIGINT) AS n_tokens
      FROM (SELECT doc_id, w FROM docw WHERE length(w) >= 1) dw
      JOIN wtok v USING (w)
      GROUP BY dw.doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(octet_length(encode(d.text)) AS BIGINT) AS n_bytes
    FROM src_docs d LEFT JOIN agg a USING (doc_id)
    """
    return "".join(parts) + tail


# ---------------------------------------------------------------------------
# WordPiece tokenizer — likelihood-scored merges + greedy longest-match encode
# ---------------------------------------------------------------------------


_WP_SCALE = 10**18


def _wp_greedy_driver(
    words: list[tuple[list[str], int]], n_merges: int
) -> list[tuple[int, str, str, int, int]]:
    """Driver-local replica of the distributed WordPiece loop — same
    integer likelihood key ``(pair_count·10¹⁸) // (cnt_a·cnt_b)``
    (Python int floordiv == DECIMAL(38,0) div == HUGEINT // for
    positive operands), same (score_q DESC, a ASC, b ASC) tie-break,
    same ``##``-aware merge naming and left-to-right i+=2 apply."""
    merges: list[tuple[int, str, str, int, int]] = []
    for rank in range(1, n_merges + 1):
        pair_counts: dict[tuple[str, str], int] = {}
        sym_counts: dict[str, int] = {}
        for syms, freq in words:
            for s in syms:
                sym_counts[s] = sym_counts.get(s, 0) + freq
            for i in range(len(syms) - 1):
                pr = (syms[i], syms[i + 1])
                pair_counts[pr] = pair_counts.get(pr, 0) + freq
        if not pair_counts:
            break
        def _key(kv):
            (a, b), cnt = kv
            sq = (cnt * _WP_SCALE) // (sym_counts[a] * sym_counts[b])
            return (-sq, a, b)
        (a, b), cnt = min(pair_counts.items(), key=_key)
        sq = (cnt * _WP_SCALE) // (sym_counts[a] * sym_counts[b])
        merged = a + (b[2:] if b.startswith("##") else b)
        nxt: list[tuple[list[str], int]] = []
        for syms, freq in words:
            res, i, n = [], 0, len(syms)
            while i < n:
                if i + 1 < n and syms[i] == a and syms[i + 1] == b:
                    res.append(merged)
                    i += 2
                else:
                    res.append(syms[i])
                    i += 1
            nxt.append((res, freq))
        words = nxt
        merges.append((rank, a, b, int(cnt), int(sq)))
    return merges


def wordpiece_learn_merges(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_merges: int = 8,
    word_freq: DataFrame | None = None,
    driver_train_threshold: int = 100_000,
) -> DataFrame:
    """Distributed WordPiece merge learning (Schuster & Nakajima 2012;
    the BERT tokenizer, Wu et al. 2016 §4.1): like BPE but the merge
    picked each round maximizes the LIKELIHOOD score
    ``pair_count / (count(a) · count(b))`` instead of raw frequency,
    and non-initial symbols carry the ``##`` continuation prefix (the
    merged name keeps only the first component's prefix: ``h + ##e →
    he``, ``##l + ##o → ##lo``). Output
    ``(merge_rank, a, b, pair_count, score_q)``.

    Cross-engine exact argmax: the rational score is ranked through the
    integer key ``score_q = (pair_count · 10¹⁸) div (cnt_a · cnt_b)``
    — the product stays inside DECIMAL(38,0) (Spark) / HUGEINT (DuckDB)
    and the quotient inside int64, so both engines compute the
    IDENTICAL key with no float in sight; two scores closer than 1e-18
    quantize equal and fall to the (a, b) tie-break, deterministically.

    Scale shape: identical to :func:`bpe_learn_merges` — the corpus is
    touched once, each round is one pair aggregation + one symbol-count
    aggregation + a 1-row argmax collect + one Arrow merge pass over
    the vocab table.

    ``id_col`` is accepted only for signature symmetry with the other
    trainers (:func:`bpe_learn_merges`, :func:`unigram_scores`) so all
    three are drop-in interchangeable; merge learning aggregates over
    the word universe and never touches document identity.
    ``word_freq``: a precomputed :func:`word_freq_table` ``(w, freq)``
    — pass it when several trainers share one corpus so the base scan
    runs once. ``driver_train_threshold``: same adaptive execution as
    :func:`bpe_learn_merges` — a model base that fits the driver trains
    driver-local (:func:`_wp_greedy_driver`, identical artifact), a
    real-corpus vocabulary takes the distributed per-round path."""
    from pyspark.sql import functions as SF

    wf = word_freq_table(df, text_col) if word_freq is None else word_freq
    vocab = wf.select(
        F.expr(
            "transform(split(w, ''), (c, i) -> "
            "CASE WHEN i = 0 THEN c ELSE concat('##', c) END)"
        ).alias("syms"),
        F.col("freq").cast("bigint"),
    )
    spark = df.sparkSession
    probe = _driver_vocab_probe(vocab, driver_train_threshold)
    if probe is not None:
        words = [(list(r["syms"]), int(r["freq"])) for r in probe]
        return spark.createDataFrame(
            _wp_greedy_driver(words, n_merges),
            "merge_rank bigint, a string, b string, pair_count bigint, "
            "score_q bigint",
        )
    vocab = vocab.transform(stage_checkpoint, label="wp:vocab")

    pair_expr = F.explode(
        F.expr(
            "transform(sequence(1, size(syms) - 1), "
            "i -> struct(element_at(syms, i) AS a, element_at(syms, i + 1) AS b))"
        )
    ).alias("pr")
    key_expr = (
        "CAST(CAST(pair_count AS DECIMAL(38,0)) * "
        f"CAST({_WP_SCALE} AS DECIMAL(38,0)) div "
        "(CAST(ca AS DECIMAL(38,0)) * CAST(cb AS DECIMAL(38,0))) AS BIGINT)"
    )

    merges: list[tuple[int, str, str, int, int]] = []
    for rank in range(1, n_merges + 1):
        pairs = (
            vocab.filter(F.size("syms") >= 2)
            .select("freq", pair_expr)
            .groupBy(F.col("pr.a").alias("a"), F.col("pr.b").alias("b"))
            .agg(F.sum("freq").cast("bigint").alias("pair_count"))
        )
        syms = (
            vocab.select(F.explode("syms").alias("sym"), "freq")
            .groupBy("sym")
            .agg(F.sum("freq").cast("bigint").alias("cnt"))
        )
        best = (
            # symbol-count side is vocab-scale — broadcast both lookups
            # so the per-round argmax never shuffles the pair table
            pairs.join(F.broadcast(syms.select(F.col("sym").alias("a"),
                                               F.col("cnt").alias("ca"))),
                       "a")
            .join(F.broadcast(syms.select(F.col("sym").alias("b"),
                                          F.col("cnt").alias("cb"))), "b")
            .select("a", "b", "pair_count",
                    F.expr(key_expr).alias("score_q"))
            .orderBy(F.desc("score_q"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        a, b = best[0].a, best[0].b
        cnt, sq = int(best[0].pair_count), int(best[0].score_q)
        merged = a + (b[2:] if b.startswith("##") else b)

        def _merge_udf(ma: str, mb: str, mm: str):
            @SF.pandas_udf("array<string>")
            def _merge(seqs: pd.Series) -> pd.Series:
                out = []
                for seq in seqs:
                    res, i, n = [], 0, len(seq)
                    while i < n:
                        if i + 1 < n and seq[i] == ma and seq[i + 1] == mb:
                            res.append(mm)
                            i += 2
                        else:
                            res.append(seq[i])
                            i += 1
                    out.append(res)
                return pd.Series(out)

            return _merge

        vocab = vocab.select(
            _merge_udf(a, b, merged)(F.col("syms")).alias("syms"), "freq"
        ).transform(stage_checkpoint, label="wp:merge")
        merges.append((rank, a, b, cnt, sq))

    spark = df.sparkSession
    return spark.createDataFrame(
        merges,
        "merge_rank bigint, a string, b string, pair_count bigint, "
        "score_q bigint",
    )


def wordpiece_vocab(df: DataFrame, merges_df: DataFrame,
                    text_col: str = "text",
                    word_freq: DataFrame | None = None) -> list[str]:
    """The WordPiece vocabulary a trained merge list induces: the
    corpus's initial symbol alphabet (bare first characters ∪
    ``##``-prefixed continuation characters — a character that never
    opens a word has no bare form, exactly HF's behavior) plus every
    merged symbol. Driver-bounded: |alphabet| + n_merges rows.
    ``word_freq``: a precomputed :func:`word_freq_table` — the alphabet
    is a set over distinct words, so the shared base gives the
    identical result without rescanning the corpus."""
    src = word_freq_table(df, text_col) if word_freq is None else word_freq
    alpha = (
        src.select(
            F.explode(
                F.expr(
                    "transform(split(w, ''), (c, i) -> "
                    "CASE WHEN i = 0 THEN c ELSE concat('##', c) END)"
                )
            ).alias("sym")
        )
        .distinct()
        .collect()
    )
    out = {r["sym"] for r in alpha}
    for r in merges_df.collect():
        b = r["b"]
        out.add(r["a"] + (b[2:] if b.startswith("##") else b))
    return sorted(out)


def wordpiece_tokenize(
    df: DataFrame,
    vocab: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Greedy longest-match-first WordPiece encoding (the HF
    ``WordPiece`` algorithm): per word, repeatedly take the LONGEST
    vocabulary piece matching at the cursor (``##``-prefixed after the
    first); a position with no match makes the WHOLE word one unknown
    token. Unlike BPE — which encodes by replaying merges — WordPiece
    encodes against the vocabulary alone. Output per document:
    ``(id, n_tokens, n_unk_words, n_chars)``.

    One Arrow pass over DISTINCT words (vocab set broadcast, match
    window bounded by the longest vocab piece), then per-doc totals via
    the bpe_tokenize join-back shape."""
    vset = set(vocab)
    max_chars = max(
        (len(p) - 2 if p.startswith("##") else len(p)) for p in vset
    ) if vset else 1
    bvocab = df.sparkSession.sparkContext.broadcast(vset)

    def _enc_words(batches):
        vs = bvocab.value
        for pdf in batches:
            ns, us = [], []
            for w in pdf["w"]:
                pos, n, unk = 0, 0, False
                while pos < len(w):
                    best = None
                    for ln in range(min(max_chars, len(w) - pos), 0, -1):
                        piece = w[pos : pos + ln]
                        if pos > 0:
                            piece = "##" + piece
                        if piece in vs:
                            best = ln
                            break
                    if best is None:
                        n, unk = 1, True
                        break
                    pos += best
                    n += 1
                ns.append(n)
                us.append(unk)
            yield pd.DataFrame(
                {"w": pdf["w"], "_n": ns,
                 "_u": pd.Series(us, dtype="bool")}
            )

    words = df.select(
        F.col(id_col),
        F.explode(
            F.split(
                F.regexp_replace(
                    F.col(text_col),
                    r"^[ \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+$",
                    "",
                ),
                r"[ \t\n\x0B\f\r]+",
            )
        ).alias("w"),
    ).filter(F.length("w") >= 1)
    wtok = words.select("w").distinct().mapInPandas(
        _enc_words, "w string, _n bigint, _u boolean"
    )
    agg = (
        words.join(wtok, "w")
        .groupBy(id_col)
        .agg(
            F.sum("_n").cast("bigint").alias("n_tokens"),
            F.sum(F.col("_u").cast("bigint")).cast("bigint")
            .alias("n_unk_words"),
        )
    )
    return df.select(id_col, F.col(text_col).alias("_t")).join(
        agg, id_col, "left"
    ).select(
        F.col(id_col),
        F.coalesce("n_tokens", F.lit(0)).cast("bigint").alias("n_tokens"),
        F.coalesce("n_unk_words", F.lit(0)).cast("bigint")
        .alias("n_unk_words"),
        F.length("_t").cast("bigint").alias("n_chars"),
    )


_WP_WORDS_CTE = """
    w0 AS (
      SELECT unnest(string_split_regex(regexp_replace(text, '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), '[ \\t\\n\\x0B\\f\\r]+')) AS w
      FROM {table}{pred}
    ), wf AS (
      SELECT w, CAST(count(*) AS BIGINT) AS freq
      FROM w0 WHERE length(w) >= 1 GROUP BY w
    ), s0 AS (
      SELECT w,
             CASE WHEN length(w) = 1 THEN w
                  ELSE w[1:1] || chr(9) ||
                       array_to_string(['##' || w[i:i]
                                        for i in range(2, length(w) + 1)],
                                       chr(9))
             END AS ts,
             freq
      FROM wf
    )"""

# One WordPiece round: pair counts AND per-symbol counts over the
# tab-joined state, the exact integer likelihood key
# (pair·10^18) // (cnt_a·cnt_b) in HUGEINT, a 1-row argmax, then the
# same greedy left-to-right fold as BPE except the merged token drops
# the second component's '##' prefix. Empty rounds carry the state
# forward (the trainer's break).
_WP_ROUND_CTE = """
    , p{r} AS MATERIALIZED (
      SELECT pr.a AS a, pr.b AS b, CAST(sum(freq) AS BIGINT) AS pair_count
      FROM (
        SELECT unnest([{{'a': tk[i], 'b': tk[i+1]}}
                       for i in range(1, len(tk))]) AS pr,
               freq
        FROM (SELECT string_split(ts, chr(9)) AS tk, freq FROM s{prev}) q
        WHERE len(tk) >= 2
      ) GROUP BY pr.a, pr.b
    ), y{r} AS MATERIALIZED (
      SELECT sym, CAST(sum(freq) AS BIGINT) AS cnt
      FROM (SELECT unnest(string_split(ts, chr(9))) AS sym, freq
            FROM s{prev})
      GROUP BY sym
    ), m{r} AS MATERIALIZED (
      SELECT a, b, pair_count,
             CAST(CAST(pair_count AS HUGEINT)
                  * CAST('1000000000000000000' AS HUGEINT)
                  // (CAST(ca.cnt AS HUGEINT) * CAST(cb.cnt AS HUGEINT))
                  AS BIGINT) AS score_q
      FROM p{r}
      JOIN y{r} ca ON ca.sym = p{r}.a
      JOIN y{r} cb ON cb.sym = p{r}.b
      ORDER BY score_q DESC, a, b LIMIT 1
    ), s{r} AS MATERIALIZED (
      SELECT s.w,
             list_reduce(
               string_split(s.ts, chr(9)),
               (acc, x) -> CASE
                 WHEN (acc = m.a OR suffix(acc, chr(9) || m.a)) AND x = m.b
                 THEN acc || substr(x, 3)
                 ELSE acc || chr(9) || x END) AS ts,
             s.freq
      FROM s{prev} s CROSS JOIN m{r} m
      UNION ALL
      SELECT s.w, s.ts, s.freq FROM s{prev} s
      WHERE NOT EXISTS (SELECT 1 FROM m{r})
    )"""


def wordpiece_merges_oracle_sql(
    n_merges: int, table: str = "documents", doc_pred: str | None = None
) -> str:
    """DuckDB twin of :func:`wordpiece_learn_merges`: the likelihood-
    scored merge loop unrolled as a CTE chain (the bpe_merges move,
    plus a per-round symbol-count aggregation and the HUGEINT-exact
    score key)."""
    pred = f" WHERE {doc_pred}" if doc_pred else ""
    parts = ["WITH " + _WP_WORDS_CTE.format(table=table, pred=pred)]
    for r in range(1, n_merges + 1):
        parts.append(_WP_ROUND_CTE.format(r=r, prev=r - 1))
    unions = "\n      UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS merge_rank, a, b, pair_count, "
        f"score_q FROM m{r}"
        for r in range(1, n_merges + 1)
    )
    return "".join(parts) + "\n    " + unions


def wordpiece_encode_oracle_sql(
    n_merges: int,
    table: str = "documents",
    doc_pred: str | None = None,
    enc_sql: str | None = None,
) -> str:
    """DuckDB twin of the train→encode chain
    (:func:`wordpiece_learn_merges` + :func:`wordpiece_vocab` +
    :func:`wordpiece_tokenize`): replays the training rounds, builds
    the induced vocabulary (initial alphabet ∪ merged symbols), then
    runs the greedy longest-match itself as a single-successor
    recursive CTE — per (word, cursor) one row, advancing by the
    longest matching piece (list_max over an existence-map
    comprehension) or collapsing the word to one unknown token. The
    ENCODING ALGORITHM, not just its counts, is inside the oracle.
    ``enc_sql`` (a ``(doc_id, text)`` subquery) decouples the ENCODED
    relation from the training one — out-of-alphabet text exercises
    the unknown-word branch; default: encode the training relation."""
    pred = f" WHERE {doc_pred}" if doc_pred else ""
    parts = ["WITH RECURSIVE "
             + _WP_WORDS_CTE.format(table=table, pred=pred).lstrip()]
    for r in range(1, n_merges + 1):
        parts.append(_WP_ROUND_CTE.format(r=r, prev=r - 1))
    merged_unions = "\n      UNION ALL ".join(
        f"SELECT a || substr(b, 3) AS sym FROM m{r}"
        for r in range(1, n_merges + 1)
    )
    piece = ("CASE WHEN e.pos = 0 THEN e.w[1 : l] "
             "ELSE '##' || e.w[e.pos + 1 : e.pos + l] END")
    enc_sql = enc_sql or f"SELECT doc_id, text FROM {table}{pred}"
    tail = f"""
    , encd AS ({enc_sql}
    ), vs AS (
      SELECT DISTINCT sym FROM (
        SELECT unnest(string_split(ts, chr(9))) AS sym FROM s0
        UNION ALL {merged_unions}
      )
    ), vm AS (
      SELECT map(list(sym ORDER BY sym),
                 list(1 ORDER BY sym)) AS mp
      FROM vs
    ), docw AS (
      SELECT doc_id,
             unnest(string_split_regex(regexp_replace(text, '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), '[ \\t\\n\\x0B\\f\\r]+')) AS w
      FROM encd
    ), dw AS (
      SELECT DISTINCT w FROM docw WHERE length(w) >= 1
    ), enc AS (
      SELECT w, 0 AS pos, CAST(0 AS BIGINT) AS n, FALSE AS unk FROM dw
      UNION ALL
      SELECT w,
             CASE WHEN best IS NULL THEN length(w) ELSE pos + best END,
             CASE WHEN best IS NULL THEN CAST(1 AS BIGINT) ELSE n + 1 END,
             best IS NULL
      FROM (
        SELECT e.w, e.pos, e.n,
               list_max([l for l in range(1, length(e.w) - e.pos + 1)
                         if mp[{piece}][1] IS NOT NULL]) AS best
        FROM enc e CROSS JOIN vm
        WHERE e.pos < length(e.w) AND NOT e.unk
      )
    ), wtok AS (
      SELECT w, n AS n_tok, CAST(unk AS BIGINT) AS n_unk
      FROM enc WHERE pos = length(w)
    ), agg AS (
      SELECT dw.doc_id,
             CAST(sum(v.n_tok) AS BIGINT) AS n_tokens,
             CAST(sum(v.n_unk) AS BIGINT) AS n_unk_words
      FROM (SELECT doc_id, w FROM docw WHERE length(w) >= 1) dw
      JOIN wtok v USING (w)
      GROUP BY dw.doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(coalesce(a.n_unk_words, 0) AS BIGINT) AS n_unk_words,
           CAST(length(d.text) AS BIGINT) AS n_chars
    FROM encd d LEFT JOIN agg a USING (doc_id)
    """
    return "".join(parts) + tail


# ---------------------------------------------------------------------------
# Unigram (SentencePiece-style) tokenizer — seed vocab + Viterbi segmentation
# ---------------------------------------------------------------------------


def unigram_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_piece_len: int = 4,
    top_p: int = 2000,
    word_freq: DataFrame | None = None,
) -> DataFrame:
    """Seed piece vocabulary + integer log-scores for a unigram
    (SentencePiece-family, Kudo 2018) tokenizer: every substring of
    length 1..``max_piece_len`` of the frequency-weighted DISTINCT-word
    vocabulary, counted with multiplicity; keep the ``top_p`` pieces by
    (count DESC, piece ASC) plus ALL single characters (so every word
    stays segmentable). ``score_micro = round(ln(cnt/total)·1e6)`` —
    the engine's integer-logprob convention (one documented ln() ulp,
    the ccnet/lm_score pairing), exact to hash across engines.

    Scale shape (100 TB): the substring explode runs over DISTINCT
    words (O(vocab · L²), not O(corpus)), both aggregations map-side
    combine, and the model is the ``top_p``-bounded score table — the
    collect is parameter-bounded by construction. ``word_freq``: a
    precomputed :func:`word_freq_table` ``(w, freq)`` — pass it when
    several trainers share one corpus so the base scan runs once."""
    wf = word_freq_table(df, text_col) if word_freq is None else word_freq
    pieces = wf.select(
        "freq",
        F.explode(
            F.expr(
                "flatten(transform(sequence(1, length(w)), i -> "
                f"transform(sequence(1, least({max_piece_len}, "
                "length(w) - i + 1)), l -> substring(w, i, l))))"
            )
        ).alias("piece"),
    )
    pc = pieces.groupBy("piece").agg(F.sum("freq").cast("bigint").alias("cnt"))
    top = pc.orderBy(F.desc("cnt"), F.asc("piece")).limit(top_p)
    singles = pc.filter(F.length("piece") == 1)
    vocab = top.unionByName(singles).distinct()
    total = vocab.agg(F.sum("cnt").cast("bigint").alias("t"))
    return vocab.join(F.broadcast(total)).select(
        "piece",
        F.round(F.log(F.col("cnt").cast("double") / F.col("t")) * 1e6)
        .cast("bigint")
        .alias("score_micro"),
    )


def _viterbi_table(
    w: str,
    scores: dict[str, int],
    max_piece_len: int,
    unk_single: int | None = None,
) -> list[tuple[int, int, int]]:
    """Viterbi DP table for one word: best[i] = (score_micro, n_pieces,
    chosen_piece_len), maximizing (score, -n_pieces, -piece_len) —
    the third key only disambiguates WHICH piece is recorded when two
    decompositions tie on both score and piece count (it never changes
    the (score, n_pieces) optimum). A score table produced by
    :func:`unigram_scores` on the SAME corpus always covers every
    single character, so every position has a candidate; a table
    trained elsewhere may not — that is a caller error (the word is
    unsegmentable under the model), surfaced as a ValueError naming
    the word rather than an opaque ``max()`` crash inside the Arrow
    worker. ``unk_single`` (dictionary-resplit mode) instead assigns
    that fixed score to any UNSCORED single character, so every string
    stays segmentable under an open alphabet."""
    best: list[tuple[int, int, int]] = [(0, 0, 0)]
    for i in range(1, len(w) + 1):
        cands = []
        for ln in range(1, min(max_piece_len, i) + 1):
            s = scores.get(w[i - ln : i])
            if s is None and ln == 1:
                s = unk_single
            if s is not None:
                ps, pn, _ = best[i - ln]
                cands.append((ps + s, -(pn + 1), -ln))
        if not cands:
            raise ValueError(
                f"unsegmentable word {w!r}: no scored piece ends at "
                f"position {i} (character {w[i - 1]!r} is missing from "
                "the score table — train scores on a corpus covering "
                "every single character of the text being segmented)"
            )
        b = max(cands)
        best.append((b[0], -b[1], -b[2]))
    return best


def _viterbi_split(
    w: str,
    scores: dict[str, int],
    max_piece_len: int,
    unk_single: int | None = None,
) -> list[str]:
    """Backtrace the :func:`_viterbi_table` DP into the actual piece
    list, left to right — the split itself (wordninja-style dictionary
    resplit), not just its counts."""
    best = _viterbi_table(w, scores, max_piece_len, unk_single)
    out: list[str] = []
    pos = len(w)
    while pos > 0:
        ln = best[pos][2]
        out.append(w[pos - ln : pos])
        pos -= ln
    out.reverse()
    return out


def word_scores(
    df: DataFrame,
    text_col: str = "text",
    top_p: int = 50000,
    max_word_len: int = 12,
) -> DataFrame:
    """WHOLE-WORD frequency dictionary with integer log-scores — the
    model table for wordninja-style dictionary resplit (the unigram
    seed-vocab shape, but over words instead of substrings): whitespace
    tokenize, keep words of length 1..``max_word_len`` (longer words
    can never be matched by a DP bounded at ``max_word_len``, so they
    are excluded BEFORE the total — documented), take the ``top_p`` by
    (freq DESC, word ASC), score ``round(ln(freq/total)·1e6)`` over the
    kept set. Both aggregations map-side combine; the result is the
    parameter-bounded model artifact (≤ top_p rows), collected and
    broadcast by callers exactly like the unigram score table."""
    words = df.select(
        F.explode(
            F.split(
                F.regexp_replace(
                    F.col(text_col),
                    r"^[ \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+$",
                    "",
                ),
                r"[ \t\n\x0B\f\r]+",
            )
        ).alias("w")
    ).filter((F.length("w") >= 1) & (F.length("w") <= max_word_len))
    wf = (
        words.groupBy("w")
        .agg(F.count("*").cast("bigint").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("w"))
        .limit(top_p)
    )
    total = wf.agg(F.sum("freq").cast("bigint").alias("t"))
    return wf.join(F.broadcast(total)).select(
        F.col("w").alias("word"),
        F.round(F.log(F.col("freq").cast("double") / F.col("t")) * 1e6)
        .cast("bigint")
        .alias("score_micro"),
    )


def unigram_segment(
    df: DataFrame,
    scores: dict[str, int],
    id_col: str = "doc_id",
    text_col: str = "text",
    max_piece_len: int = 4,
) -> DataFrame:
    """Viterbi-best segmentation of every document under a FIXED
    integer piece-score table (the inference half of a unigram
    tokenizer): per word, best[i] maximizes (Σ score_micro, then fewer
    pieces) over all piece decompositions — both tie levels
    deterministic, so the result is hash-grade. Output per document:
    ``(id, n_pieces, score_micro_sum)``.

    Scale shape: the DP kernel runs ONCE PER DISTINCT WORD (one Arrow
    pass over the word vocabulary), then per-document totals are a
    word-level equi-join + map-side-combined aggregation — the
    bpe_tokenize shape, never a per-token corpus explode. The score
    table ships via ``sparkContext.broadcast`` — torrent-distributed
    once per executor, not re-pickled into every task — so raising
    ``top_p`` costs one copy per executor (a top_p=10⁶ table of short
    pieces is ~100 MB: fine for 4 GB executors, but budget it like any
    broadcast model artifact)."""
    bscores = df.sparkSession.sparkContext.broadcast(dict(scores))

    def _seg_words(batches):
        sc = bscores.value
        for pdf in batches:
            # max() over (score, -n, -len) tuples == the oracle's
            # struct-lexicographic list_max — identical tie semantics
            segged = [
                _viterbi_table(w, sc, max_piece_len)[-1] for w in pdf["w"]
            ]
            yield pd.DataFrame(
                {
                    "w": pdf["w"],
                    "_np": [s[1] for s in segged],
                    "_sc": [s[0] for s in segged],
                }
            )

    words = df.select(
        F.col(id_col),
        F.explode(
            F.split(
                F.regexp_replace(
                    F.col(text_col),
                    r"^[ \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+$",
                    "",
                ),
                r"[ \t\n\x0B\f\r]+",
            )
        ).alias("w"),
    ).filter(F.length("w") >= 1)
    wf = words.select("w").distinct()
    wtok = wf.mapInPandas(_seg_words, "w string, _np bigint, _sc bigint")
    agg = (
        words.join(wtok, "w")
        .groupBy(id_col)
        .agg(
            F.sum("_np").cast("bigint").alias("n_pieces"),
            F.sum("_sc").cast("bigint").alias("score_micro_sum"),
        )
    )
    return df.select(id_col).join(agg, id_col, "left").select(
        F.col(id_col),
        F.coalesce("n_pieces", F.lit(0)).cast("bigint").alias("n_pieces"),
        F.coalesce("score_micro_sum", F.lit(0))
        .cast("bigint")
        .alias("score_micro_sum"),
    )


def _unigram_vocab_ctes(
    max_piece_len: int,
    top_p: int,
    table: str,
    pred: str,
    recursive: bool = False,
) -> str:
    """Shared CTE chain (words → piece counts → top-P ∪ singles vocab →
    integer log scores) used by the unigram oracle generators;
    ``recursive`` emits WITH RECURSIVE for chains that append a
    recursive CTE (the EM backtrace)."""
    L = max_piece_len
    rec = "RECURSIVE " if recursive else ""
    return f"""
    WITH {rec}w0 AS (
      SELECT unnest(string_split_regex(regexp_replace(text, '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), '[ \\t\\n\\x0B\\f\\r]+')) AS w
      FROM {table}{pred}
    ), wf AS (
      SELECT w, CAST(count(*) AS BIGINT) AS freq
      FROM w0 WHERE length(w) >= 1 GROUP BY w
    ), pc AS (
      SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt
      FROM (
        SELECT unnest(flatten([[w[i:i+l-1]
                                for l in range(1, least({L}, length(w)-i+1)+1)]
                               for i in range(1, length(w)+1)])) AS piece,
               freq
        FROM wf
      ) GROUP BY piece
    ), vocab AS (
      SELECT DISTINCT piece, cnt FROM (
        SELECT piece, cnt FROM
          (SELECT piece, cnt FROM pc ORDER BY cnt DESC, piece LIMIT {top_p})
        UNION ALL
        SELECT piece, cnt FROM pc WHERE length(piece) = 1
      )
    ), tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM vocab
    ), sc AS (
      SELECT piece,
             CAST(round(ln(CAST(cnt AS DOUBLE) / t) * 1000000) AS BIGINT)
               AS score_micro
      FROM vocab, tot
    )"""


def unigram_scores_oracle_sql(
    max_piece_len: int = 4,
    top_p: int = 2000,
    table: str = "documents",
    doc_pred: str | None = None,
) -> str:
    """DuckDB twin of :func:`unigram_scores` alone (the trained model
    table — seed vocab + integer log-scores)."""
    pred = f" WHERE {doc_pred}" if doc_pred else ""
    head = _unigram_vocab_ctes(max_piece_len, top_p, table, pred)
    return head + "\n    SELECT piece, score_micro FROM sc"


def unigram_em_round(
    df: DataFrame,
    scores: dict[str, int],
    id_col: str = "doc_id",
    text_col: str = "text",
    max_piece_len: int = 4,
    word_freq: DataFrame | None = None,
) -> DataFrame:
    """One hard-EM (Viterbi-EM) refinement round of the unigram
    tokenizer (the SentencePiece training loop's E+M step): segment the
    frequency-weighted DISTINCT-word vocabulary under the current
    ``scores`` (E), recount each piece's usage across the best
    segmentations weighted by word frequency, and re-score
    ``round(ln(cnt/total)·1e6)`` over the pieces that were actually
    used (M — unused pieces drop out, the pruning half of the loop).
    Output ``(piece, cnt, score_micro)`` — feed back in as ``scores``
    to iterate.

    Scale shape: the Viterbi+backtrace kernel runs once per DISTINCT
    word (one Arrow pass; the score table rides a
    ``sparkContext.broadcast`` — one copy per executor, see
    :func:`unigram_segment` for the top_p → memory envelope); the
    piece recount is one explode + map-side-combined groupBy over
    O(vocab · pieces-per-word) rows, never the corpus. ``word_freq``:
    a precomputed :func:`word_freq_table` ``(w, freq)`` — pass it when
    several trainers (or training rounds) share one corpus so the base
    scan runs once."""
    bscores = df.sparkSession.sparkContext.broadcast(dict(scores))

    def _piece_words(batches):
        sc = bscores.value
        for pdf in batches:
            ws, ps, fs = [], [], []
            for w, f in zip(pdf["w"], pdf["freq"]):
                best = _viterbi_table(w, sc, max_piece_len)
                pos = len(w)
                while pos > 0:
                    ln = best[pos][2]
                    ws.append(w)
                    ps.append(w[pos - ln : pos])
                    fs.append(f)
                    pos -= ln
            yield pd.DataFrame(
                {
                    "w": pd.Series(ws, dtype="object"),
                    "piece": pd.Series(ps, dtype="object"),
                    "freq": pd.Series(fs, dtype="int64"),
                }
            )

    wf = word_freq_table(df, text_col) if word_freq is None else word_freq
    used = wf.select("w", "freq").mapInPandas(
        _piece_words, "w string, piece string, freq bigint"
    )
    # two consumers below (the counts and their 1-row total) — without a
    # stage boundary the segment kernel would appear twice in the plan
    cnt = (
        used.groupBy("piece")
        .agg(F.sum("freq").cast("bigint").alias("cnt"))
        .transform(stage_checkpoint, label="unigram_em:cnt")
    )
    total = cnt.agg(F.sum("cnt").cast("bigint").alias("t"))
    return cnt.join(F.broadcast(total)).select(
        "piece",
        "cnt",
        F.round(F.log(F.col("cnt").cast("double") / F.col("t")) * 1e6)
        .cast("bigint")
        .alias("score_micro"),
    )


def unigram_em_round_oracle_sql(
    max_piece_len: int = 4,
    top_p: int = 2000,
    table: str = "documents",
    doc_pred: str | None = None,
) -> str:
    """DuckDB twin of :func:`unigram_scores` → :func:`unigram_em_round`:
    replays the seed-vocab chain, runs the SAME Viterbi fold but with
    three-field '|'-packed DP entries (score|n_pieces|piece_len — the
    struct max gains an 'ml' = -len field, disambiguating WHICH piece
    is recorded on full ties), then walks the backtrace as a
    single-successor recursive CTE: each (word, pos) row emits its
    chosen piece and steps pos -= len, so the recursion is exactly one
    path per word and terminates at pos = 0. Piece recount + re-score
    mirror the M step."""
    pred = f" WHERE {doc_pred}" if doc_pred else ""
    L = max_piece_len
    cand = (
        "[{'s': CAST(string_split(string_split(acc, ',')"
        "[CAST(x AS INTEGER) - l + 1], '|')[1] AS BIGINT)"
        " + mp[w[CAST(x AS INTEGER) - l + 1 : CAST(x AS INTEGER)]][1],"
        " 'mn': -(CAST(string_split(string_split(acc, ',')"
        "[CAST(x AS INTEGER) - l + 1], '|')[2] AS BIGINT) + 1),"
        " 'ml': -l}"
        f" for l in range(1, least({L}, CAST(x AS INTEGER)) + 1)"
        " if mp[w[CAST(x AS INTEGER) - l + 1 : CAST(x AS INTEGER)]][1]"
        " IS NOT NULL]"
    )
    head = _unigram_vocab_ctes(max_piece_len, top_p, table, pred,
                               recursive=True)
    return head + f""", m AS (
      SELECT map(list(piece ORDER BY piece),
                 list(score_micro ORDER BY piece)) AS mp
      FROM sc
    ), dptab AS (
      SELECT w, freq,
        list_reduce(
          list_prepend('0|0|0',
                       [CAST(i AS VARCHAR)
                        for i in range(1, length(w)+1)]),
          (acc, x) -> acc || ',' ||
            CAST(list_max({cand}).s AS VARCHAR) || '|' ||
            CAST(-list_max({cand}).mn AS VARCHAR) || '|' ||
            CAST(-list_max({cand}).ml AS VARCHAR)
        ) AS dp
      FROM wf CROSS JOIN m
    ), bt AS (
      SELECT w, freq, dp, length(w) AS pos FROM dptab
      UNION ALL
      SELECT w, freq, dp,
             pos - CAST(string_split(string_split(dp, ',')[pos + 1],
                                     '|')[3] AS INTEGER)
      FROM bt WHERE pos > 0
    ), used AS (
      SELECT w[pos - l + 1 : pos] AS piece, freq
      FROM (
        SELECT w, freq, pos,
               CAST(string_split(string_split(dp, ',')[pos + 1],
                                 '|')[3] AS INTEGER) AS l
        FROM bt WHERE pos > 0
      )
    ), cnt2 AS (
      SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt
      FROM used GROUP BY piece
    ), tot2 AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM cnt2)
    SELECT piece, cnt,
           CAST(round(ln(CAST(cnt AS DOUBLE) / t) * 1000000) AS BIGINT)
             AS score_micro
    FROM cnt2, tot2
    """


def unigram_train(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_rounds: int = 2,
    max_piece_len: int = 4,
    top_p: int = 2000,
    prune_to: int = 500,
    word_freq: DataFrame | None = None,
) -> DataFrame:
    """The COMPLETE unigram/SentencePiece training loop: seed vocab
    (:func:`unigram_scores`) → ``n_rounds`` × (hard-EM refinement
    :func:`unigram_em_round` → prune → re-score). Returns the final
    model table ``(piece, cnt, score_micro)``.

    Prune step per round, all deterministic: keep the ``prune_to``
    multi-character pieces by (cnt DESC, piece ASC), keep every used
    single character, and re-admit any corpus-alphabet character the
    round's best segmentations never used at the count floor 1 —
    SentencePiece's unprunable seed alphabet, which guarantees every
    word stays segmentable in the next round (so the
    :func:`_viterbi_table` coverage guard can never fire) and keeps
    ``ln(cnt/total)`` finite. Scores are re-normalized over the kept
    set each round.

    Scale shape: the bpe_learn_merges driver-loop shape — per round
    the corpus-side work is one EM pass (Viterbi once per DISTINCT
    word, checkpointed), and the only driver pulls are the model
    itself (≤ prune_to + |alphabet| + used-singles rows, parameter-
    bounded) between rounds. The returned DataFrame is the final
    round's plan; nothing unbounded ever reaches the driver."""
    if n_rounds < 1:
        raise ValueError(f"n_rounds must be >= 1: {n_rounds}")
    spark = df.sparkSession
    # the base table feeds the seed scores, the alphabet, and every EM
    # round — checkpoint once when deriving it here (2 + n_rounds
    # consumers), or accept the caller's shared copy
    wf = (
        stage_checkpoint(
            word_freq_table(df, text_col), label="unigram_train:word_freq"
        )
        if word_freq is None
        else word_freq
    )
    scores = {
        r["piece"]: r["score_micro"]
        for r in unigram_scores(
            df, id_col, text_col, max_piece_len, top_p, word_freq=wf
        ).collect()
    }
    alpha = stage_checkpoint(
        wf.select(F.explode(F.split("w", "")).alias("piece")).distinct(),
        label="unigram_train:alphabet",
    )
    model = None
    for r in range(n_rounds):
        em = unigram_em_round(
            df, scores, id_col, text_col, max_piece_len, word_freq=wf
        )
        model = unigram_prune_rescore(em, alpha, prune_to)
        if r < n_rounds - 1:
            scores = {
                row["piece"]: row["score_micro"] for row in model.collect()
            }
    return model


def tokenizer_sweep_totals(
    wf: DataFrame,
    bpe_merges: list[tuple[str, str]],
    wp_vocabs: dict[int, list[str]],
    uni_scores: dict[int, dict[str, int]],
    budgets: tuple[int, ...],
    max_piece_len: int = 4,
    bpe_bytes_merges: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """Corpus-side half of the tokenizer vocab-size sweep, fused: total
    token counts for every (family, budget) cell in ONE Arrow pass over
    the distinct-word table. ``Σ_w freq(w)·tokens_b(w)`` equals the
    per-document sum exactly (integer arithmetic, same word split), so
    the per-doc join-back the single-cell encoders do is pure overhead
    here — nine encode passes + nine doc joins collapse into one
    vocab-scale pass emitting per-batch PARTIAL sums (map-side combine
    by construction; the shuffle carries |budgets|·3 rows per batch).

    ``bpe_merges``: the full ranked merge list at the LARGEST budget —
    smaller budgets are prefixes (the greedy trainer is deterministic),
    so the kernel snapshots counts as it applies merges in rank order.
    ``wp_vocabs`` / ``uni_scores``: per-budget vocab sets / score
    tables (WordPiece matching and Viterbi DP have no prefix structure
    across budgets, but both are per-word window-bounded — the pass is
    still one). ``bpe_bytes_merges``: the byte-level family's ranked
    merge list at the largest budget (same prefix structure as char
    BPE) — when given, ('bpe_bytes', b) cells join the same fused
    pass. Output ``(tokenizer, budget, total_tokens)``."""
    blist = sorted(budgets)
    bset = set(blist)
    merges = list(bpe_merges)
    merges_bytes = list(bpe_bytes_merges) if bpe_bytes_merges else None
    vsets = {b: set(v) for b, v in wp_vocabs.items()}
    wmax = {
        b: max(
            ((len(p) - 2 if p.startswith("##") else len(p)) for p in vs),
            default=1,
        )
        for b, vs in vsets.items()
    }
    sc_tables = {b: dict(s) for b, s in uni_scores.items()}
    L = max_piece_len
    bc = wf.sparkSession.sparkContext.broadcast(
        (merges, vsets, wmax, sc_tables, merges_bytes)
    )

    def _totals(batches):
        mg, vs_all, wm_all, sc_all, mg_bytes = bc.value
        for pdf in batches:
            acc: dict[tuple[str, int], int] = {}
            for w, f in zip(pdf["w"], pdf["freq"]):
                f = int(f)
                seq = list(w)
                for rank, (a, b) in enumerate(mg, 1):
                    res, i, n = [], 0, len(seq)
                    while i < n:
                        if i + 1 < n and seq[i] == a and seq[i + 1] == b:
                            res.append(a + b)
                            i += 2
                        else:
                            res.append(seq[i])
                            i += 1
                    seq = res
                    if rank in bset:
                        k = ("bpe", rank)
                        acc[k] = acc.get(k, 0) + f * len(seq)
                # a corpus admitting fewer merges than a budget carries
                # the final state forward (the trainer's break / the
                # oracle's empty-round pass-through)
                for b in blist:
                    if b > len(mg):
                        k = ("bpe", b)
                        acc[k] = acc.get(k, 0) + f * len(seq)
                if mg_bytes is not None:
                    seq = ["%02X" % byt for byt in w.encode("utf-8")]
                    for rank, (a, b) in enumerate(mg_bytes, 1):
                        res, i, n = [], 0, len(seq)
                        while i < n:
                            if i + 1 < n and seq[i] == a and seq[i + 1] == b:
                                res.append(a + b)
                                i += 2
                            else:
                                res.append(seq[i])
                                i += 1
                        seq = res
                        if rank in bset:
                            k = ("bpe_bytes", rank)
                            acc[k] = acc.get(k, 0) + f * len(seq)
                    for b in blist:
                        if b > len(mg_bytes):
                            k = ("bpe_bytes", b)
                            acc[k] = acc.get(k, 0) + f * len(seq)
                for b in blist:
                    vs, mc = vs_all[b], wm_all[b]
                    pos, n = 0, 0
                    while pos < len(w):
                        best = None
                        for ln in range(min(mc, len(w) - pos), 0, -1):
                            piece = w[pos : pos + ln]
                            if pos > 0:
                                piece = "##" + piece
                            if piece in vs:
                                best = ln
                                break
                        if best is None:
                            n = 1
                            break
                        pos += best
                        n += 1
                    k = ("wordpiece", b)
                    acc[k] = acc.get(k, 0) + f * n
                for b in blist:
                    tab = _viterbi_table(w, sc_all[b], L)
                    k = ("unigram", b)
                    acc[k] = acc.get(k, 0) + f * tab[-1][1]
            yield pd.DataFrame(
                {
                    "tokenizer": [k[0] for k in acc],
                    "budget": [k[1] for k in acc],
                    "_part": [acc[k] for k in acc],
                }
            )

    parts = wf.select("w", "freq").mapInPandas(
        _totals, "tokenizer string, budget bigint, _part bigint"
    )
    return parts.groupBy("tokenizer", "budget").agg(
        F.sum("_part").cast("bigint").alias("total_tokens")
    )


def unigram_prune_rescore(
    em: DataFrame, alpha: DataFrame, prune_to: int
) -> DataFrame:
    """The prune + alphabet-floor + re-score tail of one
    :func:`unigram_train` round, as a standalone step: keep the
    ``prune_to`` multi-character pieces by (cnt DESC, piece ASC), keep
    every used single character, re-admit unused alphabet characters at
    the count floor 1, and re-normalize scores over the kept set.
    ``em`` is an ``(piece, cnt, ...)`` table (an
    :func:`unigram_em_round` output); ``alpha`` the single-character
    alphabet relation ``(piece)``. Exposed separately so a vocab-size
    SWEEP can run the (budget-independent) EM pass ONCE and apply each
    prune width to the same counts — the prune is the only part of the
    round that depends on the budget."""
    multi = (
        em.filter(F.length("piece") >= 2)
        .orderBy(F.desc("cnt"), F.asc("piece"))
        .limit(prune_to)
        .select("piece", "cnt")
    )
    sing = em.filter(F.length("piece") == 1).select("piece", "cnt")
    floor = alpha.join(sing, "piece", "left_anti").select(
        "piece", F.lit(1).cast("bigint").alias("cnt")
    )
    kept = multi.unionByName(sing).unionByName(floor)
    total = kept.agg(F.sum("cnt").cast("bigint").alias("t"))
    return kept.join(F.broadcast(total)).select(
        "piece",
        "cnt",
        F.round(F.log(F.col("cnt").cast("double") / F.col("t")) * 1e6)
        .cast("bigint")
        .alias("score_micro"),
    )


def _unigram_train_chain(
    n_rounds: int,
    max_piece_len: int,
    top_p: int,
    prune_to: int,
    table: str,
    pred: str,
) -> str:
    """The unrolled-training WITH RECURSIVE body through the final
    score CTE ``sc{n_rounds}`` (no trailing SELECT) — shared by
    :func:`unigram_train_oracle_sql` (reads the model) and
    :func:`unigram_train_segment_oracle_sql` (appends a segmentation
    pass under the trained model)."""
    L = max_piece_len
    prev_dp = (
        "string_split(string_split(acc, ',')"
        "[CAST(x AS INTEGER) - l + 1], '|')"
    )
    piece = "w[CAST(x AS INTEGER) - l + 1 : CAST(x AS INTEGER)]"
    head = _unigram_vocab_ctes(max_piece_len, top_p, table, pred,
                               recursive=True)
    parts = [head, """, alpha AS (
      SELECT piece FROM pc WHERE length(piece) = 1
    )"""]
    for r in range(1, n_rounds + 1):
        prev_sc = "sc" if r == 1 else f"sc{r - 1}"
        cand = (
            f"[{{'s': CAST({prev_dp}[1] AS BIGINT) + mp[{piece}][1],"
            f" 'mn': -(CAST({prev_dp}[2] AS BIGINT) + 1),"
            " 'ml': -l}"
            f" for l in range(1, least({L}, CAST(x AS INTEGER)) + 1)"
            f" if mp[{piece}][1] IS NOT NULL]"
        )
        parts.append(f""", m{r} AS MATERIALIZED (
      SELECT map(list(piece ORDER BY piece),
                 list(score_micro ORDER BY piece)) AS mp
      FROM {prev_sc}
    ), dptab{r} AS MATERIALIZED (
      SELECT w, freq,
        list_reduce(
          list_prepend('0|0|0',
                       [CAST(i AS VARCHAR)
                        for i in range(1, length(w)+1)]),
          (acc, x) -> acc || ',' ||
            CAST(list_max({cand}).s AS VARCHAR) || '|' ||
            CAST(-list_max({cand}).mn AS VARCHAR) || '|' ||
            CAST(-list_max({cand}).ml AS VARCHAR)
        ) AS dp
      FROM wf CROSS JOIN m{r}
    ), bt{r} AS (
      SELECT w, freq, dp, length(w) AS pos FROM dptab{r}
      UNION ALL
      SELECT w, freq, dp,
             pos - CAST(string_split(string_split(dp, ',')[pos + 1],
                                     '|')[3] AS INTEGER)
      FROM bt{r} WHERE pos > 0
    ), cnt{r} AS MATERIALIZED (
      SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt
      FROM (
        SELECT w[pos - l + 1 : pos] AS piece, freq
        FROM (
          SELECT w, freq, pos,
                 CAST(string_split(string_split(dp, ',')[pos + 1],
                                   '|')[3] AS INTEGER) AS l
          FROM bt{r} WHERE pos > 0
        )
      ) GROUP BY piece
    ), kept{r} AS MATERIALIZED (
      SELECT piece, cnt FROM (
        SELECT piece, cnt FROM cnt{r} WHERE length(piece) >= 2
        ORDER BY cnt DESC, piece LIMIT {prune_to}
      )
      UNION ALL
      SELECT piece, cnt FROM cnt{r} WHERE length(piece) = 1
      UNION ALL
      SELECT a.piece, CAST(1 AS BIGINT) AS cnt
      FROM alpha a
      WHERE NOT EXISTS (SELECT 1 FROM cnt{r} c
                        WHERE c.piece = a.piece AND length(c.piece) = 1)
    ), tot{r} AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM kept{r}
    ), sc{r} AS MATERIALIZED (
      SELECT piece, cnt,
             CAST(round(ln(CAST(cnt AS DOUBLE) / t) * 1000000) AS BIGINT)
               AS score_micro
      FROM kept{r}, tot{r}
    )""")
    return "".join(parts)


def unigram_train_oracle_sql(
    n_rounds: int = 2,
    max_piece_len: int = 4,
    top_p: int = 2000,
    prune_to: int = 500,
    table: str = "documents",
    doc_pred: str | None = None,
) -> str:
    """DuckDB twin of :func:`unigram_train`: the training loop UNROLLED
    (the bpe_merges oracle move) — per round one Viterbi-fold DP table,
    one recursive-CTE backtrace (DuckDB allows several recursive CTEs
    in one WITH RECURSIVE), the piece recount, the prune/alphabet-floor
    union, and the re-score, each reading the previous round's score
    CTE. The trained model — counts AND the argmax paths that produced
    them — is hash-checked end to end."""
    pred = f" WHERE {doc_pred}" if doc_pred else ""
    chain = _unigram_train_chain(
        n_rounds, max_piece_len, top_p, prune_to, table, pred
    )
    return chain + f"\n    SELECT piece, cnt, score_micro FROM sc{n_rounds}"


def unigram_train_segment_oracle_sql(
    n_rounds: int = 1,
    max_piece_len: int = 4,
    top_p: int = 2000,
    prune_to: int = 500,
    table: str = "documents",
    doc_pred: str | None = None,
) -> str:
    """DuckDB twin of the full train→encode chain
    (:func:`unigram_train` → :func:`unigram_segment`): the unrolled
    training rounds, then a Viterbi segmentation of the corpus under
    the TRAINED score table (``sc{n_rounds}``) — per document
    ``(doc_id, n_pieces)``. The alphabet floor guarantees every
    in-corpus word stays segmentable under the trained model, so the
    segmentation fold's candidate list is never empty."""
    pred = f" WHERE {doc_pred}" if doc_pred else ""
    L = max_piece_len
    n = n_rounds
    cand = (
        "[{'s': CAST(string_split(string_split(acc, ',')"
        "[CAST(x AS INTEGER) - l + 1], '|')[1] AS BIGINT)"
        " + mp[w[CAST(x AS INTEGER) - l + 1 : CAST(x AS INTEGER)]][1],"
        " 'mn': -(CAST(string_split(string_split(acc, ',')"
        "[CAST(x AS INTEGER) - l + 1], '|')[2] AS BIGINT) + 1)}"
        f" for l in range(1, least({L}, CAST(x AS INTEGER)) + 1)"
        " if mp[w[CAST(x AS INTEGER) - l + 1 : CAST(x AS INTEGER)]][1]"
        " IS NOT NULL]"
    )
    chain = _unigram_train_chain(n, max_piece_len, top_p, prune_to,
                                 table, pred)
    return chain + f""", mseg AS (
      SELECT map(list(piece ORDER BY piece),
                 list(score_micro ORDER BY piece)) AS mp
      FROM sc{n}
    ), segq AS (
      SELECT w, string_split(
        list_reduce(
          list_prepend('0|0',
                       [CAST(i AS VARCHAR)
                        for i in range(1, length(w)+1)]),
          (acc, x) -> acc || ',' ||
            CAST(list_max({cand}).s AS VARCHAR) || '|' ||
            CAST(-list_max({cand}).mn AS VARCHAR)
        ), ',')[-1] AS last
      FROM wf CROSS JOIN mseg
    ), wtokseg AS (
      SELECT w, CAST(string_split(last, '|')[2] AS BIGINT) AS _np
      FROM segq
    ), docwseg AS (
      SELECT doc_id,
             unnest(string_split_regex(regexp_replace(text, '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), '[ \\t\\n\\x0B\\f\\r]+')) AS w
      FROM {table}{pred}
    ), aggseg AS (
      SELECT dw.doc_id, CAST(sum(v._np) AS BIGINT) AS n_pieces
      FROM (SELECT doc_id, w FROM docwseg WHERE length(w) >= 1) dw
      JOIN wtokseg v USING (w)
      GROUP BY dw.doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(a.n_pieces, 0) AS BIGINT) AS n_pieces
    FROM {table} d LEFT JOIN aggseg a USING (doc_id){pred}
    """


def unigram_segment_oracle_sql(
    max_piece_len: int = 4,
    top_p: int = 2000,
    table: str = "documents",
    doc_pred: str | None = None,
) -> str:
    """DuckDB twin of :func:`unigram_scores` + :func:`unigram_segment`:
    the seed-vocab CTEs mirror the Spark aggregations, and the Viterbi
    DP itself runs as a list_reduce fold over word positions — the DP
    row best[i] = (score, n_pieces) rides a '|'-packed accumulator
    entry, candidates are struct-ranked {'s', 'mn'} so DuckDB's
    lexicographic struct list_max reproduces the kernel's
    (score DESC, n_pieces ASC) tie-break bit-exactly."""
    pred = f" WHERE {doc_pred}" if doc_pred else ""
    L = max_piece_len
    # candidate struct for position x, piece length l — inlined twice
    # (value + tiebreak) because the fold body must stay an expression
    cand = (
        "[{'s': CAST(string_split(string_split(acc, ',')"
        "[CAST(x AS INTEGER) - l + 1], '|')[1] AS BIGINT)"
        " + mp[w[CAST(x AS INTEGER) - l + 1 : CAST(x AS INTEGER)]][1],"
        " 'mn': -(CAST(string_split(string_split(acc, ',')"
        "[CAST(x AS INTEGER) - l + 1], '|')[2] AS BIGINT) + 1)}"
        f" for l in range(1, least({L}, CAST(x AS INTEGER)) + 1)"
        " if mp[w[CAST(x AS INTEGER) - l + 1 : CAST(x AS INTEGER)]][1]"
        " IS NOT NULL]"
    )
    head = _unigram_vocab_ctes(max_piece_len, top_p, table, pred)
    return head + f""", m AS (
      SELECT map(list(piece ORDER BY piece),
                 list(score_micro ORDER BY piece)) AS mp
      FROM sc
    ), seg AS (
      SELECT w, string_split(
        list_reduce(
          list_prepend('0|0',
                       [CAST(i AS VARCHAR)
                        for i in range(1, length(w)+1)]),
          (acc, x) -> acc || ',' ||
            CAST(list_max({cand}).s AS VARCHAR) || '|' ||
            CAST(-list_max({cand}).mn AS VARCHAR)
        ), ',')[-1] AS last
      FROM wf CROSS JOIN m
    ), wtok AS (
      SELECT w,
             CAST(string_split(last, '|')[2] AS BIGINT) AS _np,
             CAST(string_split(last, '|')[1] AS BIGINT) AS _sc
      FROM seg
    ), docw AS (
      SELECT doc_id,
             unnest(string_split_regex(regexp_replace(text, '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), '[ \\t\\n\\x0B\\f\\r]+')) AS w
      FROM {table}{pred}
    ), agg AS (
      SELECT dw.doc_id,
             CAST(sum(v._np) AS BIGINT) AS n_pieces,
             CAST(sum(v._sc) AS BIGINT) AS score_micro_sum
      FROM (SELECT doc_id, w FROM docw WHERE length(w) >= 1) dw
      JOIN wtok v USING (w)
      GROUP BY dw.doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(a.n_pieces, 0) AS BIGINT) AS n_pieces,
           CAST(coalesce(a.score_micro_sum, 0) AS BIGINT)
             AS score_micro_sum
    FROM {table} d LEFT JOIN agg a USING (doc_id){pred}
    """


# ---------------------------------------------------------------------------
# Cardinality sketch — deterministic HLL-style registers
# ---------------------------------------------------------------------------


def hll_registers(df: DataFrame, value_col: str, p: int = 10) -> DataFrame:
    """Distributed cardinality-sketch REGISTERS (Flajolet et al. 2007,
    HyperLogLog), deterministic by construction: the hash is md5 (fixed,
    engine-independent), so the register table — ``(bucket, max_rho)``,
    at most 2^p rows whatever the input size — is bit-identical in any
    engine and carries a HASH-grade oracle, unlike builtin
    ``approx_count_distinct`` whose sketch is engine-private. NULL
    values are excluded before hashing (cardinality of NULL is
    undefined; a NULL row would also break the 2^p row bound).

    h = first 60 bits of md5(value); bucket = h mod 2^p; rho = leading
    zeros of the remaining 60−p bits + 1; register = max(rho) per
    bucket. One map-side-combined groupBy — the sketch is the classic
    mergeable state (:func:`hll_merge` = per-bucket max), so shards
    sketch independently and merge in O(2^p).

    Use :func:`hll_estimate` for the scalar estimate (float math,
    driver-side over ≤2^p rows).
    """
    if not 4 <= p <= 16:
        raise ValueError(f"p must be in [4, 16]: {p}")
    m = 1 << p
    rest_bits = 60 - p
    hashed = df.filter(F.col(value_col).isNotNull()).select(
        md5_int60(F.col(value_col).cast("string")).alias("_h")
    )
    out = hashed.select(
        (F.col("_h") % m).alias("bucket"),
        F.expr(f"_h DIV {m}").alias("_rest"),
    ).select(
        "bucket",
        F.when(F.col("_rest") == 0, F.lit(rest_bits + 1))
        .otherwise(F.lit(rest_bits + 1) - F.length(F.expr("bin(_rest)")))
        .cast("bigint")
        .alias("_rho"),
    )
    return out.groupBy("bucket").agg(F.max("_rho").alias("max_rho"))


def hll_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Union two register tables: per-bucket max — the sketch's
    mergeable-state property (sketch shards independently, merge
    losslessly: merge(R(A), R(B)) == R(A ∪ B) exactly). PRECONDITION:
    both sketches were built with the SAME ``p`` — bucket ids from
    different p spaces are incommensurable and merge to garbage (the
    mismatch surfaces in :func:`hll_estimate`'s bucket-bound check)."""
    return a.unionByName(b).groupBy("bucket").agg(F.max("max_rho").alias("max_rho"))


def hll_estimate_df(registers: DataFrame, p: int = 10, prefix: str = "") -> DataFrame:
    """IN-PLAN scalar HLL estimate: one row ``({prefix}est double,
    {prefix}n_present bigint, {prefix}s_total bigint)`` — the
    DataFrame-composable (and hash-gradable) counterpart of the
    driver-side :func:`hll_estimate`.

    Hash-stability trick: the indicator sum Σ 2^−M_j is NOT computed
    in floating point (a distributed double sum is partial-agg-order
    dependent — not even Spark-deterministic). Instead the integer
    ``s_total = Σ_present 2^(rho_max − M_j) + zeros·2^rho_max`` is
    summed exactly in int64 (≤ 2^p·2^(60−p) = 2^60), and the float
    estimate ``alpha·m²·2^rho_max / s_total`` involves exactly one
    rounding per operation — bit-identical in any IEEE engine, so the
    DuckDB oracle matches on the double. Small-range linear counting
    (``m·ln(m/zeros)``) carries the repo's documented 1-ulp ``ln()``
    cross-engine assumption (as DSIR/BM25 do).
    """
    if not 4 <= p <= 16:
        raise ValueError(f"p must be in [4, 16]: {p}")
    m = 1 << p
    rho_max = 60 - p + 1
    # alpha·m²·2^rho_max precomputed to ONE double literal shared with
    # the SQL twin — the runtime then does exactly one division (and
    # one comparison) in float, identical in any IEEE engine
    c = (0.7213 / (1 + 1.079 / m)) * float(m) * float(m) * float(1 << rho_max)
    agg = registers.agg(
        F.count(F.lit(1)).alias("_n"),
        F.coalesce(
            F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {rho_max} - max_rho)")),
            F.lit(0).cast("bigint"),
        ).alias("_s"),
    )
    zeros = F.lit(m) - F.col("_n")
    s_total = (F.col("_s") + zeros * F.lit(1 << rho_max).cast("bigint")).cast(
        "bigint"
    )
    raw = F.lit(c) / s_total.cast("double")
    est = F.when(
        (zeros > 0) & (raw <= F.lit(2.5 * m)),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")),
    ).otherwise(raw)
    return agg.select(
        est.alias(f"{prefix}est"),
        F.col("_n").cast("bigint").alias(f"{prefix}n_present"),
        s_total.alias(f"{prefix}s_total"),
    )


def hll_estimate_oracle_sql(values_cte: str, p: int, prefix: str = "") -> str:
    """DuckDB twin of ``hll_registers`` + :func:`hll_estimate_df` over
    a CTE named ``values_cte`` with one column ``v`` (strings). Emits a
    one-row SELECT (no trailing FROM) to embed as a subquery."""
    m = 1 << p
    rho_max = 60 - p + 1
    c = (0.7213 / (1 + 1.079 / m)) * float(m) * float(m) * float(1 << rho_max)
    return f"""
      (WITH h_{prefix} AS (
        SELECT (('0x' || substr(md5(v), 1, 15))::BIGINT) AS h60
        FROM {values_cte} WHERE v IS NOT NULL
      ), reg_{prefix} AS (
        SELECT h60 % {m} AS bucket,
               max(CASE WHEN h60 // {m} = 0 THEN {rho_max}
                        ELSE {rho_max} - length(bin(h60 // {m})) END) AS max_rho
        FROM h_{prefix} GROUP BY 1
      ), a_{prefix} AS (
        SELECT count(*) AS n,
               coalesce(sum((1::BIGINT << ({rho_max} - max_rho))), 0) AS s,
               CAST(coalesce(sum((1::BIGINT << ({rho_max} - max_rho))), 0)
                    + ({m} - count(*)) * (1::BIGINT << {rho_max}) AS BIGINT)
                 AS s_total
        FROM reg_{prefix}
      )
      SELECT CASE WHEN ({m} - n) > 0
                   AND {c!r}::DOUBLE / CAST(s_total AS DOUBLE) <= {2.5 * m}
             THEN CAST({m} AS DOUBLE) * ln(CAST({m} AS DOUBLE)
                                           / CAST({m} - n AS DOUBLE))
             ELSE {c!r}::DOUBLE / CAST(s_total AS DOUBLE)
             END AS {prefix}est,
             CAST(n AS BIGINT) AS {prefix}n_present,
             s_total AS {prefix}s_total
      FROM a_{prefix})
    """


def hll_estimate_by_group(
    registers: DataFrame, group_col: str, p: int = 10, prefix: str = "",
    sum_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-group scalar HLL estimates from
    :func:`hll_registers_by_group` output — one row
    ``(group, {prefix}est, {prefix}n_present, {prefix}s_total)`` per
    group, with :func:`hll_estimate_df`'s hash-stability trick (the
    indicator sum is the EXACT int64 ``s_total``; the only float ops
    are one division — IEEE-identical across engines — and the
    linear-counting ``ln`` with its documented 1-ulp assumption).

    ``sum_cols``: extra register-table columns (e.g. the per-bucket
    exact counts from ``hll_registers_by_group(count_col=...)``) summed
    in the SAME per-group aggregate and passed through on the output —
    exact int64 sums of exact int64 partials."""
    if not 4 <= p <= 16:
        raise ValueError(f"p must be in [4, 16]: {p}")
    m = 1 << p
    rho_max = 60 - p + 1
    c = (0.7213 / (1 + 1.079 / m)) * float(m) * float(m) * float(1 << rho_max)
    agg = registers.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("_n"),
        F.coalesce(
            F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {rho_max} - max_rho)")),
            F.lit(0).cast("bigint"),
        ).alias("_s"),
        *[F.sum(col).cast("bigint").alias(col) for col in sum_cols],
    )
    zeros = F.lit(m) - F.col("_n")
    s_total = (F.col("_s") + zeros * F.lit(1 << rho_max).cast("bigint")).cast(
        "bigint"
    )
    raw = F.lit(c) / s_total.cast("double")
    est = F.when(
        (zeros > 0) & (raw <= F.lit(2.5 * m)),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")),
    ).otherwise(raw)
    return agg.select(
        group_col,
        est.alias(f"{prefix}est"),
        F.col("_n").cast("bigint").alias(f"{prefix}n_present"),
        s_total.alias(f"{prefix}s_total"),
        *sum_cols,
    )


def hll_estimate_by_group_oracle_sql(
    values_cte: str, group_col: str, p: int, prefix: str = ""
) -> str:
    """DuckDB twin of ``hll_registers_by_group`` +
    :func:`hll_estimate_by_group` over a CTE named ``values_cte`` with
    columns ``(grp, v)``. Emits a parenthesized SELECT (one row per
    grp) to embed as a subquery; the caller aliases ``grp`` back to
    its group column."""
    m = 1 << p
    rho_max = 60 - p + 1
    c = (0.7213 / (1 + 1.079 / m)) * float(m) * float(m) * float(1 << rho_max)
    return f"""
      (WITH h_{prefix} AS (
        SELECT grp, (('0x' || substr(md5(v), 1, 15))::BIGINT) AS h60
        FROM {values_cte} WHERE v IS NOT NULL
      ), reg_{prefix} AS (
        SELECT grp, h60 % {m} AS bucket,
               max(CASE WHEN h60 // {m} = 0 THEN {rho_max}
                        ELSE {rho_max} - length(bin(h60 // {m})) END) AS max_rho
        FROM h_{prefix} GROUP BY 1, 2
      ), a_{prefix} AS (
        SELECT grp, count(*) AS n,
               CAST(coalesce(sum((1::BIGINT << ({rho_max} - max_rho))), 0)
                    + ({m} - count(*)) * (1::BIGINT << {rho_max}) AS BIGINT)
                 AS s_total
        FROM reg_{prefix} GROUP BY grp
      )
      SELECT grp,
             CASE WHEN ({m} - n) > 0
                   AND {c!r}::DOUBLE / CAST(s_total AS DOUBLE) <= {2.5 * m}
             THEN CAST({m} AS DOUBLE) * ln(CAST({m} AS DOUBLE)
                                           / CAST({m} - n AS DOUBLE))
             ELSE {c!r}::DOUBLE / CAST(s_total AS DOUBLE)
             END AS {prefix}est,
             CAST(n AS BIGINT) AS {prefix}n_present,
             s_total AS {prefix}s_total
      FROM a_{prefix})
    """


def hll_estimate(registers: DataFrame, p: int = 10) -> float:
    """Scalar HLL estimate from a register table (driver-side over
    ≤2^p rows — bounded by construction). Standard alpha_m bias
    correction + linear counting for the small range. ``p`` MUST match
    the value the registers were built with — a sketch with buckets
    outside [0, 2^p) is rejected rather than silently mis-estimated."""
    import math

    if not 4 <= p <= 16:
        raise ValueError(f"p must be in [4, 16]: {p}")
    m = 1 << p
    rows = {r.bucket: r.max_rho for r in registers.collect()}
    if rows and not all(0 <= b < m for b in rows):
        raise ValueError(
            f"register buckets outside [0, {m}) — sketch built with a different p?"
        )
    alpha = 0.7213 / (1 + 1.079 / m)
    z = sum(2.0 ** -rows.get(j, 0) for j in range(m))
    est = alpha * m * m / z
    zeros = m - len(rows)
    if est <= 2.5 * m and zeros > 0:
        est = m * math.log(m / zeros)  # linear counting
    return est


def rag_chunks(
    df: DataFrame,
    id_col: str,
    text_col: str,
    width: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Overlapping token-window chunking — the retrieval/RAG (and
    long-context training) preprocessing step that splits each document
    into windows of ``width`` whitespace tokens every ``stride`` tokens
    (overlap = width - stride). Deterministic spec: window starts are
    0, stride, 2*stride, ... for every start < n_tokens, and the last
    windows are simply shorter (no lookback merging — keeps the chunk
    set a pure per-row function of the text, replayable in any engine).

    Pure per-row expression work (split -> sequence -> posexplode ->
    slice): NO shuffle at any scale — chunking 100 TB is a map-only
    stage whose output partitioning inherits the input's. All codegen
    (slice/array_join are Catalyst built-ins, not higher-order-function
    lambdas, which this repo has measured to fall out of codegen).

    Returns (id, chunk_idx, chunk_text, n_tokens).
    """
    if width < 1 or stride < 1:
        raise ValueError(f"width and stride must be >= 1: {width}, {stride}")
    toks = df.select(
        F.col(id_col), lc_tokens(text_col).alias("_toks")
    ).where(F.size("_toks") > 0)
    starts = F.expr(f"sequence(0, size(_toks) - 1, {stride})")
    exploded = toks.select(
        id_col, "_toks", F.posexplode(starts).alias("chunk_idx", "_start")
    )
    chunk = F.slice(F.col("_toks"), F.col("_start") + 1, width)
    return exploded.select(
        F.col(id_col),
        F.col("chunk_idx").cast("bigint"),
        F.array_join(chunk, " ").alias("chunk_text"),
        F.size(chunk).cast("bigint").alias("n_tokens"),
    )


def rag_chunks_oracle_sql(
    table: str,
    id_col: str,
    text_col: str,
    width: int = 64,
    stride: int = 48,
) -> str:
    """DuckDB twin of :func:`rag_chunks` (1-based inclusive list_slice)."""
    return f"""
    WITH toks AS (
      SELECT {id_col},
             list_filter(string_split_regex(lower({text_col}), '[ \\t\\n\\x0B\\f\\r]+'),
                         t -> t <> '') AS _toks
      FROM {table}
    ), starts AS (
      SELECT {id_col}, _toks, unnest(range(0, len(_toks), {stride})) AS s
      FROM toks WHERE len(_toks) > 0
    )
    SELECT {id_col}, CAST(s // {stride} AS BIGINT) AS chunk_idx,
           array_to_string(list_slice(_toks, s + 1, s + {width}), ' ')
             AS chunk_text,
           CAST(len(list_slice(_toks, s + 1, s + {width})) AS BIGINT)
             AS n_tokens
    FROM starts
    """


def cms_sketch(
    df: DataFrame, value_col: str, w: int = 1024, d: int = 4
) -> DataFrame:
    """Count-min sketch build (Cormode & Muthukrishnan 2005): d x w
    integer cells, cell[j][h_j(x)] += count(x). Like :func:`hll_registers`
    /:func:`bloom_filter_words`, the hash family is md5-derived
    (h_j(x) = md5_int60(j || ':' || x) mod w) so the sketch is
    bit-identical in any engine — a HASH-grade oracle for a sketch,
    which builtin engine-private sketches can't give.

    One explode (d rows per value) + one map-side-combined groupBy:
    the sketch table is <= d*w rows whatever the input size — the
    classic mergeable summary (:func:`cms_merge` = per-cell sum over
    shards; linearity of the cells).

    Returns (j, pos, cell): row index, column index, count.
    """
    if w < 1 or d < 1:
        raise ValueError(f"w and d must be >= 1: {w}, {d}")
    vals = df.filter(F.col(value_col).isNotNull()).select(
        F.col(value_col).cast("string").alias("_v")
    )
    return (
        vals.select(
            F.explode(F.expr(f"sequence(0, {d - 1})")).alias("j"), "_v"
        )
        .select(
            F.col("j").cast("bigint"),
            (
                md5_int60(F.concat(F.col("j").cast("string"), F.lit(":"), F.col("_v")))
                % w
            ).alias("pos"),
        )
        .groupBy("j", "pos")
        .agg(F.count(F.lit(1)).alias("cell"))
    )


def cms_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Union two sketches built with the SAME (w, d): per-cell sum
    (cells are linear counters, so merge(S(A), S(B)) == S(A ∪ B)
    exactly)."""
    return (
        a.unionByName(b).groupBy("j", "pos").agg(F.sum("cell").alias("cell"))
    )


def cms_probe(
    sketch: DataFrame, keys: DataFrame, key_col: str, w: int, d: int
) -> DataFrame:
    """Point-frequency estimates: est(x) = min_j cell[j][h_j(x)] —
    never an underestimate, overestimate bounded by e*N/w with
    probability 1 - e^-d. The sketch (<= d*w rows) is broadcast, so
    probing any number of keys is shuffle-free on the probe side apart
    from the per-key min aggregate.

    Returns (key_col, cms_est).
    """
    probes = keys.select(F.col(key_col)).select(
        key_col,
        F.explode(F.expr(f"sequence(0, {d - 1})")).alias("j"),
    ).select(
        key_col,
        F.col("j").cast("bigint"),
        (
            md5_int60(
                F.concat(
                    F.col("j").cast("string"),
                    F.lit(":"),
                    F.col(key_col).cast("string"),
                )
            )
            % w
        ).alias("pos"),
    )
    return (
        probes.join(F.broadcast(sketch), ["j", "pos"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce(F.col("cell"), F.lit(0))).alias("cms_est"))
    )


def cms_join_size(
    a: DataFrame,
    b: DataFrame,
    a_key: str,
    b_key: str,
    w: int = 1024,
    d: int = 4,
) -> DataFrame:
    """Equi-join SIZE estimation from two count-min sketches (Cormode
    & Muthukrishnan 2005 §4.3 inner product): |A ⋈ B| = Σ_k f_A(k)·
    f_B(k) ≈ min_j Σ_pos cellA[j][pos]·cellB[j][pos] — never an
    underestimate, error ≤ e·N_A·N_B/w with probability 1−e^−d.

    The 100 TB planner question this answers: will this join (or
    self-join — pass the same frame twice) blow up quadratically on a
    hot key, BEFORE running it? Cost: one map-side-combined pass per
    side to d×w cells, then a cells-only join (≤ d·w rows each) — the
    estimate never shuffles the data. Returns a single row
    ``(cms_est)``; join with an exact Σ f_A·f_B where affordable to
    calibrate (the declared query does).
    """
    sa = cms_sketch(a, a_key, w=w, d=d)
    sb = cms_sketch(b, b_key, w=w, d=d)
    return (
        sa.join(
            sb.withColumnRenamed("cell", "_cell_b"), ["j", "pos"]
        )
        .groupBy("j")
        .agg(F.sum(F.col("cell") * F.col("_cell_b")).alias("_ip"))
        .agg(F.min("_ip").cast("bigint").alias("cms_est"))
    )


def cms_join_size_oracle_sql(
    table: str = "events",
    key: str = "user_id",
    w: int = 1024,
    d: int = 4,
) -> str:
    """DuckDB twin of the self-join-size estimate on ``table.key``,
    with the exact Σ f(k)² and the guaranteed-nonnegative overestimate
    joined on — same md5-hex fold as the Spark side."""
    hexfold = DUCK_MD5_HEXFOLD
    return f"""
    WITH vals AS (
      SELECT CAST({key} AS VARCHAR) AS v FROM {table}
      WHERE {key} IS NOT NULL
    ), cells AS (
      SELECT j, {hexfold} % {w} AS pos, count(*) AS cell FROM (
        SELECT j, substr(md5(j || ':' || v), 1, 15) AS h
        FROM vals CROSS JOIN (SELECT unnest(range(0, {d})) AS j))
      GROUP BY j, pos
    ), ip AS (
      SELECT j, sum(cell * cell) AS ipj FROM cells GROUP BY j
    ), est AS (
      SELECT CAST(min(ipj) AS BIGINT) AS cms_est FROM ip
    ), exact AS (
      SELECT CAST(sum(n * n) AS BIGINT) AS exact_n
      FROM (SELECT count(*) AS n FROM vals GROUP BY v)
    )
    SELECT est.cms_est, exact.exact_n,
           CAST(est.cms_est - exact.exact_n AS BIGINT) AS overest
    FROM est, exact
    """


def cms_probe_oracle_sql(
    table: str = "documents",
    text_col: str = "text",
    w: int = 16,
    d: int = 2,
) -> str:
    """DuckDB twin of build(words of ``table``) + probe(every distinct
    word), with the exact count and overestimate joined on — same
    md5-hex fold as the Spark side."""
    hexfold = DUCK_MD5_HEXFOLD
    return f"""
    WITH words AS (
      SELECT unnest(list_filter(string_split_regex(lower({text_col}), '[ \\t\\n\\x0B\\f\\r]+'),
                    t -> t <> '')) AS w
      FROM {table}
    ), cells AS (
      SELECT j, {hexfold} % {w} AS pos, count(*) AS cell FROM (
        SELECT j, substr(md5(j || ':' || w), 1, 15) AS h
        FROM words CROSS JOIN (SELECT unnest(range(0, {d})) AS j))
      GROUP BY j, pos
    ), exact AS (
      SELECT w, count(*) AS exact_n FROM words GROUP BY w
    ), probes AS (
      SELECT w, j, {hexfold} % {w} AS pos FROM (
        SELECT w, j, substr(md5(j || ':' || w), 1, 15) AS h
        FROM exact CROSS JOIN (SELECT unnest(range(0, {d})) AS j))
    ), est AS (
      SELECT p.w, min(coalesce(c.cell, 0)) AS cms_est
      FROM probes p LEFT JOIN cells c ON p.j = c.j AND p.pos = c.pos
      GROUP BY p.w
    )
    SELECT e.w AS term, CAST(est.cms_est AS BIGINT) AS cms_est,
           e.exact_n, CAST(est.cms_est - e.exact_n AS BIGINT) AS overest
    FROM exact e JOIN est USING (w)
    """


def _dlt_pri_expr(id_col: str):
    """Shared DLT priority q = w / u with u = (md5_int60(id)+1)/2^60 —
    the ONE definition both the global and the grouped sampler use
    (and whose SQL twin is :func:`_dlt_pri_cte_sql`); a change here is
    a change everywhere or the samplers silently diverge."""
    return (
        F.col("_w").cast("double")
        * F.lit(float(1 << 60))
        / (md5_int60(F.col(id_col).cast("string")) + F.lit(1)).cast("double")
    )


def _ht_est_expr(k: int):
    """Shared Horvitz-Thompson estimate: max(w, tau) when a (k+1)-th
    row exists in the frame (tau defined), else w exactly."""
    return F.when(
        F.col("_n") > k, F.greatest(F.col("_w").cast("double"), F.col("_tau"))
    ).otherwise(F.col("_w").cast("double"))


def _dlt_pri_cte_sql(
    table: str, id_col: str, weight_col: str, extra_cols: str = ""
) -> str:
    """Shared SQL twin of :func:`_dlt_pri_expr`: the `pri` CTE body
    (same md5-hex fold, same IEEE op order). ``extra_cols`` is a
    leading 'col, ' string carried through (the grouped variant's
    group key)."""
    hexfold = DUCK_MD5_HEXFOLD
    return f"""
      SELECT {extra_cols}{id_col}, _w,
             CAST(_w AS DOUBLE) * 1152921504606846976.0 / (hv + 1) AS _pri
      FROM (
        SELECT {extra_cols}{id_col}, CAST({weight_col} AS BIGINT) AS _w,
               {hexfold} AS hv
        FROM (SELECT {extra_cols}{id_col}, {weight_col},
                     substr(md5(CAST({id_col} AS VARCHAR)), 1, 15) AS h
              FROM {table}))
      WHERE _w > 0"""


_HT_EST_SQL = (
    "CAST(round((CASE WHEN _n > {k} THEN greatest(CAST(_w AS DOUBLE), _tau) "
    "ELSE CAST(_w AS DOUBLE) END) * 1000000) AS BIGINT)"
)


def priority_sample(
    df: DataFrame, id_col: str, weight_col: str, k: int
) -> DataFrame:
    """Weight-proportional sampling WITHOUT replacement via priority
    sampling (Duffield, Lund & Thorup 2007, JACM): priority
    q_i = w_i / u_i with u_i uniform in (0,1]; keep the k largest
    priorities; tau = the (k+1)-th priority; each kept row gets the
    Horvitz-Thompson weight estimate max(w_i, tau) (sums over the
    sample then estimate subset totals near-unbiasedly).

    Deterministic twin of the randomized original (same move as
    stratified_sample): u_i = (md5_int60(id)+1) / 2^60 — a fixed
    universal hash, so the sample is REPLAYABLE and engine-portable
    (every arithmetic step is a single IEEE-754 op on exactly equal
    inputs, so even the double priorities are bit-identical across
    engines; the output quantizes the estimate to micro anyway).

    Scale: per-row hash + division (no shuffle), then top-(k+1) via
    orderBy+limit -> TakeOrderedAndProject (per-partition heaps, k+1
    rows to the driver-side reducer — never a global sort); the final
    rank/tau window runs over the k+1 surviving rows only (bounded by
    construction, single tiny partition is fine).

    Returns (id, weight, pri_rank, est_w_micro), pri_rank 1..k.

    PRECONDITION: the weight column is INTEGER-VALUED (counts, byte/
    token lengths). Both engines derive the priority from the bigint
    weight, but a fractional weight would cast differently on the way
    there (Spark double→bigint truncates, DuckDB rounds half-even) and
    silently de-synchronize the sample.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    pri = df.select(
        F.col(id_col),
        F.col(weight_col).cast("bigint").alias("_w"),
    ).where(F.col("_w") > 0)
    pri = pri.select(id_col, "_w", _dlt_pri_expr(id_col).alias("_pri"))
    top = pri.orderBy(F.col("_pri").desc(), F.col(id_col).asc()).limit(k + 1)
    # Window scale: the rank window runs on the limit(k+1) result, ≤ k+1
    # rows.
    w_rank = Window.orderBy(F.col("_pri").desc(), F.col(id_col).asc())
    w_all = Window.partitionBy()
    ranked = top.select(
        id_col,
        "_w",
        "_pri",
        F.row_number().over(w_rank).alias("pri_rank"),
        F.count(F.lit(1)).over(w_all).alias("_n"),
        F.min("_pri").over(w_all).alias("_tau"),
    )
    # tau applies only when a (k+1)-th row exists; with n <= k the whole
    # population is kept and est = w exactly.
    est = _ht_est_expr(k)
    return ranked.where(F.col("pri_rank") <= k).select(
        F.col(id_col),
        F.col("_w").alias(weight_col),
        F.col("pri_rank").cast("bigint"),
        F.round(est * 1_000_000).cast("bigint").alias("est_w_micro"),
    )


def priority_sample_oracle_sql(
    table: str, id_col: str, weight_col: str, k: int
) -> str:
    """DuckDB twin of :func:`priority_sample` — same md5-hex fold, same
    IEEE arithmetic (shared pri CTE: :func:`_dlt_pri_cte_sql`)."""
    est = _HT_EST_SQL.format(k=k)
    return f"""
    WITH pri AS ({_dlt_pri_cte_sql(table, id_col, weight_col)}
    ), top AS (
      SELECT * FROM pri ORDER BY _pri DESC, {id_col} ASC LIMIT {k + 1}
    ), ranked AS (
      SELECT {id_col}, _w, _pri,
             row_number() OVER (ORDER BY _pri DESC, {id_col} ASC) AS pri_rank,
             count(*) OVER () AS _n,
             min(_pri) OVER () AS _tau
      FROM top
    )
    SELECT {id_col}, _w AS {weight_col}, CAST(pri_rank AS BIGINT) AS pri_rank,
           {est} AS est_w_micro
    FROM ranked WHERE pri_rank <= {k}
    """


def token_kl(
    docs: DataFrame, text_col: str, group_col: str
) -> DataFrame:
    """Per-slice distribution shift: KL(P_g || P_corpus) over the word
    unigram distributions — the standard corpus-analytics check that a
    source/domain slice diverges from the blend (domain weighting and
    contamination triage both start here; cf. the DSIR importance
    weights, which are the per-DOCUMENT form of the same ratio).

    KL(g) = Σ_w (c_gw/N_g) · ln(c_gw·N / (N_g·c_w)) — computed as
    integer count arithmetic + one quantized ln per (group, word) type
    (micro units, the dsir_weights determinism recipe: quantize before
    the order-free integer sum, then a single portable floor-divide by
    N_g). Always ≥ 0; 0 iff the slice matches the corpus distribution
    exactly (up to quantization).

    Shuffles: one (group, word) count, one word-marginal count joined
    back on the word key (the |vocab|-scale join — hash-partitioned,
    the right plan at web scale), group totals broadcast, corpus total
    a 1-row crossJoin.

    Returns (group, n_tokens, kl_micro).
    """
    words = docs.select(
        F.col(group_col).alias("g"), F.explode(lc_tokens(text_col)).alias("w")
    )
    gw = words.groupBy("g", "w").agg(F.count(F.lit(1)).alias("c_gw"))
    cw = gw.groupBy("w").agg(F.sum("c_gw").alias("c_w"))
    ng = gw.groupBy("g").agg(F.sum("c_gw").alias("n_g"))
    n = ng.agg(F.sum("n_g").alias("n_total"))
    term = (
        gw.join(cw, "w")
        .join(F.broadcast(ng), "g")
        .crossJoin(F.broadcast(n))
        .select(
            "g",
            "n_g",
            (
                F.col("c_gw")
                * F.round(
                    F.log(
                        (F.col("c_gw") * F.col("n_total")).cast("double")
                        / (F.col("n_g") * F.col("c_w")).cast("double")
                    )
                    * 1_000_000
                ).cast("bigint")
            ).alias("_wterm"),
        )
    )
    return term.groupBy("g").agg(
        F.max("n_g").alias("n_tokens"),
        F.floor(F.sum("_wterm").cast("double") / F.max("n_g"))
        .cast("bigint")
        .alias("kl_micro"),
    ).select(F.col("g").alias(group_col), "n_tokens", "kl_micro")


def token_kl_oracle_sql(table: str, text_col: str, group_col: str) -> str:
    """DuckDB twin of :func:`token_kl` — same quantize-then-sum
    arithmetic; ln() carries the documented 1-ulp assumption."""
    return f"""
    WITH words AS (
      SELECT {group_col} AS g,
             unnest(list_filter(string_split_regex(lower({text_col}), '[ \\t\\n\\x0B\\f\\r]+'),
                    t -> t <> '')) AS w
      FROM {table}
    ), gw AS (
      SELECT g, w, count(*) AS c_gw FROM words GROUP BY g, w
    ), cw AS (
      SELECT w, sum(c_gw) AS c_w FROM gw GROUP BY w
    ), ng AS (
      SELECT g, sum(c_gw) AS n_g FROM gw GROUP BY g
    ), n AS (
      SELECT sum(n_g) AS n_total FROM ng
    ), term AS (
      SELECT gw.g, ng.n_g,
             gw.c_gw * CAST(round(ln(CAST(gw.c_gw * n.n_total AS DOUBLE)
                                     / CAST(ng.n_g * cw.c_w AS DOUBLE))
                                  * 1000000) AS BIGINT) AS _wterm
      FROM gw JOIN cw USING (w) JOIN ng USING (g) CROSS JOIN n
    )
    SELECT g AS {group_col}, CAST(max(n_g) AS BIGINT) AS n_tokens,
           CAST(floor(CAST(sum(_wterm) AS DOUBLE) / max(n_g)) AS BIGINT)
             AS kl_micro
    FROM term GROUP BY g
    """


def priority_sample_by_group(
    df: DataFrame, id_col: str, weight_col: str, group_col: str, k: int
) -> DataFrame:
    """Per-group priority sampling: exactly min(k, group size)
    weight-proportional rows from EACH group — the balanced-per-source
    curation move (a global sample lets one giant source swamp the
    mixture; per-group exact-k caps every source at k). Same
    deterministic Duffield-Lund-Thorup priorities as
    :func:`priority_sample` (md5 uniform, replayable, cross-engine
    bit-identical), same Horvitz-Thompson estimate with a PER-GROUP
    tau.

    Scale: the rank is a window partitioned by the group key (the
    grouped-top-k idiom — there is no grouped TakeOrderedAndProject,
    so the shuffle is on the group key with per-group sort state);
    the tau/count pass runs over the rank-filtered k+1 rows per group
    only. Returns (group, id, weight, pri_rank, est_w_micro)."""
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    pri = (
        df.select(
            F.col(group_col),
            F.col(id_col),
            F.col(weight_col).cast("bigint").alias("_w"),
        )
        .where(F.col("_w") > 0)
        .select(group_col, id_col, "_w", _dlt_pri_expr(id_col).alias("_pri"))
    )
    # Window scale: grouped top-k rank-filter class: a dominant group
    # sorts in one spill-backed task with only k rows retained; for web-
    # scale hot groups pre-cap with a salted local top-k first.
    w_rank = Window.partitionBy(group_col).orderBy(
        F.col("_pri").desc(), F.col(id_col).asc()
    )
    top = pri.withColumn("pri_rank", F.row_number().over(w_rank)).where(
        F.col("pri_rank") <= k + 1
    )
    w_grp = Window.partitionBy(group_col)
    ranked = top.select(
        group_col,
        id_col,
        "_w",
        "_pri",
        "pri_rank",
        F.count(F.lit(1)).over(w_grp).alias("_n"),
        F.min("_pri").over(w_grp).alias("_tau"),
    )
    est = _ht_est_expr(k)
    return ranked.where(F.col("pri_rank") <= k).select(
        F.col(group_col),
        F.col(id_col),
        F.col("_w").alias(weight_col),
        F.col("pri_rank").cast("bigint").alias("pri_rank"),
        F.round(est * 1_000_000).cast("bigint").alias("est_w_micro"),
    )


def priority_sample_by_group_oracle_sql(
    table: str, id_col: str, weight_col: str, group_col: str, k: int
) -> str:
    """DuckDB twin of :func:`priority_sample_by_group` — same shared
    pri CTE, per-group rank and tau."""
    est = _HT_EST_SQL.format(k=k)
    return f"""
    WITH pri AS ({_dlt_pri_cte_sql(table, id_col, weight_col,
                                   extra_cols=f"{group_col}, ")}
    ), top AS (
      SELECT * FROM (
        SELECT {group_col}, {id_col}, _w, _pri,
               row_number() OVER (PARTITION BY {group_col}
                                  ORDER BY _pri DESC, {id_col} ASC) AS pri_rank
        FROM pri) WHERE pri_rank <= {k + 1}
    ), ranked AS (
      SELECT {group_col}, {id_col}, _w, _pri, pri_rank,
             count(*) OVER (PARTITION BY {group_col}) AS _n,
             min(_pri) OVER (PARTITION BY {group_col}) AS _tau
      FROM top
    )
    SELECT {group_col}, {id_col}, _w AS {weight_col},
           CAST(pri_rank AS BIGINT) AS pri_rank,
           {est} AS est_w_micro
    FROM ranked WHERE pri_rank <= {k}
    """


def hll_registers_by_group(
    df: DataFrame, group_col: str, value_col: str, p: int = 10,
    count_col: str | None = None,
) -> DataFrame:
    """Per-group HLL registers — :func:`hll_registers` keyed by a slice
    column: ``(group, bucket, max_rho)``, at most |groups|·2^p rows.
    The per-group NDV sketch is what a 100 TB profile actually ships
    (the profiler's exact COUNT DISTINCT is a full shuffle per column;
    this is one map-side-combined aggregate producing bounded mergeable
    state — per-slice estimates come from :func:`hll_estimate` over
    each group's registers, merges stay per-(group, bucket) max).

    ``count_col``: also emit the EXACT number of non-null values landing
    in each (group, bucket) — both max and count are map-side-combined
    in the SAME aggregate, so a consumer that needs the exact total next
    to the NDV estimate (e.g. distinct-n diversity) gets it from ONE
    pass over the values instead of a second scan + join."""
    if not 4 <= p <= 16:
        raise ValueError(f"p must be in [4, 16]: {p}")
    m = 1 << p
    rest_bits = 60 - p
    hashed = df.filter(F.col(value_col).isNotNull()).select(
        F.col(group_col),
        md5_int60(F.col(value_col).cast("string")).alias("_h"),
    )
    out = hashed.select(
        group_col,
        (F.col("_h") % m).alias("bucket"),
        F.expr(f"_h DIV {m}").alias("_rest"),
    ).select(
        group_col,
        "bucket",
        F.when(F.col("_rest") == 0, F.lit(rest_bits + 1))
        .otherwise(F.lit(rest_bits + 1) - F.length(F.expr("bin(_rest)")))
        .cast("bigint")
        .alias("_rho"),
    )
    aggs = [F.max("_rho").alias("max_rho")]
    if count_col is not None:
        aggs.append(F.count(F.lit(1)).cast("bigint").alias(count_col))
    return out.groupBy(group_col, "bucket").agg(*aggs)


def equi_depth_bins(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    nbins: int = 4,
    method: str = "two_pass",
    n_parts: int = 32,
) -> DataFrame:
    """Per-group equi-depth discretization — quartile/decile labels for
    feature bucketing and length-balanced batch assembly. ``ntile``
    over a TOTAL order (value, id): the SQL-standard fill rule (earlier
    buckets take the remainder) is identical across engines, and the id
    tiebreak makes the assignment — not just the bucket sizes —
    deterministic, so the label column is hash-grade.

    ``method="ntile"`` (opt-in, for bounded-group inputs) is one
    shuffle on the group key with within-group sort state — a DOMINANT
    group (one language holding half the corpus) rides through a
    single window task. ``method="two_pass"`` (default) routes
    through
    :func:`~beis_orp_data_service_spark.operators.ranks.grouped_ntile`
    (range-partition on (group, value, id) → per-(group, partition)
    offsets → per-cell row_number → same NTILE fill rule): identical
    output, equality-tested in tests/test_ranks.py, max task state
    ~N/``n_parts`` rows at any group skew."""
    from pyspark.sql.window import Window

    if nbins < 1:
        raise ValueError(f"nbins must be >= 1: {nbins}")
    if method not in ("ntile", "two_pass"):
        raise ValueError(f"equi_depth_bins: unknown method {method!r}")
    if method == "two_pass":
        from beis_orp_data_service_spark.operators.ranks import grouped_ntile

        return grouped_ntile(
            df.select(F.col(group_col), F.col(id_col), F.col(value_col)),
            [group_col],
            [F.col(value_col), F.col(id_col)],
            nbins,
            "bin",
            n_parts=n_parts,
            label="equi_depth",
        ).select(group_col, id_col, value_col, "bin")
    w = Window.partitionBy(group_col).orderBy(F.col(value_col), F.col(id_col))
    return df.select(
        F.col(group_col),
        F.col(id_col),
        F.col(value_col),
        F.ntile(nbins).over(w).cast("bigint").alias("bin"),
    )


# ---------------------------------------------------------------------------
# Heavy hitters: Misra-Gries candidate pass + exact verification
# ---------------------------------------------------------------------------


def heavy_hitters(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 50,
    counters: int | None = None,
) -> DataFrame:
    """Exact φ-frequent tokens (freq · k > N) WITHOUT shuffling the full
    vocabulary — the two-pass distributed frequent-items pattern
    (Misra-Gries 1982; mergeable-summaries form of Agarwal et al. 2013):

    Pass 1 builds a Misra-Gries summary with ``counters`` slots PER
    PARTITION (one Arrow pass, batch histograms MG-merged: add the
    batch's value_counts, then subtract the (counters+1)-st largest
    count from every slot and drop the non-positive). Pigeonhole over
    partition-local token counts guarantees any token with global
    freq > N/(counters+1) survives in at least one partition's summary
    — a SUPERSET of the freq·k > N answer whenever counters ≥ k. Each
    partition emits ≤ counters candidate rows, so the candidate set is
    ≤ counters·P — broadcast-sized at any corpus scale.

    Pass 2 re-scans, LEFT-SEMI filters to broadcast candidates BEFORE
    the shuffle (only candidate tokens shuffle — the vocabulary never
    does), counts exactly, and keeps freq·k > N (strict, exact int).
    The MG approximation never reaches the output: false positives die
    in the exact pass, false negatives can't exist — so the result is
    hash-grade deterministic and identical to the naive full groupBy.

    N comes from a 1-row aggregate crossJoined (broadcast — the bm25
    corpus-stats pattern). Output (token, freq), freq exact."""
    import pandas as pd

    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    c = counters if counters is not None else max(4 * k, k + 1)
    if c < k:
        raise ValueError(f"counters ({c}) must be >= k ({k})")

    toks = docs.select(
        F.explode(
            F.split(F.regexp_replace(F.lower(F.col(text_col)), r"^[ \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+$", ""), r"[ \t\n\x0B\f\r]+")
        ).alias("token")
    ).filter(F.col("token") != "")

    def _mg(it):
        counts: dict[str, int] = {}
        for pdf in it:
            if len(pdf) == 0:
                continue
            for t, n in pdf["token"].value_counts().items():
                counts[t] = counts.get(t, 0) + int(n)
            if len(counts) > c:
                cut = sorted(counts.values(), reverse=True)[c]
                counts = {t: n - cut for t, n in counts.items() if n > cut}
        yield pd.DataFrame({"token": list(counts)})

    candidates = toks.mapInPandas(_mg, "token string").distinct()
    n_total = toks.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        toks.join(F.broadcast(candidates), "token", "left_semi")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .crossJoin(F.broadcast(n_total))
        .filter(F.col("freq") * k > F.col("n_total"))
        .select("token", "freq")
    )


def heavy_hitters_oracle_sql(
    table: str = "documents", text_col: str = "text", k: int = 50
) -> str:
    """DuckDB twin: the naive full groupBy — same tokenization, same
    strict freq·k > N cut. Equality with the engine's two-pass MG form
    IS the correctness claim (the summary is only a pruning device)."""
    return f"""
    WITH t AS (
      SELECT unnest(list_filter(
               string_split_regex(regexp_replace(lower({text_col}), '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), '[ \\t\\n\\x0B\\f\\r]+'),
               x -> x <> '')) AS token
      FROM {table}
    ), n AS (SELECT COUNT(*) AS n_total FROM t)
    SELECT token, COUNT(*) AS freq
    FROM t CROSS JOIN n
    GROUP BY token, n.n_total
    HAVING COUNT(*) * {k} > n.n_total
    """


# ---------------------------------------------------------------------------
# Bottom-k (KMV) quantile sketch — mergeable, replayable, oracle-exact
# ---------------------------------------------------------------------------


def quantile_sketch(
    df: DataFrame,
    value_col,
    id_col: str,
    k: int = 256,
) -> DataFrame:
    """Mergeable quantile sketch: the k rows with the SMALLEST
    md5-derived key — a bottom-k (KMV) uniform sample. Because the
    inclusion rule is a pure function of the row id, the sketch is
    deterministic, partitioning-invariant, and MERGEABLE (bottom-k of
    a union == bottom-k of the parts' bottom-ks), the property HLL /
    CMS / Bloom give counts and membership and this gives ranks
    (Agarwal et al. 2013). Quantile estimates off a k-sample carry
    O(1/√k) rank error — the monitoring-dashboard tier;
    :func:`group_quantiles` remains the exact gate.

    Plan shape: TakeOrderedAndProject — each partition keeps its local
    bottom-k, the driver merges P·k candidate rows; the table never
    globally sorts or shuffles. Completes the mergeable-sketch family
    as bounded-row sketch TABLES (≤ k rows).

    Output (id, value, hkey), the sketch rows."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    c = F.col(id_col).cast("string")
    return (
        df.select(
            F.col(id_col).alias("id"),
            v.cast("bigint").alias("value"),
            md5_int60(c).alias("hkey"),
        )
        .orderBy("hkey", "id")
        .limit(k)
    )


def merge_quantile_sketches(a: DataFrame, b: DataFrame, k: int = 256) -> DataFrame:
    """Merge two bottom-k sketches: union, keep the k smallest keys —
    exactly the sketch of the concatenated inputs (tested)."""
    return a.unionByName(b).orderBy("hkey", "id").limit(k)


def sketch_quantiles(sketch: DataFrame, qs: tuple[int, ...] = (50, 90, 99)) -> DataFrame:
    """Quantile estimates from a bottom-k sketch: value at rank
    ceil(q·n/100) over the ≤ k sketch rows (the group_quantiles rank
    convention — the same number every engine returns). The
    unpartitioned window is benign: it runs on ≤ k rows."""
    from pyspark.sql import Window

    # Window scale: runs on a bottom-k sketch, ≤ k rows total.
    w = Window.orderBy("value", "id")
    ranked = sketch.select(
        "value",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    )
    aggs = [
        F.max(
            F.when(F.col("rn") == F.expr(f"(n * {q} + 99) div 100"), F.col("value"))
        )
        .cast("bigint")
        .alias(f"p{q}")
        for q in qs
    ]
    return ranked.agg(F.count(F.lit(1)).cast("bigint").alias("n_sample"), *aggs)


def quantile_sketch_oracle_sql(
    table: str,
    value_expr: str,
    id_col: str,
    k: int = 256,
    qs: tuple[int, ...] = (50, 90, 99),
) -> str:
    """DuckDB twin: same md5 bottom-k, same discrete rank — exact."""
    hexfold = DUCK_MD5_HEXFOLD
    sels = ", ".join(
        f"MAX(CASE WHEN rn = (n * {q} + 99) // 100 THEN value END) AS p{q}"
        for q in qs
    )
    return f"""
    WITH keyed AS (
      SELECT id, value, {hexfold} AS hkey
      FROM (
        SELECT {id_col} AS id, CAST({value_expr} AS BIGINT) AS value,
               substr(md5(CAST({id_col} AS VARCHAR)), 1, 15) AS h
        FROM {table})
    ), sk AS (
      SELECT * FROM keyed ORDER BY hkey, id LIMIT {k}
    ), r AS (
      SELECT value, row_number() OVER (ORDER BY value, id) AS rn,
             COUNT(*) OVER () AS n
      FROM sk
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sample, {sels} FROM r
    """


def dataset_split(
    df: DataFrame,
    id_col: str,
    ratios_pm: dict[str, int],
) -> DataFrame:
    """Deterministic train/val/test assignment: ``md5_int60(id) % 1000``
    lands each row in a per-mille bucket, and cumulative ratio ranges
    map buckets to split names. Pure per-row expression — no shuffle,
    no RNG state, stable under any partitioning, repartition, or
    re-run (the property ``df.randomSplit`` lacks), and the SAME row
    keeps the SAME split as the corpus grows — the invariant that
    stops eval contamination when a pipeline re-runs on appended data.

    ``ratios_pm`` maps split name → per-mille share, summing to 1000.
    Output: df columns + ``split``."""
    total = sum(ratios_pm.values())
    if total != 1000:
        raise ValueError(f"ratios_pm must sum to 1000, got {total}")
    if any(v < 0 for v in ratios_pm.values()):
        raise ValueError("ratios_pm values must be non-negative")
    bucket = md5_int60(F.col(id_col).cast("string")) % 1000
    expr = None
    lo = 0
    for name, share in ratios_pm.items():
        cond = (bucket >= lo) & (bucket < lo + share)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
        lo += share
    return df.withColumn("split", expr)


def dataset_split_oracle_sql(
    table: str,
    id_col: str,
    ratios_pm: dict[str, int],
    cols: str = "*",
) -> str:
    """DuckDB twin — same md5 fold, same cumulative ranges."""
    hexfold = DUCK_MD5_HEXFOLD
    cases = []
    lo = 0
    for name, share in ratios_pm.items():
        cases.append(f"WHEN bucket >= {lo} AND bucket < {lo + share} THEN '{name}'")
        lo += share
    case = "CASE " + " ".join(cases) + " END"
    return f"""
    WITH keyed AS (
      SELECT {cols}, {hexfold} % 1000 AS bucket
      FROM (SELECT {cols}, substr(md5(CAST({id_col} AS VARCHAR)), 1, 15) AS h
            FROM {table})
    )
    SELECT {cols}, {case} AS split FROM keyed
    """


def group_cap_sample(
    df: DataFrame,
    group_col: str,
    id_col: str,
    cap: int,
) -> DataFrame:
    """Per-group document cap (RefinedWeb/C4-style per-domain limits):
    keep at most ``cap`` rows per group, chosen by the smallest
    md5-derived key — a deterministic uniform within-group sample, so
    over-represented domains are down-weighted without biasing toward
    any document property. Replayable and partitioning-invariant like
    every sampler in this module.

    One shuffle on the group key; within a group the window keeps cap
    rows. Skew note: a pathologically hot group serializes through one
    task's sort — for web-scale domain caps pre-aggregate with a
    two-level cap (salted local cap ≥ cap, then exact) if one group
    outweighs an executor.

    Output: df columns + ``keep_rank`` (1..cap)."""
    from pyspark.sql import Window

    if cap < 1:
        raise ValueError(f"cap must be >= 1, got {cap}")
    h = md5_int60(F.col(id_col).cast("string"))
    # Window scale: per-group cap via rank-filter; see the skew note
    # above — hot groups serialize one sort task and should be pre-
    # capped (salted local cap) at web scale.
    w = Window.partitionBy(group_col).orderBy(h.asc(), F.col(id_col).asc())
    return (
        df.withColumn("keep_rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("keep_rank") <= cap)
    )


def group_cap_sample_oracle_sql(
    table: str,
    group_col: str,
    id_col: str,
    cap: int,
    cols: str = "*",
) -> str:
    """DuckDB twin — same md5 order, same within-group row_number."""
    hexfold = DUCK_MD5_HEXFOLD
    return f"""
    WITH keyed AS (
      SELECT {cols}, {hexfold} AS hkey
      FROM (SELECT {cols}, substr(md5(CAST({id_col} AS VARCHAR)), 1, 15) AS h
            FROM {table})
    ), ranked AS (
      SELECT {cols},
             CAST(row_number() OVER (PARTITION BY {group_col}
                                     ORDER BY hkey ASC, {id_col} ASC) AS BIGINT)
               AS keep_rank
      FROM keyed
    )
    SELECT {cols}, keep_rank FROM ranked WHERE keep_rank <= {cap}
    """


def temperature_mixture(
    df: DataFrame,
    source_col: str,
    id_col: str,
    target_rows: int,
    alpha_pct: int = 50,
) -> DataFrame:
    """Temperature-smoothed source mixture (the multilingual-LM
    rebalance rule, XLM-R §3.1 / mT5: sample source s with probability
    ∝ p_s^α): small sources are up-weighted, dominant sources
    down-weighted, α=100 keeps natural proportions, α→0 approaches
    uniform. This computes per-source admit rates IN-PLAN from the
    observed counts and applies the module's replayable md5 per-mille
    gate — deterministic, partitioning-invariant, and hash-checkable
    because every float step (one sqrt-based pow, one division) is a
    single correctly-rounded IEEE op on both engines.

    α is expressed in percent; only α=50 (sqrt) and α=100 (identity)
    are exposed — they cover the published settings and keep the
    arithmetic to correctly-rounded primitives (a general pow() is NOT
    cross-engine bit-stable).

    rate_pm(s) = min(1000, 1000·target·w_s / (Σw · c_s)) with
    w_s = c_s^α — expected admitted ≈ target_rows distributed by the
    smoothed shares, capped at each source's full size.

    One scan for counts (map-side combined, |sources| rows), the
    rates broadcast back, gate is a per-row expression. Output: df
    columns (admitted rows only)."""
    if alpha_pct not in (50, 100):
        raise ValueError(f"alpha_pct must be 50 or 100, got {alpha_pct}")
    if target_rows < 1:
        raise ValueError(f"target_rows must be >= 1, got {target_rows}")
    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("_c"))
    w = F.sqrt(F.col("_c").cast("double")) if alpha_pct == 50 else F.col(
        "_c"
    ).cast("double")
    weighted = counts.select(source_col, "_c", w.alias("_w"))
    tot = weighted.agg(F.sum("_w").alias("_tw"))
    rates = (
        weighted.crossJoin(F.broadcast(tot))
        .select(
            source_col,
            F.least(
                F.lit(1000),
                F.floor(
                    F.lit(1000.0) * F.lit(float(target_rows)) * F.col("_w")
                    / (F.col("_tw") * F.col("_c").cast("double"))
                ).cast("bigint"),
            ).alias("_rate_pm"),
        )
    )
    gate = md5_int60(F.col(id_col).cast("string")) % 1000
    return (
        df.join(F.broadcast(rates), source_col)
        .where(gate < F.col("_rate_pm"))
        .drop("_rate_pm")
    )


def temperature_mixture_oracle_sql(
    table: str,
    source_col: str,
    id_col: str,
    target_rows: int,
    alpha_pct: int = 50,
    cols: str = "*",
) -> str:
    """DuckDB twin — same counts, same sqrt/identity weight, same
    floor'd per-mille rate, same md5 gate."""
    hexfold = DUCK_MD5_HEXFOLD
    w = "sqrt(CAST(_c AS DOUBLE))" if alpha_pct == 50 else "CAST(_c AS DOUBLE)"
    return f"""
    WITH counts AS (
      SELECT {source_col}, COUNT(*) AS _c FROM {table} GROUP BY {source_col}
    ), weighted AS (
      SELECT {source_col}, _c, {w} AS _w FROM counts
    ), tot AS (SELECT SUM(_w) AS _tw FROM weighted),
    rates AS (
      SELECT {source_col},
             LEAST(1000, CAST(floor(1000.0 * {float(target_rows)} * _w
                                    / (_tw * CAST(_c AS DOUBLE))) AS BIGINT))
               AS _rate_pm
      FROM weighted CROSS JOIN tot
    ), keyed AS (
      SELECT {cols}, {source_col} AS _src, {hexfold} % 1000 AS _gate
      FROM (SELECT {cols}, {source_col},
                   substr(md5(CAST({id_col} AS VARCHAR)), 1, 15) AS h
            FROM {table})
    )
    SELECT {cols}, k._src AS {source_col}
    FROM keyed k JOIN rates r ON k._src = r.{source_col}
    WHERE k._gate < r._rate_pm
    """


# ---------------------------------------------------------------------------
# WebDataset-style tar shard export
# ---------------------------------------------------------------------------


def wds_tar_shards(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n_shards: int = 8,
) -> DataFrame:
    """WebDataset-style export: pack each hash-assigned shard of the
    corpus into ONE in-memory ``.tar`` blob (the sample-per-member
    layout sequential trainers stream) — deterministic bytes: members
    ordered by id, USTAR format, zeroed mtime/uid/gid, fixed mode, so
    the same corpus yields bit-identical shards under any partitioning
    (tested). Shard assignment is the module's replayable md5 per-mille
    family (``md5_int60(id) % n_shards``).

    One shuffle (groupBy shard); each shard materializes in its task —
    size shards accordingly (the WebDataset convention is ~1 GB; at
    100 TB that's ~100k shards, each a bounded single-task build).

    The tar length is pure arithmetic over member sizes —
    Σ(512 + ceil(size/512)·512) + 1024, padded to the 10240-byte
    record — so the DECLARED stats (n_members, payload_bytes,
    tar_len) are SQL-verifiable while the byte-level container is
    pinned by round-trip tests. Returns (shard_id, n_members,
    payload_bytes, tar_len, tar_bytes)."""
    import io
    import tarfile

    import pandas as pd

    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("_id", ignore_index=True)
        buf = io.BytesIO()
        payload = 0
        with tarfile.open(
            fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT
        ) as tf:
            for _id, text in zip(pdf["_id"], pdf["_text"]):
                data = (text or "").encode("utf-8")
                info = tarfile.TarInfo(name=f"{_id}.txt")
                info.size = len(data)
                info.mtime = 0
                info.uid = info.gid = 0
                info.uname = info.gname = ""
                info.mode = 0o644
                tf.addfile(info, io.BytesIO(data))
                payload += len(data)
        blob = buf.getvalue()
        return pd.DataFrame(
            {
                "shard_id": [int(pdf["_shard"].iloc[0])],
                "n_members": [len(pdf)],
                "payload_bytes": [payload],
                "tar_len": [len(blob)],
                "tar_bytes": [blob],
            }
        )

    keyed = docs.select(
        F.col(id_col).alias("_id"),
        F.col(text_col).alias("_text"),
        (md5_int60(F.col(id_col).cast("string")) % n_shards).alias("_shard"),
    )
    return keyed.groupBy("_shard").applyInPandas(
        _pack,
        "shard_id bigint, n_members bigint, payload_bytes bigint, "
        "tar_len bigint, tar_bytes binary",
    )


def wds_tar_shards_oracle_sql(
    table: str,
    id_col: str,
    text_col: str,
    n_shards: int = 8,
) -> str:
    """DuckDB twin of the SQL-verifiable HALF of :func:`wds_tar_shards`
    (shard assignment + member counts + payload bytes + the USTAR
    length arithmetic); the tar container bytes themselves are pinned
    by round-trip tests, not SQL."""
    hexfold = DUCK_MD5_HEXFOLD
    return f"""
    WITH keyed AS (
      SELECT id, octet_length(encode(txt)) AS sz, {hexfold} % {n_shards} AS shard_id
      FROM (SELECT {id_col} AS id, {text_col} AS txt,
                   substr(md5(CAST({id_col} AS VARCHAR)), 1, 15) AS h
            FROM {table})
    ), per_shard AS (
      SELECT shard_id,
             COUNT(*) AS n_members,
             SUM(sz) AS payload_bytes,
             SUM(512 + ((sz + 511) // 512) * 512) AS member_blocks
      FROM keyed GROUP BY shard_id
    )
    SELECT shard_id, n_members,
           CAST(payload_bytes AS BIGINT) AS payload_bytes,
           CAST((((member_blocks + 1024) + 10239) // 10240) * 10240 AS BIGINT)
             AS tar_len
    FROM per_shard
    """


def quantile_sketch_grouped(
    df: DataFrame,
    group_col: str,
    value_col,
    id_col: str,
    k: int = 64,
) -> DataFrame:
    """Per-group bottom-k quantile sketch — the grouped sibling of
    :func:`quantile_sketch` (as :func:`hll_registers_by_group` is to
    the solo HLL): each group keeps its k smallest md5 keys, a
    mergeable uniform per-group sample for rank/quantile estimates,
    ≤ |groups|·k rows total. One shuffle on the group key; the window
    keeps k per group (group-partitioned — no global sort).
    Output (grp, id, value, hkey)."""
    from pyspark.sql import Window

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    keyed = df.select(
        F.col(group_col).alias("grp"),
        F.col(id_col).alias("id"),
        v.cast("bigint").alias("value"),
        md5_int60(F.col(id_col).cast("string")).alias("hkey"),
    )
    # Window scale: per-group bottom-k: rank-filter retains k rows per
    # group; dominant group = one spill-backed sort task (pre-cap with a
    # salted local bottom-k if a group outweighs an executor).
    w = Window.partitionBy("grp").orderBy(F.col("hkey").asc(), F.col("id").asc())
    return (
        keyed.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def quantile_sketch_grouped_oracle_sql(
    table: str,
    group_col: str,
    value_expr: str,
    id_col: str,
    k: int = 64,
) -> str:
    """DuckDB twin — same md5 order, same per-group row_number cut."""
    hexfold = DUCK_MD5_HEXFOLD
    return f"""
    WITH keyed AS (
      SELECT grp, id, value, {hexfold} AS hkey
      FROM (SELECT {group_col} AS grp, {id_col} AS id,
                   CAST({value_expr} AS BIGINT) AS value,
                   substr(md5(CAST({id_col} AS VARCHAR)), 1, 15) AS h
            FROM {table})
    ), ranked AS (
      SELECT grp, id, value, hkey,
             row_number() OVER (PARTITION BY grp
                                ORDER BY hkey ASC, id ASC) AS _rn
      FROM keyed
    )
    SELECT grp, id, value, hkey FROM ranked WHERE _rn <= {k}
    """


# ---------------------------------------------------------------------------
# Theta sketch — bottom-k distinct sketch with DIRECT set-operation
# estimates (union / intersection / difference), the capability HLL
# lacks: inclusion-exclusion on three HLL estimates compounds their
# errors and goes unusable for small intersections, while the Theta
# Sketch Framework (Dasgupta, Lang, Rhodes 2016) intersects the sketch
# SAMPLES themselves at a shared threshold.
# ---------------------------------------------------------------------------

THETA_ONE = 1 << 60  # hkey domain size == "theta = 1.0" as an integer


def theta_sketch(df: DataFrame, value_col, k: int = 64) -> DataFrame:
    """Bottom-k theta sketch of the DISTINCT values of ``value_col``:
    the k smallest 60-bit md5 keys, one row each. Deterministic
    (md5-keyed, no RNG), partitioning-invariant, and mergeable — the
    bottom-k of a union is the bottom-k of the parts' bottom-ks.

    Plan shape at 100 TB: partial-aggregate distinct map-side, then
    TakeOrderedAndProject — every partition forwards at most k keys and
    the driver never holds more than P·k candidates; the value column
    itself is never globally shuffled beyond the distinct.

    Output: (hkey bigint), ≤ k rows."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    return (
        df.where(v.isNotNull())
        .select(md5_int60(v.cast("string")).alias("hkey"))
        .distinct()
        .orderBy("hkey")
        .limit(k)
    )


def _theta_of(sketch: DataFrame, k: int, alias: str) -> DataFrame:
    """1-row threshold: the max retained key when the sketch is full
    (saturated), else THETA_ONE (the sketch IS the exact distinct set)."""
    return sketch.agg(
        F.when(F.count(F.lit(1)) == k, F.max("hkey"))
        .otherwise(F.lit(THETA_ONE))
        .cast("bigint")
        .alias(alias),
        F.count(F.lit(1)).cast("bigint").alias(f"n_{alias}"),
    )


def theta_set_ops(sk_a: DataFrame, sk_b: DataFrame, k: int) -> DataFrame:
    """Union / intersection / a-minus-b estimates from two bottom-k
    theta sketches. theta_u = min(theta_a, theta_b); every estimate
    counts sketch keys strictly below theta_u (for a saturated sketch
    that is the textbook k-1 retained entries) and scales by 1/theta_u:

        est_X = |{h in X : h < theta_u}| * 2^60 / theta_u

    All counting is exact int64; each estimate performs the SAME two
    double operations in Spark and the DuckDB twin (cast + one
    division), so results are bit-identical across engines.

    Output: 1 row (theta_long, n_union, n_intersect, n_a_only,
    est_union, est_intersect, est_a_only)."""
    a = sk_a.select(F.col("hkey").alias("hkey"), F.lit(1).alias("_a"))
    b = sk_b.select(F.col("hkey").alias("hkey"), F.lit(1).alias("_b"))
    ta = _theta_of(sk_a, k, "ta")
    tb = _theta_of(sk_b, k, "tb")
    th = ta.crossJoin(tb).select(
        F.least("ta", "tb").alias("theta_long")
    )
    merged = (
        a.join(b, "hkey", "full_outer")
        .crossJoin(F.broadcast(th))
        .where(F.col("hkey") < F.col("theta_long"))
    )
    scale = F.lit(float(THETA_ONE)) / F.col("theta_long").cast("double")
    return (
        merged.groupBy("theta_long")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_union"),
            F.sum(
                F.when(F.col("_a").isNotNull() & F.col("_b").isNotNull(), 1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("n_intersect"),
            F.sum(
                F.when(F.col("_a").isNotNull() & F.col("_b").isNull(), 1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("n_a_only"),
        )
        .select(
            "theta_long",
            "n_union",
            "n_intersect",
            "n_a_only",
            (F.col("n_union").cast("double") * scale).alias("est_union"),
            (F.col("n_intersect").cast("double") * scale).alias(
                "est_intersect"
            ),
            (F.col("n_a_only").cast("double") * scale).alias("est_a_only"),
        )
    )


def theta_set_ops_oracle_sql(
    values_a_cte: str, values_b_cte: str, k: int
) -> str:
    """DuckDB twin: identical md5 bottom-k sketches, identical
    threshold rule, identical double arithmetic. ``values_*_cte`` are
    CTE names each exposing one column ``v`` (VARCHAR)."""
    hexfold = DUCK_MD5_HEXFOLD

    def sk(src: str, name: str) -> str:
        return f"""{name}_keys AS (
      SELECT DISTINCT {hexfold} AS hkey
      FROM (SELECT substr(md5(v), 1, 15) AS h
            FROM {src} WHERE v IS NOT NULL)
    ), {name} AS (
      SELECT hkey FROM {name}_keys ORDER BY hkey LIMIT {k}
    ), {name}_th AS (
      SELECT CASE WHEN COUNT(*) = {k} THEN MAX(hkey)
                  ELSE CAST({THETA_ONE} AS BIGINT) END AS t
      FROM {name}
    )"""

    return f"""
    WITH {sk(values_a_cte, "ska")}, {sk(values_b_cte, "skb")},
    th AS (
      SELECT least(ska_th.t, skb_th.t) AS theta_long
      FROM ska_th, skb_th
    ), m AS (
      SELECT COALESCE(ska.hkey, skb.hkey) AS hkey,
             (ska.hkey IS NOT NULL) AS in_a,
             (skb.hkey IS NOT NULL) AS in_b
      FROM ska FULL OUTER JOIN skb ON ska.hkey = skb.hkey
    ), f AS (
      SELECT m.*, th.theta_long FROM m, th
      WHERE m.hkey < th.theta_long
    )
    SELECT theta_long,
           CAST(COUNT(*) AS BIGINT) AS n_union,
           CAST(SUM(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END) AS BIGINT)
             AS n_intersect,
           CAST(SUM(CASE WHEN in_a AND NOT in_b THEN 1 ELSE 0 END) AS BIGINT)
             AS n_a_only,
           CAST(COUNT(*) AS DOUBLE)
             * (CAST({THETA_ONE} AS DOUBLE) / CAST(theta_long AS DOUBLE))
             AS est_union,
           CAST(SUM(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END) AS DOUBLE)
             * (CAST({THETA_ONE} AS DOUBLE) / CAST(theta_long AS DOUBLE))
             AS est_intersect,
           CAST(SUM(CASE WHEN in_a AND NOT in_b THEN 1 ELSE 0 END) AS DOUBLE)
             * (CAST({THETA_ONE} AS DOUBLE) / CAST(theta_long AS DOUBLE))
             AS est_a_only
    FROM f GROUP BY theta_long
    """


def word_dropout(
    docs: DataFrame,
    drop_pm: int = 100,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Deterministic word-dropout augmentation — the classic
    noise-injection for robust text models (Iyyer et al. 2015 deep
    averaging networks; denoising pretraining objectives), engine-
    grade: each token occurrence is kept or dropped by an md5 fold of
    ``(doc, position, token)`` against a per-mille rate, so the SAME
    corpus always yields the SAME augmentation (replayable across
    re-runs and partitionings — ``F.rand`` is neither), and a token
    repeated in one doc drops independently per position.

    Returns (id, text_aug, n_kept, n_dropped); reassembly sorts the
    kept (pos, token) structs, so output text preserves original word
    order. Docs whose every token drops yield an empty string. Plan:
    posexplode → codegen hash filter → one grouped aggregation.

    Position parity note: leading/trailing whitespace is stripped with
    a regex (ALL ``\\s``, not ``trim``'s spaces-only) BEFORE splitting,
    so the raw split array has no leading empty token and 0-based
    positions match the oracle's filtered-list numbering even for text
    starting with a tab/newline (a leading empty token would shift
    every position by 1 and flip the md5 keep/drop decisions).
    """
    toks = F.posexplode(
        F.split(
            F.regexp_replace(F.col(text_col), r"^[ \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+$", ""), r"[ \t\n\x0B\f\r]+"
        )
    )
    base = (
        docs.select(F.col(id_col), toks.alias("_pos", "_tok"))
        .where(F.col("_tok") != "")
    )
    key = F.concat(
        F.col(id_col).cast("string"),
        F.lit(":"),
        F.col("_pos").cast("string"),
        F.lit(":"),
        F.col("_tok"),
    )
    kept = base.withColumn(
        "_keep", (md5_int60(key) % 1000 >= drop_pm).cast("int")
    )
    return (
        kept.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("_keep") == 1,
                                F.struct("_pos", "_tok"),
                            )
                        )
                    ),
                    lambda x: x["_tok"],
                ),
                " ",
            ).alias("text_aug"),
            F.sum("_keep").cast("bigint").alias("n_kept"),
            F.sum(F.lit(1) - F.col("_keep")).cast("bigint").alias("n_dropped"),
        )
    )


def word_dropout_oracle_sql(
    table: str = "documents",
    drop_pm: int = 100,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`word_dropout` — same per-(doc, pos, token)
    md5 fold (0-based positions), same order-preserving reassembly;
    same regex strip of ALL leading/trailing whitespace before the
    split (``trim`` strips only spaces in both engines)."""
    hexfold = DUCK_MD5_HEXFOLD
    return f"""
    WITH w AS (
      SELECT {id_col},
             list_filter(string_split_regex(
                 regexp_replace({text_col}, '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'),
                 '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> '') AS words
      FROM {table}
    ), tok AS (
      SELECT {id_col}, i - 1 AS pos, words[i] AS tok
      FROM w, unnest(range(1, len(words) + 1)) t(i)
    ), keyed AS (
      SELECT {id_col}, pos, tok,
             CASE WHEN {hexfold} % 1000 >= {drop_pm} THEN 1 ELSE 0 END
               AS keep
      FROM (SELECT *, substr(md5(CAST({id_col} AS VARCHAR) || ':' ||
                                 CAST(pos AS VARCHAR) || ':' || tok),
                             1, 15) AS h
            FROM tok)
    )
    SELECT {id_col},
           COALESCE(string_agg(CASE WHEN keep = 1 THEN tok END, ' '
                               ORDER BY pos), '') AS text_aug,
           CAST(SUM(keep) AS BIGINT) AS n_kept,
           CAST(SUM(1 - keep) AS BIGINT) AS n_dropped
    FROM keyed
    GROUP BY {id_col}
    """


def doremi_reweight(
    docs: DataFrame,
    eta: float = 1.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    domain_col: str = "source",
) -> DataFrame:
    """DoReMi-style domain mixture reweighting (Xie et al. 2023,
    arXiv:2305.10429, one exponentiated-gradient step): upweight the
    domains a reference model finds HARD. The per-domain difficulty
    here is the average unigram surprisal of its tokens under the
    whole-corpus token distribution — the engine-grade stand-in for
    per-domain reference loss (swap in real LM losses per domain when
    a model is available; only the loss CTE changes).

    w_s ∝ exp(η · (L_s − min_t L_t)), normalized to per-mille-of-1e9.
    Hash-grade discipline end to end: per-token surprisal terms are
    nano-quantized BEFORE the per-domain sum; each domain's
    exponential is nano-quantized BEFORE the normalizing sum (both
    order-insensitive); the final weight is integer division. The
    domain table is category-sized, so the min/total joins are 1-row
    broadcast crossJoins (audit-allowlisted).

    Returns (domain, n_tokens, loss_sum_nano, weight_nano) with
    Σ weight_nano ≈ 1e9 (floor division remainder ≤ n_domains).
    """
    tok = F.explode(
        F.split(F.regexp_replace(F.lower(F.col(text_col)), r"^[ \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+$", ""), r"[ \t\n\x0B\f\r]+")
    ).alias("token")
    toks = docs.select(
        F.col(domain_col).alias("domain"), tok
    ).where(F.col("token") != "")
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("_c"))
    total = toks.count()  # scalar: corpus token count
    surprisal_q = F.round(
        -F.log(F.col("_c").cast("double") / F.lit(float(total))) * 1_000_000_000
    ).cast("bigint")
    per_domain = (
        toks.join(counts, "token")
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum(surprisal_q).cast("bigint").alias("loss_sum_nano"),
        )
        .withColumn(
            "_avg",
            (F.col("loss_sum_nano").cast("double") / F.lit(1e9))
            / F.col("n_tokens").cast("double"),
        )
    )
    lo = per_domain.agg(F.min("_avg").alias("_lo"))
    scored = per_domain.crossJoin(F.broadcast(lo)).withColumn(
        "_e_q",
        F.round(
            F.exp(F.lit(float(eta)) * (F.col("_avg") - F.col("_lo")))
            * 1_000_000_000
        ).cast("bigint"),
    )
    norm = scored.agg(F.sum("_e_q").alias("_z"))
    return (
        scored.crossJoin(F.broadcast(norm))
        .select(
            "domain",
            "n_tokens",
            "loss_sum_nano",
            # divide-then-scale in DOUBLE: e_q·1e9 would overflow int64
            F.floor(
                F.col("_e_q").cast("double")
                / F.col("_z").cast("double")
                * F.lit(1_000_000_000.0)
            )
            .cast("bigint")
            .alias("weight_nano"),
        )
    )


def doremi_reweight_oracle_sql(
    table: str = "documents",
    eta: float = 1.0,
    text_col: str = "text",
    domain_col: str = "source",
) -> str:
    """DuckDB twin of :func:`doremi_reweight` — same quantize-before-
    sum at both reductions, same integer normalization."""
    tok_list = (
        f"list_filter(string_split_regex(trim(lower({text_col})),"
        " '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> '')"
    )
    return f"""
    WITH toks AS (
      SELECT {domain_col} AS domain, unnest({tok_list}) AS token
      FROM {table}
    ), counts AS (
      SELECT token, COUNT(*) AS c FROM toks GROUP BY token
    ), total AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS t FROM toks
    ), per_domain AS (
      SELECT domain,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(CAST(round(
               -ln(CAST(c AS DOUBLE) / (SELECT t FROM total))
               * 1000000000) AS BIGINT)) AS BIGINT) AS loss_sum_nano
      FROM toks JOIN counts USING (token)
      GROUP BY domain
    ), avgd AS (
      SELECT *,
             (CAST(loss_sum_nano AS DOUBLE) / 1e9)
               / CAST(n_tokens AS DOUBLE) AS avg
      FROM per_domain
    ), lo AS (SELECT MIN(avg) AS lo FROM avgd),
    scored AS (
      SELECT *,
             CAST(round(exp({float(eta)} * (avg - (SELECT lo FROM lo)))
                        * 1000000000) AS BIGINT) AS e_q
      FROM avgd
    ), z AS (SELECT CAST(SUM(e_q) AS BIGINT) AS z FROM scored)
    SELECT domain, n_tokens, loss_sum_nano,
           CAST(floor(CAST(e_q AS DOUBLE)
                      / CAST((SELECT z FROM z) AS DOUBLE)
                      * 1000000000.0) AS BIGINT) AS weight_nano
    FROM scored
    """


def dedup_savings(
    clusters: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    size_col: str = "n_chars",
) -> DataFrame:
    """Dedup PLANNING report from a cluster assignment: what does
    keeping one canonical document per near-dup cluster actually save?
    The capacity question every 100 TB dedup run answers BEFORE paying
    for the rewrite — grouped by cluster size so the long tail of
    singletons (savings 0) is separated from the big clusters that
    carry the savings.

    ``clusters`` is (id, cluster_id) from :func:`dup_clusters` (the
    canonical kept doc IS the cluster_id — min-label closure); per
    cluster-size bucket: number of clusters, docs, total ``size_col``
    mass, and the mass saved by dropping every non-canonical member.
    Two grouped aggregations (cluster → size bucket), both map-side
    combinable; the join to ``docs`` is keyed on the id.
    """
    sized = (
        clusters.join(docs.select(id_col, size_col), id_col)
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.sum(size_col).cast("bigint").alias("_chars"),
            F.sum(
                F.when(F.col(id_col) != F.col("cluster_id"), F.col(size_col))
                .otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("_saved"),
        )
    )
    return sized.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        F.sum("cluster_size").cast("bigint").alias("n_docs"),
        F.sum("_chars").cast("bigint").alias("chars_total"),
        F.sum("_saved").cast("bigint").alias("chars_saved"),
    )


def token_budget_select(
    scored: DataFrame,
    group_col: str,
    order_cols: list,
    token_col: str,
    budget: int,
    method: str = "two_pass",
    n_parts: int = 32,
) -> DataFrame:
    """Per-group best-first selection under a token budget — the CCNet
    / data-mix step after quality scoring: take each group's rows in
    quality order while the INCLUSIVE running ``token_col`` sum stays
    ≤ ``budget`` (so the kept set is the longest quality-ordered
    prefix that fits; one document never straddles the budget).
    Deterministic given ``order_cols`` is a total order within each
    group — the kept SET is then hash-grade, not just its size.

    Adds ``tok_cum`` (the inclusive running sum) to the kept rows.

    ``method="window"`` (opt-in, for bounded-group inputs): ``SUM()
    OVER (PARTITION BY group ORDER BY order ROWS UNBOUNDED
    PRECEDING)`` — one window task per group, the dominant-group
    class. ``method="two_pass"`` (default) routes through
    :func:`~beis_orp_data_service_spark.operators.ranks.
    grouped_prefix_sums` (range-partition + distributed per-(group,
    partition) offsets) — identical kept set, task state bounded by
    ~N/``n_parts`` at any group skew.
    """
    if budget < 0:
        raise ValueError(f"budget must be >= 0: {budget}")
    if method not in ("window", "two_pass"):
        raise ValueError(f"token_budget_select: unknown method {method!r}")
    if method == "two_pass":
        from beis_orp_data_service_spark.operators.ranks import (
            grouped_prefix_sums,
        )

        cum = grouped_prefix_sums(
            scored,
            [group_col],
            list(order_cols),
            [token_col],
            n_parts=n_parts,
            label="budget",
        ).withColumnRenamed(f"{token_col}_cum", "tok_cum")
    else:
        from pyspark.sql.window import Window

        w = (
            Window.partitionBy(group_col)
            .orderBy(*order_cols)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        cum = scored.withColumn(
            "tok_cum", F.sum(token_col).over(w).cast("bigint")
        )
    return cum.where(F.col("tok_cum") <= budget)
