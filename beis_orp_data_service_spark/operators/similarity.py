"""Similarity search over embedding columns — ANN for training-data
pipelines (engine extension beyond the reference; SURVEY §2 notes the
reference's only vector op is signature cosine, check_duplicate.py:128-151).

Two tiers:
- ``cosine_topk``: brute-force top-k — the correctness baseline. Query
  set is broadcast; the scan side never shuffles; per-partition top-k
  then global merge (TakeOrderedAndProject shape per query via window).
- ``ivf_topk``: IVF-style bucketed search — the scale path. Vectors are
  assigned to a coarse bucket by sign-pattern of leading components
  (a data-independent LSH — no trained centroids needed); queries probe
  only their own bucket. At 100 TB this turns a full scan into a
  1/2^bits partition-pruned scan at some recall cost.

Quantized-integer variants (``*_q``) make scores int64-exact for the
DuckDB oracle: q(x) = round(1000·x); score = Σ q(a_i)·q(b_i).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from beis_orp_data_service_spark.checkpointing import stage_checkpoint

from beis_orp_data_service_spark.operators.dedup import cosine_sim


def _quantize(col: Column, factor: int = 1000) -> Column:
    return F.transform(col, lambda x: F.round(x.cast("double") * factor).cast("bigint"))


def _quantize_np(v, factor: int = 100) -> "np.ndarray":
    """numpy twin of :func:`_quantize`'s rounding: Spark ``F.round`` and
    DuckDB ``round`` are HALF-UP (away from zero on .5), but
    ``np.round`` is banker's half-to-even — np.round(12.5)=12 vs
    round(12.5)=13 — which would silently break kernel↔expression↔
    oracle bit-parity on any component landing exactly on a half
    (e.g. 0.125·100). floor(|x|) + (|x|−floor(|x|) ≥ 0.5) reproduces
    HALF-UP *exactly*: the naive floor(|x|+0.5) rounds up one ulp early
    (0.49999999999999994+0.5 == 1.0 in FP) where BigDecimal/DuckDB
    round down; the subtraction form is exact for |x| < 2⁵²."""
    x = np.asarray(v, dtype=np.float64) * factor
    ax = np.abs(x)
    f = np.floor(ax)
    q = f + (ax - f >= 0.5)
    return (np.sign(x) * q).astype(np.int64)


def dot_q(a: Column, b: Column) -> Column:
    """Integer dot product over quantized vectors — exact in int64."""
    return F.aggregate(
        F.zip_with(_quantize(a), _quantize(b), lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    quantized: bool = True,
) -> DataFrame:
    """Brute-force top-k neighbors for each query vector.

    ``queries`` is small (broadcast); scoring is a projection over the
    big side; ranking is a per-query-key window (shuffle on query_id,
    k rows kept per partition before merge).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    t = embeddings.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("tvec")
    )
    scored = (
        t.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "score",
            dot_q(F.col("qvec"), F.col("tvec"))
            if quantized
            else cosine_sim(F.col("qvec"), F.col("tvec")),
        )
    )
    # Window scale: partition key query_id; rows per task = one query's
    # theta-join candidates, k retained.
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def sign_bucket(vec_col: Column | str, bits: int = 4) -> Column:
    """Data-independent coarse bucket: sign pattern of the first
    ``bits`` components, packed into an int. An LSH family for cosine
    similarity (random-hyperplane with axis-aligned planes).

    Spelled as an UNROLLED sum of power-of-two terms (``bits`` is a
    plan-time constant ≤ 16) instead of an ``F.aggregate`` fold: Spark
    evaluates higher-order-function lambdas interpreted per element,
    while the unrolled arithmetic stays inside WholeStageCodegen. The
    fold computed ``((0·2+b₀)·2+b₁)·2+…`` = ``Σ bⱼ·2^(bits-1-j)`` over
    exact bigints — identical values (equality-pinned in
    tests/test_similarity.py)."""
    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    out = F.lit(0).cast("bigint")
    for j in range(bits):
        out = out + (
            F.when(F.element_at(c, j + 1) >= 0, F.lit(1 << (bits - 1 - j)))
            .otherwise(F.lit(0))
            .cast("bigint")
        )
    return out


def auto_bits(
    n_rows: int, target_bucket_rows: int = 4096, lo: int = 4, hi: int = 16
) -> int:
    """Bucket-width scaling: enough sign bits that an average bucket
    holds ~``target_bucket_rows`` vectors. A fixed ``bits`` is a scale
    ceiling (bits=4 → 16 buckets → N/16 vectors per pandas group, which
    is unbounded growth); scaling with table size keeps per-bucket work
    roughly constant as the table grows 100×. Clamped to [lo, hi]
    (hi=16 → 65,536 buckets; the per-bucket Gram is additionally
    memory-bounded by the tiled kernel regardless of bucket size).
    ``bits`` may not exceed the embedding dimension for the
    axis-aligned family — callers pass hi=dim when dim < 16.
    """
    import math

    if n_rows <= target_bucket_rows:
        return lo
    return max(lo, min(hi, math.ceil(math.log2(n_rows / target_bucket_rows))))


def ivf_sign_table(
    embeddings: DataFrame, id_col: str, vec_col: str, bits: int
) -> DataFrame:
    """The sign-LSH-bucketed corpus table ``(neighbor_id, tvec,
    bucket)`` that :func:`ivf_topk` scores against — exposed so callers
    running SEVERAL probe configurations over one corpus (a recall
    report's single-probe and multiprobe arms) can materialize it once
    and pass it back via ``corpus_buckets``."""
    return embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("tvec"),
        sign_bucket(vec_col, bits).alias("bucket"),
    )


def ivf_assign_table(
    embeddings: DataFrame, id_col: str, vec_col: str, centroids: "np.ndarray"
) -> DataFrame:
    """The kmeans-IVF-assigned corpus table ``(neighbor_id, tvec,
    bucket)`` that :func:`ivf_kmeans_topk` scores against — exposed so
    callers running several ``nprobe`` operating points over one corpus
    can materialize the (full-table Arrow) assignment pass once and
    pass it back via ``assigned``."""
    assign1 = _nearest_centroids_udf(
        np.asarray(centroids, dtype=np.float64), 1
    )
    return embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("tvec"),
        F.element_at(assign1(F.col(vec_col)), 1).alias("bucket"),
    )


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    bits: int | str = 4,
    multiprobe: bool = True,
    n_rows: int | None = None,
    corpus_buckets: DataFrame | None = None,
) -> DataFrame:
    """IVF/LSH-bucketed top-k: score only vectors in the query's bucket(s).

    ``bits="auto"`` scales the bucket count with the table size
    (``auto_bits``) — a fixed bits=4 prunes at best 1/16 of the scan,
    which stops being a useful ceiling as the table grows.

    The bucket id becomes the join key — with the embedding table
    written partitioned by bucket, Catalyst prunes all other partitions
    from the scan. ``multiprobe`` additionally probes every bucket at
    Hamming distance 1 from the query's (bits+1 probes ≈ (bits+1)/2^bits
    of the data scanned) — the standard LSH recall boost when vector
    mass isn't axis-aligned. Recall < 1 by construction; tests measure
    it against cosine_topk.

    Pass ``n_rows`` when the table size is known (catalog statistics, a
    prior count) — otherwise ``bits="auto"`` costs one extra sizing
    scan before the real job.

    ``corpus_buckets``: a pre-signed corpus table
    ``(neighbor_id, tvec, bucket)`` exactly as this function builds it
    (same ``bits``) — pass when several probe configurations share one
    corpus (e.g. single-probe and multiprobe arms of a recall report)
    so the corpus signing scan runs once, not per configuration."""
    if bits == "auto" and corpus_buckets is not None:
        raise ValueError(
            "corpus_buckets requires the explicit int bits the table was "
            "signed with, not 'auto'"
        )
    if bits == "auto":
        bits = auto_bits(n_rows if n_rows is not None else embeddings.count())
    probe = sign_bucket(vec_col, bits)
    if multiprobe:
        probes = F.array(probe, *[probe.bitwiseXOR(F.lit(1 << j)) for j in range(bits)])
    else:
        probes = F.array(probe)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        F.explode(probes).alias("bucket"),
    )
    t = (
        corpus_buckets
        if corpus_buckets is not None
        else ivf_sign_table(embeddings, id_col, vec_col, bits)
    )
    scored = (
        t.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("score", dot_q(F.col("qvec"), F.col("tvec")))
    )
    # Window scale: partition key query_id; candidates per query bounded
    # by the probed buckets, k retained.
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def kmeans_centroids(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    n_centroids: int = 16,
    seed: int = 7,
    sample_rows: int = 100_000,
    max_iter: int = 10,
    n_rows: int | None = None,
) -> np.ndarray:
    """Train the IVF coarse quantizer: MLlib k-means over a bounded
    sample of the table (FAISS-style — the quantizer needs only a
    representative sample, so fit cost is O(sample), not O(table),
    at any scale). Returns the (n_centroids, dim) centroid matrix."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    n = n_rows if n_rows is not None else embeddings.count()
    train = embeddings
    if n > sample_rows:
        train = embeddings.sample(fraction=sample_rows / n, seed=seed)
    ds = train.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    )
    model = KMeans(k=n_centroids, seed=seed, maxIter=max_iter).fit(ds)
    return np.array([np.asarray(c) for c in model.clusterCenters()])


def _nearest_centroids_udf(
    centroids: np.ndarray, nprobe: int, deterministic: bool = False
):
    """Arrow-batched assignment: for each vector the ``nprobe`` nearest
    centroids by L2 (argmin of -2xCᵀ + ||c||²; ||x||² is rank-invariant).
    The centroid matrix rides inside the UDF closure — broadcast once
    per executor, numpy matmul per batch.

    ``deterministic`` trades two optimizer behaviors that both hinge on
    Catalyst's right to clone the expression: False (default) stops the
    implied join-key null filter from re-evaluating the assignment pass
    (duplicate stacked ArrowEvalPython); True permits cloning, which
    dynamic partition pruning NEEDS to push the probe's bucket set into
    a partitioned scan (``ann_index_probe``). The UDF's value is
    deterministic either way."""
    c_t = centroids.T.astype(np.float64)
    c_norm = (centroids.astype(np.float64) ** 2).sum(axis=1)[None, :]

    @F.pandas_udf("array<long>")
    def probes(vecs: pd.Series) -> pd.Series:
        m = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        d = -2.0 * (m @ c_t) + c_norm
        idx = np.argsort(d, axis=1, kind="stable")[:, :nprobe]
        return pd.Series(list(idx))

    return probes if deterministic else probes.asNondeterministic()


def ivf_kmeans_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int | str = "auto",
    nprobe: int = 4,
    seed: int = 7,
    n_rows: int | None = None,
    centroids: "np.ndarray | None" = None,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """True IVF top-k: a TRAINED k-means coarse quantizer instead of
    the data-independent sign-LSH of ``ivf_topk``.

    ``assigned``: a pre-assigned corpus table
    ``(neighbor_id, tvec, bucket)`` exactly as this function builds it
    (same centroids) — pass when several ``nprobe`` operating points
    share one corpus so the full-table Arrow assignment pass runs
    once, not per operating point. Requires ``centroids`` (the query
    probe must use the same quantizer the table was assigned with).

    ``centroids`` injects a precomputed (n_cells, dim) quantizer matrix
    and skips the fit — the oracle-replay hook: with integer-valued
    vectors AND centroids, every assignment distance is integer
    arithmetic carried exactly in float64 (sums of exact products stay
    under 2^53), so the whole probe — assignment, probing, quantized
    scoring, ranking — is bit-replayable in SQL while running the SAME
    Arrow assignment kernel and plan as the trained path.

    Each table vector is assigned to its nearest centroid (map-only
    Arrow pass, centroids in the UDF closure); each query probes its
    ``nprobe`` nearest cells. ``n_centroids="auto"`` ≈ √N, so the
    scanned fraction ≈ nprobe/√N SHRINKS as the table grows — the
    sign-LSH variant's fixed 2^bits cell count was a pruning ceiling
   ; this is the standard remedy (FAISS IVF-Flat design).
    At 100 TB: write the table partitioned by ``bucket`` and Catalyst
    prunes unprobed cells from the scan entirely; re-fit the quantizer
    only on drift, not per query. Recall < 1 by construction —
    recall-tested against ``cosine_topk`` ground truth. Pass ``n_rows``
    when known to skip the sizing scan."""
    import math

    if assigned is not None and centroids is None:
        raise ValueError("assigned requires centroids (same quantizer)")
    if centroids is not None:
        cents = np.asarray(centroids, dtype=np.float64)
    else:
        n = n_rows if n_rows is not None else embeddings.count()
        if n_centroids == "auto":
            n_centroids = max(4, min(65_536, math.isqrt(n)))
        cents = kmeans_centroids(
            embeddings, vec_col, n_centroids, seed=seed, n_rows=n
        )
    probe_n = _nearest_centroids_udf(cents, nprobe)
    t = (
        assigned
        if assigned is not None
        else ivf_assign_table(embeddings, id_col, vec_col, cents)
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        F.explode(probe_n(F.col(vec_col))).alias("bucket"),
    )
    scored = (
        t.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("score", dot_q(F.col("qvec"), F.col("tvec")))
    )
    # Window scale: partition key query_id; candidates per query bounded
    # by nprobe cells, k retained.
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def embedding_dup_pairs(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sim2_milli_threshold: int = 250,
    bits: int | str = 4,
    block_size: int = 2048,
    n_rows: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, integer-exact — grouped
    matrix form: vectors are bucketed by sign-LSH, and each bucket is
    handed to a numpy kernel (applyInPandas) that computes the pairwise
    Gram products Q·Qᵀ. Same int64 arithmetic as the expression form
    (``embedding_dup_pairs_sql``): sim²(per-mille) =
    (dot_q²·1000) DIV (|a|²·|b|²) for dot_q > 0, quantization 100.

    Scale shape, both axes bounded:

    - **bucket count** scales with table size — pass ``bits="auto"``
      to pick ``auto_bits(count)`` so an average bucket stays ~4k
      vectors as the table grows (a fixed 4 bits means N/16 vectors in
      one pandas group — a driver-sized buffer at 100 TB).
    - **kernel memory** is bounded regardless of bucket size: the Gram
      is computed in ``block_size``×``block_size`` tiles (default 2048
      → ≤32 MiB of int64 per tile plus two row-blocks), never the full
      N×N matrix. A pathological bucket degrades to more tiles, not
      more memory.

    One shuffle on bucket; per-tile work is a dense BLAS matmul instead
    of per-pair interpreted lambdas (~30× faster); residual bucket skew
    is AQE-splittable since output rows stream per tile.
    """
    out_schema = "a_id bigint, b_id bigint, sim2_milli bigint"
    if bits == "auto":
        bits = auto_bits(n_rows if n_rows is not None else embeddings.count())

    def _pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy()
        n_rows = len(ids)
        q = np.stack([_quantize_np(v) for v in pdf["vec"]])
        norms2 = (q * q).sum(axis=1)
        outs: list[pd.DataFrame] = []
        for i0 in range(0, n_rows, block_size):
            qi = q[i0 : i0 + block_size]
            for j0 in range(i0, n_rows, block_size):
                g = qi @ q[j0 : j0 + block_size].T  # one bounded tile
                if i0 == j0:
                    iu, ju = np.triu_indices(g.shape[0], k=1)
                else:
                    iu, ju = np.indices(g.shape).reshape(2, -1)
                gi, gj = iu + i0, ju + j0
                # canonical pair order (a_id < b_id) whatever the frame order
                a, b = ids[gi].copy(), ids[gj].copy()
                swap = a > b
                a[swap], b[swap] = b[swap], a[swap]
                dot = g[iu, ju]
                denom = norms2[gi] * norms2[gj]
                ok = (dot > 0) & (denom > 0)
                sim2 = np.zeros_like(dot)
                sim2[ok] = (dot[ok] * dot[ok] * 1000) // denom[ok]
                keep = sim2 >= sim2_milli_threshold
                if keep.any():
                    outs.append(
                        pd.DataFrame(
                            {"a_id": a[keep], "b_id": b[keep], "sim2_milli": sim2[keep]}
                        )
                    )
        if not outs:
            return pd.DataFrame(
                {
                    "a_id": np.array([], dtype=np.int64),
                    "b_id": np.array([], dtype=np.int64),
                    "sim2_milli": np.array([], dtype=np.int64),
                }
            )
        return pd.concat(outs, ignore_index=True)

    v = embeddings.select(
        F.col(id_col),
        F.col(vec_col).alias("vec"),
        sign_bucket(vec_col, bits).alias("bucket"),
    )
    return v.groupBy("bucket").applyInPandas(_pairs, out_schema)


def _semdedup_assign_exact(
    embeddings: DataFrame, id_col: str, vec_col: str, n_clusters: int
) -> DataFrame:
    """Deterministic integer-exact assignment stage shared by
    :func:`semdedup` and :func:`semdedup_expr`: the coarse quantizer is
    the ``n_clusters`` vectors with the smallest ids; assignment is
    argmin quantized-L2 (d² = |q_x|² − 2·q_x·q_c + |q_c|², int64, ties
    to the lower centroid id). Centroids are broadcast (k rows); the
    crossJoin is a map-only projection followed by one min-struct
    groupBy on the vector id (map-side combined)."""
    v = embeddings.select(F.col(id_col), F.col(vec_col).alias("vec"))
    cent = (
        v.orderBy(id_col)
        .limit(n_clusters)
        .select(F.col(id_col).alias("cid"), F.col("vec").alias("cvec"))
    )
    qx, qc = _quantize(F.col("vec"), 100), _quantize(F.col("cvec"), 100)
    dot_xc = F.aggregate(
        F.zip_with(qx, qc, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda s, x: s + x,
    )
    nx = F.aggregate(
        F.transform(qx, lambda x: x * x), F.lit(0).cast("bigint"), lambda s, x: s + x
    )
    nc = F.aggregate(
        F.transform(qc, lambda x: x * x), F.lit(0).cast("bigint"), lambda s, x: s + x
    )
    return (
        v.crossJoin(F.broadcast(cent))
        .select(
            F.col(id_col),
            F.col("vec"),
            F.col("cid"),
            (nx - 2 * dot_xc + nc).alias("d2"),
        )
        .groupBy(id_col)
        .agg(
            F.min(F.struct("d2", "cid")).alias("best"),
            F.first("vec").alias("vec"),
        )
        .select(
            F.col(id_col), F.col("best.cid").alias("cluster_id"), F.col("vec")
        )
    )


def semdedup(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int | str = 8,
    sim2_milli_threshold: int = 900,
    block_size: int = 2048,
    seed: int = 7,
    n_rows: int | None = None,
    centroids: "np.ndarray | None" = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): cluster the embedding
    space, then drop every document whose embedding is near-identical to
    an earlier document IN THE SAME CLUSTER — pairwise similarity is
    only ever computed within a cluster, never across the corpus.
    Output one row per vector: ``(id, cluster_id, is_dup)``.

    Two quantizers, one pair kernel:

    - ``n_clusters=<int>``: deterministic coarse quantizer — the k
      smallest-id vectors — with integer-exact argmin quantized-L2
      assignment (ties to the lower centroid id). This is the
      oracle-replayable declared form; DuckDB recomputes it bit-for-bit
      (:func:`semdedup_oracle_sql`).
    - ``n_clusters="auto"``: the production quantizer — MLlib k-means
      (:func:`kmeans_centroids`) with k ≈ √N cells, sample-bounded fit,
      Arrow-batched nearest-centroid assignment (map-only; centroid
      matrix in the UDF closure). With k ∼ √N a cluster stays ~√N rows
      at any corpus size, so per-cluster pair work grows ~linearly, not
      quadratically, as the table grows.

    The pair stage is a per-cluster tiled Gram kernel (applyInPandas,
    one shuffle on ``cluster_id``): within each cluster the vectors are
    sorted by id, quantized q = round(100·v) int64, and the dup rule —
    exists a lower-id cluster-mate with quantized cosine²(per-mille)
    ≥ threshold, sim² = (dot²·1000) // (|a|²·|b|²), dot > 0 — is
    evaluated over ``block_size``² Gram tiles (dense BLAS matmuls,
    bounded memory whatever the cluster size). Identical int64
    arithmetic to the expression form :func:`semdedup_expr`, which is
    kept as the no-Python small-n twin (equality-tested); the kernel
    replaces ~N²/k interpreted array-lambda folds with matmuls (the
    expression form measured 64.9s at sf0.1 on exactly that).

    Integer-exactness precondition: dim·(100·|x|_max)² < 2³¹ and
    dot²·1000 < 2⁶³ — holds for unit-ish embeddings up to ~4k dims in
    the kernel (int64 throughout); the expression twin further needs
    dot²·1000 < 2⁵³ (Spark ``/`` is double division before the cast).
    """
    if n_clusters == "auto" or centroids is not None:
        # ``centroids`` injects a precomputed quantizer matrix into the
        # production (Arrow float-assignment) branch — the oracle-replay
        # hook: integer-valued vectors + centroids make every assignment
        # distance exact in float64, so the trained path's plan becomes
        # bit-replayable in SQL (same UDF, same pair kernel).
        if centroids is not None:
            cents = np.asarray(centroids, dtype=np.float64)
        else:
            import math

            n = n_rows if n_rows is not None else embeddings.count()
            k = max(4, min(65_536, math.isqrt(n)))
            cents = kmeans_centroids(
                embeddings, vec_col, k, seed=seed, n_rows=n
            )
        assign1 = _nearest_centroids_udf(cents, 1)
        assigned = embeddings.select(
            F.col(id_col),
            F.element_at(assign1(F.col(vec_col)), 1).alias("cluster_id"),
            F.col(vec_col).alias("vec"),
        )
    else:
        # deterministic quantizer, Arrow form: the k smallest-id vectors
        # are collected once (k rows, same driver footprint as a trained
        # centroid matrix) and the integer argmin-L2 runs as an int64
        # numpy matmul — bit-identical to the expression assignment of
        # semdedup_expr (d² = |q|² − 2·q·Cᵀ + |c|², ties to the lower
        # cid via first-occurrence argmin over ascending cids), without
        # its per-row interpreted array-lambda folds
        cent_rows = (
            embeddings.select(F.col(id_col), F.col(vec_col))
            .orderBy(id_col)
            .limit(n_clusters)
            .collect()
        )
        cids = np.array([r[0] for r in cent_rows], dtype=np.int64)
        c_q = np.stack([_quantize_np(r[1]) for r in cent_rows])
        c_norm = (c_q * c_q).sum(axis=1)

        @F.pandas_udf("bigint")
        def _assign(vecs: pd.Series) -> pd.Series:
            q = np.stack([_quantize_np(v) for v in vecs])
            d2 = (q * q).sum(axis=1)[:, None] - 2 * (q @ c_q.T) + c_norm[None, :]
            return pd.Series(cids[np.argmin(d2, axis=1)])

        assigned = embeddings.select(
            F.col(id_col),
            _assign(F.col(vec_col)).alias("cluster_id"),
            F.col(vec_col).alias("vec"),
        )

    out_schema = f"{id_col} bigint, cluster_id bigint, is_dup bigint"

    def _flags(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids_s = ids[order]
        q = np.stack([_quantize_np(v) for v in pdf["vec"].iloc[order]])
        norms2 = (q * q).sum(axis=1)
        n_rows = len(ids_s)
        dup = np.zeros(n_rows, dtype=bool)
        for j0 in range(0, n_rows, block_size):
            j1 = min(j0 + block_size, n_rows)
            qj = q[j0:j1]
            hit = np.zeros(j1 - j0, dtype=bool)
            for i0 in range(0, j1, block_size):
                i1 = min(i0 + block_size, j1)
                g = q[i0:i1] @ qj.T  # one bounded tile
                denom = norms2[i0:i1, None] * norms2[j0:j1][None, :]
                ok = (g > 0) & (denom > 0)
                sim2 = np.zeros_like(g)
                sim2[ok] = (g[ok] * g[ok] * 1000) // denom[ok]
                near = sim2 >= sim2_milli_threshold
                if i1 > j0:  # tile touches the diagonal: enforce i < j
                    li = np.arange(i0, i1)[:, None]
                    lj = np.arange(j0, j1)[None, :]
                    near &= li < lj
                hit |= near.any(axis=0)
            dup[j0:j1] = hit
        return pd.DataFrame(
            {
                id_col: ids_s,
                "cluster_id": np.full(n_rows, pdf["cluster_id"].iloc[0], dtype=np.int64)
                if n_rows
                else np.array([], dtype=np.int64),
                "is_dup": dup.astype(np.int64),
            }
        )

    return assigned.groupBy("cluster_id").applyInPandas(_flags, out_schema)


def semdedup_expr(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 8,
    sim2_milli_threshold: int = 900,
) -> DataFrame:
    """Pure-expression twin of :func:`semdedup` (deterministic quantizer
    only): within-cluster expression self-join with array-lambda int64
    cosine² — identical results, no Python workers. Kept as the small-n
    reference implementation and equality-test oracle for the kernel;
    per-pair cost is three interpreted 64-element folds, so it is NOT
    the scale path (measured: 64.9s at sf0.1 vs <2s for the
    kernel). Exactness needs dot²·1000 < 2⁵³ (double division before
    the bigint cast)."""
    assigned = _semdedup_assign_exact(embeddings, id_col, vec_col, n_clusters)
    a, b = assigned.alias("a"), assigned.alias("b")
    qa, qb = _quantize(F.col("a.vec"), 100), _quantize(F.col("b.vec"), 100)
    dot = F.aggregate(
        F.zip_with(qa, qb, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda s, x: s + x,
    )
    na = F.aggregate(
        F.transform(qa, lambda x: x * x), F.lit(0).cast("bigint"), lambda s, x: s + x
    )
    nb = F.aggregate(
        F.transform(qb, lambda x: x * x), F.lit(0).cast("bigint"), lambda s, x: s + x
    )
    sim2 = F.when(
        (dot > 0) & (na > 0) & (nb > 0),
        ((dot * dot * F.lit(1_000)) / (na * nb)).cast("bigint"),
    ).otherwise(F.lit(0).cast("bigint"))
    dups = (
        a.join(b, "cluster_id")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .filter(sim2 >= sim2_milli_threshold)
        .select(F.col(f"b.{id_col}").alias(id_col))
        .distinct()
        .withColumn("is_dup", F.lit(1).cast("bigint"))
    )
    return assigned.join(dups, id_col, "left").select(
        F.col(id_col),
        F.col("cluster_id").cast("bigint").alias("cluster_id"),
        F.coalesce(F.col("is_dup"), F.lit(0)).cast("bigint").alias("is_dup"),
    )


def semdedup_oracle_sql(
    n_clusters: int = 8, sim2_milli_threshold: int = 900
) -> str:
    """DuckDB twin of :func:`semdedup` over the ``embeddings`` view —
    the same quantize/L2/cosine² integer arithmetic via list
    comprehensions."""
    qz = "list_transform({0}, x -> CAST(round(x*100) AS BIGINT))"
    return f"""
    WITH v AS (
      SELECT vec_id, {qz.format('embedding')} AS q FROM embeddings
    ), cent AS (
      SELECT vec_id AS cid, q AS cq FROM v ORDER BY vec_id LIMIT {n_clusters}
    ), d AS (
      SELECT v.vec_id, cent.cid,
             CAST(list_sum([(v.q[i] - cent.cq[i]) * (v.q[i] - cent.cq[i])
                            for i in range(1, len(v.q)+1)]) AS BIGINT) AS d2
      FROM v CROSS JOIN cent
    ), asg AS (
      SELECT vec_id, cid AS cluster_id
      FROM (SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid)
                     AS rn
            FROM d)
      WHERE rn = 1
    ), av AS (
      SELECT asg.vec_id, asg.cluster_id, v.q
      FROM asg JOIN v USING (vec_id)
    ), p AS (
      SELECT b.vec_id,
             CAST(list_sum([a.q[i]*b.q[i] for i in range(1, len(a.q)+1)])
                  AS BIGINT) AS dot,
             CAST(list_sum([a.q[i]*a.q[i] for i in range(1, len(a.q)+1)])
                  AS BIGINT) AS na,
             CAST(list_sum([b.q[i]*b.q[i] for i in range(1, len(b.q)+1)])
                  AS BIGINT) AS nb
      FROM av a JOIN av b ON a.cluster_id = b.cluster_id
                         AND a.vec_id < b.vec_id
    ), dup AS (
      SELECT DISTINCT vec_id FROM p
      WHERE dot > 0 AND na > 0 AND nb > 0
        AND (dot * dot * 1000) // (na * nb) >= {sim2_milli_threshold}
    )
    SELECT av.vec_id, CAST(av.cluster_id AS BIGINT) AS cluster_id,
           CAST(CASE WHEN dup.vec_id IS NULL THEN 0 ELSE 1 END AS BIGINT)
             AS is_dup
    FROM av LEFT JOIN dup ON av.vec_id = dup.vec_id
    """


def embedding_dup_pairs_sql(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sim2_milli_threshold: int = 250,
    bits: int = 4,
) -> DataFrame:
    """Pure-expression twin of ``embedding_dup_pairs`` (bucketed
    self-join + array-lambda dot products) — identical results; kept as
    the no-Python reference implementation.
    """
    v = embeddings.select(
        F.col(id_col),
        F.col(vec_col).alias("vec"),
        sign_bucket(vec_col, bits).alias("bucket"),
    )
    a, b = v.alias("a"), v.alias("b")
    qa, qb = _quantize(F.col("a.vec"), 100), _quantize(F.col("b.vec"), 100)
    dot = F.aggregate(
        F.zip_with(qa, qb, lambda x, y: x * y), F.lit(0).cast("bigint"), lambda s, x: s + x
    )
    na = F.aggregate(F.transform(qa, lambda x: x * x), F.lit(0).cast("bigint"), lambda s, x: s + x)
    nb = F.aggregate(F.transform(qb, lambda x: x * x), F.lit(0).cast("bigint"), lambda s, x: s + x)
    sim2 = F.when(
        (dot > 0) & (na > 0) & (nb > 0), ((dot * dot * F.lit(1_000)) / (na * nb)).cast("bigint")
    ).otherwise(F.lit(0).cast("bigint"))
    return (
        a.join(b, "bucket")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("a_id"),
            F.col(f"b.{id_col}").alias("b_id"),
            sim2.alias("sim2_milli"),
        )
        .filter(F.col("sim2_milli") >= sim2_milli_threshold)
    )


# ---------------------------------------------------------------------------
# Persistent IVF index — bucket-partitioned parquet + pruned probe
# ---------------------------------------------------------------------------


def _centroids_dir(path: str) -> str:
    # underscore-prefixed: invisible to Spark's file index, so reading
    # the table path never picks the sidecar up as data
    return path.rstrip("/") + "/_centroids"


def _write_centroids(spark, path: str, cents: np.ndarray) -> None:
    """Persist the centroid matrix as a VERSIONED JSON sidecar through
    the Hadoop FileSystem API (HDFS/S3A/local all work; no Spark job —
    a 2-job createDataFrame+write round trip costs seconds for an 8-row
    table). json round-trips doubles exactly (shortest-roundtrip repr).
    Commit is rename-to-a-fresh-versioned-name: the previous sidecar
    stays readable until the new one lands, so a crash mid-rewrite
    never leaves the index without centroids (a delete-then-rename
    overwrite had exactly that window)."""
    import json

    from beis_orp_data_service_spark.sources import hadoop_fs as hfs

    data = json.dumps([[float(x) for x in c] for c in cents]).encode()
    d = _centroids_dir(path)
    v = hfs.latest_version(spark, d, "centroids-", ".json") + 1
    hfs.write_new_versioned(spark, d, "centroids-", ".json", v, data)


def ann_index_write(
    embeddings: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int | str = "auto",
    seed: int = 7,
    n_rows: int | None = None,
    centroids: "np.ndarray | None" = None,
) -> np.ndarray:
    """Materialize the IVF index: train the coarse quantizer
    (:func:`kmeans_centroids`), assign every vector to its nearest cell
    (map-only Arrow pass), and write parquet PARTITIONED BY the cell id
    — so a probe that names its cells scans only those directories and
    Spark prunes the rest at planning/runtime. The centroid matrix is
    persisted alongside as a versioned JSON sidecar under
    ``_centroids/`` written through the Hadoop FileSystem API — the
    index works on any Hadoop-compatible filesystem (HDFS/S3A/local),
    not just the local FS a ``np.save`` would reach, and the sidecar
    costs no Spark job.

    This is the FAISS IVF-Flat layout in lake form: at 100 TB the index
    is rewritten only on quantizer drift, appends go to their cell
    directory, and every query touches nprobe/√N of the data. Pass
    ``n_rows`` when known to skip the sizing scan. ``centroids``
    injects a precomputed quantizer matrix and skips the fit (the
    oracle-replay hook — same contract as :func:`ivf_kmeans_topk`)."""
    import math

    if centroids is not None:
        cents = np.asarray(centroids, dtype=np.float64)
    else:
        n = n_rows if n_rows is not None else embeddings.count()
        if n_centroids == "auto":
            n_centroids = max(4, min(65_536, math.isqrt(n)))
        cents = kmeans_centroids(
            embeddings, vec_col, n_centroids, seed=seed, n_rows=n
        )
    assign1 = _nearest_centroids_udf(cents, 1)
    (
        embeddings.select(
            F.col(id_col),
            F.col(vec_col),
            F.element_at(assign1(F.col(vec_col)), 1).cast("int").alias("bucket"),
        )
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path)
    )
    _write_centroids(embeddings.sparkSession, path, cents)
    return cents


def ann_index_centroids(spark, path: str) -> np.ndarray:
    """Reload the coarse quantizer from the index's latest committed
    JSON sidecar version (bounded: ≤65,536 rows by construction).
    Doubles round-trip JSON exactly (shortest-roundtrip repr), so the
    probe assignment is bit-identical to write time. Raises
    FileNotFoundError when no sidecar version is committed."""
    import json

    from beis_orp_data_service_spark.sources import hadoop_fs as hfs

    _, data = hfs.read_latest_versioned(spark, _centroids_dir(path), "centroids-", ".json")
    if data is None:
        raise FileNotFoundError(f"no committed centroid sidecar under {path}")
    return np.array(json.loads(data.decode()), dtype=np.float64)


def ann_index_probe(
    spark,
    path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 4,
) -> DataFrame:
    """Top-k search against a persisted :func:`ann_index_write` index.

    Each query names its ``nprobe`` nearest cells (centroids reloaded
    from the index directory, Arrow-batched assignment); the index scan
    is joined on the PARTITION column, so dynamic partition pruning
    limits the parquet read to the probed cell directories — the
    .explain plan carries ``dynamicpruning`` on the scan (asserted in
    tests). Scoring/ranking is the same quantized top-k as
    :func:`ivf_kmeans_topk`."""
    cents = ann_index_centroids(spark, path)
    # deterministic: DPP must clone the bucket expression into the
    # partitioned scan's pruning subquery; the probe side is tiny so
    # duplicate evaluation is irrelevant
    probe_n = _nearest_centroids_udf(cents, nprobe, deterministic=True)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        F.explode(probe_n(F.col(vec_col))).alias("bucket"),
    ).withColumn("bucket", F.col("bucket").cast("int"))
    t = spark.read.parquet(path).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("tvec"),
        "bucket",
    )
    scored = (
        t.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("score", dot_q(F.col("qvec"), F.col("tvec")))
    )
    # Window scale: partition key query_id; candidates per query bounded
    # by pruned index partitions, k retained.
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def pq_codebook_deterministic(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    k: int = 16,
) -> np.ndarray:
    """Deterministic PQ codebooks: the quantized subvectors of the
    first ``k`` rows in id order — the replayable-quantizer move the
    SemDeDup oracle path uses (a trained k-means codebook is the
    production variant; swap it in exactly like ``kmeans_centroids``).
    Driver pull is k rows (bounded, the centroid-pull cost class).
    Returns int64 [m, k, d/m]."""
    rows = (
        embeddings.select(id_col, vec_col)
        .orderBy(F.col(id_col).asc())
        .limit(k)
        .collect()
    )
    if len(rows) < k:
        raise ValueError(f"need at least k={k} rows for the codebook, got {len(rows)}")
    mat = np.stack([_quantize_np(r[vec_col], 1000) for r in rows])  # [k, d]
    d = mat.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    return np.stack([mat[:, s * dsub : (s + 1) * dsub] for s in range(m)])


def _replayable_sample(
    df: DataFrame, id_col: str, vec_col: str, sample_rows: int, n: int
) -> list:
    """Bounded, layout-independent, ORDER-deterministic training pull:
    hash-gate to ~``sample_rows`` candidates (partitioning-invariant
    membership), then keep the ``sample_rows`` smallest
    ``(xxhash64(id), id)`` keys via top-K — plans as
    TakeOrderedAndProject (per-partition heaps + a k-row driver merge),
    never a full sort. Both the subset AND the collected row order are
    functions of the ids alone, so k-means init / mean accumulation /
    OPQ covariance see an identical matrix on any cluster layout or
    core count (a bare ``.limit()`` after the gate would keep an
    arbitrary partition-order-dependent subset)."""
    samp = df.select(id_col, vec_col)
    if n > sample_rows:
        denom = 1_000_003
        num = max(1, int(denom * sample_rows / n))
        samp = samp.filter(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(denom)) < F.lit(num)
        )
    return (
        samp.withColumn("_hk", F.xxhash64(F.col(id_col)))
        .orderBy("_hk", id_col)
        .limit(sample_rows)
        .collect()
    )


def _lloyd_int(x: np.ndarray, k: int, seed: int, max_iter: int) -> np.ndarray:
    """Driver-side Lloyd's k-means over a quantized-int sample, returning
    int64 centroids (rounded means). Deterministic given (sample, seed):
    seeded-RNG init, stable argmin tie-break (smallest centroid index),
    empty clusters keep their previous centroid. Distance via the matmul
    identity (‖x‖²−2x·cᵀ+‖c‖²) so memory is O(n·k), not O(n·k·d)."""
    rng = np.random.default_rng(seed)
    idx = rng.choice(len(x), size=min(k, len(x)), replace=False)
    cents = x[np.sort(idx)].astype(np.float64)
    xf = x.astype(np.float64)
    xsq = (xf**2).sum(axis=1)[:, None]
    for _ in range(max_iter):
        d = xsq - 2.0 * (xf @ cents.T) + (cents**2).sum(axis=1)[None, :]
        assign = d.argmin(axis=1)
        for c in range(len(cents)):
            mask = assign == c
            if mask.any():
                cents[c] = xf[mask].mean(axis=0)
    return np.rint(cents).astype(np.int64)


def pq_codebook_trained(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    k: int = 16,
    seed: int = 7,
    sample_rows: int = 100_000,
    max_iter: int = 10,
    n_rows: int | None = None,
) -> np.ndarray:
    """FAISS-grade PQ training (Jégou et al. 2011 §II-C): per-subspace
    k-means over a BOUNDED, replayable sample of the table — the
    production upgrade over :func:`pq_codebook_deterministic`'s first-k
    rows, which ignore the data distribution entirely.

    The sample filter is a partitioning-invariant hash gate
    (xxhash64(id) mod d < n), so the same rows train the codebook on any
    cluster layout; the driver pull is ≤ sample_rows vectors (FAISS
    trains its quantizers on exactly this sample-bounded pattern — fit
    cost is O(sample·k·iters), independent of table size). Each
    subspace fits independently on the driver (m tiny Lloyd's runs over
    the ONE pulled sample — m MLlib jobs would re-scan the table m
    times for no accuracy gain at these sizes). Centroids are quantized
    int64 (×1000), so every downstream kernel (:func:`pq_codes`,
    :func:`pq_adc_topk`) runs the identical exact-int arithmetic as the
    deterministic path. Returns int64 [m, k, d/m]."""
    n = n_rows if n_rows is not None else embeddings.count()
    rows = _replayable_sample(embeddings, id_col, vec_col, sample_rows, n)
    if len(rows) < k:
        raise ValueError(f"need at least k={k} sample rows, got {len(rows)}")
    mat = np.stack([_quantize_np(r[vec_col], 1000) for r in rows])  # [n, d]
    d = mat.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    return np.stack(
        [
            _lloyd_int(mat[:, s * dsub : (s + 1) * dsub], k, seed + s, max_iter)
            for s in range(m)
        ]
    )


def _pq_codebook_dir(path: str) -> str:
    # underscore-prefixed like _centroids: invisible to Spark's file index
    return path.rstrip("/") + "/_pq_codebook"


def pq_write_codebook(spark, path: str, codebook: np.ndarray) -> None:
    """Persist a trained [m, k, d/m] int64 codebook as a versioned JSON
    sidecar under the code table's directory — same Hadoop-FS
    rename-commit protocol as the IVF centroid sidecar
    (:func:`_write_centroids`), so a crash mid-rewrite never leaves the
    table without a readable codebook and HDFS/S3A/local all work."""
    import json

    from beis_orp_data_service_spark.sources import hadoop_fs as hfs

    data = json.dumps(
        [[[int(x) for x in row] for row in sub] for sub in codebook]
    ).encode()
    d = _pq_codebook_dir(path)
    v = hfs.latest_version(spark, d, "codebook-", ".json") + 1
    hfs.write_new_versioned(spark, d, "codebook-", ".json", v, data)


def pq_read_codebook(spark, path: str) -> np.ndarray:
    """Reload the latest committed codebook sidecar (bounded: m·k·d/m
    ints — KB-scale). Int64 round-trips JSON exactly, so probes score
    bit-identically to encode time."""
    import json

    from beis_orp_data_service_spark.sources import hadoop_fs as hfs

    _, data = hfs.read_latest_versioned(
        spark, _pq_codebook_dir(path), "codebook-", ".json"
    )
    if data is None:
        raise FileNotFoundError(f"no committed PQ codebook sidecar under {path}")
    return np.array(json.loads(data.decode()), dtype=np.int64)


def pq_codes(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    k: int = 16,
    codebook: np.ndarray | None = None,
) -> DataFrame:
    """Product-quantization encoding (Jégou et al. 2011 — the FAISS
    IVF-PQ compression half; composes with the persistent IVF index,
    which is the coarse half): split each vector into ``m`` subvectors,
    assign each to its nearest codebook entry (quantized-int L2 —
    exact int64, the repo's cross-engine arithmetic), emit the m code
    ids and the total squared reconstruction error.

    64-dim float vectors become m=4 bytes of codes — the 64× memory
    cut that makes billion-vector rerank tables RAM-resident. Encoding
    is a map-only Arrow pass with the [m,k,d/m] codebook in closure
    (k·d ints — broadcast-trivial); ties go to the SMALLEST code id
    (numpy argmin first-hit == the SQL min(struct(dist, code))).

    Returns (id, codes_text '_'-joined, recon_err).
    """
    import pandas as pd

    cb = (
        codebook
        if codebook is not None
        else pq_codebook_deterministic(embeddings, id_col, vec_col, m, k)
    )
    m_, k_, dsub = cb.shape

    def _encode(it):
        for pdf in it:
            if len(pdf) == 0:
                yield pd.DataFrame(columns=[id_col, "codes_text", "recon_err"])
                continue
            x = np.stack([_quantize_np(v, 1000) for v in pdf[vec_col]])  # [n, d]
            codes = np.empty((len(pdf), m_), dtype=np.int64)
            err = np.zeros(len(pdf), dtype=np.int64)
            for s in range(m_):
                sub = x[:, s * dsub : (s + 1) * dsub]
                dist = ((sub[:, None, :] - cb[s][None, :, :]) ** 2).sum(axis=2)
                codes[:, s] = dist.argmin(axis=1)  # first min: smallest code
                err += dist.min(axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].values,
                    "codes_text": ["_".join(map(str, c)) for c in codes],
                    "recon_err": err,
                }
            )

    return embeddings.select(id_col, vec_col).mapInPandas(
        _encode, f"{id_col} bigint, codes_text string, recon_err bigint"
    )


def pq_codes_oracle_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 4,
    k: int = 16,
) -> str:
    """DuckDB twin of :func:`pq_codes` with the deterministic first-k
    codebook — same quantization, L2 arithmetic, and min-struct
    tie-break."""
    dsub = dim // m
    qv = (
        f"[CAST(round(CAST({vec_col}[i] AS DOUBLE) * 1000) AS BIGINT) "
        f"for i in range(1, {dim} + 1)]"
    )
    return f"""
    WITH q AS (
      SELECT {id_col}, {qv} AS qv FROM {table}
    ), cb AS (
      SELECT row_number() OVER (ORDER BY {id_col} ASC) - 1 AS code, qv AS qc
      FROM (SELECT {id_col}, qv FROM q ORDER BY {id_col} ASC LIMIT {k})
    ), d AS (
      SELECT q.{id_col}, s.s, cb.code,
             list_sum([(q.qv[s.s * {dsub} + j] - cb.qc[s.s * {dsub} + j])
                       * (q.qv[s.s * {dsub} + j] - cb.qc[s.s * {dsub} + j])
                       for j in range(1, {dsub} + 1)]) AS dist
      FROM q
      CROSS JOIN (SELECT unnest(range(0, {m})) AS s) s
      CROSS JOIN cb
    ), best AS (
      SELECT {id_col}, s, code, dist,
             row_number() OVER (PARTITION BY {id_col}, s
                                ORDER BY dist ASC, code ASC) AS rn
      FROM d
    )
    SELECT {id_col},
           string_agg(CAST(code AS VARCHAR), '_' ORDER BY s) AS codes_text,
           CAST(sum(dist) AS BIGINT) AS recon_err
    FROM best WHERE rn = 1 GROUP BY {id_col}
    """


def pq_adc_topk(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_ids: list[int] | None = None,
    k_neighbors: int = 5,
    m: int = 4,
    k: int = 16,
    codes: DataFrame | None = None,
    codebook: np.ndarray | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes — the search half
    of FAISS IVF-PQ (Jégou et al. 2011 §IV): queries stay full
    precision, the table is m code bytes per vector, and the distance
    is a table lookup: adist(q, x) = Σ_s LUT_q[s][code_s(x)] where
    LUT_q[s][c] = ‖q_s − codebook[s][c]‖². All arithmetic is the
    repo's quantized int64, so the result is bit-exact against the SQL
    spelling (hash-grade oracle — rare for an ANN operator).

    Scale shape: the per-query LUTs are m·k ints each (driver-built
    from a BOUNDED pull of the query rows — the centroid-pull cost
    class) and ride the Arrow kernel's closure; the scan is ONE
    map-only Arrow pass (encode-and-score fused — a stored-codes
    probe is likewise one kernel because codes come off parquet, so
    two chained Python stages would pay Arrow serialization twice for
    nothing), emitting only each partition's local top-k per query
    before the final per-query window merges k·partitions rows.
    Self-matches excluded. Output (query_id, neighbor_id, adist,
    rank). Pass ``codes=pq_codes(...)`` output (e.g. read back from a
    stored code table) to score WITHOUT re-encoding — the production
    path once codes are materialized. Pass ``codebook`` (e.g. a
    :func:`pq_codebook_trained` matrix, or :func:`pq_read_codebook`
    from a sidecar) to score against trained centroids — it MUST be
    the codebook the codes were encoded with."""
    import pandas as pd

    if not query_ids:
        raise ValueError("query_ids must be a non-empty list of vector ids")
    cb = (
        codebook
        if codebook is not None
        else pq_codebook_deterministic(embeddings, id_col, vec_col, m, k)
    )
    m_, k_, dsub = cb.shape
    q_rows = (
        embeddings.filter(F.col(id_col).isin(list(query_ids)))
        .select(id_col, vec_col)
        .collect()
    )
    luts = {}
    for r in q_rows:
        qv = _quantize_np(r[vec_col], 1000)
        lut = np.empty((m_, k_), dtype=np.int64)
        for s in range(m_):
            sub = qv[s * dsub : (s + 1) * dsub]
            lut[s] = ((cb[s] - sub[None, :]) ** 2).sum(axis=1)
        luts[int(r[id_col])] = lut

    out_cols = ["query_id", "neighbor_id", "adist"]

    def _emit_topk(ids, carr):
        frames = []
        for qid, lut in luts.items():
            adist = lut[np.arange(m_)[None, :], carr].sum(axis=1)
            keep = ids != qid
            # local top-k: sorted by (adist, id) so the global
            # window sees every candidate that could rank
            order = np.lexsort((ids[keep], adist[keep]))[:k_neighbors]
            frames.append(
                pd.DataFrame(
                    {
                        "query_id": qid,
                        "neighbor_id": ids[keep][order],
                        "adist": adist[keep][order],
                    }
                )
            )
        return frames

    def _encode_and_score(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            x = np.stack([_quantize_np(v, 1000) for v in pdf[vec_col]])
            carr = np.empty((len(pdf), m_), dtype=np.int64)
            for s in range(m_):
                sub = x[:, s * dsub : (s + 1) * dsub]
                dist = ((sub[:, None, :] - cb[s][None, :, :]) ** 2).sum(axis=2)
                carr[:, s] = dist.argmin(axis=1)
            frames = _emit_topk(ids, carr)
            if frames:
                yield pd.concat(frames)[out_cols]

    def _score_codes(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            carr = np.array(
                [[int(t) for t in s.split("_")] for s in pdf["codes_text"]],
                dtype=np.int64,
            )
            frames = _emit_topk(ids, carr)
            if frames:
                yield pd.concat(frames)[out_cols]

    source = codes if codes is not None else embeddings.select(id_col, vec_col)
    kernel = _score_codes if codes is not None else _encode_and_score
    scored = source.mapInPandas(
        kernel, "query_id bigint, neighbor_id bigint, adist bigint"
    )
    # Window scale: partition key query_id; the kernel already emits ≤ k
    # rows per (query, batch), so the window merges bounded partials.
    w = Window.partitionBy("query_id").orderBy(
        F.col("adist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k_neighbors)
        .select("query_id", "neighbor_id", "adist", "rank")
    )


def pq_adc_topk_oracle_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 4,
    k: int = 16,
    query_pred: str = (
        # mirror the declared query's bounded pull: 8 smallest matching
        # ids, so both engines' query sets stay sf-independent
        "vec_id IN (SELECT vec_id FROM embeddings "
        "WHERE vec_id % 250 = 0 ORDER BY vec_id LIMIT 8)"
    ),
    k_neighbors: int = 5,
) -> str:
    """DuckDB twin of :func:`pq_adc_topk`: the per-(vector, subspace,
    code) distance CTE serves double duty — argmin over it yields the
    codes, and restricted to the query rows it IS the ADC lookup
    table. Identical int64 arithmetic and tie-breaks throughout."""
    dsub = dim // m
    qv = (
        f"[CAST(round(CAST({vec_col}[i] AS DOUBLE) * 1000) AS BIGINT) "
        f"for i in range(1, {dim} + 1)]"
    )
    return f"""
    WITH q AS (
      SELECT {id_col}, {qv} AS qv FROM {table}
    ), cb AS (
      SELECT row_number() OVER (ORDER BY {id_col} ASC) - 1 AS code, qv AS qc
      FROM (SELECT {id_col}, qv FROM q ORDER BY {id_col} ASC LIMIT {k})
    ), d AS (
      SELECT q.{id_col}, s.s, cb.code,
             list_sum([(q.qv[s.s * {dsub} + j] - cb.qc[s.s * {dsub} + j])
                       * (q.qv[s.s * {dsub} + j] - cb.qc[s.s * {dsub} + j])
                       for j in range(1, {dsub} + 1)]) AS dist
      FROM q
      CROSS JOIN (SELECT unnest(range(0, {m})) AS s) s
      CROSS JOIN cb
    ), best AS (
      SELECT {id_col}, s, code FROM (
        SELECT {id_col}, s, code,
               row_number() OVER (PARTITION BY {id_col}, s
                                  ORDER BY dist ASC, code ASC) AS rn
        FROM d) WHERE rn = 1
    ), lut AS (
      SELECT d.{id_col} AS query_id, d.s, d.code, d.dist
      FROM d WHERE d.{id_col} IN (SELECT {id_col} FROM {table} WHERE {query_pred})
    ), adc AS (
      SELECT l.query_id, b.{id_col} AS neighbor_id,
             CAST(SUM(l.dist) AS BIGINT) AS adist
      FROM best b JOIN lut l ON l.s = b.s AND l.code = b.code
      WHERE b.{id_col} <> l.query_id
      GROUP BY l.query_id, b.{id_col}
    )
    SELECT query_id, neighbor_id, adist, rank FROM (
      SELECT query_id, neighbor_id, adist,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY adist ASC, neighbor_id ASC) AS rank
      FROM adc) WHERE rank <= {k_neighbors}
    """


def sq8_codes(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scalar quantization to 8-bit codes (FAISS ``SQ8`` — the OTHER
    standard embedding-compression half next to PQ): per-dimension
    [min, max] trained in ONE long-form aggregate (posexplode →
    groupBy(dim), map-side combined), then each component encoded as
    ``code = round((q - mn) * 255 / rng)`` in EXACT integer arithmetic
    — ``((q - mn) * 510 + rng) DIV (2 * rng)`` over non-negative
    operands, so truncation == floor == round-half-up and the result
    is hash-checkable cross-engine. Constant dimensions (rng = 0)
    encode 0.

    4x memory cut vs float32 with per-dim fidelity (PQ trades more
    compression for subspace codebooks; both feed the same rerank
    pattern). The per-dim stats are a DIM-row driver pull (the
    centroid-pull cost class) riding the Arrow kernel's closure; the
    encode is one map-only pass. Returns (id, codes_text '_'-joined,
    recon_err) where recon_err = Σ (dequant_i − q_i)² with
    ``dequant = mn + (code * rng + 127) DIV 255``."""
    import pandas as pd

    q_expr = F.round(F.col("x").cast("double") * 1000).cast("bigint")
    stats = (
        embeddings.select(F.posexplode(vec_col).alias("i", "x"))
        .select(F.col("i"), q_expr.alias("q"))
        .groupBy("i")
        .agg(F.min("q").alias("mn"), F.max("q").alias("mx"))
        .collect()
    )
    dim = len(stats)
    mn = np.empty(dim, dtype=np.int64)
    mx = np.empty(dim, dtype=np.int64)
    for r in stats:
        mn[r["i"]] = r["mn"]
        mx[r["i"]] = r["mx"]
    rng = mx - mn

    def _encode(it):
        for pdf in it:
            if len(pdf) == 0:
                yield pd.DataFrame(columns=[id_col, "codes_text", "recon_err"])
                continue
            x = np.stack([_quantize_np(v, 1000) for v in pdf[vec_col]])
            d = x - mn[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                codes = np.where(
                    rng[None, :] == 0,
                    0,
                    (d * 510 + rng[None, :]) // np.maximum(2 * rng[None, :], 1),
                ).astype(np.int64)
                recon = mn[None, :] + np.where(
                    rng[None, :] == 0,
                    0,
                    (codes * rng[None, :] + 127) // 255,
                )
            err = ((recon - x) ** 2).sum(axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].values,
                    "codes_text": ["_".join(map(str, c)) for c in codes],
                    "recon_err": err,
                }
            )

    return embeddings.select(id_col, vec_col).mapInPandas(
        _encode, f"{id_col} bigint, codes_text string, recon_err bigint"
    )


def sq8_codes_oracle_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> str:
    """DuckDB twin of :func:`sq8_codes` — same quantization, same
    per-dim min/max, same integer floor-division rounding."""
    qv = (
        f"[CAST(round(CAST({vec_col}[i] AS DOUBLE) * 1000) AS BIGINT) "
        f"for i in range(1, {dim} + 1)]"
    )
    return f"""
    WITH q AS (
      SELECT {id_col}, {qv} AS qv FROM {table}
    ), dims AS (
      SELECT unnest(range(1, {dim} + 1)) AS i
    ), stats AS (
      SELECT i, MIN(qv[i]) AS mn, MAX(qv[i]) AS mx
      FROM q CROSS JOIN dims GROUP BY i
    ), enc AS (
      SELECT q.{id_col}, s.i,
             CASE WHEN s.mx - s.mn = 0 THEN 0
                  ELSE ((q.qv[s.i] - s.mn) * 510 + (s.mx - s.mn))
                       // (2 * (s.mx - s.mn)) END AS code,
             s.mn, s.mx - s.mn AS rng, q.qv[s.i] AS qi
      FROM q CROSS JOIN stats s
    ), rec AS (
      SELECT {id_col}, i, code,
             mn + CASE WHEN rng = 0 THEN 0
                       ELSE (code * rng + 127) // 255 END - qi AS d
      FROM enc
    )
    SELECT {id_col},
           string_agg(CAST(code AS VARCHAR), '_' ORDER BY i) AS codes_text,
           CAST(SUM(d * d) AS BIGINT) AS recon_err
    FROM rec GROUP BY {id_col}
    """


def embedding_mean_by_group(
    embeddings: DataFrame,
    group_col,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Grouped mean-pooling of embedding vectors — chunk→document /
    member→cluster centroid aggregation (the pooling step between
    chunk-level encoders and doc-level ANN). Output one row per
    (group, dim): ``(group, pos, n, mean_micro)`` — long form so the
    aggregate is an ordinary map-side-combined groupBy on (group,
    pos), never a per-group pandas pass; re-assemble with
    ``array_agg(... ORDER BY pos)`` at the edge if an array column is
    needed.

    Determinism: components quantize to int (×1000) BEFORE summing —
    integer addition is order-free where float summation is not — and
    the mean is one IEEE division of exact inputs, micro-rounded
    HALF-UP. posexplode is the only fan-out (rows × dim), one shuffle
    total."""
    g = group_col if not isinstance(group_col, str) else F.col(group_col)
    exploded = embeddings.select(
        g.alias("grp"),
        F.posexplode(vec_col).alias("pos", "_x"),
    ).select(
        "grp",
        "pos",
        F.round(F.col("_x").cast("double") * 1000).cast("bigint").alias("_q"),
    )
    return exploded.groupBy("grp", "pos").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            (F.sum("_q").cast("double") / F.count(F.lit(1))) * 1000
        )
        .cast("bigint")
        .alias("mean_micro"),
    )


def embedding_mean_by_group_oracle_sql(
    table: str = "embeddings",
    group_expr: str = "vec_id % 10",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> str:
    """DuckDB twin — same quantize-then-sum, same single division.
    Positions come from a range cross join + list indexing (the pq
    oracle's move; WITH ORDINALITY is unavailable)."""
    return f"""
    SELECT {group_expr} AS grp, CAST(r.i - 1 AS INT) AS pos,
           COUNT(*) AS n,
           CAST(round((CAST(SUM(CAST(round(CAST({vec_col}[r.i] AS DOUBLE) * 1000)
                                     AS BIGINT)) AS DOUBLE) / COUNT(*)) * 1000)
                AS BIGINT) AS mean_micro
    FROM {table}
    CROSS JOIN (SELECT unnest(range(1, {dim} + 1)) AS i) r
    GROUP BY 1, 2
    """


# ---------------------------------------------------------------------------
# IVF-PQ: coarse quantizer + residual product quantization (FAISS IVFPQ)
# ---------------------------------------------------------------------------


def ivfpq_train(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    m: int = 4,
    k: int = 16,
    seed: int = 7,
    sample_rows: int = 100_000,
    max_iter: int = 10,
    n_rows: int | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Train the full FAISS ``IVFx,PQm`` quantizer pair (Jégou et al.
    2011 §V): a coarse k-means quantizer over the vectors, then a
    product quantizer over the RESIDUALS (x − coarse_centroid(x)) —
    residual PQ is what separates IVF-PQ from running the two stages
    independently, because residual energy is much smaller than vector
    energy, so the same m·k codebook budget buys far lower
    reconstruction error.

    Both stages fit driver-side over ONE bounded, replayable,
    partitioning-invariant hash-gated sample (the
    :func:`pq_codebook_trained` pattern — fit cost is O(sample),
    independent of table size), with the repo's quantized-int64
    arithmetic so encode/score kernels are exactly replayable.
    Returns ``(coarse [C, d] int64, codebook [m, k, d/m] int64)``."""
    n = n_rows if n_rows is not None else embeddings.count()
    rows = _replayable_sample(embeddings, id_col, vec_col, sample_rows, n)
    if len(rows) < max(k, n_centroids):
        raise ValueError(
            f"need >= max(k={k}, n_centroids={n_centroids}) sample rows, "
            f"got {len(rows)}"
        )
    mat = np.stack([_quantize_np(r[vec_col], 1000) for r in rows])  # [n, d]
    d = mat.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    coarse = _lloyd_int(mat, n_centroids, seed, max_iter)  # [C, d]
    # residuals against the assigned (nearest, stable-tie) coarse centroid
    xf = mat.astype(np.float64)
    cf = coarse.astype(np.float64)
    dist = (
        (xf**2).sum(axis=1)[:, None]
        - 2.0 * (xf @ cf.T)
        + (cf**2).sum(axis=1)[None, :]
    )
    res = mat - coarse[dist.argmin(axis=1)]
    cb = np.stack(
        [
            _lloyd_int(res[:, s * dsub : (s + 1) * dsub], k, seed + 1000 + s, max_iter)
            for s in range(m)
        ]
    )
    return coarse, cb


def _assign_coarse_int(x: np.ndarray, coarse: np.ndarray) -> np.ndarray:
    """Nearest coarse centroid per row, exact int64 L2, stable first-hit
    tie-break (smallest centroid id) — the kernel twin of the training
    assignment above. [n, d] int64 -> [n] int64 bucket ids."""
    xf = x.astype(np.float64)
    cf = coarse.astype(np.float64)
    d = (
        (xf**2).sum(axis=1)[:, None]
        - 2.0 * (xf @ cf.T)
        + (cf**2).sum(axis=1)[None, :]
    )
    return d.argmin(axis=1).astype(np.int64)


def ivfpq_encode(
    embeddings: DataFrame,
    coarse: np.ndarray,
    codebook: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ encode: ONE map-only Arrow pass emitting ``(id, bucket,
    codes_text)`` — coarse cell assignment plus per-subspace residual
    code, both exact int64 with smallest-id tie-breaks. At 100 TB the
    output is written partitioned by ``bucket`` (the persistent-index
    layout of :func:`ann_index_write`) so probes scan only probed-cell
    directories."""
    import pandas as pd

    m_, k_, dsub = codebook.shape

    def _encode(it):
        for pdf in it:
            if len(pdf) == 0:
                yield pd.DataFrame(columns=[id_col, "bucket", "codes_text"])
                continue
            x = np.stack([_quantize_np(v, 1000) for v in pdf[vec_col]])
            buckets = _assign_coarse_int(x, coarse)
            res = x - coarse[buckets]
            codes = np.empty((len(pdf), m_), dtype=np.int64)
            for s in range(m_):
                sub = res[:, s * dsub : (s + 1) * dsub]
                dist = ((sub[:, None, :] - codebook[s][None, :, :]) ** 2).sum(axis=2)
                codes[:, s] = dist.argmin(axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].values,
                    "bucket": buckets,
                    "codes_text": ["_".join(map(str, c)) for c in codes],
                }
            )

    return embeddings.select(id_col, vec_col).mapInPandas(
        _encode, f"{id_col} bigint, bucket bigint, codes_text string"
    )


def ivfpq_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_neighbors: int = 5,
    n_centroids: int | str = "auto",
    nprobe: int = 4,
    m: int = 4,
    k: int = 16,
    seed: int = 7,
    n_rows: int | None = None,
    coarse: np.ndarray | None = None,
    codebook: np.ndarray | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """Full FAISS IVF-PQ search (Jégou et al. 2011 §V): probe the
    ``nprobe`` nearest coarse cells per query, score ONLY rows in
    probed cells by asymmetric distance against per-(query, cell)
    LUTs built on the query's residual to THAT cell's centroid:
    ``adist(q, x) = Σ_s ‖(q − c_bucket)_s − codebook[s][code_s]‖²``.

    Scale shape: the cell filter is a ``bucket IN (probed)`` predicate
    — over a bucket-partitioned stored code table (pass ``codes=``)
    that is partition pruning, so the scan cost is
    (nprobe / n_centroids) of the table and SHRINKS with √N cell
    sizing; the LUT pack is queries·nprobe·m·k ints riding the kernel
    closure; one Arrow scoring pass emits per-partition local top-k
    before the final per-query window. Recall < 1 by construction
    (floor-tested vs exact quantized L2 in tests/test_similarity.py).
    Output (query_id, neighbor_id, adist, rank)."""
    import math

    import pandas as pd

    if not query_ids:
        raise ValueError("query_ids must be a non-empty list of vector ids")
    n = n_rows if n_rows is not None else embeddings.count()
    if n_centroids == "auto":
        n_centroids = max(4, min(65_536, math.isqrt(n)))
    if coarse is None or codebook is None:
        coarse, codebook = ivfpq_train(
            embeddings, id_col, vec_col, n_centroids, m, k, seed=seed, n_rows=n
        )
    m_, k_, dsub = codebook.shape
    if codes is None:
        codes = ivfpq_encode(embeddings, coarse, codebook, id_col, vec_col)

    q_rows = (
        embeddings.filter(F.col(id_col).isin(list(query_ids)))
        .select(id_col, vec_col)
        .collect()
    )
    # (query, probed cell) -> LUT on the query's residual to that cell
    luts: dict[tuple[int, int], np.ndarray] = {}
    cf = coarse.astype(np.float64)
    c_norm = (cf**2).sum(axis=1)
    for r in q_rows:
        qv = _quantize_np(r[vec_col], 1000)
        qf = qv.astype(np.float64)
        dist = (qf**2).sum() - 2.0 * (cf @ qf) + c_norm
        probed = np.argsort(dist, kind="stable")[:nprobe]
        for b in probed:
            res = qv - coarse[b]
            lut = np.empty((m_, k_), dtype=np.int64)
            for s in range(m_):
                sub = res[s * dsub : (s + 1) * dsub]
                lut[s] = ((codebook[s] - sub[None, :]) ** 2).sum(axis=1)
            luts[(int(r[id_col]), int(b))] = lut

    probed_buckets = sorted({b for (_, b) in luts})
    by_bucket: dict[int, list[tuple[int, np.ndarray]]] = {}
    for (qid, b), lut in luts.items():
        by_bucket.setdefault(b, []).append((qid, lut))

    out_cols = ["query_id", "neighbor_id", "adist"]

    def _score(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            frames = []
            for b, grp in pdf.groupby("bucket"):
                pairs = by_bucket.get(int(b))
                if not pairs:
                    continue
                ids = grp[id_col].to_numpy()
                carr = np.array(
                    [[int(t) for t in s.split("_")] for s in grp["codes_text"]],
                    dtype=np.int64,
                )
                for qid, lut in pairs:
                    adist = lut[np.arange(m_)[None, :], carr].sum(axis=1)
                    keep = ids != qid
                    order = np.lexsort((ids[keep], adist[keep]))[:k_neighbors]
                    frames.append(
                        pd.DataFrame(
                            {
                                "query_id": qid,
                                "neighbor_id": ids[keep][order],
                                "adist": adist[keep][order],
                            }
                        )
                    )
            if frames:
                yield pd.concat(frames)[out_cols]

    scored = (
        codes.filter(F.col("bucket").isin(probed_buckets))
        .select(id_col, "bucket", "codes_text")
        .mapInPandas(_score, "query_id bigint, neighbor_id bigint, adist bigint")
    )
    # Window scale: partition key query_id; kernel emits ≤ k rows per
    # (query, batch) — the window merges bounded partials.
    w = Window.partitionBy("query_id").orderBy(
        F.col("adist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k_neighbors)
        .select("query_id", "neighbor_id", "adist", "rank")
    )


def hard_negatives(
    embeddings: DataFrame,
    query_ids: list[int],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
) -> DataFrame:
    """Hard-negative mining for contrastive training (DPR / SimCSE
    data prep): for each query vector, the top-k MOST similar vectors
    carrying a DIFFERENT label — the negatives a contrastive loss
    learns most from. The label-mismatch predicate is part of the join
    (ranking happens among negatives only — post-filtering a plain
    top-k would under-fill and bias the set).

    Shape: bounded query set broadcast against the table (the
    ``ann_topk`` theta-join pattern; per-query window keeps k), exact
    quantized-int dot so the output is hash-checkable. At corpus
    scale, swap the brute-force table side for the IVF probe
    (:func:`ivf_kmeans_topk` with oversampled k, then label-filter) —
    negatives stay hard because similar vectors share cells.

    Output (query_id, neighbor_id, neighbor_label, score, rank)."""
    if not query_ids:
        raise ValueError("query_ids must be a non-empty list of vector ids")
    q = embeddings.filter(F.col(id_col).isin(list(query_ids))).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        F.col(label_col).alias("qlabel"),
    )
    t = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("tvec"),
        F.col(label_col).alias("neighbor_label"),
    )
    scored = t.join(
        F.broadcast(q), F.col("neighbor_label") != F.col("qlabel")
    ).withColumn("score", dot_q(F.col("qvec"), F.col("tvec")))
    # Window scale: partition key query_id over per-query bounded
    # candidates (oversampled k per probe), k retained.
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "neighbor_label", "score", "rank")
    )


def knn_edges(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    sim2_milli_threshold: int = 0,
    n_centroids: int | str = "auto",
    nprobe: int = 4,
    seed: int = 7,
    n_rows: int | None = None,
    block_size: int = 2048,
    centroids_q: "np.ndarray | None" = None,
) -> DataFrame:
    """Approximate k-nearest-neighbor edge list over ALL vectors —
    every vector is a query against the trained-IVF cell structure
    (image/embedding dedup pipelines build exactly this graph before
    clustering). Unlike :func:`ivf_kmeans_topk` (bounded broadcast
    query set), the query side here is the whole table, so the probe
    is a cell-keyed COGROUP — each vector meets only the vectors in
    its nprobe probed cells; nothing meets outside a cell.

    Kernel shape: each side runs ONE fused Arrow pass (cell assignment
    via driver-trained Lloyd centroids + the probe side emitting its
    nprobe cell rows directly), then ONE cogrouped per-cell Gram
    kernel scores probers×members with tiled matmuls and emits each
    prober's local top-k — every vector crosses Arrow once per side
    (probers nprobe times), never once per PAIR, which is what a
    join-then-score spelling would ship. Scoring is the
    :func:`embedding_dup_pairs` integer convention (quantized ×100,
    sign-aware cos²·1000 floor-div) — exact and overflow-safe.

    Edges kept at sim2_milli ≥ threshold, canonicalized a<b, deduped.
    Recall < 1 (probed cells only) — planted-structure tested.
    Output (a_id, b_id, sim2_milli).

    ``centroids_q``: injected coarse quantizer in the kernels'
    quantized (×100) int scale — skips the count/sample/fit entirely
    (the deterministic oracle-replay hook, same contract as
    ``ivfpq_topk``'s ``coarse=``)."""
    import math

    import pandas as pd

    if centroids_q is not None:
        cents_q = np.asarray(centroids_q, dtype=np.int64)
    else:
        n = n_rows if n_rows is not None else embeddings.count()
        if n_centroids == "auto":
            n_centroids = max(4, min(65_536, math.isqrt(n)))
        # coarse quantizer: driver-side Lloyd's over the replayable
        # hash-gated sample (the ivfpq_train pattern) — int64 centroids
        # in the kernels' quantized scale, no MLlib fit job
        sample_rows = 100_000
        mat = np.stack(
            [
                _quantize_np(r[vec_col], 100)
                for r in _replayable_sample(
                    embeddings, id_col, vec_col, sample_rows, n
                )
            ]
        )
        cents_q = _lloyd_int(mat, n_centroids, seed, max_iter=10)

    def _side(nprobe_side: int):
        def _pass(it):
            for pdf in it:
                if len(pdf) == 0:
                    continue
                x = np.stack([_quantize_np(v, 100) for v in pdf[vec_col]])
                buckets = _probe_cells_int(x, cents_q, nprobe_side)  # [n, p]
                frames = []
                for j in range(nprobe_side):
                    frames.append(
                        pd.DataFrame(
                            {
                                "_id": pdf[id_col].values,
                                "_vec": pdf[vec_col].values,
                                "bucket": buckets[:, j],
                            }
                        )
                    )
                yield pd.concat(frames)

        return _pass

    vec_t = embeddings.schema[vec_col].dataType.simpleString()
    schema = f"_id bigint, _vec {vec_t}, bucket bigint"
    t = embeddings.select(id_col, vec_col).mapInPandas(_side(1), schema)
    q = embeddings.select(id_col, vec_col).mapInPandas(_side(nprobe), schema)

    def _topk_per_row(r: np.ndarray, s: np.ndarray, i: np.ndarray) -> np.ndarray:
        """Index selector keeping each row's k best candidates by
        (-sim, id) — the vectorized spelling of the old per-row
        ``lexsort[:k]`` loop (same ordering keys, same tie-break):
        one lexsort groups rows and orders candidates, a running
        row-start maximum turns position-within-row into a rank."""
        order = np.lexsort((i, -s, r))
        r_s = r[order]
        idx = np.arange(len(r_s))
        new_row = np.r_[True, r_s[1:] != r_s[:-1]] if len(r_s) else np.array([], dtype=bool)
        start = np.maximum.accumulate(np.where(new_row, idx, 0))
        return order[(idx - start) < k]

    def _score(members: pd.DataFrame, probers: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "a_id": np.array([], dtype=np.int64),
                "b_id": np.array([], dtype=np.int64),
                "sim2_milli": np.array([], dtype=np.int64),
            }
        )
        if len(members) == 0 or len(probers) == 0:
            return empty
        mids = members["_id"].to_numpy()
        mx = np.stack([_quantize_np(v, 100) for v in members["_vec"]])
        mn2 = (mx * mx).sum(axis=1)
        outs = []
        for p0 in range(0, len(probers), block_size):
            pp = probers.iloc[p0 : p0 + block_size]
            px = np.stack([_quantize_np(v, 100) for v in pp["_vec"]])
            pids = pp["_id"].to_numpy()
            pn2 = (px * px).sum(axis=1)
            # per-prober best-k accumulated across member tiles — fully
            # vectorized (r14: the old per-row python loop over every
            # tile row dominated the kernel's profile; same candidate
            # mask, same per-tile top-k bound, same (-sim, id) order)
            rs: list[np.ndarray] = []
            ss: list[np.ndarray] = []
            bs: list[np.ndarray] = []
            for m0 in range(0, len(mids), block_size):
                g = px @ mx[m0 : m0 + block_size].T
                denom = pn2[:, None] * mn2[None, m0 : m0 + block_size]
                ok = (g > 0) & (denom > 0)
                sim2 = np.zeros_like(g)
                sim2[ok] = (g[ok] * g[ok] * 1000) // denom[ok]
                tile_ids = mids[m0 : m0 + block_size]
                keep = (sim2 >= sim2_milli_threshold) & (
                    tile_ids[None, :] != pids[:, None]
                )
                if not keep.any():
                    continue
                r_t, c_t = np.nonzero(keep)
                s_t = sim2[r_t, c_t]
                i_t = tile_ids[c_t]
                # per-tile top-k keeps the accumulation k-bounded per
                # row exactly like the old loop
                sel = _topk_per_row(r_t, s_t, i_t)
                rs.append(r_t[sel])
                ss.append(s_t[sel])
                bs.append(i_t[sel])
            if not rs:
                continue
            r_all = np.concatenate(rs)
            s_all = np.concatenate(ss)
            b_all = np.concatenate(bs)
            sel = _topk_per_row(r_all, s_all, b_all)
            outs.append(
                pd.DataFrame(
                    {
                        "a_id": pids[r_all[sel]].astype(np.int64),
                        "b_id": b_all[sel].astype(np.int64),
                        "sim2_milli": s_all[sel].astype(np.int64),
                    }
                )
            )
        return pd.concat(outs, ignore_index=True) if outs else empty

    scored = (
        t.groupby("bucket")
        .cogroup(q.groupby("bucket"))
        .applyInPandas(
            lambda m, p: _score(m, p),
            "a_id bigint, b_id bigint, sim2_milli bigint",
        )
    )
    # global per-source top-k across the nprobe probed cells (each cell
    # contributed at most k local candidates per prober)
    # Window scale: partition key a_id; each prober contributed ≤ k
    # candidates per probed cell, k retained.
    w = Window.partitionBy("a_id").orderBy(
        F.col("sim2_milli").desc(), F.col("b_id").asc()
    )
    ranked = scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
    return (
        ranked.select(
            F.least("a_id", "b_id").alias("a_id"),
            F.greatest("a_id", "b_id").alias("b_id"),
            "sim2_milli",
        )
        .groupBy("a_id", "b_id")
        .agg(F.max("sim2_milli").alias("sim2_milli"))
    )


def _probe_cells_int(x: np.ndarray, cents: np.ndarray, nprobe: int) -> np.ndarray:
    """nprobe nearest centroids per row (L2 on the float centroid
    matrix, stable argsort tie-break) — the numpy twin of
    :func:`_nearest_centroids_udf` for use inside fused kernels.
    [n, d] -> [n, nprobe] int64."""
    xf = x.astype(np.float64)
    cf = cents.astype(np.float64)
    d = -2.0 * (xf @ cf.T) + (cf**2).sum(axis=1)[None, :]
    return np.argsort(d, axis=1, kind="stable")[:, :nprobe].astype(np.int64)


def embedding_clusters(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    k: int = 5,
    sim2_milli_threshold: int = 500,
    n_centroids: int | str = "auto",
    nprobe: int = 4,
    seed: int = 7,
    n_rows: int | None = None,
    centroids_q: "np.ndarray | None" = None,
) -> DataFrame:
    """Embedding-space clustering for dedup/curation: thresholded
    approximate kNN edges (:func:`knn_edges`) + min-label connected
    components (the corpus CC kernel — O(log diameter) pointer-doubling
    rounds). The graph-side alternative to centroid-scoped SemDeDup:
    transitive — A≈B≈C clusters even when A·C is below threshold.
    Output (vec_id, cluster_id = min reachable id).

    ``centroids_q`` passes an injected ×100-scale quantizer through to
    :func:`knn_edges` (the deterministic oracle-replay hook)."""
    from beis_orp_data_service_spark.operators import corpus as corpus_ops

    edges = knn_edges(
        embeddings,
        id_col=id_col,
        k=k,
        sim2_milli_threshold=sim2_milli_threshold,
        n_centroids=n_centroids,
        nprobe=nprobe,
        seed=seed,
        n_rows=n_rows,
        centroids_q=centroids_q,
    ).transform(  # three consumers below — compute the kNN join once
        stage_checkpoint, label="emb_clusters:knn_edges"
    )
    # CC only over edge-incident nodes — near-dup graphs are sparse, so
    # this keeps every propagation round proportional to the EDGE set,
    # not the corpus; untouched vectors join back as label-self
    # singletons with one anti-join, exactly what the self-loop rounds
    # would have concluded about them.
    touched = (
        edges.select(F.col("a_id").alias(id_col))
        .union(edges.select(F.col("b_id").alias(id_col)))
        .distinct()
    )
    clustered = corpus_ops.dup_clusters(edges, touched, id_col=id_col)
    singletons = (
        embeddings.select(F.col(id_col))
        .join(touched, id_col, "left_anti")
        .select(
            F.col(id_col).cast("bigint"),
            F.col(id_col).cast("bigint").alias("cluster_id"),
        )
    )
    return clustered.unionByName(singletons)


def ivfpq_index_write(
    spark,
    embeddings: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int | str = "auto",
    m: int = 4,
    k: int = 16,
    seed: int = 7,
    n_rows: int | None = None,
    coarse: np.ndarray | None = None,
    codebook: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Materialize the full FAISS IVF-PQ index in lake form: train both
    quantizers (:func:`ivfpq_train`), encode every vector to (bucket,
    m residual codes) in one Arrow pass, write parquet PARTITIONED BY
    bucket (probes scan only probed-cell directories — the
    :func:`ann_index_write` layout, but each row is m code ids instead
    of the raw vector: the 64× memory cut at 100 TB), and persist BOTH
    quantizers as versioned sidecars (coarse centroids under
    ``_centroids/``, PQ codebook under ``_pq_codebook/`` — the same
    rename-commit Hadoop-FS protocol, crash-safe, no Spark job).

    Returns (coarse, codebook) for immediate probing; a later session
    reloads them with :func:`ann_index_centroids` /
    :func:`pq_read_codebook`."""
    import math

    if coarse is not None and codebook is not None:
        # injected quantizers (the deterministic oracle-replay hook —
        # same contract as ivfpq_topk's coarse=/codebook=)
        cb = codebook
    else:
        n = n_rows if n_rows is not None else embeddings.count()
        if n_centroids == "auto":
            n_centroids = max(4, min(65_536, math.isqrt(n)))
        coarse, cb = ivfpq_train(
            embeddings, id_col, vec_col, n_centroids, m, k, seed=seed,
            n_rows=n,
        )
    (
        ivfpq_encode(embeddings, coarse, cb, id_col, vec_col)
        .withColumn("bucket", F.col("bucket").cast("int"))
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path)
    )
    _write_centroids(spark, path, coarse)
    pq_write_codebook(spark, path, cb)
    return coarse, cb


def ivfpq_index_probe(
    spark,
    path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_neighbors: int = 5,
    nprobe: int = 4,
    max_query_rows: int = 10_000,
) -> DataFrame:
    """Probe a stored IVF-PQ index: reload both quantizer sidecars,
    compute each query's nprobe cells and residual LUTs driver-side
    (bounded query set), and ADC-score ONLY the probed cell
    directories of the code table — ``bucket IN (probed)`` over the
    partitioned layout is partition pruning, so scan cost is
    nprobe/n_centroids of the index. Same scoring kernel contract as
    :func:`ivfpq_topk` with ``codes=`` (bit-identical results for the
    same quantizers). Output (query_id, neighbor_id, adist, rank).

    The "bounded query set" contract is MECHANICAL:
    the query side is pulled to the driver for LUT construction, so a
    corpus-sized ``queries`` would be a driver-side materialization —
    the ``max_query_rows`` guard raises instead of silently collecting
    (raise the cap deliberately if you really mean a huge query batch;
    per-query LUT memory is m*k ints)."""
    coarse = ann_index_centroids(spark, path).astype(np.int64)
    cb = pq_read_codebook(spark, path)
    codes = spark.read.parquet(path).withColumn(
        "bucket", F.col("bucket").cast("bigint")
    )
    q_rows = queries.select(id_col, vec_col).limit(max_query_rows + 1).collect()
    if len(q_rows) > max_query_rows:
        raise ValueError(
            f"queries side exceeds max_query_rows={max_query_rows}; "
            "ivfpq_index_probe collects the query set driver-side — "
            "bound it (.limit) or raise the cap explicitly"
        )
    if not q_rows:
        raise ValueError("queries must contain at least one row")
    query_ids = [int(r[id_col]) for r in q_rows]
    # delegate to ivfpq_topk's scoring via the codes= path: pass the
    # query rows through a dataframe carrying only them so the LUT pull
    # touches exactly the bounded query set
    qdf = queries.select(id_col, vec_col)
    return ivfpq_topk(
        qdf,
        query_ids=query_ids,
        id_col=id_col,
        vec_col=vec_col,
        k_neighbors=k_neighbors,
        n_centroids=coarse.shape[0],
        nprobe=nprobe,
        m=cb.shape[0],
        k=cb.shape[1],
        n_rows=len(query_ids),
        coarse=coarse,
        codebook=cb,
        codes=codes,
    )


def pca_rotation(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    sample_rows: int = 100_000,
    n_rows: int | None = None,
) -> np.ndarray:
    """Train the OPQ-parametric rotation (Ge et al. 2013 §4): PCA onto
    the principal axes PLUS eigenvalue allocation — principal axes are
    dealt greedily to the ``m`` product-quantizer subspaces so each
    subspace carries a balanced share of the variance (each new axis
    goes to the non-full subspace with the smallest eigenvalue product).
    Raw PCA alone CONCENTRATES variance into the first subspace and
    makes PQ strictly worse — the balancing is the point (and what
    FAISS's ``OPQ`` pre-transform approximates iteratively).

    Driver-side over the bounded replayable hash-gated sample:
    covariance → ``eigh`` → allocation → sign-normalized columns
    (largest-|component| positive) so the result is deterministic up
    to BLAS. Returns the orthonormal [d, d] float64 rotation R
    (apply as x @ R; subspace s = output dims [s·d/m, (s+1)·d/m))."""
    import math

    n = n_rows if n_rows is not None else embeddings.count()
    rows = _replayable_sample(embeddings, id_col, vec_col, sample_rows, n)
    if len(rows) < 2:
        raise ValueError(f"need at least 2 sample rows, got {len(rows)}")
    x = np.stack([np.asarray(r[vec_col], dtype=np.float64) for r in rows])
    d = x.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    xc = x - x.mean(axis=0)
    cov = (xc.T @ xc) / (len(x) - 1)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1]
    evals, evecs = evals[order], evecs[:, order]
    # eigenvalue allocation: deal axes (descending eigenvalue) to the
    # non-full subspace with the smallest log-eigenvalue sum
    slots: list[list[int]] = [[] for _ in range(m)]
    logsum = [0.0] * m
    eps = max(float(evals[0]), 1.0) * 1e-12
    for i in range(d):
        cands = [s for s in range(m) if len(slots[s]) < dsub]
        s = min(cands, key=lambda c: (logsum[c], c))
        slots[s].append(i)
        logsum[s] += math.log(max(float(evals[i]), eps))
    perm = [i for s in range(m) for i in slots[s]]
    r = evecs[:, perm]
    # deterministic sign: the largest-|component| of each axis positive
    flip = np.sign(r[np.abs(r).argmax(axis=0), np.arange(r.shape[1])])
    flip[flip == 0] = 1.0
    return r * flip[None, :]


def rotate_embeddings(
    embeddings: DataFrame,
    rotation: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Apply a trained rotation as ONE map-only Arrow pass — the
    pre-transform stage in a FAISS-style index factory chain
    (``PCAR,PQmx…``): downstream quantizers (:func:`pq_codes`,
    :func:`sq8_codes`, :func:`ivfpq_encode`) consume the rotated table
    unchanged. Rotation rides the kernel closure (d² floats).
    Output (id, rotated vec)."""
    import pandas as pd

    r = rotation.astype(np.float64)

    def _rot(it):
        for pdf in it:
            if len(pdf) == 0:
                yield pd.DataFrame(columns=[id_col, vec_col])
                continue
            x = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            out = x @ r
            yield pd.DataFrame(
                {id_col: pdf[id_col].values, vec_col: list(out)}
            )

    return embeddings.select(id_col, vec_col).mapInPandas(
        _rot, f"{id_col} bigint, {vec_col} array<double>"
    )


def mmr_rerank(
    embeddings: DataFrame,
    query_id: int,
    pool: int = 20,
    k: int = 5,
    lam_tenths: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pool_via: str = "brute",
    ivf_bits: int | str = 4,
) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein 1998)
    diversified top-k: retrieve a ``pool``-sized candidate set by
    relevance, then greedily pick ``k`` results trading relevance
    against similarity to what is already picked —
    ``MMR = λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s)``.

    Everything is INTEGER-exact: rel and sim are quantized dot
    products (``dot_q``), λ is expressed in tenths so the score is
    ``lam·rel − (10−lam)·max_sim`` in BIGINT — no float anywhere, so
    the DuckDB oracle (:func:`mmr_rerank_oracle_sql`, the greedy loop
    unrolled as k CTE stages) matches bit for bit. The first pick is
    pure relevance (no penalty term; ``mmr_q10 = lam·rel``); ties
    break to the smaller id at every stage.

    Scale shape: ``pool_via`` selects the candidate retrieval —
    ``"brute"`` (default, exact top-``pool`` scan; what the declared
    query and its oracle pin) or ``"ivf"`` (the 100 TB path: the
    sign-LSH bucketed :func:`ivf_topk` probe scans only the query's
    bucket neighborhood; recall < 1 by construction, so the pool MAY
    differ — when the pools agree the MMR picks are identical, pinned
    by tests/test_similarity.py). ONLY the pool builder changes: the
    pairwise-sim join and the greedy selection run over the POOL
    (parameter-bounded, 20×20 here), not the corpus. The greedy loop
    is expressed IN-PLAN — k chained TakeOrderedAndProject(1) stages
    over the persisted pool, exactly mirroring the oracle's CTE
    unrolling — so the whole lineage (pool builder included) is
    visible to the plan audit and nothing round-trips through the
    driver.
    """
    if pool_via not in ("brute", "ivf"):
        raise ValueError(f"mmr_rerank: unknown pool_via {pool_via!r}")
    q = embeddings.where(F.col(id_col) == query_id).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    q_as_table = q.select(
        F.col("query_id").alias(id_col), F.col("qvec").alias(vec_col)
    )
    if pool_via == "ivf":
        topk = ivf_topk(
            embeddings, q_as_table, id_col=id_col, vec_col=vec_col,
            k=pool, bits=ivf_bits, multiprobe=True,
        )
    else:
        topk = cosine_topk(
            embeddings, q_as_table, id_col=id_col, vec_col=vec_col,
            k=pool, quantized=True,
        )
    cand = (
        topk
        .select(F.col("neighbor_id").alias(id_col), F.col("score").alias("rel"))
        .join(embeddings.select(id_col, vec_col), id_col)
        .persist()  # pool-sized; scanned once per greedy stage
    )
    a = cand.select(
        F.col(id_col).alias("a_id"), F.col(vec_col).alias("avec")
    )
    b = cand.select(F.col(id_col).alias("b_id"), F.col(vec_col).alias("bvec"))
    sims = (
        # broadcast: pool-sized x pool-sized theta join — BNLJ over 20
        # broadcast rows (audit-allowlisted), never a CartesianProduct
        a.join(F.broadcast(b), F.col("a_id") != F.col("b_id"))
        .select("a_id", "b_id", dot_q(F.col("avec"), F.col("bvec")).alias("sim"))
        .persist()
    )
    lam, mu = int(lam_tenths), 10 - int(lam_tenths)
    base = cand.select(F.col(id_col).alias("vec_id"), "rel")
    picks = base.orderBy(F.col("rel").desc(), F.col("vec_id").asc()).limit(
        1
    ).select(
        F.lit(1).cast("bigint").alias("rank"),
        "vec_id",
        "rel",
        (F.lit(lam) * F.col("rel")).cast("bigint").alias("mmr_q10"),
    )
    # each stage's one-row pick is checkpointed: `picks` feeds the next
    # stage TWICE (anti-join + penalty join), so a lazy spelling doubles
    # the plan per stage (the k-core 3^rounds lesson) and re-executes
    # every earlier TakeOrdered repeatedly
    picks = stage_checkpoint(picks, label="mmr:pick1")
    for t in range(2, k + 1):
        sel = picks.select("vec_id")
        pen = (
            base.join(sel, "vec_id", "left_anti")
            .join(sims, F.col("vec_id") == F.col("a_id"))
            .join(
                F.broadcast(sel.select(F.col("vec_id").alias("b_id"))), "b_id"
            )
            .groupBy("vec_id", "rel")
            .agg(F.max("sim").alias("_pen"))
        )
        pick_t = (
            pen.select(
                F.lit(t).cast("bigint").alias("rank"),
                "vec_id",
                "rel",
                (F.lit(lam) * F.col("rel") - F.lit(mu) * F.col("_pen"))
                .cast("bigint")
                .alias("mmr_q10"),
            )
            .orderBy(F.col("mmr_q10").desc(), F.col("vec_id").asc())
            .limit(1)
        )
        picks = stage_checkpoint(
            picks.unionByName(pick_t), label=f"mmr:pick{t}"
        )
    return picks


def mmr_rerank_oracle_sql(
    duck_dot: str,
    query_id: int,
    pool: int = 20,
    k: int = 5,
    lam_tenths: int = 7,
    table: str = "embeddings",
    id_col: str = "vec_id",
) -> str:
    """DuckDB twin of :func:`mmr_rerank`: the greedy loop unrolled as
    ``k`` pick/selected CTE pairs — same integer scores, same
    (mmr desc, id asc) tie-break at every stage. ``duck_dot`` is the
    quantized-dot expression over ``q.embedding``/``t.embedding``."""
    lam, mu = int(lam_tenths), 10 - int(lam_tenths)
    ctes = [
        f"""qv AS (
      SELECT {id_col} AS query_id, embedding FROM {table}
      WHERE {id_col} = {query_id}
    ), cand AS (
      SELECT t.{id_col} AS vec_id, t.embedding,
             CAST({duck_dot.replace('q.embedding', 'qv.embedding')} AS BIGINT) AS rel
      FROM {table} t, qv WHERE t.{id_col} <> qv.query_id
      ORDER BY rel DESC, t.{id_col} ASC LIMIT {pool}
    ), sims AS (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             CAST({duck_dot.replace('q.embedding', 'a.embedding').replace('t.embedding', 'b.embedding')} AS BIGINT) AS sim
      FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
    ), pick1 AS (
      SELECT CAST(1 AS BIGINT) AS rank, vec_id, rel,
             CAST({lam} * rel AS BIGINT) AS mmr_q10
      FROM cand ORDER BY rel DESC, vec_id ASC LIMIT 1
    ), sel1 AS (SELECT vec_id FROM pick1)"""
    ]
    for t in range(2, k + 1):
        ctes.append(
            f"""pen{t} AS (
      SELECT c.vec_id, c.rel, MAX(s.sim) AS pen
      FROM cand c
      JOIN sims s ON s.a_id = c.vec_id
      JOIN sel{t - 1} ON s.b_id = sel{t - 1}.vec_id
      WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{t - 1})
      GROUP BY c.vec_id, c.rel
    ), pick{t} AS (
      SELECT CAST({t} AS BIGINT) AS rank, vec_id, rel,
             CAST({lam} * rel - {mu} * pen AS BIGINT) AS mmr_q10
      FROM pen{t} ORDER BY mmr_q10 DESC, vec_id ASC LIMIT 1
    ), sel{t} AS (
      SELECT vec_id FROM sel{t - 1} UNION ALL SELECT vec_id FROM pick{t}
    )"""
        )
    picks = " UNION ALL ".join(
        f"SELECT rank, vec_id, rel, mmr_q10 FROM pick{t}"
        for t in range(1, k + 1)
    )
    return f"WITH {', '.join(ctes)} {picks}"


def mean_pool_chunks(
    embeddings: DataFrame,
    group_div: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Chunk→document embedding pooling: mean of each parent's chunk
    vectors (parent id = ``id DIV group_div`` — the RAG-pipeline
    convention of contiguous chunk ids per document). The standard
    build step for doc-level ANN over a chunk-level embedding table.

    Hash-grade arithmetic: components quantize to the engine's
    ``dot_q`` convention (round(x·1000) as BIGINT) BEFORE the order-
    free per-(doc, dim) sum; the mean is integer DIV. Plan: one
    posexplode over dims → one map-side-combined (doc, dim) aggregate
    → order-preserving array reassembly via sorted (dim, value)
    structs (the word_dropout shape). Returns (doc_id, n_chunks,
    pooled_q array<bigint>).

    Precondition: chunk ids are NON-NEGATIVE. The parent id is exact
    integer ``DIV`` (no double round-trip, so ids beyond 2^53 stay
    exact); Spark's DIV truncates toward zero while
    DuckDB's ``//`` floors, which only agree for ids >= 0.
    """
    if group_div <= 0:
        raise ValueError(f"group_div must be positive: {group_div}")
    parent = F.expr(f"{id_col} DIV {int(group_div)}")
    dims = embeddings.select(
        parent.alias("doc_id"),
        F.col(id_col).alias("_chunk"),
        F.posexplode(F.col(vec_col)).alias("_dim", "_x"),
    ).select(
        "doc_id",
        "_chunk",
        "_dim",
        F.round(F.col("_x").cast("double") * 1000).cast("bigint").alias("_q"),
    )
    per_dim = dims.groupBy("doc_id", "_dim").agg(
        F.sum("_q").alias("_s"),
        F.countDistinct("_chunk").alias("_n"),
    )
    return (
        per_dim.groupBy("doc_id")
        .agg(
            F.max("_n").cast("bigint").alias("n_chunks"),
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("_dim"),
                        # floor (not DIV): sums are signed and Spark's
                        # DIV truncates toward zero while DuckDB's //
                        # floors — floor-of-double is identical in both
                        # (sums stay far inside 2^53, the lm_score note)
                        F.floor(F.col("_s").cast("double") / F.col("_n"))
                        .cast("bigint")
                        .alias("_m"),
                    )
                )
            ).alias("_a"),
        )
        .select(
            "doc_id",
            "n_chunks",
            F.transform(F.col("_a"), lambda x: x["_m"]).alias("pooled_q"),
        )
    )


def mean_pool_chunks_oracle_sql(
    table: str = "embeddings",
    group_div: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of :func:`mean_pool_chunks` — same quantize-before-
    sum, same integer-DIV mean, same dim-ordered reassembly."""
    return f"""
    WITH e AS (
      SELECT {id_col} // {group_div} AS doc_id, {id_col} AS chunk,
             [CAST(round(CAST({vec_col}[i] AS DOUBLE) * 1000) AS BIGINT)
              for i in range(1, len({vec_col}) + 1)] AS q
      FROM {table}
    ), dims AS (
      SELECT doc_id, chunk, i - 1 AS dim, q[i] AS qv
      FROM e, unnest(range(1, len(q) + 1)) t(i)
    ), per_dim AS (
      SELECT doc_id, dim,
             CAST(sum(qv) AS BIGINT) AS s,
             CAST(count(DISTINCT chunk) AS BIGINT) AS n
      FROM dims GROUP BY doc_id, dim
    )
    SELECT doc_id,
           CAST(max(n) AS BIGINT) AS n_chunks,
           list(CAST(floor(CAST(s AS DOUBLE) / n) AS BIGINT)
                ORDER BY dim) AS pooled_q
    FROM per_dim GROUP BY doc_id
    """


def l2_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Brute-force QUANTIZED-L2 top-k — the ground truth the PQ/ADC
    family is measured against (ADC approximates squared L2 in the same
    ×1000 integer space, so this is the like-for-like exact baseline;
    :func:`cosine_topk` is the dot-product twin for the IVF family).
    Same shape: queries broadcast, scoring is a projection, per-query
    window keeps k."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    t = embeddings.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("tvec")
    )
    d2 = F.aggregate(
        F.zip_with(
            _quantize(F.col("qvec")),
            _quantize(F.col("tvec")),
            lambda a, b: (a - b) * (a - b),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    scored = t.join(
        F.broadcast(q), F.col("neighbor_id") != F.col("query_id")
    ).withColumn("d2", d2)
    # Window scale: partition key query_id; rows per task = one query's
    # candidates, k retained.
    w = Window.partitionBy("query_id").orderBy(
        F.col("d2").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "d2", "rank")
    )


def ann_recall_table(
    embeddings: DataFrame,
    n_queries: int = 20,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    seed: int = 7,
) -> DataFrame:
    """The ANN operating-point evidence table: recall@k of every
    approximate method against its exact ground truth, per
    configuration — (method, op, k, n_queries, n_returned, hits,
    recall_milli). This is the number an index owner reads to pick
    (nprobe, bits, PQ budget); correctness of each method is hash-
    checked elsewhere (ann_ivf_topk, pq_adc_topk), this surface
    measures the recall TRADEOFF those checks can't express.

    Ground truths: quantized dot (cosine_topk) for the IVF/LSH family,
    quantized squared-L2 (:func:`l2_topk`) for ADC — each approximate
    method is scored in its own metric space. Methods:

    - sign-LSH IVF at bits=4, single-probe and Hamming-1 multiprobe;
    - trained-kmeans IVF (one shared quantizer fit) at nprobe 1/2/4;
    - PQ/ADC at m=4, k=16 (deterministic codebook).

    Scale shape: every method is the production operator itself (same
    bucketed plans); candidates from all methods union into ONE inner
    join against the union of ground truths (keyed by metric space) and
    one small groupBy — no per-method driver round-trips. Driver pulls
    are the quantizer (kmeans fit) and the LUT build, both
    model-sized. The report is O(methods) rows."""
    emb = embeddings
    queries = emb.filter(F.col(id_col) < n_queries)
    # one sizing job for both driver scalars (was two separate counts)
    sizes = emb.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(
            F.when(F.col(id_col) < n_queries, 1).otherwise(0)
        ).alias("_nq"),
    ).collect()[0]
    n_rows = int(sizes["_n"])
    nq = int(sizes["_nq"] or 0)  # bounded driver scalar (≤ n_queries)

    def _truth_half():
        exact_dot = cosine_topk(emb, queries, id_col, vec_col, k=k).select(
            F.lit("dot").alias("space"), "query_id", "neighbor_id"
        )
        exact_l2 = l2_topk(emb, queries, id_col, vec_col, k=k).select(
            F.lit("l2").alias("space"), "query_id", "neighbor_id"
        )
        return exact_dot.unionByName(exact_l2).transform(
            stage_checkpoint, label="ann_recall:truth"
        )

    def tag(df, method, op, space):
        return df.select(
            F.lit(method).alias("method"),
            F.lit(op).alias("op"),
            F.lit(space).alias("space"),
            "query_id",
            "neighbor_id",
        )

    # The kmeans quantizer fit is a serial driver phase (MLlib
    # iterations) that neither the LSH/PQ arms NOR the exact ground
    # truths depend on — overlap the fit with materializing both
    # (guide §2.6: overlap independent jobs; the truth topk scans
    # back-fill executors idled by the fit's small serial jobs). Each
    # piece lands in its own stage checkpoint; the spine/hits
    # consumers below then read the materialized pieces, so no arm
    # executes twice and no result changes (every arm is still the
    # production operator with identical parameters).
    def _nonk_half():
        # the two sign-LSH arms differ only in the QUERY probe set —
        # the signed corpus table is identical, so it materializes once
        # and both arms read it (one corpus signing scan, not two)
        signed = ivf_sign_table(emb, id_col, vec_col, bits=4).transform(
            stage_checkpoint, label="ann_recall:lsh_signed"
        )
        nonk = [
            (
                "ivf_lsh", "bits=4,single", "dot",
                ivf_topk(
                    emb, queries, id_col, vec_col, k=k, bits=4,
                    multiprobe=False, n_rows=n_rows, corpus_buckets=signed,
                ),
            ),
            (
                "ivf_lsh", "bits=4,multiprobe", "dot",
                ivf_topk(
                    emb, queries, id_col, vec_col, k=k, bits=4,
                    multiprobe=True, n_rows=n_rows, corpus_buckets=signed,
                ),
            ),
            (
                "pq_adc", "m=4,k=16", "l2",
                pq_adc_topk(
                    emb, id_col, vec_col,
                    query_ids=list(range(n_queries)), k_neighbors=k,
                ),
            ),
        ]
        u = None
        for method, op, space, df in nonk:
            t = tag(df, method, op, space)
            u = t if u is None else u.unionByName(t)
        return u.transform(stage_checkpoint, label="ann_recall:cand_nonk")

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_nonk = pool.submit(_nonk_half)
        f_truth = pool.submit(_truth_half)
        cents = kmeans_centroids(
            emb, vec_col, n_centroids=n_centroids, seed=seed, n_rows=n_rows
        )
        nonk_cand = f_nonk.result()
        truth = f_truth.result()

    # the three nprobe operating points share one corpus assignment —
    # materialize the (full-table Arrow) assignment pass once and let
    # every arm read it (was: each union branch re-ran its own
    # assignment pass over the whole table)
    kassigned = ivf_assign_table(emb, id_col, vec_col, cents).transform(
        stage_checkpoint, label="ann_recall:kmeans_assigned"
    )
    kcand = None
    for nprobe in (1, 2, 4):
        t = tag(
            ivf_kmeans_topk(
                emb, queries, id_col, vec_col, k=k,
                centroids=cents, nprobe=nprobe, assigned=kassigned,
            ),
            "ivf_kmeans", f"nprobe={nprobe}", "dot",
        )
        kcand = t if kcand is None else kcand.unionByName(t)
    # TWO consumers below (spine + hits join) — each half sits behind
    # its own stage boundary so no arm's bucketed search executes twice
    kcand = kcand.transform(stage_checkpoint, label="ann_recall:cand_kmeans")
    cand = nonk_cand.unionByName(kcand)

    spine = cand.groupBy("method", "op").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_returned")
    )
    hits = (
        cand.join(truth, ["space", "query_id", "neighbor_id"])
        .groupBy("method", "op")
        .agg(F.count(F.lit(1)).cast("bigint").alias("hits"))
    )
    return (
        spine.join(hits, ["method", "op"], "left")
        .select(
            "method",
            "op",
            F.lit(k).cast("bigint").alias("k"),
            F.lit(nq).cast("bigint").alias("n_queries"),
            "n_returned",
            F.coalesce("hits", F.lit(0)).cast("bigint").alias("hits"),
            F.expr(f"coalesce(hits, 0) * 1000 div ({nq} * {k})")
            .cast("bigint")
            .alias("recall_milli"),
        )
    )
