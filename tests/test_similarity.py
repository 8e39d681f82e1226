"""ANN similarity-search tests: brute-force correctness, IVF recall,
quantized-score exactness."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from beis_orp_data_service_spark.catalog import load_table
from beis_orp_data_service_spark.operators import similarity as sim
from tests.conftest import SF_SMOKE, spark_jobs


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_SMOKE, "embeddings")


def test_cosine_topk_matches_numpy(spark, emb):
    import numpy as np

    pdf = emb.toPandas()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in pdf.itertuples()}
    q = 3
    # half-up, matching F.round (np.round is banker's — diverges at .5)
    quant = {
        k: (np.sign(v * 1000) * np.floor(np.abs(v * 1000) + 0.5)).astype(np.int64)
        for k, v in vecs.items()
    }
    expected = sorted(
        ((int(quant[q] @ quant[n]), n) for n in vecs if n != q),
        key=lambda t: (-t[0], t[1]),
    )[:5]

    queries = emb.filter(F.col("vec_id") == q)
    got = (
        sim.cosine_topk(emb, queries, k=5, quantized=True)
        .orderBy("rank")
        .collect()
    )
    assert [(r.score, r.neighbor_id) for r in got] == expected


def test_ivf_subset_of_bucket_and_reasonable_recall(spark, emb):
    queries = emb.filter(F.col("vec_id") < 20)
    brute = sim.cosine_topk(emb, queries, k=5, quantized=True).collect()
    ivf = sim.ivf_topk(emb, queries, k=5, bits=4).collect()
    brute_sets = {}
    for r in brute:
        brute_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = tot = 0
    for r in ivf:
        tot += 1
        if r.neighbor_id in brute_sets.get(r.query_id, set()):
            hits += 1
    assert tot > 0
    # sign-LSH over correlated embeddings: same-bucket neighbors should
    # recover a meaningful share of the true top-k
    assert hits / tot > 0.3, f"IVF recall vs brute force too low: {hits}/{tot}"


def test_sign_bucket_range(spark, emb):
    out = emb.select(sim.sign_bucket("embedding", 4).alias("b")).distinct().collect()
    assert all(0 <= r.b < 16 for r in out)


def test_sign_bucket_unrolled_equals_aggregate_fold(spark, emb):
    # the codegen unrolled spelling (r15) must equal the original
    # interpreted F.aggregate fold bit-for-bit, at several widths
    for bits in (2, 4, 8):
        fold = F.aggregate(
            F.sequence(F.lit(0), F.lit(bits - 1)),
            F.lit(0).cast("bigint"),
            lambda acc, i: acc * 2
            + F.when(F.element_at(F.col("embedding"), i + 1) >= 0, F.lit(1))
            .otherwise(F.lit(0))
            .cast("bigint"),
        )
        diff = (
            emb.select(
                sim.sign_bucket("embedding", bits).alias("new"),
                fold.alias("old"),
            )
            .where(F.col("new") != F.col("old"))
            .count()
        )
        assert diff == 0, f"sign_bucket mismatch at bits={bits}"


def test_ivf_topk_prebuilt_corpus_buckets_identical(spark, emb):
    queries = emb.filter(F.col("vec_id") < 5)
    base = sim.ivf_topk(emb, queries, k=5, bits=4, multiprobe=True)
    signed = sim.ivf_sign_table(emb, "vec_id", "embedding", bits=4)
    pre = sim.ivf_topk(
        emb, queries, k=5, bits=4, multiprobe=True, corpus_buckets=signed
    )
    assert sorted(map(tuple, base.collect())) == sorted(map(tuple, pre.collect()))


def test_ivf_topk_auto_bits_with_prebuilt_buckets_raises_before_any_job(spark, emb):
    # the auto width need not match the width the table was signed with
    signed = sim.ivf_sign_table(emb, "vec_id", "embedding", bits=4)
    queries = emb.filter(F.col("vec_id") < 5)

    def call():
        with pytest.raises(ValueError, match="corpus_buckets"):
            sim.ivf_topk(emb, queries, bits="auto", corpus_buckets=signed)

    assert spark_jobs(spark, call)[1] == 0


def test_ivf_kmeans_topk_prebuilt_assignment_identical(spark, emb):
    import numpy as np

    queries = emb.filter(F.col("vec_id") < 5)
    # three real vectors as the quantizer (dim-correct, deterministic)
    cents = np.array(
        [r.embedding for r in emb.filter(F.col("vec_id") < 3).orderBy("vec_id").collect()],
        dtype=np.float64,
    )
    base = sim.ivf_kmeans_topk(
        emb, queries, k=5, centroids=cents, nprobe=2
    )
    pre = sim.ivf_kmeans_topk(
        emb, queries, k=5, centroids=cents, nprobe=2,
        assigned=sim.ivf_assign_table(emb, "vec_id", "embedding", cents),
    )
    assert sorted(map(tuple, base.collect())) == sorted(map(tuple, pre.collect()))


def test_ivf_kmeans_topk_assigned_without_centroids_raises_before_any_job(spark, emb):
    # the guard must fire before the sizing count and the k-means fit
    queries = emb.filter(F.col("vec_id") < 5)
    # any (neighbor_id, tvec, bucket) table serves as the prebuilt one
    assigned = sim.ivf_sign_table(emb, "vec_id", "embedding", bits=4)

    def call():
        with pytest.raises(ValueError, match="assigned requires centroids"):
            sim.ivf_kmeans_topk(emb, queries, assigned=assigned)

    assert spark_jobs(spark, call)[1] == 0


def test_embedding_dup_pairs_symmetric_threshold(spark, emb):
    pairs = sim.embedding_dup_pairs(emb, sim2_milli_threshold=0, bits=4)
    row = pairs.orderBy(F.desc("sim2_milli")).first()
    if row is not None:
        assert row.a_id < row.b_id
        assert 0 <= row.sim2_milli <= 1000


def test_embedding_dup_pairs_numpy_equals_sql(spark, emb):
    # the per-bucket Gram-matrix kernel must produce the exact pair set
    # and scores of the pure-expression form
    got_np = {
        (r.a_id, r.b_id): r.sim2_milli
        for r in sim.embedding_dup_pairs(emb, sim2_milli_threshold=0, bits=4).collect()
    }
    got_sql = {
        (r.a_id, r.b_id): r.sim2_milli
        for r in sim.embedding_dup_pairs_sql(emb, sim2_milli_threshold=0, bits=4).collect()
    }
    assert got_np == got_sql


def test_embedding_dup_pairs_tiled_large_bucket(spark):
    """Every vector is forced into ONE bucket and block_size is far
    smaller than the bucket, so the kernel must take the tiled path
    (diagonal + off-diagonal tiles); results must equal the expression
    form exactly. Memory bound: the kernel only ever materializes
    block_size² Gram tiles (64² here), never the 300² matrix."""
    import random

    rnd = random.Random(7)
    rows = [
        (i, [abs(rnd.uniform(0.1, 1.0)) for _ in range(8)])  # all-positive
        for i in range(300)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got_np = {
        (r.a_id, r.b_id): r.sim2_milli
        for r in sim.embedding_dup_pairs(
            emb, sim2_milli_threshold=0, bits=4, block_size=64
        ).collect()
    }
    got_sql = {
        (r.a_id, r.b_id): r.sim2_milli
        for r in sim.embedding_dup_pairs_sql(
            emb, sim2_milli_threshold=0, bits=4
        ).collect()
    }
    assert len(got_np) == 300 * 299 // 2  # single bucket, all pairs
    assert got_np == got_sql


def test_auto_bits_scaling():
    assert sim.auto_bits(1_000) == 4
    assert sim.auto_bits(100_000) == 5
    assert sim.auto_bits(10_000_000) == 12
    assert sim.auto_bits(10**12) == 16  # clamped at hi
    assert sim.auto_bits(10**12, hi=8) == 8


def test_ivf_kmeans_recall_beats_floor(spark, emb):
    queries = emb.filter(F.col("vec_id") < 20)
    brute = sim.cosine_topk(emb, queries, k=5, quantized=True).collect()
    ivf = sim.ivf_kmeans_topk(emb, queries, k=5, n_centroids="auto", nprobe=4).collect()
    brute_sets = {}
    for r in brute:
        brute_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = tot = 0
    for r in ivf:
        tot += 1
        if r.neighbor_id in brute_sets.get(r.query_id, set()):
            hits += 1
    assert tot > 0
    # trained quantizer + multiprobe should recover at least the
    # sign-LSH floor on the same data
    assert hits / tot > 0.3, f"k-means IVF recall too low: {hits}/{tot}"


def test_ivf_kmeans_no_self_and_k_bound(spark, emb):
    queries = emb.filter(F.col("vec_id") < 5)
    out = sim.ivf_kmeans_topk(emb, queries, k=3, n_centroids=8, nprobe=2).collect()
    per_q = {}
    for r in out:
        assert r.neighbor_id != r.query_id
        per_q.setdefault(r.query_id, []).append(r.rank)
    for ranks in per_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)) and len(ranks) <= 3


class TestSemDeDup:
    def test_planted_duplicate_dropped(self, spark):
        # two well-separated clusters; vec 10 duplicates vec 2 (same
        # direction, slightly scaled) -> same cluster, cosine ~1 -> dup.
        # vec 11 is orthogonal-ish in the other cluster -> kept.
        from pyspark.sql import Row
        rows = [
            Row(vec_id=0, embedding=[1.0, 0.0, 0.0, 0.0]),   # centroid A
            Row(vec_id=1, embedding=[0.0, 1.0, 0.0, 0.0]),   # centroid B
            Row(vec_id=2, embedding=[0.7, 0.7, 0.1, 0.0]),   # cluster A (tie->A)
            Row(vec_id=10, embedding=[0.7, 0.7, 0.1, 0.0]),  # dup of 2
            Row(vec_id=11, embedding=[0.0, 0.8, 0.4, 0.0]),  # cluster B, kept
        ]
        emb = spark.createDataFrame(rows)
        out = {
            r.vec_id: r
            for r in sim.semdedup(
                emb, n_clusters=2, sim2_milli_threshold=900
            ).collect()
        }
        assert len(out) == 5
        # 0 and 1 are their own centroids/first occupants -> kept
        assert out[0].is_dup == 0 and out[1].is_dup == 0
        # 2 is the first of the duplicate pair -> kept; 10 dropped
        assert out[2].is_dup == 0
        assert out[10].is_dup == 1
        assert out[10].cluster_id == out[2].cluster_id
        assert out[11].is_dup == 0

    def test_kernel_equals_expression_form(self, spark):
        """The tiled-Gram kernel path must reproduce the pure-expression
        within-cluster join exactly (same quantize/dot/sim² int64
        arithmetic), including with a block_size far smaller than the
        cluster so the tiled i<j masking is exercised."""
        emb = load_table(spark, SF_SMOKE, "embeddings")
        for thr in (250, 900):
            got_kernel = {
                r.vec_id: (r.cluster_id, r.is_dup)
                for r in sim.semdedup(
                    emb, n_clusters=8, sim2_milli_threshold=thr, block_size=64
                ).collect()
            }
            got_expr = {
                r.vec_id: (r.cluster_id, r.is_dup)
                for r in sim.semdedup_expr(
                    emb, n_clusters=8, sim2_milli_threshold=thr
                ).collect()
            }
            assert got_kernel == got_expr

    def test_trained_quantizer_finds_planted_dups(self, spark):
        """Production path (n_clusters="auto" -> MLlib k-means quantizer
        + Arrow assignment + tiled kernel): near-identical planted pairs
        land in the same cell and the later id is flagged; all rows come
        back exactly once."""
        import random

        rnd = random.Random(11)
        rows = []
        for i in range(40):
            rows.append((i, [rnd.uniform(-1.0, 1.0) for _ in range(8)]))
        # plant near-duplicates of vectors 3 and 17 at higher ids
        for src, did in ((3, 100), (17, 101)):
            rows.append((did, [x * 1.01 for x in rows[src][1]]))
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        out = {
            r.vec_id: r
            for r in sim.semdedup(
                emb, n_clusters="auto", sim2_milli_threshold=900
            ).collect()
        }
        assert len(out) == 42
        for src, did in ((3, 100), (17, 101)):
            assert out[did].cluster_id == out[src].cluster_id
            assert out[did].is_dup == 1
            assert out[src].is_dup == 0

    def test_cluster_assignment_is_nearest(self, spark):
        from pyspark.sql import Row
        emb = spark.createDataFrame(
            [
                Row(vec_id=0, embedding=[1.0, 0.0]),
                Row(vec_id=1, embedding=[0.0, 1.0]),
                Row(vec_id=5, embedding=[0.1, 0.9]),
            ]
        )
        out = {
            r.vec_id: r.cluster_id
            for r in sim.semdedup(emb, n_clusters=2).collect()
        }
        assert out[5] == 1 and out[0] == 0 and out[1] == 1


class TestPersistentIvfIndex:
    def test_probe_recall_and_partition_pruning(self, spark, emb, tmp_path):
        """The persisted index must (a) reach the same recall floor as
        the in-memory trained-quantizer search, and (b) actually prune:
        the probe scan's physical plan carries a dynamic-partition-
        pruning filter on the bucket partition column."""
        path = str(tmp_path / "ivf_index")
        cents = sim.ann_index_write(emb, path, n_centroids=8)
        assert cents.shape[0] == 8

        queries = emb.filter(F.col("vec_id") < 20)
        out = sim.ann_index_probe(spark, path, queries, k=5, nprobe=4)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan.lower(), plan[:2000]

        got = out.collect()
        brute = sim.cosine_topk(emb, queries, k=5, quantized=True).collect()
        brute_sets = {}
        for r in brute:
            brute_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
        hits = tot = 0
        for r in got:
            tot += 1
            if r.neighbor_id in brute_sets.get(r.query_id, set()):
                hits += 1
        assert tot > 0
        assert hits / tot > 0.3, f"index probe recall too low: {hits}/{tot}"

    def test_index_layout_is_bucket_partitioned(self, spark, emb, tmp_path):
        import os

        path = str(tmp_path / "ivf_index2")
        sim.ann_index_write(emb, path, n_centroids=4)
        buckets = [n for n in os.listdir(path) if n.startswith("bucket=")]
        assert 1 <= len(buckets) <= 4
        # centroid sidecar: versioned JSON files via the Hadoop FS API
        # (lake-portable, rename-to-fresh-name commit) in a _-prefixed
        # dir invisible to the table scan
        sidecars = os.listdir(os.path.join(path, "_centroids"))
        assert any(n.startswith("centroids-") and n.endswith(".json") for n in sidecars)
        cents = sim.ann_index_centroids(spark, path)
        assert cents.shape[0] <= 4 and cents.ndim == 2
        # every vector present exactly once across partitions
        assert spark.read.parquet(path).count() == emb.count()


def test_quantize_np_half_up_parity(spark):
    """np.round is banker's (half-to-even); Spark F.round and DuckDB
    round are HALF-UP away from zero. The numpy kernels must match the
    expression form exactly AT the .5 boundaries (0.125*100 = 12.5
    exactly in binary)."""
    import duckdb
    import numpy as np

    # 0.0049999999999999994*100 is one ulp BELOW 0.5: the naive
    # floor(|x|+0.5) form rounds it UP (0.49999999999999994+0.5 == 1.0
    # in FP) where BigDecimal/DuckDB round down — the floor-and-compare
    # form must agree with the engines
    vals = [0.125, -0.125, 0.105, -0.105, 0.5, 1.0, 0.33,
            0.0049999999999999994, -0.0049999999999999994]
    got_np = sim._quantize_np(vals).tolist()
    got_spark = (
        spark.createDataFrame([(vals,)], "v array<double>")
        .select(sim._quantize(F.col("v"), 100).alias("q"))
        .first()
        .q
    )
    con = duckdb.connect()
    got_duck = con.sql(
        "SELECT [CAST(round(x * 100) AS BIGINT) FOR x IN "
        f"{vals}] AS q"
    ).fetchone()[0]
    assert got_np == got_spark == got_duck
    assert got_np[0] == 13  # 12.5 rounds UP, not to even (12)


class TestProductQuantization:
    def test_codes_match_pure_python(self, spark):
        import numpy as np

        from beis_orp_data_service_spark.operators import similarity as sim

        rng_rows = [
            (i, [((i * 31 + j * 7) % 17 - 8) / 8.0 for j in range(8)])
            for i in range(40)
        ]
        emb = spark.createDataFrame(rng_rows, "vec_id bigint, embedding array<float>")
        got = {
            r.vec_id: (r.codes_text, r.recon_err)
            for r in sim.pq_codes(emb, m=2, k=4).collect()
        }

        def q(v):
            x = np.asarray(v, dtype=np.float64) * 1000
            ax = np.abs(x)
            f = np.floor(ax)
            return (np.sign(x) * (f + (ax - f >= 0.5))).astype(np.int64)

        mat = {i: q(np.asarray(v, dtype=np.float32)) for i, v in rng_rows}
        cb = [np.stack([mat[i][s * 4 : (s + 1) * 4] for i in range(4)]) for s in range(2)]
        for i, _v in rng_rows:
            codes, err = [], 0
            for s in range(2):
                d = ((mat[i][s * 4 : (s + 1) * 4][None, :] - cb[s]) ** 2).sum(axis=1)
                codes.append(int(d.argmin()))
                err += int(d.min())
            assert got[i] == ("_".join(map(str, codes)), err)

    def test_codebook_rows_have_zero_error_on_their_own_subspace(self, spark):
        from beis_orp_data_service_spark.operators import similarity as sim

        rows = [(i, [float(i), float(-i), i / 3.0, 1.0 - i]) for i in range(10)]
        emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
        got = {r.vec_id: r for r in sim.pq_codes(emb, m=2, k=4).collect()}
        # the first k=4 rows ARE the codebook: they reconstruct exactly
        for i in range(4):
            assert got[i].recon_err == 0
            assert got[i].codes_text == f"{i}_{i}"

    def test_bad_shapes_rejected(self, spark):
        import pytest

        from beis_orp_data_service_spark.operators import similarity as sim

        emb = spark.createDataFrame(
            [(i, [0.1, 0.2, 0.3]) for i in range(5)],
            "vec_id bigint, embedding array<float>",
        )
        with pytest.raises(ValueError):
            sim.pq_codes(emb, m=2, k=3)  # dim 3 not divisible by 2
        with pytest.raises(ValueError):
            sim.pq_codes(emb, m=3, k=50)  # not enough rows for codebook


# ------------------------------------------------------------- pq_adc_topk


def test_pq_adc_exact_on_codebook_members(spark):
    # rows 0..k-1 ARE the codebook, so their codes reconstruct exactly:
    # adist(query, member) == exact quantized L2(query, member)
    import numpy as np

    from beis_orp_data_service_spark.catalog import load_table
    from beis_orp_data_service_spark.operators import similarity as sim

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").filter(
        "vec_id < 32"
    )
    out = sim.pq_adc_topk(emb, query_ids=[0], k_neighbors=31, m=4, k=16).collect()
    rows = {r["vec_id"]: np.array(r["embedding"]) for r in emb.collect()}
    qv = sim._quantize_np(rows[0], 1000)
    got = {r["neighbor_id"]: r["adist"] for r in out}
    for nid in range(1, 16):  # codebook members (k=16, excluding self)
        exact = int(((sim._quantize_np(rows[nid], 1000) - qv) ** 2).sum())
        assert got[nid] == exact, nid


def test_pq_adc_recall_vs_bruteforce(spark):
    # ADC is approximate, but on 500 vectors with 16 codes it must
    # agree with exact L2 on a decent fraction of the top-5
    import numpy as np

    from beis_orp_data_service_spark.catalog import load_table
    from beis_orp_data_service_spark.operators import similarity as sim

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    out = sim.pq_adc_topk(emb, query_ids=[0, 250], k_neighbors=5).collect()
    vecs = {r["vec_id"]: sim._quantize_np(r["embedding"], 1000) for r in emb.collect()}
    hits = total = 0
    for qid in (0, 250):
        d = {
            nid: int(((v - vecs[qid]) ** 2).sum())
            for nid, v in vecs.items()
            if nid != qid
        }
        exact5 = set(sorted(d, key=lambda n: (d[n], n))[:5])
        got5 = {r["neighbor_id"] for r in out if r["query_id"] == qid}
        assert len(got5) == 5
        hits += len(exact5 & got5)
        total += 5
    assert hits / total >= 0.2, f"ADC recall@5 collapsed: {hits}/{total}"


def _adc_recall_at5(spark, emb, qids, codebook=None):
    import numpy as np

    from beis_orp_data_service_spark.operators import similarity as sim

    out = sim.pq_adc_topk(
        emb, query_ids=qids, k_neighbors=5, codebook=codebook
    ).collect()
    vecs = {r["vec_id"]: sim._quantize_np(r["embedding"], 1000) for r in emb.collect()}
    hits = total = 0
    for qid in qids:
        d = {
            nid: int(((v - vecs[qid]) ** 2).sum())
            for nid, v in vecs.items()
            if nid != qid
        }
        exact5 = set(sorted(d, key=lambda n: (d[n], n))[:5])
        got5 = {r["neighbor_id"] for r in out if r["query_id"] == qid}
        hits += len(exact5 & got5)
        total += 5
    return hits / total


def test_pq_trained_recall_beats_deterministic(spark):
    # trained per-subspace k-means codebooks (FAISS §II-C) must beat
    # the deterministic first-k codebook's recall on the SAME query set
    # — that's the point of training. Both paths are seed-fixed and the
    # fit is driver-side numpy, so the comparison is exact and
    # repeatable (measured: 0.15 trained vs 0.08 deterministic over 20
    # queries on the near-random sf0.001 embeddings — low absolute
    # recall is the data, m=4 PQ over random 64-dim is genuinely coarse).
    import numpy as np

    from beis_orp_data_service_spark.catalog import load_table
    from beis_orp_data_service_spark.operators import similarity as sim

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    qids = list(range(0, 500, 25))  # 20 queries
    cb = sim.pq_codebook_trained(emb, m=4, k=16, n_rows=500)
    cb_again = sim.pq_codebook_trained(emb, m=4, k=16, n_rows=500)
    assert cb.shape == (4, 16, 16) and cb.dtype == np.int64
    assert (cb == cb_again).all()
    # layout independence (round-5 ADVICE): the trained centroids are a
    # function of (ids, seed) only — identical under any partitioning /
    # row order, because the sample pull is top-K by (xxhash64(id), id),
    # not an arbitrary-partition-order limit()
    for parts in (1, 7):
        shuffled = emb.repartition(parts, "vec_id")
        cb_p = sim.pq_codebook_trained(shuffled, m=4, k=16, n_rows=500)
        assert (cb == cb_p).all(), f"codebook changed under {parts} partitions"
    cb_small = sim.pq_codebook_trained(
        emb.repartition(13), m=4, k=16, n_rows=500, sample_rows=200
    )
    cb_small2 = sim.pq_codebook_trained(
        emb.coalesce(1), m=4, k=16, n_rows=500, sample_rows=200
    )
    assert (cb_small == cb_small2).all(), "sub-sample subset is layout-dependent"
    r_trained = _adc_recall_at5(spark, emb, qids, codebook=cb)
    r_det = _adc_recall_at5(spark, emb, qids, codebook=None)
    assert r_trained > r_det, f"training didn't help: {r_trained} <= {r_det}"
    assert r_trained >= 0.12, f"trained-codebook ADC recall@5 too low: {r_trained}"


def test_pq_codebook_sidecar_roundtrip(spark, tmp_path):
    # versioned JSON sidecar: int64 codebook round-trips exactly, and a
    # rewrite bumps the version rather than clobbering in place
    import numpy as np

    from beis_orp_data_service_spark.catalog import load_table
    from beis_orp_data_service_spark.operators import similarity as sim

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cb = sim.pq_codebook_trained(emb, m=4, k=16, n_rows=500)
    path = str(tmp_path / "pq_table")
    sim.pq_write_codebook(spark, path, cb)
    assert (sim.pq_read_codebook(spark, path) == cb).all()
    cb2 = cb + 1
    sim.pq_write_codebook(spark, path, cb2)
    assert (sim.pq_read_codebook(spark, path) == cb2).all()  # latest wins
    with pytest.raises(FileNotFoundError):
        sim.pq_read_codebook(spark, str(tmp_path / "nothing_here"))


def test_pq_adc_requires_query_ids(spark):
    from beis_orp_data_service_spark.catalog import load_table
    from beis_orp_data_service_spark.operators import similarity as sim

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    with pytest.raises(ValueError, match="query_ids"):
        sim.pq_adc_topk(emb, query_ids=None)
    with pytest.raises(ValueError, match="query_ids"):
        sim.pq_adc_topk(emb, query_ids=[])


def test_pq_adc_stored_codes_path_matches_fused(spark):
    # scoring a pre-encoded codes table (the production probe) must
    # equal the fused encode-and-score pass exactly
    from beis_orp_data_service_spark.catalog import load_table
    from beis_orp_data_service_spark.operators import similarity as sim

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    fused = sim.pq_adc_topk(emb, query_ids=[0, 250], k_neighbors=5)
    codes = sim.pq_codes(emb, m=4, k=16)
    stored = sim.pq_adc_topk(emb, query_ids=[0, 250], k_neighbors=5, codes=codes)
    key = lambda r: (r["query_id"], r["rank"])
    assert sorted(map(tuple, fused.collect()), key=lambda t: (t[0], t[3])) == sorted(
        map(tuple, stored.collect()), key=lambda t: (t[0], t[3])
    )


def test_embedding_mean_by_group_known_values(spark):
    from beis_orp_data_service_spark.operators import similarity as sim

    df = spark.createDataFrame(
        [(0, [1.0, -2.0]), (2, [2.0, 3.0]), (1, [5.0, 0.5])],
        "vec_id bigint, embedding array<double>",
    )
    out = {
        (r["grp"], r["pos"]): (r["n"], r["mean_micro"])
        for r in sim.embedding_mean_by_group(
            df, F.col("vec_id") % 2
        ).collect()
    }
    # group 0 = ids {0, 2}: dim0 mean 1.5 -> 1500000; dim1 mean 0.5
    assert out[(0, 0)] == (2, 1_500_000)
    assert out[(0, 1)] == (2, 500_000)
    assert out[(1, 0)] == (1, 5_000_000)
    assert out[(1, 1)] == (1, 500_000)


def test_sq8_codes_range_and_reconstruction(spark):
    import numpy as np

    from beis_orp_data_service_spark.catalog import load_table
    from beis_orp_data_service_spark.operators import similarity as sim

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    out = {r.vec_id: r for r in sim.sq8_codes(emb).collect()}
    assert len(out) == 500
    vecs = {r["vec_id"]: sim._quantize_np(r["embedding"], 1000) for r in emb.collect()}
    allq = np.stack(list(vecs.values()))
    rng = allq.max(axis=0) - allq.min(axis=0)
    for vid in (0, 250, 499):
        codes = [int(t) for t in out[vid].codes_text.split("_")]
        assert len(codes) == 64
        assert all(0 <= c <= 255 for c in codes)
        # per-dim quantization error is at most ~rng/255 + 1, so the
        # total squared error is bounded by dim * (rng/255 + 1)^2
        bound = sum((int(r) / 255 + 1.0) ** 2 for r in rng)
        assert out[vid].recon_err <= bound


def test_sq8_codes_constant_dim_encodes_zero_with_zero_error(spark):
    from beis_orp_data_service_spark.operators import similarity as sim

    df = spark.createDataFrame(
        [(1, [0.5, 1.0]), (2, [0.5, 2.0]), (3, [0.5, 3.0])],
        "vec_id bigint, embedding array<float>",
    )
    out = {r.vec_id: r for r in sim.sq8_codes(df).collect()}
    for vid, r in out.items():
        c0, c1 = (int(t) for t in r.codes_text.split("_"))
        assert c0 == 0  # constant dimension
    assert out[1].codes_text.startswith("0_") and out[1].recon_err == 0
    assert out[3].recon_err == 0  # max endpoint reconstructs exactly


class TestIvfPq:
    """FAISS IVF-PQ composite: coarse cells + residual PQ + ADC probe."""

    def _fit(self, spark):
        from beis_orp_data_service_spark.catalog import load_table
        from beis_orp_data_service_spark.operators import similarity as sim

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        coarse, cb = sim.ivfpq_train(
            emb, n_centroids=16, m=4, k=16, n_rows=500
        )
        return emb, coarse, cb

    def test_train_shapes_and_determinism(self, spark):
        import numpy as np

        from beis_orp_data_service_spark.operators import similarity as sim
        from beis_orp_data_service_spark.catalog import load_table

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        c1, b1 = sim.ivfpq_train(emb, n_centroids=16, m=4, k=16, n_rows=500)
        c2, b2 = sim.ivfpq_train(emb, n_centroids=16, m=4, k=16, n_rows=500)
        assert c1.shape == (16, 64) and c1.dtype == np.int64
        assert b1.shape == (4, 16, 16) and b1.dtype == np.int64
        assert (c1 == c2).all() and (b1 == b2).all()
        # residual quantization must cut reconstruction error vs coarse
        # alone: encoding residuals against the PQ codebook brings every
        # vector closer than its coarse centroid does
        vecs = [
            sim._quantize_np(r["embedding"], 1000) for r in emb.collect()
        ]
        x = np.stack(vecs)
        buckets = sim._assign_coarse_int(x, c1)
        res = x - c1[buckets]
        coarse_err = (res.astype(np.float64) ** 2).sum()
        dsub = 16
        pq_err = 0.0
        for s in range(4):
            sub = res[:, s * dsub : (s + 1) * dsub]
            d = ((sub[:, None, :] - b1[s][None, :, :]) ** 2).sum(axis=2)
            pq_err += d.min(axis=1).astype(np.float64).sum()
        assert pq_err < coarse_err

    def test_encode_assigns_every_row_once(self, spark):
        from beis_orp_data_service_spark.operators import similarity as sim

        emb, coarse, cb = self._fit(spark)
        codes = sim.ivfpq_encode(emb, coarse, cb).collect()
        assert len(codes) == 500
        assert len({r["vec_id"] for r in codes}) == 500
        for r in codes[:20]:
            assert 0 <= r["bucket"] < 16
            parts = r["codes_text"].split("_")
            assert len(parts) == 4 and all(0 <= int(p) < 16 for p in parts)

    def test_topk_recall_floor_and_probed_cells_only(self, spark):
        import numpy as np

        from beis_orp_data_service_spark.operators import similarity as sim

        emb, coarse, cb = self._fit(spark)
        qids = list(range(0, 500, 25))  # 20 queries
        out = sim.ivfpq_topk(
            emb, query_ids=qids, k_neighbors=5, n_centroids=16, nprobe=4,
            n_rows=500, coarse=coarse, codebook=cb,
        ).collect()
        # structural: <= 5 per query, ranks contiguous from 1, no self
        per_q = {}
        for r in out:
            per_q.setdefault(r["query_id"], []).append(r)
            assert r["neighbor_id"] != r["query_id"]
        for qid, rows in per_q.items():
            ranks = sorted(x["rank"] for x in rows)
            assert ranks == list(range(1, len(rows) + 1))
            assert len(rows) <= 5
        # every neighbor lies in one of the query's nprobe probed cells
        vecs = {
            r["vec_id"]: sim._quantize_np(r["embedding"], 1000)
            for r in emb.collect()
        }
        buckets = {
            vid: int(sim._assign_coarse_int(v[None, :], coarse)[0])
            for vid, v in vecs.items()
        }
        cf = coarse.astype(np.float64)
        c_norm = (cf**2).sum(axis=1)
        hits = total = 0
        for qid in qids:
            qf = vecs[qid].astype(np.float64)
            probed = set(
                np.argsort((qf**2).sum() - 2.0 * (cf @ qf) + c_norm,
                           kind="stable")[:4].tolist()
            )
            for r in per_q.get(qid, []):
                assert buckets[r["neighbor_id"]] in probed
            d = {
                nid: int(((v - vecs[qid]) ** 2).sum())
                for nid, v in vecs.items() if nid != qid
            }
            exact5 = set(sorted(d, key=lambda n: (d[n], n))[:5])
            got5 = {r["neighbor_id"] for r in per_q.get(qid, [])}
            hits += len(exact5 & got5)
            total += 5
        # near-random 64-dim data + 4 of 16 cells probed: modest floor,
        # but it must catch a broken LUT/assignment (which scores ~0)
        assert hits / total >= 0.05, f"IVF-PQ recall collapsed: {hits}/{total}"

    def test_stored_codes_path_bit_identical(self, spark):
        from beis_orp_data_service_spark.operators import similarity as sim

        emb, coarse, cb = self._fit(spark)
        qids = [0, 50, 100]
        inline = sim.ivfpq_topk(
            emb, query_ids=qids, n_rows=500, coarse=coarse, codebook=cb
        ).collect()
        stored = sim.ivfpq_encode(emb, coarse, cb)
        via_codes = sim.ivfpq_topk(
            emb, query_ids=qids, n_rows=500, coarse=coarse, codebook=cb,
            codes=stored,
        ).collect()
        key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
        assert sorted(map(tuple, inline), key=lambda t: (t[0], t[3])) == sorted(
            map(tuple, via_codes), key=lambda t: (t[0], t[3])
        )

    def test_bad_args_raise(self, spark):
        import pytest

        from beis_orp_data_service_spark.operators import similarity as sim

        emb, coarse, cb = self._fit(spark)
        with pytest.raises(ValueError, match="query_ids"):
            sim.ivfpq_topk(emb, query_ids=[], n_rows=500)
        with pytest.raises(ValueError, match="divisible"):
            sim.ivfpq_train(emb, n_centroids=8, m=7, k=8, n_rows=500)


class TestHardNegatives:
    def test_negatives_only_and_ranked_by_similarity(self, spark):
        from beis_orp_data_service_spark.catalog import load_table
        from beis_orp_data_service_spark.operators import similarity as sim

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        out = sim.hard_negatives(emb, query_ids=[0, 1, 2], k=5).collect()
        labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
        per_q = {}
        for r in out:
            per_q.setdefault(r["query_id"], []).append(r)
            assert r["neighbor_label"] != labels[r["query_id"]]
            assert r["neighbor_label"] == labels[r["neighbor_id"]]
        for qid, rows in per_q.items():
            rows.sort(key=lambda r: r["rank"])
            scores = [r["score"] for r in rows]
            assert scores == sorted(scores, reverse=True)
            assert [r["rank"] for r in rows] == [1, 2, 3, 4, 5]
        assert set(per_q) == {0, 1, 2}

    def test_matches_bruteforce_filtered(self, spark):
        import numpy as np

        from beis_orp_data_service_spark.catalog import load_table
        from beis_orp_data_service_spark.operators import similarity as sim

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        rows = emb.collect()
        vecs = {r["vec_id"]: sim._quantize_np(r["embedding"], 1000) for r in rows}
        labels = {r["vec_id"]: r["label"] for r in rows}
        out = sim.hard_negatives(emb, query_ids=[7], k=5).collect()
        d = {
            nid: int(np.dot(v, vecs[7]))
            for nid, v in vecs.items()
            if labels[nid] != labels[7]
        }
        exact = sorted(d, key=lambda n: (-d[n], n))[:5]
        got = [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])]
        assert got == exact

    def test_empty_queries_raise(self, spark):
        import pytest

        from beis_orp_data_service_spark.catalog import load_table
        from beis_orp_data_service_spark.operators import similarity as sim

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        with pytest.raises(ValueError, match="query_ids"):
            sim.hard_negatives(emb, query_ids=[])


class TestKnnClusters:
    def _planted(self, spark):
        # two tight planted clusters + isolated noise vectors
        import random

        rnd = random.Random(3)
        rows = []
        base_a = [1.0, 0.0, 0.0, 0.0, 1.0, 0.0, 0.0, 0.0]
        base_b = [0.0, 1.0, 0.0, 0.0, 0.0, 1.0, 0.0, 0.0]
        for i in range(5):
            rows.append((i, [x + rnd.uniform(-0.01, 0.01) for x in base_a]))
        for i in range(5, 10):
            rows.append((i, [x + rnd.uniform(-0.01, 0.01) for x in base_b]))
        for i in range(10, 30):
            v = [rnd.uniform(-1, 1) for _ in range(8)]
            rows.append((i, v))
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def test_planted_clusters_recovered(self, spark):
        from beis_orp_data_service_spark.operators import similarity as sim

        emb = self._planted(spark)
        out = {
            r["vec_id"]: r["cluster_id"]
            for r in sim.embedding_clusters(
                emb, k=3, sim2_milli_threshold=950, n_centroids=4, nprobe=2,
                n_rows=30,
            ).collect()
        }
        assert len(out) == 30
        assert {out[i] for i in range(5)} == {0}
        assert {out[i] for i in range(5, 10)} == {5}

    def test_injected_quantizer_matches_trained_grouping(self, spark):
        # centroids_q (the oracle-replay hook) must take the SAME code
        # path as the trained fit: with an injected 2-cell quantizer
        # that separates the two planted directions, both planted
        # clusters are still recovered exactly and the fit is skipped
        # (no count/sample job — asserted indirectly: n_rows omitted).
        import numpy as np

        from beis_orp_data_service_spark.operators import similarity as sim

        emb = self._planted(spark)
        cents_q = np.array(
            [[100, 0, 0, 0, 100, 0, 0, 0], [0, 100, 0, 0, 0, 100, 0, 0]],
            dtype=np.int64,
        )
        out = {
            r["vec_id"]: r["cluster_id"]
            for r in sim.embedding_clusters(
                emb, k=3, sim2_milli_threshold=950, nprobe=1,
                centroids_q=cents_q,
            ).collect()
        }
        assert len(out) == 30
        assert {out[i] for i in range(5)} == {0}
        assert {out[i] for i in range(5, 10)} == {5}

    def test_transitive_chain_single_cluster(self, spark):
        # A~B and B~C above threshold, A~C below: CC must still unite them
        import math

        from beis_orp_data_service_spark.operators import similarity as sim

        def unit(theta):
            return [math.cos(theta), math.sin(theta), 0.0, 0.0]

        rows = [(0, unit(0.0)), (1, unit(0.5)), (2, unit(1.0)),
                (3, [0.0, 0.0, 1.0, 0.0])]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        # cos(0.5)^2*1000 ~ 770 >= 700; cos(1.0)^2*1000 ~ 291 < 700
        out = {
            r["vec_id"]: r["cluster_id"]
            for r in sim.embedding_clusters(
                emb, k=3, sim2_milli_threshold=700, n_centroids=4, nprobe=4,
                n_rows=4,
            ).collect()
        }
        assert out[0] == out[1] == out[2] == 0
        assert out[3] == 3

    def test_edges_canonical_and_thresholded(self, spark):
        from beis_orp_data_service_spark.operators import similarity as sim

        emb = self._planted(spark)
        edges = sim.knn_edges(
            emb, k=3, sim2_milli_threshold=950, n_centroids=4, nprobe=2,
            n_rows=30,
        ).collect()
        assert len(edges) > 0
        for r in edges:
            assert r["a_id"] < r["b_id"]
            assert r["sim2_milli"] >= 950


class TestIvfPqIndex:
    def test_write_probe_matches_inline_and_prunes(self, spark, tmp_path):
        import pyspark.sql.functions as F

        from beis_orp_data_service_spark.catalog import load_table
        from beis_orp_data_service_spark.operators import similarity as sim

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        path = str(tmp_path / "ivfpq_idx")
        coarse, cb = sim.ivfpq_index_write(
            spark, emb, path, n_centroids=16, m=4, k=16, n_rows=500
        )
        queries = emb.filter(F.col("vec_id").isin([0, 100, 200]))
        probe = sim.ivfpq_index_probe(spark, path, queries, k_neighbors=5, nprobe=4)
        got = sorted(map(tuple, probe.collect()))
        inline = sim.ivfpq_topk(
            emb, query_ids=[0, 100, 200], k_neighbors=5, n_centroids=16,
            nprobe=4, n_rows=500, coarse=coarse, codebook=cb,
        )
        assert got == sorted(map(tuple, inline.collect()))
        # partition pruning: the probe plan must carry the bucket filter
        plan = probe._jdf.queryExecution().executedPlan().toString()
        assert "bucket" in plan

    def test_sidecars_reload_across_sessions(self, spark, tmp_path):
        import numpy as np

        from beis_orp_data_service_spark.catalog import load_table
        from beis_orp_data_service_spark.operators import similarity as sim

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        path = str(tmp_path / "ivfpq_idx2")
        coarse, cb = sim.ivfpq_index_write(
            spark, emb, path, n_centroids=8, m=4, k=8, n_rows=500
        )
        assert (sim.ann_index_centroids(spark, path).astype(np.int64) == coarse).all()
        assert (sim.pq_read_codebook(spark, path) == cb).all()

    def test_empty_queries_raise(self, spark, tmp_path):
        import pytest

        from beis_orp_data_service_spark.catalog import load_table
        from beis_orp_data_service_spark.operators import similarity as sim

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        path = str(tmp_path / "ivfpq_idx3")
        sim.ivfpq_index_write(spark, emb, path, n_centroids=8, m=4, k=8, n_rows=500)
        with pytest.raises(ValueError, match="queries"):
            sim.ivfpq_index_probe(spark, path, emb.filter("vec_id < 0"))


class TestPcaRotation:
    def test_rotation_orthonormal_and_deterministic(self, spark):
        import numpy as np

        from beis_orp_data_service_spark.catalog import load_table
        from beis_orp_data_service_spark.operators import similarity as sim

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        r1 = sim.pca_rotation(emb, n_rows=500)
        r2 = sim.pca_rotation(emb, n_rows=500)
        assert r1.shape == (64, 64)
        assert np.allclose(r1 @ r1.T, np.eye(64), atol=1e-9)
        assert (r1 == r2).all()

    def test_rotate_preserves_norms_and_dots(self, spark):
        import numpy as np

        from beis_orp_data_service_spark.catalog import load_table
        from beis_orp_data_service_spark.operators import similarity as sim

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        r = sim.pca_rotation(emb, n_rows=500)
        orig = {x["vec_id"]: np.array(x["embedding"]) for x in emb.collect()}
        rot = {
            x["vec_id"]: np.array(x["embedding"])
            for x in sim.rotate_embeddings(emb, r).collect()
        }
        assert set(rot) == set(orig)
        for vid in list(orig)[:20]:
            assert abs(
                np.linalg.norm(rot[vid]) - np.linalg.norm(orig[vid])
            ) < 1e-9

    def test_rotation_cuts_pq_error_on_correlated_data(self, spark):
        import numpy as np

        from beis_orp_data_service_spark.operators import similarity as sim

        # strongly correlated 8-dim data: two latent factors mixed across
        # all dims — exactly where subspace decorrelation pays
        rng = np.random.default_rng(5)
        z = rng.normal(size=(600, 2))
        mix = rng.normal(size=(2, 8))
        x = z @ mix + 0.01 * rng.normal(size=(600, 8))
        df = spark.createDataFrame(
            [(i, [float(v) for v in row]) for i, row in enumerate(x)],
            "vec_id long, embedding array<double>",
        )
        cb_plain = sim.pq_codebook_trained(df, m=4, k=8, n_rows=600)
        err_plain = sum(
            r["recon_err"]
            for r in sim.pq_codes(df, m=4, k=8, codebook=cb_plain).collect()
        )
        rot = sim.rotate_embeddings(df, sim.pca_rotation(df, n_rows=600))
        cb_rot = sim.pq_codebook_trained(rot, m=4, k=8, n_rows=600)
        err_rot = sum(
            r["recon_err"]
            for r in sim.pq_codes(rot, m=4, k=8, codebook=cb_rot).collect()
        )
        assert err_rot < err_plain, (err_rot, err_plain)

    def test_too_few_rows_raise(self, spark):
        import pytest

        from beis_orp_data_service_spark.operators import similarity as sim

        df = spark.createDataFrame(
            [(1, [0.0] * 4)], "vec_id long, embedding array<double>"
        )
        with pytest.raises(ValueError, match="sample rows"):
            sim.pca_rotation(df, n_rows=1)


class TestMmrRerank:
    def test_diversity_beats_pure_topk(self, spark):
        """Crafted pool where MMR diverges from pure relevance:
        A=[.8,.6] (top rel), B=[.79,.61] (≈A), C=[.6,-.8] (orthogonal
        to A). Pure top-2 = A,B; MMR(λ=.7) = A then C (B's penalty
        3·simAB=2,994,000 sinks it below C's unpenalized 4,200,000).
        Expected integer scores hand-computed from quantized dots."""
        from beis_orp_data_service_spark.operators import similarity as sim

        emb = spark.createDataFrame(
            [
                (0, [1.0, 0.0]),
                (1, [0.8, 0.6]),
                (2, [0.79, 0.61]),
                (3, [0.6, -0.8]),
            ],
            "vec_id long, embedding array<double>",
        )
        rows = [
            (r.rank, r.vec_id, r.rel, r.mmr_q10)
            for r in sim.mmr_rerank(emb, query_id=0, pool=3, k=3)
            .orderBy("rank")
            .collect()
        ]
        assert rows == [
            (1, 1, 800_000, 5_600_000),
            (2, 3, 600_000, 4_200_000),
            (3, 2, 790_000, 2_536_000),
        ]

    def test_ivf_pool_same_picks_when_pool_agrees(self, spark):
        """pool_via='ivf' swaps ONLY the candidate
        retrieval. Planted so the IVF probe has recall 1 (every vector
        shares the query's sign bucket: first 2 components positive,
        bits=2) — the pools then agree and the MMR trajectory must be
        IDENTICAL to brute."""
        from beis_orp_data_service_spark.operators import similarity as sim

        # first two dims positive => same sign_bucket(bits=2) for all
        emb = spark.createDataFrame(
            [
                (i, [1.0, 0.5 + 0.01 * i]
                 + [float(((i * 7 + j * 3) % 11) - 5) / 5.0 for j in range(2)])
                for i in range(25)
            ],
            "vec_id long, embedding array<double>",
        )
        kw = dict(query_id=0, pool=8, k=4)
        brute = [
            tuple(r)
            for r in sim.mmr_rerank(emb, **kw).orderBy("rank").collect()
        ]
        ivf = [
            tuple(r)
            for r in sim.mmr_rerank(emb, pool_via="ivf", ivf_bits=2, **kw)
            .orderBy("rank")
            .collect()
        ]
        assert brute == ivf
        assert len(brute) == 4

    def test_bad_pool_via_raises(self, spark):
        from beis_orp_data_service_spark.operators import similarity as sim

        emb = spark.createDataFrame(
            [(0, [1.0, 0.0])], "vec_id long, embedding array<double>"
        )
        with pytest.raises(ValueError, match="unknown pool_via"):
            sim.mmr_rerank(emb, query_id=0, pool_via="hnsw")

    def test_oracle_twin_matches(self, spark):
        """The unrolled-CTE DuckDB oracle reproduces the same greedy
        trajectory on the same rows."""
        import duckdb

        from beis_orp_data_service_spark.operators import similarity as sim

        emb = spark.createDataFrame(
            [(i, [float(((i * 7 + j * 3) % 11) - 5) / 5.0 for j in range(4)])
             for i in range(30)],
            "vec_id long, embedding array<double>",
        )
        got = [
            (r.rank, r.vec_id, r.rel, r.mmr_q10)
            for r in sim.mmr_rerank(emb, query_id=0, pool=10, k=4)
            .orderBy("rank")
            .collect()
        ]
        duck_dot = (
            "list_sum([CAST(round(CAST(q.embedding[i] AS DOUBLE) * 1000)"
            " AS BIGINT) * CAST(round(CAST(t.embedding[i] AS DOUBLE)"
            " * 1000) AS BIGINT) for i in range(1, len(q.embedding) + 1)])"
        )
        con = duckdb.connect()
        con.register("embeddings", emb.toPandas())
        exp = [
            tuple(int(x) for x in row)
            for row in con.sql(
                sim.mmr_rerank_oracle_sql(duck_dot, query_id=0, pool=10, k=4)
                + " ORDER BY rank"
            ).fetchall()
        ]
        assert got == exp


class TestMeanPoolChunks:
    def test_hand_computed_pool_and_negative_floor(self, spark):
        """Two chunks of doc 0: mean of quantized components with FLOOR
        semantics on a signed odd sum (Spark DIV would truncate -1.5 to
        -1; floor gives -2 — the DuckDB-parity case)."""
        from beis_orp_data_service_spark.operators import similarity as sim

        emb = spark.createDataFrame(
            [
                (0, [1.0, -0.001]),   # q = [1000, -1]
                (1, [2.0, -0.002]),   # q = [2000, -2]
                (25, [0.5, 0.5]),     # doc 2, single chunk
            ],
            "vec_id long, embedding array<float>",
        )
        got = {
            r.doc_id: (r.n_chunks, r.pooled_q)
            for r in sim.mean_pool_chunks(emb, group_div=10).collect()
        }
        assert got[0] == (2, [1500, -2])  # floor((-1 + -2)/2) = -2
        assert got[2] == (1, [500, 500])

    def test_partitioning_invariant(self, spark):
        from beis_orp_data_service_spark.operators import similarity as sim

        emb = spark.createDataFrame(
            [(i, [float(((i * 7 + j) % 9) - 4) / 3.0 for j in range(6)])
             for i in range(40)],
            "vec_id long, embedding array<float>",
        )
        a = sorted(map(tuple, sim.mean_pool_chunks(emb.repartition(1)).collect()))
        b = sorted(map(tuple, sim.mean_pool_chunks(emb.repartition(13)).collect()))
        assert a == b


class TestAnnRecallReport:
    def test_l2_topk_exact_on_known_vectors(self, spark):
        """Quantized-L2 ground truth: hand-checkable 2-d vectors."""
        emb = spark.createDataFrame(
            [
                (0, [0.0, 0.0]),
                (1, [0.001, 0.0]),   # d2 = 1
                (2, [0.0, 0.002]),   # d2 = 4
                (3, [0.003, 0.004]), # d2 = 25
            ],
            "vec_id long, embedding array<float>",
        )
        got = {
            (r.query_id, r.rank): (r.neighbor_id, r.d2)
            for r in sim.l2_topk(
                emb, emb.filter("vec_id = 0"), k=2
            ).collect()
        }
        assert got == {(0, 1): (1, 1), (0, 2): (2, 4)}

    def test_recall_report_floors_and_tradeoffs(self, spark):
        """The ANN operating-point surface (r13 ask #8): every arm
        present and non-vacuous, recall monotone along each method's
        knob, and conservative floors under the measured sf0.001
        values (770/515/275 milli) so a silent recall collapse — a
        broken bucket join, a wrong LUT — fails loudly."""
        from beis_orp_data_service_spark import declared

        rows = {
            (r.method, r.op): r
            for r in declared.REGISTRY["ann_recall_report"]
            .fn(spark, SF_SMOKE)
            .collect()
        }
        assert set(rows) == {
            ("ivf_lsh", "bits=4,single"),
            ("ivf_lsh", "bits=4,multiprobe"),
            ("ivf_kmeans", "nprobe=1"),
            ("ivf_kmeans", "nprobe=2"),
            ("ivf_kmeans", "nprobe=4"),
            ("pq_adc", "m=4,k=16"),
        }
        for r in rows.values():
            assert r.n_queries == 20 and r.k == 10
            assert 0 < r.n_returned <= 200
            assert 0 < r.hits <= r.n_returned
        km = {n: rows[("ivf_kmeans", f"nprobe={n}")].recall_milli
              for n in (1, 2, 4)}
        assert km[4] >= km[2] >= km[1]
        assert (
            rows[("ivf_lsh", "bits=4,multiprobe")].recall_milli
            >= rows[("ivf_lsh", "bits=4,single")].recall_milli
        )
        assert km[4] >= 500
        assert rows[("ivf_lsh", "bits=4,multiprobe")].recall_milli >= 300
        assert rows[("pq_adc", "m=4,k=16")].recall_milli >= 100
