"""stage_checkpoint policy: ``SPARK_GRAFT_CHECKPOINT`` ("local" |
"reliable") decides every stage boundary. Results must be identical
across strategies (the strategy changes fault tolerance, never
semantics), "reliable" must reach every boundary of every iterative
operator, an unknown value must fail before any work, and
SPARK_GRAFT_AUDIT=1 must record pre-checkpoint plan fragments (the
full-lineage audit hook)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from beis_orp_data_service_spark import checkpointing as ck
from beis_orp_data_service_spark.operators import corpus as corpus_ops
from beis_orp_data_service_spark.operators import dedup as dd
from beis_orp_data_service_spark.operators import graph as g
from beis_orp_data_service_spark.operators import multimodal as mm
from tests.conftest import spark_jobs


def _edges(spark):
    # chain 0-1-2-3-4 + triangle 10-11-12 + clique {20,21,22,23}
    rows = (
        [(i, i + 1) for i in range(4)]
        + [(10, 11), (11, 12), (10, 12)]
        + [(a, b) for a in range(20, 24) for b in range(a + 1, 24)]
    )
    return spark.createDataFrame(rows, "a bigint, b bigint")


def _directed(spark):
    return _edges(spark).select(F.col("a").alias("src"), F.col("b").alias("dst"))


def _source(spark):
    return spark.createDataFrame([(0,)], "node bigint")


def _words(spark):
    return spark.createDataFrame(
        [(1, "low low lower lowest"), (2, "new newer newest low")],
        "doc_id bigint, text string",
    )


_BASE_HASH = 0x0123456789ABCDEF

# Every operator that routes a loop or a multi-consumer frame through
# stage_checkpoint, with its driver-local shortcut switched off so the
# distributed boundaries actually run.
OPERATORS = {
    "reachability": lambda s: g.reachability(_directed(s), _source(s), max_hops=3),
    "shortest_paths": lambda s: g.shortest_paths(
        _directed(s).withColumn("w", F.lit(2)), _source(s), max_hops=3
    ),
    "kcore": lambda s: g.kcore(_edges(s), k=2, rounds=3, driver_threshold=0),
    "dup_clusters": lambda s: corpus_ops.dup_clusters(
        s.createDataFrame([(1, 2), (2, 3), (7, 8)], "a_id bigint, b_id bigint"),
        s.createDataFrame([(i,) for i in range(1, 10)], "doc_id bigint"),
        driver_closure_threshold=0,
    ),
    "bpe_learn_merges": lambda s: corpus_ops.bpe_learn_merges(
        _words(s), n_merges=4, driver_train_threshold=0
    ),
    "bpe_bytes_learn_merges": lambda s: corpus_ops.bpe_bytes_learn_merges(
        _words(s), n_merges=4, driver_train_threshold=0
    ),
    "wordpiece_learn_merges": lambda s: corpus_ops.wordpiece_learn_merges(
        _words(s), n_merges=4, driver_train_threshold=0
    ),
    "containment_prefix_join": lambda s: dd.containment_prefix_join(
        s.createDataFrame(
            [
                (1, "alpha beta gamma delta epsilon zeta"),
                (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
                (3, "completely different words here nothing shared at all"),
            ],
            "doc_id bigint, text string",
        ),
        "doc_id",
        "text",
    ),
    "phash_band_pairs": lambda s: mm.phash_band_pairs(
        s.createDataFrame(
            [(1, _BASE_HASH), (2, _BASE_HASH ^ 0b101), (3, ~_BASE_HASH)],
            mm.PHASH_SCHEMA,
        )
    ),
}


def _spy(monkeypatch, spark, method):
    """Count calls of the session's DataFrame class ``method`` (in
    Spark 4.1 that is the classic DataFrame, not
    ``pyspark.sql.DataFrame``, so patching the latter sees nothing)."""
    cls = type(spark.range(1))
    real = getattr(cls, method)
    calls = []

    def spy(self, *a, **kw):
        calls.append(method)
        return real(self, *a, **kw)

    monkeypatch.setattr(cls, method, spy)
    return calls


@pytest.mark.parametrize("op", sorted(OPERATORS))
def test_reliable_equals_local(spark, monkeypatch, op):
    """The env var alone switches every boundary: under "reliable" no
    boundary falls back to an unreplicated ``localCheckpoint``, and the
    result is the one "local" gives."""
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT", "local")
    base = sorted(map(tuple, OPERATORS[op](spark).collect()))
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT", "reliable")
    local = _spy(monkeypatch, spark, "localCheckpoint")
    reliable = _spy(monkeypatch, spark, "checkpoint")
    rel = sorted(map(tuple, OPERATORS[op](spark).collect()))
    assert local == []
    assert reliable  # the operator did reach a stage boundary
    assert base == rel
    assert base


def test_unknown_strategy_raises(spark, monkeypatch):
    """A bad value ("persist" included) fails loudly, naming the valid
    ones, before the audit hook plans the frame and before any Spark
    job runs."""
    monkeypatch.setenv("SPARK_GRAFT_AUDIT", "1")
    ck.drain_audit_fragments()
    df = spark.range(3).groupBy((F.col("id") % 2).alias("k")).count()
    for value in ("bogus", "persist", ""):
        monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT", value)

        def run():
            with pytest.raises(ValueError, match=r"\('local', 'reliable'\)"):
                ck.stage_checkpoint(df, label="bad")

        _, n_jobs = spark_jobs(spark, run)
        assert n_jobs == 0, value
        assert ck.drain_audit_fragments() == [], value


def test_reachability_lineage_stays_bounded(spark, monkeypatch):
    """Every round truncates lineage: the returned frame's analyzed
    plan does not grow with the hop count (expression ids are masked —
    only their digit count differs between runs)."""
    monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT", raising=False)
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "src bigint, dst bigint"
    )

    def plan_len(hops):
        out = g.reachability(chain, _source(spark), max_hops=hops)
        plan = out._jdf.queryExecution().analyzed().toString()
        return len(re.sub(r"#\d+L?", "#", plan))

    assert plan_len(2) == plan_len(6)


def test_audit_mode_records_pre_checkpoint_fragments(spark, monkeypatch):
    """SPARK_GRAFT_AUDIT=1: every stage boundary appends its
    pre-checkpoint physical plan, so audit_plans.py can assert kernel
    counts over the FULL lineage."""
    monkeypatch.setenv("SPARK_GRAFT_AUDIT", "1")
    ck.drain_audit_fragments()
    edges = spark.createDataFrame([(1, 2), (2, 3)], "a bigint, b bigint")
    # driver_threshold=0 forces the DISTRIBUTED peel: the audit-fragment
    # contract is about the distributed lineage (the driver-local path
    # runs no stage boundaries to record).
    g.kcore(edges, k=1, rounds=2, driver_threshold=0).collect()
    frags = ck.drain_audit_fragments()
    labels = [l for l, _ in frags]
    assert "kcore:init" in labels and labels.count("kcore:round") == 2
    # fragments carry real plan text the audit can grep
    assert all(p and "Exchange" in p or "Scan" in p or "LocalTableScan" in p
               for _, p in frags)
    assert ck.drain_audit_fragments() == []  # drained
