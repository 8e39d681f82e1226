"""Small-file compaction: inventory, snapshot commit, pointer swap."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from beis_orp_data_service_spark.operators import maintenance as mt
from tests.test_streaming import assert_reads_only_manifest_pairs


def _fragmented(spark, path, n_files=24):
    df = spark.range(0, 3000).select(
        F.col("id"), (F.col("id") % 7).alias("grp"), F.sha2(F.col("id").cast("string"), 256).alias("payload")
    )
    df.repartition(n_files).write.mode("overwrite").parquet(path)
    return df


def test_compact_reduces_files_preserves_rows(spark, tmp_path):
    src = str(tmp_path / "frag")
    root = str(tmp_path / "table")
    _fragmented(spark, src, n_files=24)
    before = mt.list_data_files(spark, src)
    assert len(before) == 24

    stats = mt.compact_small_files(spark, src, root, target_bytes=1 << 30)
    assert stats.files_before == 24 and stats.files_target == 1
    after = mt.list_data_files(spark, stats.snapshot)
    assert len(after) == 1

    got = mt.read_current(spark, root)
    assert got.count() == 3000
    assert got.agg(F.sum("id")).collect()[0][0] == sum(range(3000))


def test_target_bytes_controls_file_count(spark, tmp_path):
    src = str(tmp_path / "frag")
    root = str(tmp_path / "table")
    _fragmented(spark, src, n_files=16)
    total = sum(sz for _, sz in mt.list_data_files(spark, src))
    stats = mt.compact_small_files(spark, src, root, target_bytes=total // 4 + 1)
    assert stats.files_target == 4
    assert len(mt.list_data_files(spark, stats.snapshot)) == 4


def test_recompaction_commits_new_snapshot_atomically(spark, tmp_path):
    src = str(tmp_path / "frag")
    root = str(tmp_path / "table")
    _fragmented(spark, src, n_files=8)
    s1 = mt.compact_small_files(spark, src, root, target_bytes=1 << 30)
    s2 = mt.compact_small_files(spark, src, root, target_bytes=1 << 30)
    assert s1.snapshot != s2.snapshot
    assert mt.current_snapshot(spark, root) == s2.snapshot
    # previous snapshot retained for in-flight readers
    assert os.path.isdir(s1.snapshot)
    assert mt.read_current(spark, root).count() == 3000


def test_snapshot_pointer_lives_under_the_root_not_the_cwd(
    spark, tmp_path, monkeypatch
):
    """A ``file://`` root: the pointer is committed under the root
    through the Hadoop FS API, so the table reads back from any working
    directory and nothing is written relative to the cwd."""
    src = str(tmp_path / "frag")
    root = f"file://{tmp_path}/table"
    _fragmented(spark, src, n_files=4)
    writer_cwd, reader_cwd = tmp_path / "writer_cwd", tmp_path / "reader_cwd"
    writer_cwd.mkdir()
    reader_cwd.mkdir()
    monkeypatch.chdir(writer_cwd)
    stats = mt.compact_small_files(spark, src, root, target_bytes=1 << 30)
    monkeypatch.chdir(reader_cwd)
    assert mt.read_current(spark, root).count() == 3000
    assert mt.current_snapshot(spark, root) == stats.snapshot
    assert os.listdir(writer_cwd) == [] and os.listdir(reader_cwd) == []


# ------------------------------------------------- bucketed-store compaction


def _texts(n, salt=""):
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta",
             "theta", "iota", "kappa"]
    return [
        (i, " ".join(words[(i + j) % 10] + salt for j in range(12)) * 2)
        for i in range(n)
    ]


def test_compact_lsh_index_preserves_probe_and_drops_files(spark, tmp_path):
    from beis_orp_data_service_spark.operators import dedup as dd

    idx = str(tmp_path / "lsh_idx")
    # seed + 5 appends = one file per band per append (fragmentation)
    batches = [_texts(6, salt=str(b)) for b in range(6)]
    dd.lsh_index_write(
        spark.createDataFrame(
            [(i + 0 * 100, t) for i, t in batches[0]], "doc_id bigint, text string"
        ),
        idx,
    )
    for b in range(1, 6):
        dd.lsh_index_write(
            spark.createDataFrame(
                [(i + b * 100, t) for i, t in batches[b]],
                "doc_id bigint, text string",
            ),
            idx,
            mode="append",
        )
    probe_docs = spark.createDataFrame(
        [(9000 + i, t) for i, t in _texts(4, salt="0")], "doc_id bigint, text string"
    )
    before = sorted(
        map(tuple, dd.lsh_index_probe(spark, idx, probe_docs).collect())
    )
    files_before = len(mt.list_data_files(spark, idx))

    stats = mt.compact_lsh_index(spark, idx, min_files=1)
    assert stats.partitions_compacted > 0
    assert stats.files_after < stats.files_before == files_before
    # band-partition layout intact (pruning + future appends unaffected)
    bands = [n for n in os.listdir(idx) if n.startswith("band=")]
    assert bands and not any(n.startswith("_compacting") for n in os.listdir(idx))
    after = sorted(map(tuple, dd.lsh_index_probe(spark, idx, probe_docs).collect()))
    assert before == after
    # appends keep working after compaction
    dd.lsh_index_write(
        spark.createDataFrame([(7777, _texts(1, "0")[0][1])], "doc_id bigint, text string"),
        idx,
        mode="append",
    )
    assert len(dd.lsh_index_probe(spark, idx, probe_docs).collect()) >= len(after)


def test_compact_lsh_index_dedupes_replayed_band_rows(spark, tmp_path):
    from beis_orp_data_service_spark.operators import dedup as dd

    idx = str(tmp_path / "lsh_idx2")
    docs = spark.createDataFrame(_texts(5), "doc_id bigint, text string")
    dd.lsh_index_write(docs, idx)
    dd.lsh_index_write(docs, idx, mode="append")  # at-least-once replay
    n_before = spark.read.parquet(idx).count()
    mt.compact_lsh_index(spark, idx, min_files=1)
    n_after = spark.read.parquet(idx).count()
    assert n_after == n_before // 2  # exact duplicate rows dropped


def test_recover_lsh_compaction_restores_half_swapped_band(spark, tmp_path):
    from beis_orp_data_service_spark.operators import dedup as dd
    from beis_orp_data_service_spark.sources import hadoop_fs as hfs

    idx = str(tmp_path / "lsh_idx3")
    docs = spark.createDataFrame(_texts(5), "doc_id bigint, text string")
    dd.lsh_index_write(docs, idx)
    total = spark.read.parquet(idx).count()
    band = sorted(n for n in os.listdir(idx) if n.startswith("band="))[0]
    # simulate a crash between the two swap renames: live dir moved to
    # _pre_compact, replacement never landed
    hfs.mkdirs(spark, f"{idx}/_pre_compact")
    hfs.rename(spark, f"{idx}/{band}", f"{idx}/_pre_compact/{band}")
    assert mt.recover_lsh_compaction(spark, idx) == 1
    assert spark.read.parquet(idx).count() == total


def test_compact_scd_store_single_epoch_stream_continues(spark, tmp_path):
    from beis_orp_data_service_spark.streaming import pipeline as st

    store = str(tmp_path / "scd_store")
    # n_buckets=5 deliberately NOT equal to the test session's 8
    # shuffle partitions: pmod(hash(key), n) with n == shuffle
    # partitions accidentally co-partitions every bucket into one
    # task (one file per bucket, nothing to compact)
    sink = st.ParquetScdSink(spark, store, "user_id", "ts", "event_id", n_buckets=5)
    mk = lambda rows: spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, ts string, payload string"
    )
    # three micro-batches -> three epoch dirs; AQE's partition
    # coalescing is disabled for batch 0 so the 32-partition merge
    # shuffle leaves SEVERAL part files per bucket dir — the
    # production-scale fragmentation compaction exists to fix (at toy
    # row counts AQE otherwise collapses everything to one file)
    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(coalesce_key, "true")
    spark.conf.set(coalesce_key, "false")
    try:
        sink(mk([(i, i % 20, f"a{i:03d}", "x") for i in range(200)]), 0)
    finally:
        spark.conf.set(coalesce_key, old)
    sink(mk([(300, 100, "b", "x2"), (301, 101, "b", "z")]), 1)
    sink(mk([(302, 102, "b", "y2")]), 2)
    before = sorted(map(tuple, st.read_scd_store(spark, store).collect()))
    epochs_before = [
        n for n in os.listdir(os.path.join(store, "data")) if n.startswith("epoch=")
    ]
    assert len(epochs_before) == 3

    stats = mt.compact_scd_store(spark, store)
    assert stats.files_after < stats.files_before
    epochs = [
        n for n in os.listdir(os.path.join(store, "data")) if n.startswith("epoch=")
    ]
    assert len(epochs) == 1  # every live bucket in ONE epoch dir
    after = sorted(map(tuple, st.read_scd_store(spark, store).collect()))
    assert before == after
    # the read opens only the compacted epoch's manifest-named buckets
    assert_reads_only_manifest_pairs(spark, store)

    # the stream keeps going: next micro-batch = next epoch, SCD intact
    sink(mk([(303, 100, "c", "x3")]), 3)
    rows = st.read_scd_store(spark, store).collect()
    k100 = sorted((r.version, r.status) for r in rows if r.user_id == 100)
    assert k100 == [(1, "archive"), (2, "published")]


def _scd_snapshot(spark, store, commit):
    from beis_orp_data_service_spark.streaming import pipeline as st

    return sorted(
        (r.event_id, r.user_id, r.version, r.status)
        for r in st.read_scd_store_asof(spark, store, commit).collect()
    )


def _scd_changes(spark, store, a, b):
    from beis_orp_data_service_spark.streaming import pipeline as st

    return sorted(
        map(tuple, st.scd_store_changes(spark, store, a, b).collect())
    )


def test_compact_retain_history_preserves_time_travel(spark, tmp_path):
    """Compaction x time-travel cross-invariant: compacting a retain_history=True store must
    keep EVERY retained commit reconstructible via read_scd_store_asof,
    keep the change feed diffable ACROSS the compaction boundary, add
    no logical row changes of its own, and compose with a later
    scd_vacuum_history."""
    import pytest

    from beis_orp_data_service_spark.streaming import pipeline as st

    store = str(tmp_path / "tt_store")
    sink = st.ParquetScdSink(
        spark, store, "user_id", "ts", "event_id", n_buckets=4,
        retain_history=True,
    )
    mk = lambda rows: spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))
    sink(mk([(1, 10, "2024-01-01 10:00:00"), (2, 20, "2024-01-01 11:00:00")]), 0)
    sink(mk([(3, 10, "2024-01-02 10:00:00"), (4, 30, "2024-01-02 11:00:00")]), 1)
    pre = {c: _scd_snapshot(spark, store, c) for c in (0, 1)}
    pre_changes = _scd_changes(spark, store, 0, 1)
    assert pre_changes  # the fixture really does change state

    stats = mt.compact_scd_store(spark, store, retain_history=True)
    assert stats.partitions_compacted == stats.partitions_seen

    # every retained commit reconstructs bit-identically post-compaction
    for c in (0, 1):
        assert _scd_snapshot(spark, store, c) == pre[c], f"commit {c} broken"
    # compaction = commit 2 with ZERO logical changes
    assert _scd_snapshot(spark, store, 2) == pre[1]
    assert _scd_changes(spark, store, 1, 2) == []
    # CDF across the compaction boundary == the pre-compaction diff
    assert _scd_changes(spark, store, 0, 2) == pre_changes

    # the stream keeps appending (commit 3), history still whole
    sink(mk([(5, 10, "2024-01-03 10:00:00")]), 99)
    assert _scd_snapshot(spark, store, 0) == pre[0]
    assert len(_scd_snapshot(spark, store, 3)) == 5

    # vacuum composes: drop commits < 2, keep the compacted one onward
    out = st.scd_vacuum_history(spark, store, keep_from=2)
    assert out["manifests_deleted"] == 2
    with pytest.raises(FileNotFoundError):
        st.read_scd_store_asof(spark, store, 0)
    assert _scd_snapshot(spark, store, 2) == pre[1]
    assert len(_scd_snapshot(spark, store, 3)) == 5


def test_compact_default_store_drops_superseded_manifests(spark, tmp_path):
    """Non-retain compaction must not leave readable manifests pointing
    at deleted epoch dirs (the round-5 ADVICE bug): superseded
    manifests are deleted WITH their data, so time travel fails with
    the typed error instead of a dangling parquet read."""
    import pytest

    from beis_orp_data_service_spark.streaming import pipeline as st

    store = str(tmp_path / "plain_store")
    sink = st.ParquetScdSink(spark, store, "user_id", "ts", "event_id", n_buckets=3)
    mk = lambda rows: spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))
    sink(mk([(1, 10, "2024-01-01 10:00:00"), (2, 20, "2024-01-01 11:00:00")]), 0)
    sink(mk([(3, 10, "2024-01-02 10:00:00")]), 1)
    live_before = sorted(map(tuple, st.read_scd_store(spark, store).collect()))
    mt.compact_scd_store(spark, store)
    mdir = os.path.join(store, "_manifest")
    manifests = sorted(n for n in os.listdir(mdir) if n.startswith("manifest-"))
    assert manifests == ["manifest-00000000000000000002.json"]
    live_after = sorted(
        map(tuple, st.read_scd_store(spark, store).collect())
    )
    assert live_before == live_after
    for c in (0, 1):
        with pytest.raises(FileNotFoundError):
            st.read_scd_store_asof(spark, store, c)


def test_asof_dangling_manifest_raises_typed_error(spark, tmp_path):
    """read_scd_store_asof verifies referenced (epoch, bucket) dirs
    exist BEFORE the parquet read: a manifest that outlived its data
    raises the typed FileNotFoundError naming the missing dirs."""
    import shutil

    import pytest

    from beis_orp_data_service_spark.streaming import pipeline as st

    store = str(tmp_path / "dangle_store")
    sink = st.ParquetScdSink(
        spark, store, "user_id", "ts", "event_id", n_buckets=2,
        retain_history=True,
    )
    mk = lambda rows: spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))
    sink(mk([(1, 10, "2024-01-01 10:00:00")]), 0)
    sink(mk([(2, 10, "2024-01-02 10:00:00")]), 1)
    shutil.rmtree(os.path.join(store, "data", "epoch=0"))
    with pytest.raises(FileNotFoundError, match="references GC'd data"):
        st.read_scd_store_asof(spark, store, 0)


def test_compact_scd_gc_spares_inflight_epoch(spark, tmp_path):
    """An epoch directory NEWER than the newest commit
    (data written, manifest not yet committed — an in-flight concurrent
    micro-batch or a crash orphan about to be replayed over) must
    survive compaction GC in BOTH history modes, and history vacuum."""
    from beis_orp_data_service_spark.streaming import pipeline as st

    for gc, retain in (("compact", False), ("compact", True), ("vacuum", True)):
        store = str(tmp_path / f"scd_inflight_{gc}_{retain}")
        sink = st.ParquetScdSink(
            spark, store, "user_id", "ts", "event_id", retain_history=retain
        )
        mk = lambda rows: spark.createDataFrame(
            rows, "event_id bigint, user_id bigint, ts string, payload string"
        )
        sink(mk([(1, 1, "a", "x"), (2, 2, "a", "y")]), 0)
        sink(mk([(3, 3, "b", "z")]), 1)
        commit_id, _ = st.scd_manifest(spark, store)
        # simulate the in-flight writer: epoch data far ahead of any
        # manifest (compaction will commit commit_id+1; this is newer)
        inflight = commit_id + 5
        mk([(9, 9, "c", "w")]).withColumn(
            st.ParquetScdSink.BUCKET, F.lit(0)
        ).write.partitionBy(st.ParquetScdSink.BUCKET).parquet(
            f"{store}/data/epoch={inflight}"
        )
        if gc == "compact":
            mt.compact_scd_store(spark, store, retain_history=retain)
        else:
            st.scd_vacuum_history(spark, store, keep_from=commit_id)
        assert os.path.isdir(f"{store}/data/epoch={inflight}/_bucket=0"), (
            f"{gc} retain_history={retain}: in-flight epoch GC'd"
        )
        # live reads are unaffected by the unreferenced dir
        assert st.read_scd_store(spark, store).count() == 3


def test_reliable_checkpoint_requires_distributed_dir_on_cluster(monkeypatch):
    """Round-6 ADVICE: the tempdir fallback is driver-local; on a
    non-local master it silently defeats executor-loss tolerance —
    _ensure_checkpoint_dir must raise instead."""
    import types

    import pytest as _pytest

    from beis_orp_data_service_spark import checkpointing as ck

    monkeypatch.delenv("SPARK_GRAFT_CKPT_DIR", raising=False)
    fake_sc = types.SimpleNamespace(
        master="spark://cluster:7077", getCheckpointDir=lambda: None
    )
    fake_df = types.SimpleNamespace(
        sparkSession=types.SimpleNamespace(sparkContext=fake_sc)
    )
    with _pytest.raises(ValueError, match="DISTRIBUTED checkpoint dir"):
        ck._ensure_checkpoint_dir(fake_df)
    # local master keeps the zero-ceremony tmpdir fallback
    seen = {}
    fake_sc_local = types.SimpleNamespace(
        master="local[8]",
        getCheckpointDir=lambda: None,
        setCheckpointDir=lambda d: seen.setdefault("dir", d),
    )
    ck._ensure_checkpoint_dir(
        types.SimpleNamespace(
            sparkSession=types.SimpleNamespace(sparkContext=fake_sc_local)
        )
    )
    assert "dir" in seen
