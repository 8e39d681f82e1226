"""Structured Streaming tests: live readStream → memory sink equivalence
with batch plans; foreachBatch SCD upsert invariants incl. at-least-once
redelivery idempotency (SURVEY §7 Phase 5)."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from beis_orp_data_service_spark.catalog import load_table
from beis_orp_data_service_spark.streaming import pipeline as st
from tests.conftest import SF_SMOKE


@pytest.fixture()
def events_json_dir(spark, tmp_path):
    """Replay the driver's events table as two json micro-batch files
    (the SQS message-batch stand-in)."""
    events = load_table(spark, SF_SMOKE, "events").orderBy("event_id").limit(200)
    rows = [r.asDict() for r in events.collect()]
    d = tmp_path / "stream_in"
    d.mkdir()
    for i, chunk in enumerate([rows[:100], rows[100:]]):
        _write_events(d / f"batch{i}.json", chunk)
    return str(d)


def _write_events(path, rows):
    with open(path, "w") as f:
        for r in rows:
            r = dict(r)
            r["ts"] = r["ts"].isoformat()
            f.write(json.dumps(r) + "\n")


def test_stream_tumbling_equals_batch(spark, events_json_dir, tmp_path):
    stream = st.stream_events(spark, events_json_dir)
    agg = st.tumbling_counts(stream, "1 hour", watermark="2 hours")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("tumbling_out")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in spark.sql("SELECT * FROM tumbling_out").collect()
    }
    batch_events = (
        load_table(spark, SF_SMOKE, "events").orderBy("event_id").limit(200)
    )
    want = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in st.tumbling_counts(batch_events, "1 hour").collect()
    }
    assert got == want


def test_scd_upsert_stream_invariants(spark, events_json_dir, tmp_path):
    store = str(tmp_path / "store")
    q = st.run_scd_upsert_stream(spark, events_json_dir, store)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = st.read_scd_store(spark, store).toPandas()
    assert len(out) == 200  # every message applied exactly once
    live = out[out.status == "published"].groupby("user_id").size()
    assert (live == 1).all()  # one live version per key
    for _, grp in out.groupby("user_id"):
        assert sorted(grp.version) == list(range(1, len(grp) + 1))


def test_scd_upsert_redelivery_idempotent(spark, events_json_dir, tmp_path):
    # at-least-once: replay the SAME source into an existing store —
    # the merge must not create duplicate versions
    store = str(tmp_path / "store2")
    for chk in ("a", "b"):
        stream = st.stream_events(spark, events_json_dir)
        sink = st.ParquetScdSink(spark, store, "user_id", "ts", "event_id")
        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / f"chk_{chk}"))
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    out = st.read_scd_store(spark, store).toPandas()
    assert len(out) == 200
    assert (out.groupby("user_id").version.max() == out.groupby("user_id").size()).all()


def test_scd_upsert_stream_reads_each_batch_once(spark, tmp_path):
    """Once the store exists, the sink's bucket broadcast and its merge
    both read the batch. Two runs on one checkpoint must each report
    the rows they delivered as numInputRows: a batch body that scanned
    its batch twice would report a multiple of them."""
    events = load_table(spark, SF_SMOKE, "events").orderBy("event_id").limit(80)
    rows = [r.asDict() for r in events.collect()]
    src = tmp_path / "in"
    src.mkdir()
    store = str(tmp_path / "store")
    for i, chunk in enumerate([rows[:50], rows[50:]]):
        _write_events(src / f"b{i}.json", chunk)
        q = st.run_scd_upsert_stream(spark, str(src), store)
        try:
            q.processAllAvailable()
            assert [p["numInputRows"] for p in q.recentProgress] == [len(chunk)]
        finally:
            q.stop()
    assert st.read_scd_store(spark, store).count() == 80


def test_stateful_dedup_exactly_once_across_restarts(spark, tmp_path):
    """applyInPandasWithState first-seen dedup: redeliveries are dropped
    within a batch, and — because the state store lives in the
    checkpoint — across a stream restart too."""
    import os

    events = load_table(spark, SF_SMOKE, "events").orderBy("event_id").limit(60)
    rows = [r.asDict() for r in events.collect()]
    d = tmp_path / "dedup_in"
    d.mkdir()

    def write_batch(name, chunk):
        with open(d / name, "w") as f:
            for r in chunk:
                r = dict(r)
                r["ts"] = r["ts"].isoformat()
                f.write(json.dumps(r) + "\n")

    # batch 0: ids 0-39, with 0-9 duplicated inside the same file
    write_batch("b0.json", rows[:40] + rows[:10])
    chk = str(tmp_path / "chk")
    out = str(tmp_path / "dedup_out")
    q = st.run_dedup_stream(spark, str(d), chk, out)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got_a = spark.read.parquet(out).select("event_id").collect()
    assert sorted(r.event_id for r in got_a) == sorted(
        r["event_id"] for r in rows[:40]
    )

    # restart with batch 1: ids 20-59 — 20-39 are redeliveries and must
    # be swallowed by state restored from the checkpoint
    write_batch("b1.json", rows[20:60])
    q = st.run_dedup_stream(spark, str(d), chk, out)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got_all = spark.read.parquet(out).select("event_id").collect()
    assert sorted(r.event_id for r in got_all) == sorted(
        r["event_id"] for r in rows[:60]
    )  # every id exactly once across both runs
    assert os.path.isdir(chk)  # state store persisted


def test_scd_sink_never_materializes_on_driver(spark, events_json_dir, tmp_path, monkeypatch):
    # the sink must stream executor→parquet; any driver-side collect of
    # the store (toPandas/collect) is a scale bug — poison both for the
    # duration of the run
    from pyspark.sql import DataFrame

    def _poisoned(self, *a, **k):
        raise AssertionError("driver-side materialization inside SCD sink")

    monkeypatch.setattr(DataFrame, "toPandas", _poisoned)
    monkeypatch.setattr(DataFrame, "collect", _poisoned)
    store = str(tmp_path / "store3")
    q = st.run_scd_upsert_stream(spark, events_json_dir, store)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    monkeypatch.undo()
    out = st.read_scd_store(spark, store).toPandas()
    assert len(out) == 200
    # layout: immutable data/epoch=E/_bucket=NN dirs + manifest pointers
    import os

    epochs = [
        n for n in os.listdir(os.path.join(store, "data")) if n.startswith("epoch=")
    ]
    assert epochs
    bucket_dirs = [
        n
        for e in epochs
        for n in os.listdir(os.path.join(store, "data", e))
        if n.startswith(f"{st.ParquetScdSink.BUCKET}=")
    ]
    assert bucket_dirs
    assert all(0 <= int(n.split("=")[1]) < 64 for n in bucket_dirs)
    manifests = os.listdir(os.path.join(store, "_manifest"))
    assert any(n.startswith("manifest-") for n in manifests)


def _bucket_files(store):
    """Map of bucket -> {(epoch, filename): (size, sha256)} across every
    epoch directory currently in the store."""
    import hashlib
    import os

    out = {}
    data = os.path.join(store, "data")
    for e in sorted(os.listdir(data)):
        if not e.startswith("epoch="):
            continue
        for n in sorted(os.listdir(os.path.join(data, e))):
            if not n.startswith(f"{st.ParquetScdSink.BUCKET}="):
                continue
            b = int(n.split("=", 1)[1])
            d = os.path.join(data, e, n)
            files = out.setdefault(b, {})
            for fn in sorted(os.listdir(d)):
                if fn.endswith(".parquet"):
                    p = os.path.join(d, fn)
                    with open(p, "rb") as f:
                        files[(e, fn)] = (
                            os.path.getsize(p),
                            hashlib.sha256(f.read()).hexdigest(),
                        )
    return out


def test_scd_sink_untouched_buckets_not_rewritten(spark, events_json_dir, tmp_path):
    """Per-batch I/O must be O(touched buckets), not O(store): after the
    initial load, a micro-batch containing a single key may rewrite only
    that key's bucket — every other bucket's files stay byte-identical
    (the batch writes only its buckets to a new epoch directory, never
    a full-store rewrite)."""
    import json as _json
    import os

    store = str(tmp_path / "store_buckets")
    q = st.run_scd_upsert_stream(spark, events_json_dir, store)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    before = _bucket_files(store)
    assert len(before) > 1  # the 200-event load spans many buckets

    # one-key micro-batch: user_id 1 -> exactly one touched bucket
    sink = st.ParquetScdSink(spark, store, "user_id", "ts", "event_id")
    one = spark.createDataFrame(
        [(10_001, "2024-01-01T00:00:00", 1, "click", 1.0, "{}")],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    sink(one, epoch_id=999)

    after = _bucket_files(store)
    touched = spark.createDataFrame([(1,)], "user_id long").select(
        F.pmod(F.hash("user_id"), F.lit(64)).cast("int").alias("b")
    ).collect()[0].b
    assert after[touched] != before.get(touched)
    for b, files in before.items():
        if b != touched:
            assert after[b] == files, f"untouched bucket {b} was rewritten"
    # and the store is still correct: user 1 gained one version
    out = st.read_scd_store(spark, store).toPandas()
    assert len(out) == 201


def assert_reads_only_manifest_pairs(spark, store):
    """Every file ``read_scd_store`` opens lies under an
    ``epoch=E/_bucket=B`` directory the latest manifest names."""
    import re

    _, mapping = st.scd_manifest(spark, store)
    live = {f"epoch={e}/{st.BUCKET}={b}" for b, e in mapping.items()}
    files = st.read_scd_store(spark, store).inputFiles()
    assert files
    for f in files:
        pair = re.search(rf"epoch=\d+/{st.BUCKET}=\d+", f)
        assert pair and pair.group(0) in live, f


def test_scd_store_epoch_dirs_bounded_by_live_buckets(spark, tmp_path):
    """40 single-key batches into 8 buckets: the per-batch GC removes
    every epoch directory the manifest no longer references, so
    ``data/`` holds one directory per live epoch (at most n_buckets),
    not one per batch; only the newest 10 manifests remain; and every
    batch is applied exactly once. One empty batch rides along: it
    commits an epoch directory holding no bucket (e.g. every message a
    near-dup), which the next commit removes."""
    store = str(tmp_path / "store_bounded")
    sink = st.ParquetScdSink(spark, store, "user_id", "ts", "event_id", n_buckets=8)
    mk = lambda rows: spark.createDataFrame(
        rows, "event_id long, user_id long, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    for i in range(40):
        sink(mk([(i, i, f"2024-01-01T00:00:{i:02d}")]), epoch_id=i)
        if i == 20:
            sink(mk([]), epoch_id=100)
    _, mapping = st.scd_manifest(spark, store)
    epochs = {
        int(n.split("=", 1)[1])
        for n in os.listdir(os.path.join(store, "data"))
        if n.startswith("epoch=")
    }
    assert epochs == set(mapping.values())
    assert len(epochs) <= 8
    manifests = [
        n for n in os.listdir(os.path.join(store, "_manifest"))
        if n.startswith("manifest-")
    ]
    assert len(manifests) == 10
    assert st.read_scd_store(spark, store).count() == 40
    assert_reads_only_manifest_pairs(spark, store)


def test_scd_sink_crash_before_commit_preserves_store(spark, events_json_dir, tmp_path):
    """Crash atomicity: an epoch directory written WITHOUT a manifest
    commit (= crash between write and rename) must be invisible to
    readers, and the replayed batch must commit cleanly over it."""
    import os

    store = str(tmp_path / "store_crash")
    q = st.run_scd_upsert_stream(spark, events_json_dir, store)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    before = st.read_scd_store(spark, store).toPandas()

    sink = st.ParquetScdSink(spark, store, "user_id", "ts", "event_id")
    one = spark.createDataFrame(
        [(20_001, "2024-01-01T00:00:00", 1, "click", 1.0, "{}")],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    # simulate the crash: perform ONLY the epoch write, no manifest
    commit_id, _ = st.scd_manifest(spark, store)
    orphan = commit_id + 1
    (
        one.withColumn(sink.BUCKET, sink._bucket_col(F.col("user_id")))
        .write.mode("overwrite")
        .partitionBy(sink.BUCKET)
        .parquet(f"{store}/data/epoch={orphan}")
    )
    assert os.path.isdir(f"{store}/data/epoch={orphan}")
    # reader sees the PRE-crash state — the orphan epoch is unreferenced
    mid = st.read_scd_store(spark, store).toPandas()
    assert len(mid) == len(before)
    assert 20_001 not in set(mid.event_id)
    assert_reads_only_manifest_pairs(spark, store)

    # the checkpoint replays the batch: full transaction commits over
    # the orphan directory (same commit id, overwritten idempotently)
    sink(one, epoch_id=123)
    after = st.read_scd_store(spark, store).toPandas()
    assert len(after) == len(before) + 1
    assert 20_001 in set(after.event_id)


def test_stream_interval_join_equals_batch(spark, events_json_dir, tmp_path):
    stream = st.stream_events(spark, events_json_dir)
    clicks = stream.filter(F.col("event_type") == "click").withWatermark("ts", "1 hour")
    purchases = stream.filter(F.col("event_type") == "purchase").withWatermark(
        "ts", "2 hours"
    )
    joined = st.interval_join(clicks, purchases, "user_id", "15 minutes")
    q = (
        joined.writeStream.format("memory")
        .queryName("ivj_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_ivj"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r.click_id, r.purchase_id, r.user_id, r.lag_s)
        for r in spark.sql("SELECT * FROM ivj_out").collect()
    }
    batch = load_table(spark, SF_SMOKE, "events").orderBy("event_id").limit(200)
    want = {
        (r.click_id, r.purchase_id, r.user_id, r.lag_s)
        for r in st.interval_join(
            batch.filter(F.col("event_type") == "click"),
            batch.filter(F.col("event_type") == "purchase"),
            "user_id",
            "15 minutes",
        ).collect()
    }
    assert got == want
    for _, _, _, lag_s in got:
        assert 0 <= lag_s <= 900


def test_session_window_stream_equals_batch_sessionize(spark, events_json_dir, tmp_path):
    """Native session_window under a live stream must produce the same
    (key, session_start, n_events) sessions as (a) the same aggregation
    in batch mode and (b) the lag-gap-cumsum sessionize twin."""
    stream = st.stream_events(spark, events_json_dir)
    agg = st.session_window_counts(stream, gap="60 minutes", watermark="2 hours")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("sess_out")
        .option("checkpointLocation", str(tmp_path / "chk_sess"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r.user_id, r.session_start, r.n_events)
        for r in spark.sql("SELECT * FROM sess_out").collect()
    }
    batch_events = (
        load_table(spark, SF_SMOKE, "events").orderBy("event_id").limit(200)
    )
    want_native = {
        (r.user_id, r.session_start, r.n_events)
        for r in st.session_window_counts(batch_events, gap="60 minutes").collect()
    }
    assert got == want_native
    # and the relational twin agrees on session starts and sizes
    want_twin = {
        (r.user_id, r.session_start, r.n_events)
        for r in st.sessionize(batch_events, gap_minutes=60).collect()
    }
    assert got == want_twin


def test_lsh_dedup_stream_flags_cross_batch_near_dups(spark, tmp_path):
    """foreachBatch LSH admission: batch 0 seeds the index unflagged;
    batch 1's exact copy of a batch-0 doc is flagged against the store,
    its fresh doc is not; batch 2 (a separate stream run — restart) still
    flags against everything admitted before it."""
    import json as _json

    d = tmp_path / "lsh_in"
    d.mkdir()
    base = "the quick brown fox jumps over the lazy dog again and again " * 3
    other = "completely unrelated fresh content with different words entirely " * 3

    def write_batch(name, rows):
        with open(d / name, "w") as f:
            for eid, text in rows:
                f.write(
                    _json.dumps(
                        {
                            "event_id": eid,
                            "ts": "2024-01-01T00:00:00",
                            "user_id": 1,
                            "event_type": "doc",
                            "value": 0.0,
                            "props": text,
                        }
                    )
                    + "\n"
                )

    chk = str(tmp_path / "chk")
    idx = str(tmp_path / "idx")
    out = str(tmp_path / "flags")

    write_batch("b0.json", [(1, base), (2, other)])
    q = st.run_lsh_dedup_stream(spark, str(d), chk, idx, out)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    flags = {r.doc_id: r.is_near_dup for r in spark.read.parquet(out).collect()}
    assert flags == {1: False, 2: False}

    write_batch("b1.json", [(10, base), (11, "brand new third topic words")])
    q = st.run_lsh_dedup_stream(spark, str(d), chk, idx, out)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    flags = {r.doc_id: r.is_near_dup for r in spark.read.parquet(out).collect()}
    assert flags[10] is True and flags[11] is False

    # restarted stream (same checkpoint): the index is durable state
    write_batch("b2.json", [(20, other)])
    q = st.run_lsh_dedup_stream(spark, str(d), chk, idx, out)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    flags = {r.doc_id: r.is_near_dup for r in spark.read.parquet(out).collect()}
    assert flags[20] is True  # near-dup of doc 2 admitted in batch 0


def test_lsh_dedup_batch_replay_is_idempotent(spark, tmp_path):
    """At-least-once replay: re-running the SAME epoch (after its index
    append already happened) must neither flag docs against their own
    replayed rows nor duplicate verdict rows."""
    idx = str(tmp_path / "idx")
    out = str(tmp_path / "flags")
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon " * 4), (2, "one two three four five " * 4)],
        "doc_id bigint, text string",
    )
    st.lsh_dedup_batch(spark, idx, docs, out, epoch=0)
    first = sorted(map(tuple, spark.read.parquet(out).drop("_epoch").collect()))
    # crash-after-append, checkpoint replays epoch 0:
    st.lsh_dedup_batch(spark, idx, docs, out, epoch=0)
    second = sorted(map(tuple, spark.read.parquet(out).drop("_epoch").collect()))
    assert first == second
    assert all(r.is_near_dup is False for r in spark.read.parquet(out).collect())


def test_lsh_dedup_batch_replay_within_batch_neardup_pair(spark, tmp_path):
    """Mid-batch-crash replay with a planted WITHIN-batch near-dup
    pair (the round-5 ADVICE window): epoch 1's first attempt appends
    its bands to the index and crashes before the checkpoint commit;
    the replayed epoch 1 probes an index that already holds its own
    rows. Same-id exclusion does not cover the (A, B) pair, so without
    the epoch stamp both docs would flip to is_near_dup=True on replay
    — verdicts must instead be bit-identical to the first run."""
    idx = str(tmp_path / "idx")
    out = str(tmp_path / "flags")
    seed = spark.createDataFrame(
        [(1, "totally unrelated seed corpus text sentence " * 5)],
        "doc_id bigint, text string",
    )
    st.lsh_dedup_batch(spark, idx, seed, out, epoch=0)
    pair_text = "the quick brown fox jumps over the lazy dog once more " * 4
    batch = spark.createDataFrame(
        [(10, pair_text), (11, pair_text + " tail")],
        "doc_id bigint, text string",
    )
    st.lsh_dedup_batch(spark, idx, batch, out, epoch=1)
    first = {
        r.doc_id: (r.is_near_dup, r.n_index_matches)
        for r in spark.read.parquet(out).where("_epoch = 1").collect()
    }
    # within-batch pairs are by contract NOT flagged against each other
    assert first == {10: (False, 0), 11: (False, 0)}
    # crash after the index append, before the checkpoint commit:
    # the stream replays epoch 1 against an index holding its own bands
    st.lsh_dedup_batch(spark, idx, batch, out, epoch=1)
    replay = {
        r.doc_id: (r.is_near_dup, r.n_index_matches)
        for r in spark.read.parquet(out).where("_epoch = 1").collect()
    }
    assert replay == first
    # and a genuinely LATER epoch still flags against the pair's bands
    later = spark.createDataFrame([(20, pair_text)], "doc_id bigint, text string")
    st.lsh_dedup_batch(spark, idx, later, out, epoch=2)
    flags2 = {
        r.doc_id: r.is_near_dup
        for r in spark.read.parquet(out).where("_epoch = 2").collect()
    }
    assert flags2[20] is True


def test_ingest_batch_replay_within_batch_neardup_pair(spark, tmp_path):
    """Full ingest_batch replay of an epoch whose index append already
    committed, with a within-batch near-dup pair: both docs must stay
    admitted (SCD store holds exactly one row each), not become
    mutually-flagged and dropped/inconsistent on the re-run."""
    idx = str(tmp_path / "idx")
    store = str(tmp_path / "store")
    flags = str(tmp_path / "flags")
    pair_text = "shared boilerplate paragraph repeated across uploads " * 4
    rows = [
        _ingest_msg(100, 1, "<p>" + pair_text + "</p>"),
        _ingest_msg(101, 2, "<p>" + pair_text + " extra</p>"),
    ]
    batch = _ingest_df(spark, rows)
    st.ingest_batch(spark, batch, idx, store, flags, epoch=0)
    first = sorted(
        (r.media_id, r.doc_key) for r in st.read_scd_store(spark, store).collect()
    )
    assert first == [(100, 1), (101, 2)]
    # replay the same epoch (crash after index append, before commit)
    st.ingest_batch(spark, batch, idx, store, flags, epoch=0)
    replay = sorted(
        (r.media_id, r.doc_key) for r in st.read_scd_store(spark, store).collect()
    )
    assert replay == first
    f = {r.media_id: r.is_near_dup for r in spark.read.parquet(flags).collect()}
    assert f == {100: False, 101: False}


def _ingest_msg(eid, key, text, fmt="HTML", ts="2024-01-01T00:00:00"):
    return {
        "event_id": eid,
        "ts": ts,
        "user_id": key,
        "event_type": fmt,
        "value": 0.0,
        "props": text,
    }


def _ingest_df(spark, msgs):
    return spark.createDataFrame(
        [tuple(m[k] for k in ("event_id", "ts", "user_id", "event_type", "value", "props")) for m in msgs],
        "event_id bigint, ts string, user_id bigint, event_type string, value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))


def test_ingest_batch_job_count(spark, tmp_path):
    """A micro-batch against an existing index and store runs at most
    15 Spark jobs. It ran 22 while the batch was re-scanned for an
    emptiness probe, the verdicts were written and read back, and the
    sink evaluated its converter lineage twice. The verdicts still land
    in ``flagged_out``: one row per message of the batch."""
    from tests.conftest import spark_jobs

    idx = str(tmp_path / "idx")
    store = str(tmp_path / "store")
    flags = str(tmp_path / "flags")
    t1 = "seed document on emissions standards for coastal regions " * 3
    t2 = "seed document on workplace safety inspection rules " * 3
    seed = [_ingest_msg(1, 100, t1), _ingest_msg(2, 200, t2)]
    st.ingest_batch(spark, _ingest_df(spark, seed), idx, store, flags, epoch=0)
    batch = [
        _ingest_msg(3, 300, t1 + " tail"),  # near-dup of message 1
        _ingest_msg(4, 200, "rewritten safety rules with new wording " * 3,
                    ts="2024-01-02T00:00:00"),  # re-upload of doc_key 200
        _ingest_msg(5, 500, "fresh document about financial conduct " * 3),
    ]
    _, n_jobs = spark_jobs(
        spark,
        lambda: st.ingest_batch(
            spark, _ingest_df(spark, batch), idx, store, flags, epoch=1
        ),
    )
    assert n_jobs <= 15
    got = sorted(
        (r.media_id, r.is_near_dup)
        for r in spark.read.parquet(flags).where("_epoch = 1").collect()
    )
    assert got == [(3, True), (4, False), (5, False)]
    versions = {
        r.media_id: r.version for r in st.read_scd_store(spark, store).collect()
    }
    assert versions == {1: 1, 2: 1, 4: 2, 5: 1}


def test_ingest_stream_e2e_restart_no_dup_no_loss(spark, tmp_path):
    """The WHOLE ingest lifecycle as one streaming job (convert ->
    enrich -> LSH admission -> SCD store), killed between batches and
    restarted on the same checkpoint: every admitted message lands in
    the store exactly once, near-dups of earlier-admitted docs are
    rejected, re-uploads of the same doc_key become version+1."""
    import json as _json

    d = tmp_path / "in"
    d.mkdir()
    chk = str(tmp_path / "chk")
    idx = str(tmp_path / "idx")
    store = str(tmp_path / "store")
    flags = str(tmp_path / "flags")

    t1 = "first unique regulatory document about emissions standards " * 3
    t2 = "second distinct document concerning workplace safety rules " * 3
    t3 = "third standalone text on financial conduct requirements " * 3

    def write_batch(name, msgs, mtime):
        with open(d / name, "w") as f:
            for m in msgs:
                f.write(_json.dumps(m) + "\n")
        # the file source batches oldest-mtime-first: pin distinct
        # mtimes so batch order is deterministic
        os.utime(d / name, (mtime, mtime))

    # run 1: two files -> two micro-batches (maxFilesPerTrigger=1)
    write_batch("b0.json", [_ingest_msg(1, 100, t1), _ingest_msg(2, 200, t2)],
                1_700_000_000)
    write_batch(
        "b1.json",
        [
            _ingest_msg(3, 100, t1 + " v2 tail", ts="2024-01-02T00:00:00"),
            _ingest_msg(4, 300, t3),
        ],
        1_700_000_060,
    )
    q = st.run_ingest_stream(spark, str(d), chk, idx, store, flags)
    try:
        q.processAllAvailable()
        # Spark counts numInputRows once per source scan: a batch body
        # that read its batch twice would double it (and every
        # throughput computed from it)
        assert [p["numInputRows"] for p in q.recentProgress] == [2, 2]
    finally:
        q.stop()

    got = {r.media_id: r for r in st.read_scd_store(spark, store).collect()}
    # msg 3 is a near-dup of msg 1 (same text + tail) -> rejected
    assert set(got) == {1, 2, 4}
    assert all(r.version == 1 and r.status == "published" for r in got.values())

    # kill happened; new messages arrive; restart on the SAME checkpoint
    write_batch(
        "b2.json",
        [
            # re-upload of doc_key 200 with DIFFERENT text -> version 2
            _ingest_msg(5, 200, "entirely rewritten safety rules text " * 4,
                        ts="2024-01-03T00:00:00"),
            _ingest_msg(6, 400, "fresh fourth document about data rights " * 3),
        ],
        1_700_000_120,
    )
    q = st.run_ingest_stream(spark, str(d), chk, idx, store, flags)
    try:
        q.processAllAvailable()
        assert [p["numInputRows"] for p in q.recentProgress] == [2]
    finally:
        q.stop()

    rows = st.read_scd_store(spark, store).collect()
    by_id = {r.media_id: r for r in rows}
    # no loss: all four admitted docs + the re-upload; no dup: 5 rows total
    assert sorted(by_id) == [1, 2, 4, 5, 6]
    assert len(rows) == 5
    # SCD: doc_key 200 now has two versions, only the newest published
    k200 = sorted(
        (r for r in rows if r.doc_key == 200), key=lambda r: r.version
    )
    assert [(r.media_id, r.version, r.status) for r in k200] == [
        (2, 1, "archive"), (5, 2, "published"),
    ]
    # flags recorded the near-dup rejection
    fl = {r.media_id: r.is_near_dup for r in spark.read.parquet(flags).collect()}
    assert fl[3] is True and fl[1] is False and fl[6] is False
    # enrichment ran: every stored row carries language + title + node_id
    assert all(r.language is not None and r.node_id is not None for r in rows)


class TestScdTimeTravel:
    def test_asof_reads_reconstruct_history(self, spark, tmp_path):
        import pyspark.sql.functions as F

        from beis_orp_data_service_spark.streaming import pipeline as st

        rows = [
            (1, "u1", "2024-01-01 10:00:00"),
            (2, "u1", "2024-01-02 10:00:00"),
            (3, "u2", "2024-01-01 10:00:00"),
            (4, "u1", "2024-01-03 10:00:00"),
            (5, "u2", "2024-01-04 10:00:00"),
        ]
        df = spark.createDataFrame(
            rows, "event_id long, user_id string, ts string"
        ).withColumn("ts", F.to_timestamp("ts"))
        path = str(tmp_path / "tt_store")
        sink = st.ParquetScdSink(
            spark, path, "user_id", "ts", "event_id", n_buckets=4,
            retain_history=True,
        )
        sink(df.where("event_id <= 3"), 0)
        sink(df.where("event_id > 3"), 1)
        asof0 = {
            (r["event_id"], r["version"], r["status"])
            for r in st.read_scd_store_asof(spark, path, 0).collect()
        }
        assert asof0 == {
            (1, 1, "archive"), (2, 2, "published"), (3, 1, "published")
        }
        latest = {
            (r["event_id"], r["version"], r["status"])
            for r in st.read_scd_store(spark, path).collect()
        }
        assert latest == {
            (1, 1, "archive"), (2, 2, "archive"), (4, 3, "published"),
            (3, 1, "archive"), (5, 2, "published"),
        }
        # asof latest commit == live read
        asof1 = {
            (r["event_id"], r["version"], r["status"])
            for r in st.read_scd_store_asof(spark, path, 1).collect()
        }
        assert asof1 == latest

    def test_default_store_gcs_history(self, spark, tmp_path):
        import pytest
        import pyspark.sql.functions as F

        from beis_orp_data_service_spark.streaming import pipeline as st

        df = spark.createDataFrame(
            [(1, "u1", "2024-01-01 10:00:00"), (2, "u1", "2024-01-02 10:00:00")],
            "event_id long, user_id string, ts string",
        ).withColumn("ts", F.to_timestamp("ts"))
        path = str(tmp_path / "gc_store")
        sink = st.ParquetScdSink(spark, path, "user_id", "ts", "event_id", n_buckets=2)
        sink(df.where("event_id = 1"), 0)
        sink(df.where("event_id = 2"), 1)
        # default store: commit 0's bucket data was superseded and GC'd.
        # The manifest file may survive (manifest GC keeps newest 10),
        # so the asof read either raises or returns a state that is NOT
        # the commit-0 snapshot — history is genuinely gone, which is
        # why time travel requires retain_history=True.
        try:
            rows = {
                (r["event_id"], r["status"])
                for r in st.read_scd_store_asof(spark, path, 0).collect()
            }
        except Exception:
            return
        assert rows != {(1, "published")}, "GC'd store must not time-travel"

    def test_unknown_commit_raises(self, spark, tmp_path):
        import pytest
        import pyspark.sql.functions as F

        from beis_orp_data_service_spark.streaming import pipeline as st

        df = spark.createDataFrame(
            [(1, "u1", "2024-01-01 10:00:00")],
            "event_id long, user_id string, ts string",
        ).withColumn("ts", F.to_timestamp("ts"))
        path = str(tmp_path / "u_store")
        sink = st.ParquetScdSink(
            spark, path, "user_id", "ts", "event_id", retain_history=True
        )
        sink(df, 0)
        with pytest.raises(FileNotFoundError, match="manifest 7"):
            st.read_scd_store_asof(spark, path, 7)


class TestScdChangesAndVacuum:
    def _store(self, spark, tmp_path, retain=True):
        import pyspark.sql.functions as F

        from beis_orp_data_service_spark.streaming import pipeline as st

        rows = [
            (1, "u1", "2024-01-01 10:00:00"),
            (2, "u1", "2024-01-02 10:00:00"),
            (3, "u2", "2024-01-01 10:00:00"),
            (4, "u1", "2024-01-03 10:00:00"),
            (5, "u3", "2024-01-04 10:00:00"),
        ]
        df = spark.createDataFrame(
            rows, "event_id long, user_id string, ts string"
        ).withColumn("ts", F.to_timestamp("ts"))
        path = str(tmp_path / "cdf_store")
        sink = st.ParquetScdSink(
            spark, path, "user_id", "ts", "event_id", n_buckets=4,
            retain_history=retain,
        )
        sink(df.where("event_id <= 3"), 0)
        sink(df.where("event_id > 3"), 1)
        return path

    def test_change_feed_types(self, spark, tmp_path):
        from beis_orp_data_service_spark.streaming import pipeline as st

        path = self._store(spark, tmp_path)
        changes = {
            (r["change_type"], r["id"], r["version"], r["status"])
            for r in st.scd_store_changes(spark, path, 0, 1).collect()
        }
        assert changes == {
            ("insert", 4, 3, "published"),
            ("insert", 5, 1, "published"),
            # event 2 was u1's published head at commit 0; event 4 takes it
            ("update_pre", 2, 2, "published"),
            ("update_post", 2, 2, "archive"),
        }

    def test_vacuum_drops_old_keeps_new(self, spark, tmp_path):
        import pytest

        from beis_orp_data_service_spark.streaming import pipeline as st

        path = self._store(spark, tmp_path)
        latest_before = sorted(
            map(tuple, st.read_scd_store(spark, path).collect())
        )
        stats = st.scd_vacuum_history(spark, path, keep_from=1)
        assert stats["manifests_deleted"] == 1
        with pytest.raises(FileNotFoundError):
            st.read_scd_store_asof(spark, path, 0)
        assert sorted(
            map(tuple, st.read_scd_store_asof(spark, path, 1).collect())
        ) == latest_before
        with pytest.raises(ValueError, match="every manifest"):
            st.scd_vacuum_history(spark, path, keep_from=99)


class TestWatermarkLateData:
    """Pin the exact late-row
    drop/include boundary under Spark's TWO-threshold watermark
    (SPARK-24634, since 3.4): at the start of batch N the engine
    updates the watermark from batch N-1's max event time, but that
    new value is only the EVICTION threshold for batch N; the
    LATE-EVENT ADMISSION filter for batch N uses the PREVIOUS value
    (i.e. the watermark as of batch N-1). So a late row arriving in
    the very next micro-batch after the threshold-setting event is
    still ADMITTED (filter threshold lags one batch); only a row
    arriving two-plus batches later — once the admission threshold
    itself has passed the window end — is DROPPED. Both sides of the
    boundary are pinned below: *_late_row_dropped inserts one extra
    watermark-advancing batch so the drop actually fires, and
    *_late_row_admitted_one_batch_lag pins the lag-admission."""

    def _drive(self, spark, tmp_path, agg_fn, batches, name):
        import json as _json

        d = tmp_path / f"{name}_in"
        d.mkdir()
        for i, rows in enumerate(batches):
            with open(d / f"b{i}.json", "w") as f:
                for eid, ts, uid in rows:
                    f.write(
                        _json.dumps(
                            {
                                "event_id": eid,
                                "ts": f"2024-01-01T{ts}",
                                "user_id": uid,
                                "event_type": "x",
                                "value": 1.0,
                                "props": "p",
                            }
                        )
                        + "\n"
                    )
            os.utime(d / f"b{i}.json", (1_700_000_000 + 60 * i,) * 2)
        src = (
            spark.readStream.schema(st.EVENTS_STREAM_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(str(d))
        )
        out = str(tmp_path / f"{name}_out")
        q = (
            agg_fn(src)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / f"{name}_chk"))
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return spark.read.parquet(out)

    def test_tumbling_late_row_dropped(self, spark, tmp_path):
        batches = [
            # b0: windows 10:00 and 10:30 get one row each; watermark
            # computed from b0's max (10:35 - 10min = 10:25) becomes
            # the EVICTION threshold for b1 and — one batch later —
            # the ADMISSION threshold for b2.
            [(1, "10:05:00", 1), (2, "10:35:00", 1)],
            # b1: watermark-advancing only. During b1 the admission
            # filter is still 0, eviction is 10:25 -> the 10:00 window
            # (end 10:10 <= 10:25) is finalized and emitted with
            # count 1. End-of-b1 watermark = 11:30 - 10min = 11:20.
            [(3, "11:30:00", 1)],
            # b2: admission filter is now 10:25 (b1's eviction value):
            #   10:07 -> OLDER than 10:25: DROPPED on input — the
            #            already-emitted 10:00 window stays count 1
            #   10:28 -> newer than 10:25: ADMITTED into the 10:20
            #            window, which eviction (11:20) then emits
            #            this same batch with count 1
            # 12:30 advances; end-of-b2 watermark = 12:20.
            [(4, "10:07:00", 1), (5, "10:28:00", 1), (6, "12:30:00", 1)],
            # b3: flush — eviction 12:20 finalizes the 11:30 window
            [(7, "13:30:00", 1)],
        ]
        got = {
            r.window_start.strftime("%H:%M"): r.n_events
            for r in self._drive(
                spark,
                tmp_path,
                lambda s: st.tumbling_counts(s, "10 minutes", watermark="10 minutes"),
                batches,
                "tumb_drop",
            ).collect()
        }
        # the late 10:07 row did NOT land anywhere: 10:00 stays 1
        assert got["10:00"] == 1
        # the late-but-admissible 10:28 row DID land: 10:20 == 1
        assert got["10:20"] == 1
        assert got["10:30"] == 1
        assert got["11:30"] == 1
        assert "12:30" not in got or got["12:30"] == 1

    def test_tumbling_late_row_admitted_one_batch_lag(self, spark, tmp_path):
        batches = [
            # b0: end-of-batch watermark = 10:35 - 10min = 10:25
            [(1, "10:05:00", 1), (2, "10:35:00", 1)],
            # b1: the VERY NEXT batch. Admission filter is still 0
            # (10:25 only became the eviction threshold), so the
            # 18-min-late 10:07 row is ADMITTED and merged into the
            # 10:00 window, which eviction (10:25) then emits this
            # batch with count 2 — Spark's "not too late" guarantee
            # is one-directional; this pins the other direction.
            [(3, "10:07:00", 1), (4, "11:30:00", 1)],
            # b2: flush — eviction 11:20 finalizes the 10:30 window
            [(5, "12:30:00", 1)],
        ]
        got = {
            r.window_start.strftime("%H:%M"): r.n_events
            for r in self._drive(
                spark,
                tmp_path,
                lambda s: st.tumbling_counts(s, "10 minutes", watermark="10 minutes"),
                batches,
                "tumb_admit",
            ).collect()
        }
        # one-batch-lag admission: the late 10:07 row COUNTED
        assert got["10:00"] == 2
        assert got["10:30"] == 1

    def test_session_window_late_row_dropped(self, spark, tmp_path):
        batches = [
            # b0: u1 session [10:00, 10:20) (gap 15min); u2 opens at
            # 10:40. End-of-b0 watermark = 10:40 - 10min = 10:30.
            [(1, "10:00:00", 1), (2, "10:05:00", 1), (3, "10:40:00", 2)],
            # b1: watermark-advancing only — eviction 10:30 closes
            # u1's session (end 10:20) with its two pre-watermark
            # rows. End-of-b1 watermark = 11:30 - 10min = 11:20.
            [(4, "11:30:00", 3)],
            # b2: admission filter is now 10:30 -> u1's 10:06 row is
            # DROPPED on input (the closed session must not reopen or
            # recount); u2's 10:45 is admitted, extends the session
            # to [10:40, 11:00), which eviction (11:20) emits this
            # batch. End-of-b2 watermark = 12:20.
            [(5, "10:06:00", 1), (6, "10:45:00", 2), (7, "12:30:00", 3)],
            # b3: flush — eviction 12:20 closes u3's 11:30 session
            [(8, "13:30:00", 3)],
        ]
        rows = self._drive(
            spark,
            tmp_path,
            lambda s: st.session_window_counts(
                s, gap="15 minutes", watermark="10 minutes"
            ),
            batches,
            "sess_drop",
        ).collect()
        got = {
            (r.user_id, r.session_start.strftime("%H:%M")): (
                r.session_end.strftime("%H:%M"),
                r.n_events,
            )
            for r in rows
        }
        # u1's session closed with exactly the two pre-watermark rows —
        # the dropped 10:06 row neither reopened nor recounted it
        assert got[(1, "10:00")] == ("10:20", 2)
        # u2's in-flight session absorbed its second row
        assert got[(2, "10:40")] == ("11:00", 2)
        assert got[(3, "11:30")] == ("11:45", 1)

    def test_session_window_late_row_admitted_one_batch_lag(self, spark, tmp_path):
        batches = [
            # b0: end-of-batch watermark = 10:40 - 10min = 10:30
            [(1, "10:00:00", 1), (2, "10:05:00", 1), (3, "10:40:00", 2)],
            # b1: the very next batch — admission filter still 0, so
            # u1's 10:06 row is ADMITTED, extending the session to
            # [10:00, 10:21) with 3 events; eviction (10:30) then
            # closes it this batch. End-of-b1 watermark = 11:20.
            [(4, "10:06:00", 1), (5, "11:30:00", 2)],
            # b2: flush — eviction 11:20 closes u2's 10:40 session
            [(6, "12:30:00", 2)],
        ]
        rows = self._drive(
            spark,
            tmp_path,
            lambda s: st.session_window_counts(
                s, gap="15 minutes", watermark="10 minutes"
            ),
            batches,
            "sess_admit",
        ).collect()
        got = {
            (r.user_id, r.session_start.strftime("%H:%M")): (
                r.session_end.strftime("%H:%M"),
                r.n_events,
            )
            for r in rows
        }
        # one-batch-lag admission: the late row merged in and the
        # session end moved to 10:06 + 15min = 10:21
        assert got[(1, "10:00")] == ("10:21", 3)
        assert got[(2, "10:40")] == ("10:55", 1)

    def test_interval_join_late_left_row_boundary(self, spark, tmp_path):
        """Interval-join half: the same two-threshold
        lag applies to stream-stream join inputs — a late click in the
        very next micro-batch still joins; one further batch and it is
        dropped on input (by which point the purchase's state is also
        evicted)."""
        import json as _json

        d = tmp_path / "ivj_late_in"
        d.mkdir()
        batches = [
            # b0: click e1 and purchase e2 join immediately; e3/e4
            # push both sides' max event time to 12:00 -> end-of-b0
            # watermark = 11:50 (10 min delay both sides)
            [
                (1, "10:00:00", 1, "click"),
                (2, "10:05:00", 1, "purchase"),
                (3, "12:00:00", 2, "click"),
                (4, "12:00:00", 3, "purchase"),
            ],
            # b1: click e5 at 10:03 is 107 min late, but the admission
            # filter is still 0 (11:50 is only the eviction threshold
            # this batch) -> ADMITTED, joins purchase e2 (10:03 <=
            # 10:05 <= 10:18)
            [(5, "10:03:00", 1, "click")],
            # b2: click e6 at 10:04 hits admission filter 11:50 ->
            # DROPPED on input; e2's state is gone regardless (evicted
            # at end of b1 once 11:50 passed its joinable range)
            [(6, "10:04:00", 1, "click")],
        ]
        for i, rows in enumerate(batches):
            with open(d / f"b{i}.json", "w") as f:
                for eid, ts, uid, et in rows:
                    f.write(
                        _json.dumps(
                            {
                                "event_id": eid,
                                "ts": f"2024-01-01T{ts}",
                                "user_id": uid,
                                "event_type": et,
                                "value": 1.0,
                                "props": "p",
                            }
                        )
                        + "\n"
                    )
            os.utime(d / f"b{i}.json", (1_700_000_000 + 60 * i,) * 2)
        src = (
            spark.readStream.schema(st.EVENTS_STREAM_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(str(d))
        )
        clicks = src.filter(F.col("event_type") == "click").withWatermark(
            "ts", "10 minutes"
        )
        purchases = src.filter(F.col("event_type") == "purchase").withWatermark(
            "ts", "10 minutes"
        )
        q = (
            st.interval_join(clicks, purchases, "user_id", "15 minutes")
            .writeStream.format("memory")
            .queryName("ivj_late_out")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ivj_late_chk"))
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        pairs = {
            (r.click_id, r.purchase_id)
            for r in spark.sql("SELECT * FROM ivj_late_out").collect()
        }
        # on-time pair + the one-batch-lag admitted late click
        assert (1, 2) in pairs
        assert (5, 2) in pairs
        # two batches late -> dropped on input, no pair
        assert (6, 2) not in pairs
        assert pairs == {(1, 2), (5, 2)}

    def test_stream_dedup_state_eviction_after_watermark(self, spark, tmp_path):
        """Dedup half: with watermark+TTL the
        first-seen state is EVICTED once the eviction watermark passes
        (first-seen ts + ttl) — after which a redelivery of that id is
        re-admitted (emitted a second time), while an id whose horizon
        has not passed stays swallowed. Redeliveries here carry a fresh
        ts to isolate STATE eviction from the input-side late filter (a
        redelivery keeping its original old ts would also be admission-
        filtered once the lagged threshold passes it)."""
        import json as _json

        d = tmp_path / "ddl_in"
        d.mkdir()
        batches = [
            # b0: id 1 first seen at 10:00; ttl 600s -> timeout 10:10
            [(1, "10:00:00")],
            # b1: id 50 at 11:00 (timeout 11:10) advances the max;
            # end-of-b1 watermark = 10:55 (5 min delay)
            [(50, "11:00:00")],
            # b2: eviction threshold is now 10:55 > 10:10 -> id 1's
            # state times out and is removed this batch; id 51 keeps
            # the stream moving (end-of-b2 watermark = 10:56)
            [(51, "11:01:00")],
            # b3: id 1 redelivered -> state gone -> RE-ADMITTED;
            # id 50 redelivered -> timeout 11:10 > eviction threshold
            # 10:56 -> state alive -> swallowed
            [(1, "11:02:00"), (50, "11:03:00")],
        ]
        for i, rows in enumerate(batches):
            with open(d / f"b{i}.json", "w") as f:
                for eid, ts in rows:
                    f.write(
                        _json.dumps(
                            {
                                "event_id": eid,
                                "ts": f"2024-01-01T{ts}",
                                "user_id": 1,
                                "event_type": "x",
                                "value": 1.0,
                                "props": "p",
                            }
                        )
                        + "\n"
                    )
            os.utime(d / f"b{i}.json", (1_700_000_000 + 60 * i,) * 2)
        src = (
            spark.readStream.schema(st.EVENTS_STREAM_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(str(d))
        )
        out = str(tmp_path / "ddl_out")
        q = (
            st.stream_dedup_first_seen(
                src, watermark="5 minutes", ttl_seconds=600
            )
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "ddl_chk"))
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        import collections

        counts = collections.Counter(
            r.event_id for r in spark.read.parquet(out).collect()
        )
        # evicted id re-admitted; live id still deduped; singles once
        assert counts[1] == 2
        assert counts[50] == 1
        assert counts[51] == 1

    def test_stream_dedup_same_batch_expiry_readmits(self, spark, tmp_path):
        """Expiry is the EVENT-TIME horizon, not timer scheduling
       : a redelivery arriving in the
        very batch whose eviction watermark crosses the id's deadline
        must be re-admitted — receiving data resets the timer, so the
        timeout path alone would swallow it forever and admission
        would depend on how the source packed batches."""
        import json as _json

        d = tmp_path / "sbx_in"
        d.mkdir()
        batches = [
            # b0: id 1 first seen at 10:00; ttl 600s -> deadline 10:10
            [(1, "10:00:00")],
            # b1: advance max to 11:00 -> end-of-b1 watermark 10:55
            [(50, "11:00:00")],
            # b2 runs WITH watermark 10:55 > 10:10: id 1's timeout
            # would fire this batch — but id 1 also has data here,
            # which resets the timer. The data path must detect the
            # expired deadline and re-admit.
            [(1, "11:01:00")],
        ]
        for i, rows in enumerate(batches):
            with open(d / f"b{i}.json", "w") as f:
                for eid, ts in rows:
                    f.write(
                        _json.dumps(
                            {
                                "event_id": eid,
                                "ts": f"2024-01-01T{ts}",
                                "user_id": 1,
                                "event_type": "x",
                                "value": 1.0,
                                "props": "p",
                            }
                        )
                        + "\n"
                    )
            os.utime(d / f"b{i}.json", (1_700_000_000 + 60 * i,) * 2)
        src = (
            spark.readStream.schema(st.EVENTS_STREAM_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(str(d))
        )
        out = str(tmp_path / "sbx_out")
        q = (
            st.stream_dedup_first_seen(
                src, watermark="5 minutes", ttl_seconds=600
            )
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "sbx_chk"))
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        import collections

        counts = collections.Counter(
            r.event_id for r in spark.read.parquet(out).collect()
        )
        assert counts[1] == 2  # admitted at 10:00 AND re-admitted at 11:01
        assert counts[50] == 1

    def test_stream_dedup_redelivery_does_not_disarm_eviction(
        self, spark, tmp_path
    ):
        """Round-7 ADVICE (medium): GroupState clears the event-time
        timer on every invocation, so a redelivery that merely drains
        and returns would silently disarm eviction — the cell then
        lives forever under exactly the at-least-once redelivery the
        TTL targets. The fix stores the original deadline in the state
        cell and re-arms it on every invocation; this test redelivers
        an id WITHIN its horizon (the invocation that used to clear
        the timer) and then advances the watermark past the horizon —
        the state must still be evicted, proven by a later redelivery
        being re-admitted."""
        import collections
        import json as _json

        d = tmp_path / "ddr_in"
        d.mkdir()
        batches = [
            # b0: id 1 first seen at 10:00; ttl 600s -> deadline 10:10
            [(1, "10:00:00")],
            # b1: id 1 REDELIVERED within the horizon — the invocation
            # that cleared the timer before the fix; must re-arm 10:10
            [(1, "10:01:00")],
            # b2: id 60 at 11:00 advances the max; end-of-b2
            # watermark = 10:55 (5 min delay) > 10:10
            [(60, "11:00:00")],
            # b3: eviction threshold is now 10:55 -> id 1's state
            # times out and is removed this batch
            [(61, "11:01:00")],
            # b4: id 1 redelivered -> state gone -> RE-ADMITTED
            [(1, "11:02:00")],
        ]
        for i, rows in enumerate(batches):
            with open(d / f"b{i}.json", "w") as f:
                for eid, ts in rows:
                    f.write(
                        _json.dumps(
                            {
                                "event_id": eid,
                                "ts": f"2024-01-01T{ts}",
                                "user_id": 1,
                                "event_type": "x",
                                "value": 1.0,
                                "props": "p",
                            }
                        )
                        + "\n"
                    )
            os.utime(d / f"b{i}.json", (1_700_000_000 + 60 * i,) * 2)
        src = (
            spark.readStream.schema(st.EVENTS_STREAM_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(str(d))
        )
        out = str(tmp_path / "ddr_out")
        q = (
            st.stream_dedup_first_seen(
                src, watermark="5 minutes", ttl_seconds=600
            )
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "ddr_chk"))
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        counts = collections.Counter(
            r.event_id for r in spark.read.parquet(out).collect()
        )
        # the b1 redelivery was swallowed AND did not disarm the timer:
        # eviction happened, so the b4 redelivery was re-admitted
        assert counts[1] == 2
        assert counts[60] == 1
        assert counts[61] == 1

    def test_sliding_counts_watermark_bounds_state(self, spark, tmp_path):
        """sliding_counts(watermark=...) runs in
        append mode (impossible without the watermark), emits finalized
        panes, and EVICTS pane state — numRowsTotal in the final
        progress stays at the open panes only, not one per pane ever
        seen."""
        import json as _json

        d = tmp_path / "slw_in"
        d.mkdir()
        batches = [
            [(1, "10:00:00"), (2, "10:20:00")],
            [(3, "12:00:00")],
            [(4, "14:00:00")],
            [(5, "16:00:00")],
        ]
        for i, rows in enumerate(batches):
            with open(d / f"b{i}.json", "w") as f:
                for eid, ts in rows:
                    f.write(
                        _json.dumps(
                            {
                                "event_id": eid,
                                "ts": f"2024-01-01T{ts}",
                                "user_id": 1,
                                "event_type": "x",
                                "value": 1.0,
                                "props": "p",
                            }
                        )
                        + "\n"
                    )
            os.utime(d / f"b{i}.json", (1_700_000_000 + 60 * i,) * 2)
        src = (
            spark.readStream.schema(st.EVENTS_STREAM_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(str(d))
        )
        out = str(tmp_path / "slw_out")
        q = (
            st.sliding_counts(src, "1 hour", "30 minutes", watermark="10 minutes")
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "slw_chk"))
            .trigger(availableNow=True)
            .start()
        )
        state_rows = []
        try:
            q.processAllAvailable()
            for p in q.recentProgress:
                for so in p.get("stateOperators", []):
                    state_rows.append(so["numRowsTotal"])
        finally:
            q.stop()
        got = {
            r.window_start.strftime("%H:%M"): r.n_events
            for r in spark.read.parquet(out).collect()
        }
        # hour-long panes sliding every 30 min: 10:00 and 10:20 both
        # land in the [09:30,10:30) AND [10:00,11:00) panes; both
        # panes finalized by the 12:00+ advance
        assert got["10:00"] == 2
        assert got["09:30"] == 2
        # state never accumulates every-pane-ever: the final batch's
        # state holds only panes the watermark has not yet closed
        # (2 panes per live event-hour; 10 would mean no eviction)
        assert state_rows, "no state operator progress recorded"
        assert state_rows[-1] <= 4
