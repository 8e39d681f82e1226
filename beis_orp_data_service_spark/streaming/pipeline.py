"""Structured Streaming pipeline — the reference's SQS→graph-upsert
stream re-expressed (SURVEY §2.7, §7 Phase 5).

Reference semantics: the stream consumer (misc/stream_update_process/
main.py:96-105) polls messages at-least-once, unordered, one
transaction per message, applying SCD-2 versioned upserts
(record_handler.py:39-80). No watermarks or event-time windows exist in
the reference; tumbling/sliding/session windows below are documented
engine extensions over the driver's ``events`` table.

Engine mapping:
- SQS source            → any streaming source (file/kafka); tests replay
                          the events parquet through readStream
- per-message upsert    → ``foreachBatch`` + idempotent SCD merge
                          (micro-batch = the transaction boundary)
- at-least-once dedupe  → message-id dropDuplicates inside the merge
                          (redelivery-safe, record_handler's exists-check)
- 0.995 merge / version+1 / archive rules → operators/dedup.scd_versions
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from beis_orp_data_service_spark.checkpointing import stage_checkpoint
from beis_orp_data_service_spark.operators.dedup import scd_versions
from beis_orp_data_service_spark.sources import hadoop_fs as hfs

EVENTS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def stream_events(spark: SparkSession, dir_path: str) -> DataFrame:
    """File-source stream over json micro-batch files (the SQS stand-in:
    each file = a batch of queue messages)."""
    return spark.readStream.schema(EVENTS_STREAM_SCHEMA).json(dir_path)


def scd_merge_batch(
    store: DataFrame | None,
    batch: DataFrame,
    key_col: str,
    order_col: str,
    id_col: str,
) -> DataFrame:
    """One SCD-2 merge step — the foreachBatch body.

    Idempotent under redelivery: the union is deduped on the message id
    before versions are recomputed, so replaying a micro-batch yields
    the identical store (the reference's exists-check insert,
    record_handler.py:130-147). Emulates Delta MERGE with
    union+window; swap in `MERGE INTO` on Delta/Iceberg deployments.
    """
    merged = batch if store is None else store.select(batch.columns).unionByName(batch)
    deduped = merged.dropDuplicates([id_col])
    return scd_versions(deduped, key_col=key_col, order_col=order_col, tiebreak_col=id_col)


# ---------------------------------------------------------------------------
# The SCD store's on-disk format. Everything that knows the layout lives
# here; the sink, the readers, vacuum and compaction are written on top.
#
#     <root>/data/epoch=E/_bucket=B/part-*.parquet   (immutable)
#     <root>/_manifest/manifest-<020d E>.json        ({bucket: epoch})
# ---------------------------------------------------------------------------

BUCKET = "_bucket"
_MANIFEST = ("manifest-", ".json")


def _manifest_dir(path: str) -> str:
    return f"{path.rstrip('/')}/_manifest"


def scd_data_root(path: str) -> str:
    return f"{path.rstrip('/')}/data"


def scd_epoch_dir(path: str, epoch: int) -> str:
    return f"{scd_data_root(path)}/epoch={epoch}"


def _bucket_dir(path: str, epoch: int, bucket: int) -> str:
    return f"{scd_epoch_dir(path, epoch)}/{BUCKET}={bucket}"


def _child_ids(spark: SparkSession, dir_path: str, name: str) -> list[int]:
    """The ``N`` of every ``<name>=N`` child directory of ``dir_path``."""
    return [
        int(n.split("=", 1)[1])
        for n in hfs.list_names(spark, dir_path)
        if n.startswith(f"{name}=")
    ]


def scd_manifest(
    spark: SparkSession, path: str, commit_id: int | None = None
) -> tuple[int, dict[int, int]]:
    """(commit id, bucket -> epoch map) of the latest commit, or of
    ``commit_id``. An empty store reads as (-1, {}); a named commit that
    was never written, or was GC'd, raises ``FileNotFoundError``."""
    mdir = _manifest_dir(path)
    if commit_id is None:
        commit_id, data = hfs.read_latest_versioned(spark, mdir, *_MANIFEST)
        if data is None:
            return -1, {}
    else:
        f = hfs.versioned_path(mdir, *_MANIFEST, commit_id)
        if not hfs.exists(spark, f):
            raise FileNotFoundError(
                f"no committed manifest {commit_id} under {path} "
                "(not yet committed, or GC'd — write with retain_history=True)"
            )
        data = hfs.read_bytes(spark, f)
    return commit_id, {int(b): int(e) for b, e in json.loads(data.decode()).items()}


def scd_commit(
    spark: SparkSession,
    path: str,
    commit_id: int,
    mapping: dict[int, int],
    retain_history: bool,
) -> None:
    """Commit ``mapping`` by renaming a fresh manifest into place. A
    default store keeps the newest 10 manifests (one per micro-batch
    would otherwise accumulate forever); a time-travel store keeps all."""
    hfs.write_new_versioned(
        spark,
        _manifest_dir(path),
        *_MANIFEST,
        commit_id,
        json.dumps({str(b): e for b, e in mapping.items()}).encode(),
        keep=None if retain_history else 10,
    )


def scd_read(
    spark: SparkSession,
    path: str,
    mapping: dict[int, int],
    schema: T.StructType | None = None,
) -> DataFrame:
    """The rows of exactly the ``(epoch, bucket)`` directories
    ``mapping`` names, with the ``_bucket`` column. Nothing else under
    ``data/`` is listed, so superseded or orphan epochs cost nothing.
    A caller that knows the columns it needs passes them as ``schema``
    (``_bucket`` included); the read then skips parquet schema
    inference, which is a Spark job of its own."""
    if not mapping:
        # before the eager parquet read: a missing store must raise
        # the documented typed error, not AnalysisException
        raise FileNotFoundError(f"no committed SCD store at {path}")
    paths = [_bucket_dir(path, e, b) for b, e in sorted(mapping.items())]
    reader = spark.read.option("basePath", scd_data_root(path))
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(*paths).drop("epoch")


def scd_gc(spark: SparkSession, path: str, keep_from: int) -> dict[str, int]:
    """Delete the manifests older than ``keep_from``, then every
    ``(epoch, bucket)`` directory no surviving manifest references, and
    an epoch directory once none of its buckets is referenced. Epochs
    newer than the newest commit are never touched: they are an
    in-flight write (data landed, manifest not yet committed) or a crash
    orphan that the replayed batch overwrites. Manifests go first, so a
    crash mid-GC leaves extra history, never a readable manifest with
    missing buckets."""
    mdir = _manifest_dir(path)
    versions = hfs.list_versions(spark, mdir, *_MANIFEST)
    if not versions or keep_from > versions[-1]:
        raise ValueError(
            f"keep_from={keep_from} would delete every manifest (have {versions})"
        )
    doomed = [v for v in versions if v < keep_from]
    for v in doomed:
        hfs.delete(spark, hfs.versioned_path(mdir, *_MANIFEST, v))
    referenced = {
        (e, b)
        for v in versions[len(doomed) :]
        for b, e in scd_manifest(spark, path, v)[1].items()
    }
    n_dirs = 0
    for e in _child_ids(spark, scd_data_root(path), "epoch"):
        if e > versions[-1]:
            continue
        buckets = _child_ids(spark, scd_epoch_dir(path, e), BUCKET)
        dead = [b for b in buckets if (e, b) not in referenced]
        n_dirs += len(dead)
        if len(dead) == len(buckets):
            hfs.delete(spark, scd_epoch_dir(path, e), recursive=True)
        else:
            for b in dead:
                hfs.delete(spark, _bucket_dir(path, e, b), recursive=True)
    return {"manifests_deleted": len(doomed), "bucket_dirs_deleted": n_dirs}


class ParquetScdSink:
    """foreachBatch sink maintaining an SCD-2 store as a key-bucketed
    parquet table with IMMUTABLE commit directories and an atomically
    renamed manifest — bounded per-batch I/O *and* crash atomicity.

    The manifest maps every bucket to the commit epoch holding its
    CURRENT contents; the highest-numbered manifest file is the store
    state (layout above). Each micro-batch (= transaction, the
    reference commits per SQS message batch, tdb_query_helpers.py:158-183):

    1. stamps the batch rows with their bucket
       (``pmod(hash(key), n_buckets)``) and, once a store exists,
       materializes the batch once (``stage_checkpoint``): the bucket
       broadcast and the merge both read it, and without the boundary
       each would re-run its lineage — a second source scan, and every
       converter and model UDF upstream of the sink;
    2. reads the current store from exactly the ``epoch=E/_bucket=B``
       directories the manifest names, with the batch's own columns as
       the schema (no inference job), and a broadcast left-semi join
       on the batch's bucket column drops every bucket the batch does
       not touch (no ``distinct``: a semi join ignores duplicate keys
       on its build side),
    3. merges (idempotent ``scd_merge_batch`` — SCD-2 versions are
       per-key, and a key lives entirely inside one bucket, so the
       merge never needs the other buckets),
    4. writes the merged buckets to a NEW ``data/epoch=E`` directory —
       no existing file is ever modified or deleted by a write,
    5. commits by renaming a staged manifest (old mapping + touched
       buckets repointed at E) into place — rename is the atomic
       primitive on HDFS/local (and an atomic object PUT on S3A),
    6. best-effort GC: superseded bucket directories (unreferenced by
       the new manifest) are deleted AFTER the commit, and so is an
       epoch directory once the manifest references none of its
       buckets; a crash mid-GC leaves only unreferenced garbage, never
       corrupts state.

    Crash at ANY point before the manifest rename leaves the previous
    manifest — and therefore the previous store state — fully intact;
    the stream checkpoint replays the batch, which writes a fresh epoch
    directory and commits then. (A dynamic-partition-overwrite sink
    lacks this atomicity — dynamic overwrite deletes old bucket files
    during job commit, so a crash in that window loses them.)
    Untouched buckets are neither rewritten nor GC'd, and ``data/``
    holds at most one epoch directory per live bucket, so the store
    listing is bounded by ``n_buckets``, not by the number of batches.

    All store metadata I/O goes through the Hadoop FileSystem API (no
    ``os.listdir``/local-FS assumptions), so the store works on
    HDFS/S3A exactly as on local disk. The touched-bucket set is
    discovered by LISTING the written epoch directory — filesystem
    metadata, no driver-side collect of data rows anywhere.

    Production deployments get the same two properties from
    Delta/Iceberg ``MERGE INTO`` (transaction log + bounded rewrite);
    this sink is the plain-parquet demonstration of that commit
    protocol.
    """

    BUCKET = BUCKET

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_col: str,
        order_col: str,
        id_col: str,
        n_buckets: int = 64,
        retain_history: bool = False,
    ):
        self.spark = spark
        self.path = path.rstrip("/")
        self.key_col = key_col
        self.order_col = order_col
        self.id_col = id_col
        self.n_buckets = n_buckets
        # retain_history=True turns the store into a time-travel table:
        # superseded bucket directories and old manifests are KEPT, so
        # read_scd_store_asof() can reconstruct any committed snapshot
        # (the Delta/Iceberg VERSION AS OF semantics; storage grows with
        # history until compact_scd_store GCs it)
        self.retain_history = retain_history

    def _bucket_col(self, col):
        return F.pmod(F.hash(col), F.lit(self.n_buckets)).cast("int")

    def __call__(self, batch: DataFrame, epoch_id: int) -> None:
        spark, path = self.spark, self.path
        batch = batch.withColumn(BUCKET, self._bucket_col(F.col(self.key_col)))
        prev_id, mapping = scd_manifest(spark, path)
        commit_id = prev_id + 1  # single writer: foreachBatch serializes
        store = None
        if mapping:
            batch = stage_checkpoint(batch, label="scd:batch")
            store = scd_read(spark, path, mapping, batch.schema).join(
                F.broadcast(batch.select(BUCKET)), BUCKET, "left_semi"
            )
        out = scd_merge_batch(store, batch, self.key_col, self.order_col, self.id_col)
        epoch_dir = scd_epoch_dir(path, commit_id)
        # overwrite: the retry of an uncommitted epoch
        out.write.mode("overwrite").partitionBy(BUCKET).parquet(epoch_dir)
        # touched buckets from filesystem METADATA (no data collect)
        touched_ids = _child_ids(spark, epoch_dir, BUCKET)
        superseded = {b: mapping[b] for b in touched_ids if b in mapping}
        mapping.update((b, commit_id) for b in touched_ids)
        scd_commit(spark, path, commit_id, mapping, self.retain_history)
        # best-effort GC after the commit point, targeted: the mapping
        # already names every superseded pair, so nothing is listed. A
        # crash here leaves garbage, not damage. A time-travel store
        # keeps everything — older manifests still reference it.
        if self.retain_history:
            return
        live = set(mapping.values())
        for b, e in superseded.items():
            if e in live:
                hfs.delete(spark, _bucket_dir(path, e, b), recursive=True)
        # the previous commit's epoch is dead here only if that batch
        # touched no bucket (an empty batch still writes its directory)
        for e in set(superseded.values()) | {prev_id}:
            if e >= 0 and e not in live:
                hfs.delete(spark, scd_epoch_dir(path, e), recursive=True)


def read_scd_store(spark: SparkSession, path: str) -> DataFrame:
    """Read the live state of a :class:`ParquetScdSink` store (the
    latest committed manifest's buckets)."""
    return scd_read(spark, path, scd_manifest(spark, path)[1]).drop(BUCKET)


def read_scd_store_asof(
    spark: SparkSession, path: str, commit_id: int
) -> DataFrame:
    """Time travel: read the store exactly as committed at
    ``commit_id`` (Delta/Iceberg ``VERSION AS OF``). Requires the
    store to have been written with ``retain_history=True`` — the
    named manifest AND every bucket directory it references must still
    exist (the default store GCs both). Raises ``FileNotFoundError``
    for an unknown or GC'd commit."""
    _, mapping = scd_manifest(spark, path, commit_id)
    # verify every referenced (epoch, bucket) directory still exists
    # BEFORE building the DataFrame: a manifest that outlived its data
    # (e.g. GC'd by a non-retain compaction) must fail with the typed
    # error, not a confusing parquet path-not-found mid-scan
    dirs = [_bucket_dir(path, e, b) for b, e in sorted(mapping.items())]
    missing = [d for d in dirs if not hfs.exists(spark, d)]
    if missing:
        raise FileNotFoundError(
            f"commit {commit_id} of {path} references GC'd data "
            f"(missing {missing[:3]}{'...' if len(missing) > 3 else ''}); "
            "time travel requires a retain_history=True store and "
            "history-preserving maintenance (compact_scd_store("
            "retain_history=True) / scd_vacuum_history keep_from <= this commit)"
        )
    return scd_read(spark, path, mapping).drop(BUCKET)


def run_scd_upsert_stream(
    spark: SparkSession,
    source_dir: str,
    store_path: str,
    key_col: str = "user_id",
    order_col: str = "ts",
    id_col: str = "event_id",
):
    """Wire source → foreachBatch SCD sink; caller drives with
    processAllAvailable() (tests) or a trigger (production)."""
    stream = stream_events(spark, source_dir)
    sink = ParquetScdSink(spark, store_path, key_col, order_col, id_col)
    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", store_path + "_chk")
        .trigger(availableNow=True)
        .start()
    )


def stream_dedup_first_seen(
    events: DataFrame,
    id_col: str = "event_id",
    watermark: str | None = None,
    ttl_seconds: int | None = None,
) -> DataFrame:
    """Custom stateful operator — exactly-once admission over an
    at-least-once source (the reference's exists-check insert,
    record_handler.py:130-147, as a *streaming* operator instead of a
    per-message store lookup).

    ``applyInPandasWithState`` keyed on the message id: the state cell
    marks "already emitted"; the first arrival of an id is emitted, every
    redelivery — within a batch, across batches, or across restarts (the
    state store lives in the checkpoint) — is swallowed. State per id is
    one (boolean, deadline) cell, so the store grows with distinct ids
    only; pass
    ``watermark`` + ``ttl_seconds`` when the redelivery horizon is
    bounded, which it is for SQS (visibility timeout × maxReceiveCount):
    the state cell then carries an event-time timeout of (first-seen ts
    + ttl), and Spark REMOVES it once the eviction watermark passes that
    point — bounding the store to ids seen within the horizon.

    TTL tradeoff (pinned by
    tests/test_streaming.py::test_stream_dedup_state_eviction_after_watermark):
    an id redelivered AFTER its state was evicted is re-admitted — a
    duplicate emission the downstream must tolerate (or the TTL must
    exceed the worst redelivery lag). Eviction follows the same
    SPARK-24634 two-threshold clock as the windows: timeouts fire in
    the batch whose EVICTION watermark (one batch behind the newest
    data) passes the timeout, and the late-row ADMISSION filter lags
    one further batch behind that.

    Expiry is defined by the EVENT-TIME horizon, not timer scheduling:
    the data path re-admits a redelivery whose stored deadline already
    trails the current eviction watermark even when the key's timeout
    has not fired yet (data arriving in the very batch the watermark
    crosses the deadline resets the timer, so the timeout path alone
    would swallow it forever — admission would then depend on how the
    source happened to pack batches).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    ttl = ttl_seconds
    cols = [f.name for f in EVENTS_STREAM_SCHEMA.fields]

    def _arm(state, deadline_ms: int) -> None:
        # GroupState clears the event-time timer on EVERY function
        # invocation; it must be re-issued each time or a redelivery
        # silently disarms eviction and the cell lives forever.
        # Clamp to eviction-watermark + 1 —
        # setTimeoutTimestamp raises below the watermark, which would
        # kill the query for a legitimately-admitted late first
        # arrival whose ts + ttl already trails it.
        state.setTimeoutTimestamp(
            max(deadline_ms, state.getCurrentWatermarkMs() + 1)
        )

    def _first_seen(key, pdfs, state):  # noqa: ANN001 - Spark callback
        if ttl is not None and state.hasTimedOut:
            # horizon passed with no redelivery in this batch: forget
            # the id (Spark removes the cell; emit nothing)
            state.remove()
            return
        if state.exists and (
            ttl is None or state.get[1] > state.getCurrentWatermarkMs()
        ):
            for _ in pdfs:  # drain redeliveries
                pass
            if ttl is not None:
                # re-arm the ORIGINAL deadline stored in the cell: the
                # horizon is fixed from the first arrival, redeliveries
                # neither extend nor (via the cleared-timer semantics)
                # disarm it
                _arm(state, state.get[1])
            return
        # fresh key, OR a cell whose deadline <= the eviction watermark
        # (logically evicted even though the timeout hasn't fired —
        # receiving data this batch reset its timer): (re-)admission
        first = None
        for pdf in pdfs:
            if first is None and len(pdf):
                first = pdf.iloc[[0]]
        # mark seen ONLY when a row was actually admitted: an invocation
        # whose chunks are all empty must not burn the key, or the real
        # first arrival in a later batch would be swallowed unemitted
        if first is not None:
            if ttl is not None:
                # deadline computed JVM-side (unix_millis on the plan's
                # event-time column) — pandas renders timestamps in the
                # session timezone, so .timestamp() here would skew the
                # horizon by the tz offset on any non-UTC session
                deadline = int(first.iloc[0]["_deadline_ms"])
                state.update((True, deadline))
                _arm(state, deadline)
            else:
                state.update((True, 0))
            yield first[cols]
        elif state.exists and ttl is not None:
            # expired cell, nothing admitted (all chunks empty): the
            # timer was cleared by this invocation — re-arm (the
            # watermark+1 clamp fires it next batch) or it lives forever
            _arm(state, state.get[1])

    if ttl is not None:
        if watermark is None:
            raise ValueError("ttl_seconds requires a watermark delay")
        events = events.withWatermark("ts", watermark).withColumn(
            "_deadline_ms", F.unix_millis(F.col("ts")) + F.lit(ttl * 1000)
        )
        timeout = GroupStateTimeout.EventTimeTimeout
    else:
        timeout = GroupStateTimeout.NoTimeout
    return events.groupBy(F.col(id_col)).applyInPandasWithState(
        _first_seen,
        outputStructType=EVENTS_STREAM_SCHEMA,
        stateStructType="seen boolean, deadline long",
        outputMode="append",
        timeoutConf=timeout,
    )


def run_dedup_stream(
    spark: SparkSession,
    source_dir: str,
    checkpoint: str,
    out_dir: str,
):
    """Wire source → stateful first-seen dedup → append-only parquet
    sink. Parquet (unlike the memory sink) is fault-tolerant, so the
    query restarts from the checkpoint with its dedup state intact."""
    deduped = stream_dedup_first_seen(stream_events(spark, source_dir))
    return (
        deduped.writeStream.format("parquet")
        .outputMode("append")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


# ---------------------------------------------------------------------------
# Event-time windows (engine extensions; reference has none — SURVEY §2.7)
# ---------------------------------------------------------------------------


def tumbling_counts(
    events: DataFrame, window: str = "1 hour", watermark: str | None = None
) -> DataFrame:
    """Tumbling event-time windows; pass ``watermark`` in streaming mode
    to bound state and admit late data up to the delay.

    Late-data boundary (SPARK-24634 two-threshold watermark, pinned by
    tests/test_streaming.py TestWatermarkLateData): the admission
    filter for batch N uses the watermark as of batch N-1 — one batch
    BEHIND the eviction threshold — so a late row arriving in the very
    next micro-batch after the threshold-setting event is still
    admitted; the drop only fires once the lagged admission threshold
    itself has passed the row's window."""
    src = events.withWatermark("ts", watermark) if watermark else events
    return (
        src.groupBy(F.window("ts", window), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str | None = None,
) -> DataFrame:
    """Sliding windows — each event contributes to window/slide panes.

    Pass ``watermark`` in streaming mode to bound state (mirrors the
    ``tumbling_counts`` signature — without it a stream's pane state
    grows forever); same SPARK-24634 one-batch-lag admission semantics."""
    src = events.withWatermark("ts", watermark) if watermark else events
    return (
        src.groupBy(F.window("ts", window, slide))
        .agg(F.count("*").alias("n_events"))
        .select(F.col("window.start").alias("window_start"), "n_events")
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str = "user_id",
    max_lag: str = "15 minutes",
) -> DataFrame:
    """Stream-stream interval join — the attribution shape (each left
    event joined to right events for the same key within
    ``[t, t + max_lag]``).

    The join condition keys on ``key_col`` (the shuffle/state key) and
    bounds the right side's event time by an interval off the left's —
    exactly the constraint Structured Streaming needs to expire join
    state: with watermarks on BOTH inputs, a left row's state is
    droppable once the right watermark passes ``t + max_lag``. The same
    plan runs in batch mode (no state) and is oracle-checkable there.
    Inner-join matches emit immediately in append mode; the watermark
    governs state cleanup, not emission.

    Late-data boundary (pinned by
    tests/test_streaming.py::test_interval_join_late_left_row_boundary):
    the SPARK-24634 admission filter lags eviction by one batch, so a
    left row arriving in the very next micro-batch after the
    watermark-advancing event still joins; one further batch and the
    same row is dropped on input (and the right side's state has been
    evicted).
    """
    c = left.select(
        F.col("event_id").alias("click_id"),
        F.col(key_col),
        F.col("ts").alias("c_ts"),
    )
    p = right.select(
        F.col("event_id").alias("purchase_id"),
        F.col(key_col).alias("_rkey"),
        F.col("ts").alias("p_ts"),
    )
    joined = c.join(
        p,
        (F.col(key_col) == F.col("_rkey"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr(f"INTERVAL {max_lag}")),
    )
    return joined.select(
        "click_id",
        "purchase_id",
        F.col(key_col),
        F.expr("(unix_micros(p_ts) - unix_micros(c_ts)) div 1000000")
        .cast("bigint")
        .alias("lag_s"),
    )


def sessionize(
    events: DataFrame, key_col: str = "user_id", gap_minutes: int = 60
) -> DataFrame:
    """Session windows via lag-gap-cumsum — the batch-expressible form
    (Streaming uses F.session_window; this shape is engine-agnostic and
    oracle-checkable). Returns one row per session with bounds and size."""
    from pyspark.sql import Window

    # Window scale: partition key is the user; per-task rows = one
    # user's events (bounded per key).
    w = Window.partitionBy(key_col).orderBy("ts", "event_id")
    gapped = events.withColumn(
        "_new",
        F.when(
            F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
            > gap_minutes * 60,
            F.lit(1),
        )
        .otherwise(F.lit(0)),
    ).withColumn("session_id", F.sum("_new").over(w).cast("bigint"))
    return (
        gapped.groupBy(key_col, "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
        )
    )


def session_window_counts(
    events: DataFrame,
    key_col: str = "user_id",
    gap: str = "60 minutes",
    watermark: str | None = None,
) -> DataFrame:
    """Native session windows (``F.session_window``): dynamic-length
    windows that close after ``gap`` of inactivity per key — the
    engine-managed counterpart of the lag-gap-cumsum ``sessionize``
    (same sessions; that form is oracle-checkable, this one runs
    incrementally under Structured Streaming with watermark-bounded
    state). Equivalence is pinned by test.

    Late-data boundary: same SPARK-24634 two-threshold semantics as
    ``tumbling_counts`` — the admission filter lags eviction by one
    batch, so a closed session can still absorb a late row that lands
    in the immediately-following micro-batch (pinned by
    TestWatermarkLateData.test_session_window_late_row_admitted_one_batch_lag)."""
    src = events.withWatermark("ts", watermark) if watermark else events
    return (
        src.groupBy(F.session_window("ts", gap), F.col(key_col))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col(key_col),
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


# ---------------------------------------------------------------------------
# Streaming near-dup admission against the persistent LSH index
# ---------------------------------------------------------------------------


def lsh_dedup_batch(
    spark: SparkSession,
    index_path: str,
    batch: DataFrame,
    flagged_out: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_bands: int = 1,
    *,
    epoch: int,
) -> DataFrame:
    """One micro-batch of streaming near-dup admission — the
    foreachBatch body wiring the persistent band-partitioned LSH index
    (operators/dedup.py lsh_index_write/probe) into an ingest stream,
    the reference's check_duplicate-per-message flow
    (check_duplicate.py:89-151) at stream granularity:

    1. probe: sign the BATCH only, equi-join against the store, flag
       batch docs with >= ``min_bands`` agreeing bands;
    2. write the batch's flag verdicts to ``flagged_out``;
    3. append the batch's own band rows to the index, so LATER batches
       dedup against everything admitted before them.

    Returns the verdicts ``(id_col, n_index_matches, max_bands,
    is_near_dup)`` — the rows just written, materialized once
    (``stage_checkpoint``), so a caller joins them in memory instead of
    reading ``flagged_out`` back or re-running the probe.

    Work per batch is O(batch) signing + one join against colliding
    band keys — the store is never re-hashed. Probe-before-append
    means a batch does not flag against itself (within-batch dups are
    the batch's own lsh_band_pairs job if wanted) — and that stays
    true under at-least-once REPLAY: appended band rows are stamped
    with the writing epoch and the probe excludes its own epoch's
    rows, so a crash between the index append and the checkpoint
    commit cannot make two same-batch near-dup docs flag each other
    on the re-run (same-id exclusion alone misses that pair).
    """
    from beis_orp_data_service_spark.operators import dedup as dd

    docs = batch.select(id_col, text_col)
    # sign the batch ONCE; the same band rows feed the probe join and
    # the index append (signing is the per-batch dominant cost)
    rows = stage_checkpoint(
        dd.lsh_band_rows(docs, id_col, text_col, 4, None), label="lsh:signed"
    )
    verdicts = docs.select(F.col(id_col))
    if hfs.exists(spark, index_path):
        # replay stability: exclude_epoch drops every index row this
        # same epoch's crashed first attempt may have appended (the
        # within-batch near-dup guard); exclude_same_id additionally
        # drops self-matches from a LATER redelivery of the same id;
        # the probe's distinct band count ignores duplicate band rows
        # a replayed append leaves behind — so verdicts really are
        # stable across replays.
        hits = (
            dd.lsh_index_probe(
                spark,
                index_path,
                docs,
                id_col,
                text_col,
                band_rows=rows,
                exclude_same_id=True,
                exclude_epoch=epoch,
            )
            .where(F.col("n_bands") >= min_bands)
            .groupBy("probe_id")
            .agg(
                F.count(F.lit(1)).alias("n_index_matches"),
                F.max("n_bands").alias("max_bands"),
            )
        )
        # at most one hit row per batch document: broadcast it, so the
        # batch side is not shuffled for a join of two bounded frames
        verdicts = verdicts.join(
            F.broadcast(hits.withColumnRenamed("probe_id", id_col)), id_col, "left"
        )
    else:  # first batch: no index yet
        verdicts = verdicts.select(
            id_col,
            F.lit(None).cast("bigint").alias("n_index_matches"),
            F.lit(None).cast("bigint").alias("max_bands"),
        )
    out = stage_checkpoint(
        verdicts.select(
            id_col,
            F.coalesce("n_index_matches", F.lit(0)).alias("n_index_matches"),
            F.coalesce("max_bands", F.lit(0)).alias("max_bands"),
            (F.coalesce("n_index_matches", F.lit(0)) > 0).alias("is_near_dup"),
        ),
        label="lsh:verdicts",
    )
    # idempotent under replay: verdicts land in their epoch's own
    # partition and a replayed epoch OVERWRITES exactly that partition
    # (dynamic mode) instead of appending duplicates
    (
        out.withColumn("_epoch", F.lit(epoch))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_epoch")
        .parquet(flagged_out)
    )
    dd.lsh_index_write(
        docs, index_path, id_col, text_col, mode="append", band_rows=rows,
        epoch=epoch,
    )
    return out


def ingest_batch(
    spark: SparkSession,
    batch: DataFrame,
    index_path: str,
    store_path: str,
    flagged_out: str,
    epoch: int,
    n_buckets: int = 8,
) -> None:
    """One micro-batch of the FULL reference ingest lifecycle (§3.1) —
    the foreachBatch body composing the engine's existing stages:

    1. **convert + clean** (pipelines.ingestion.convert_stage): binary
       payload → text, parse failures kept as typed error rows;
    2. **enrich** (enrich_stage): model-fake title/keywords/summary/
       language + node-id derivation — all lazy column stages;
    3. **near-dup admission** (:func:`lsh_dedup_batch`): sign the batch
       once, probe the persistent band-partitioned LSH index, append
       the batch's bands; verdicts land in ``flagged_out`` partitioned
       by epoch (replay-idempotent dynamic overwrite) and come back in
       memory — ``flagged_out`` is never read back;
    4. **SCD-2 upsert** (:class:`ParquetScdSink`): messages that
       converted cleanly AND are not near-dups of already-admitted
       documents merge into the versioned store — re-uploads of the
       same ``doc_key`` become version+1 rows, redelivered message ids
       dedupe inside the merge; the sink materializes its input once,
       so convert and enrich run once per message.

    The projected batch is materialized once (``stage_checkpoint``):
    the source is scanned exactly once per batch, and the row count
    observed on that scan ends an empty batch with nothing written,
    without a job of its own.

    Message contract (the SQS stand-in of :func:`stream_events`):
    ``event_id`` = unique message id → media_id, ``user_id`` = logical
    document key (re-uploads share it), ``props`` = binary payload
    (utf-8), ``ts`` = upload time (SCD ordering), ``event_type`` =
    document format. Work per batch is O(batch) convert/enrich/sign +
    one band equi-join + O(touched buckets) store merge — no stage
    re-reads the whole store or index."""
    from beis_orp_data_service_spark.pipelines import ingestion as ing

    seen = Observation()
    msgs = stage_checkpoint(
        batch.select(
            F.col("event_id").alias("media_id"),
            F.col("user_id").alias("doc_key"),
            F.col("ts"),
            F.upper(F.col("event_type")).alias("document_format"),
            F.encode(F.col("props"), "utf-8").alias("content"),
            F.col("props").alias("raw_text"),
        ).observe(seen, F.count(F.lit(1)).alias("n")),
        label="stream:batch",
    )
    if not seen.get["n"]:
        return
    converted = ing.convert_stage(
        msgs.select("media_id", "document_format", "content")
    )
    enriched = ing.enrich_stage(converted)
    # near-dup admission over the RAW payload (signatures must match
    # what earlier batches indexed, independent of enrichment changes)
    flags = lsh_dedup_batch(
        spark,
        index_path,
        msgs.select("media_id", F.col("raw_text").alias("text")),
        flagged_out,
        id_col="media_id",
        epoch=epoch,
    )
    # both join sides are bounded by the batch: broadcast them rather
    # than shuffle when the planner has no size estimate for them
    admitted = (
        enriched.where(F.col("parse_error").isNull())
        .join(
            F.broadcast(flags.where(~F.col("is_near_dup")).select("media_id")),
            "media_id",
        )
        .join(F.broadcast(msgs.select("media_id", "doc_key", "ts")), "media_id")
        .select(
            "media_id", "doc_key", "ts", "document_format",
            "title", "language", "node_id",
        )
    )
    sink = ParquetScdSink(
        spark, store_path, key_col="doc_key", order_col="ts",
        id_col="media_id", n_buckets=n_buckets,
    )
    sink(admitted, epoch)


def run_ingest_stream(
    spark: SparkSession,
    source_dir: str,
    checkpoint: str,
    index_path: str,
    store_path: str,
    flagged_out: str,
    max_files_per_trigger: int = 1,
):
    """The reference's WHOLE §3.1 lifecycle as ONE streaming job:
    message source → convert/clean → enrich → LSH near-dup admission →
    SCD-2 versioned store. One file = one micro-batch (the SQS
    batch-per-transaction boundary); both the LSH index and the SCD
    manifest survive restarts, and every per-batch write is
    replay-idempotent, so a kill at any point loses nothing and
    duplicates nothing (restart test in tests/test_streaming.py)."""
    src = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(source_dir)
    )

    def _batch(b: DataFrame, epoch: int) -> None:
        ingest_batch(spark, b, index_path, store_path, flagged_out, epoch)

    return (
        src.writeStream.foreachBatch(_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def run_lsh_dedup_stream(
    spark: SparkSession,
    source_dir: str,
    checkpoint: str,
    index_path: str,
    flagged_out: str,
):
    """Wire source → per-batch LSH-index probe+append. The index is the
    stream's durable dedup state (unlike the in-memory first-seen set,
    it is shared with batch jobs and survives any restart — replays
    append duplicate band rows, which only create already-flagged
    candidates, so admission verdicts stay stable)."""
    src = stream_events(spark, source_dir).selectExpr(
        "CAST(event_id AS BIGINT) AS doc_id", "CAST(props AS STRING) AS text"
    )

    def _batch(b: DataFrame, epoch: int) -> None:
        lsh_dedup_batch(spark, index_path, b, flagged_out, epoch=epoch)

    return (
        src.writeStream.foreachBatch(_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def scd_store_changes(
    spark: SparkSession,
    path: str,
    from_commit: int,
    to_commit: int,
    id_col: str = "event_id",
) -> DataFrame:
    """Change data feed between two committed snapshots (Delta
    ``table_changes`` semantics on the plain-parquet store): diff the
    ``from_commit`` and ``to_commit`` states row-by-row on ``id_col``
    and type every difference — ``insert`` (only in the newer state),
    ``delete`` (only in the older), ``update_pre``/``update_post``
    (both present, any tracked column changed — SCD restamps version/
    status as later arrivals land, so an unchanged stored row can
    still change state).

    Requires ``retain_history=True`` commits (both manifests must be
    readable). One full-outer join keyed on id; each side is a
    manifest-exact store read. Output: (change_type, id, version,
    status) with pre/post image rows for updates."""
    old = read_scd_store_asof(spark, path, from_commit)
    new = read_scd_store_asof(spark, path, to_commit)
    o = old.select(
        F.col(id_col).alias("id"),
        F.col("version").alias("_vo"),
        F.col("status").alias("_so"),
    )
    n = new.select(
        F.col(id_col).alias("id"),
        F.col("version").alias("_vn"),
        F.col("status").alias("_sn"),
    )
    j = o.join(n, "id", "full_outer")

    def change(kind: str, side: str):
        return F.struct(
            F.lit(kind).alias("change_type"),
            F.col(f"_v{side}").alias("version"),
            F.col(f"_s{side}").alias("status"),
        )

    # one pass over the join: each joined row classifies into 0, 1
    # (insert / delete) or 2 (update pre + post image) change rows
    changes = (
        F.when(F.col("_vo").isNull(), F.array(change("insert", "n")))
        .when(F.col("_vn").isNull(), F.array(change("delete", "o")))
        .when(
            (F.col("_vo") != F.col("_vn")) | (F.col("_so") != F.col("_sn")),
            F.array(change("update_pre", "o"), change("update_post", "n")),
        )
    )
    return j.select("id", F.explode(changes).alias("c")).select(
        "c.change_type", "id", "c.version", "c.status"
    )


def scd_vacuum_history(
    spark: SparkSession, path: str, keep_from: int
) -> dict[str, int]:
    """Reclaim time-travel storage: delete manifests OLDER than
    ``keep_from`` and every bucket directory referenced by NO surviving
    manifest — commits ≥ keep_from stay exactly readable, older
    VERSION AS OF reads stop resolving (the Delta ``VACUUM`` contract).
    Safe ordering and the in-flight-epoch guard are :func:`scd_gc`'s.
    Returns counts for observability (no-silent-caps: the caller sees
    what was reclaimed)."""
    return scd_gc(spark, path, keep_from)
