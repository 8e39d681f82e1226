"""Table-maintenance operators — small-file compaction with
snapshot-isolated commits.

A 100 TB table accumulates small files from streaming micro-batches and
over-parallel writes; scans then pay per-file open cost and lose
row-group locality. Compaction rewrites the data into ~target-size
files. The commit uses an immutable-snapshot + atomic pointer pattern
(Delta/Iceberg's manifest idea): each snapshot ``v<n>`` is committed by
a versioned pointer file under ``_snapshots``
(``hadoop_fs.write_new_versioned``), so readers mid-compaction keep a
consistent view, and a failed compaction leaves the live snapshot
untouched. ``streaming.pipeline.ParquetScdSink`` uses the same
discipline per micro-batch: it writes only the touched buckets to a new
immutable epoch directory and commits them by renaming a bucket→epoch
manifest.

File inventory and pointer commits go through the Hadoop FileSystem
API (``sources.hadoop_fs``, never ``os``), so the same code paths work
against HDFS / S3A / local on a real cluster and from any working
directory.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from beis_orp_data_service_spark.sources import hadoop_fs as hfs


def list_data_files(spark: SparkSession, path: str) -> list[tuple[str, int]]:
    """(path, bytes) for every data file under ``path``, recursively,
    skipping _metadata/_SUCCESS/hidden files. Hadoop FS API — works on
    any supported filesystem, not just local."""
    _, hpath, fs = hfs.fs_for(spark, path)
    out: list[tuple[str, int]] = []
    it = fs.listFiles(hpath, True)
    while it.hasNext():
        status = it.next()
        name = status.getPath().getName()
        if name.startswith(("_", ".")):
            continue
        out.append((status.getPath().toString(), status.getLen()))
    return out


def _snapshots_dir(root: str) -> str:
    return f"{root.rstrip('/')}/_snapshots"


def _snapshot_path(root: str, version: int) -> str:
    return f"{root.rstrip('/')}/v{version:09d}"


def current_snapshot(spark: SparkSession, root: str) -> str | None:
    """Directory of the live snapshot of ``root``; None before the
    first commit."""
    v = hfs.latest_version(spark, _snapshots_dir(root), "v", "")
    return None if v < 0 else _snapshot_path(root, v)


def commit_snapshot(df: DataFrame, root: str, n_files: int) -> str:
    """Write ``df`` as the next immutable snapshot ``v<n>`` of ``root``
    and commit it with a versioned pointer file
    (``hadoop_fs.write_new_versioned``). Executors write the data
    directly; the driver touches only the empty pointer file."""
    spark = df.sparkSession
    nxt = hfs.latest_version(spark, _snapshots_dir(root), "v", "") + 1
    snap = _snapshot_path(root, nxt)
    df.repartition(n_files).write.mode("overwrite").parquet(snap)
    hfs.write_new_versioned(spark, _snapshots_dir(root), "v", "", nxt, b"", keep=1)
    return snap


@dataclass
class CompactionStats:
    files_before: int
    bytes_before: int
    files_target: int
    snapshot: str


def compact_small_files(
    spark: SparkSession,
    in_path: str,
    out_root: str,
    target_bytes: int = 128 << 20,
) -> CompactionStats:
    """Rewrite ``in_path`` into ≈``target_bytes`` files under a new
    snapshot of ``out_root`` (pointer-committed).

    Output file count = ceil(total_bytes / target_bytes) — one shuffle
    (round-robin repartition) sized by the actual data volume, so the
    write parallelism and the resulting file sizes stay right at any
    scale. 128 MiB default matches the usual parquet row-group /
    HDFS-block sweet spot.
    """
    files = list_data_files(spark, in_path)
    total = sum(sz for _, sz in files)
    n_out = max(1, math.ceil(total / target_bytes))
    snap = commit_snapshot(spark.read.parquet(in_path), out_root, n_out)
    return CompactionStats(
        files_before=len(files),
        bytes_before=total,
        files_target=n_out,
        snapshot=snap,
    )


def read_current(spark: SparkSession, root: str) -> DataFrame:
    """Read the live snapshot of a pointer-committed table."""
    cur = current_snapshot(spark, root)
    if cur is None:
        raise FileNotFoundError(f"no committed snapshot under {root}")
    return spark.read.parquet(cur)


# ---------------------------------------------------------------------------
# Compaction for the engine's two long-running bucketed stores
#: streaming appends accumulate one file per
# micro-batch per partition; both compactors below restore ~target-size
# files WITHOUT changing the store layout, so every reader's partition
# pruning keeps working unchanged.
# ---------------------------------------------------------------------------


@dataclass
class PartitionCompactionStats:
    partitions_seen: int
    partitions_compacted: int
    files_before: int
    files_after: int


def recover_lsh_compaction(spark: SparkSession, path: str) -> int:
    """Crash recovery for :func:`compact_lsh_index`'s per-band swap: a
    band whose live directory is missing while its ``_pre_compact``
    copy survives is restored. Runs automatically at the start of
    every compaction; returns the number of bands restored."""
    pre_root = f"{path.rstrip('/')}/_pre_compact"
    if not hfs.exists(spark, pre_root):
        return 0
    restored = 0
    for name in hfs.list_names(spark, pre_root):
        if not name.startswith("band="):
            continue
        live = f"{path.rstrip('/')}/{name}"
        if not hfs.exists(spark, live):
            hfs.rename(spark, f"{pre_root}/{name}", live)
            restored += 1
    hfs.delete(spark, pre_root, recursive=True)
    return restored


def compact_lsh_index(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 << 20,
    min_files: int = 4,
    dedupe: bool = True,
) -> PartitionCompactionStats:
    """Compact a band-partitioned LSH index
    (``operators.dedup.lsh_index_write`` layout: ``band=N`` dirs that
    streaming admission appends one file per micro-batch to).

    Per band with more than ``min_files`` files: read that band's
    directory only, drop the duplicate (band_key, id) rows that
    at-least-once replays appended (probe's ``distinct`` tolerates
    them, but they cost scan bytes forever), coalesce to
    ceil(bytes/target) files, write to an underscore-prefixed staging
    dir (invisible to Spark's file index — readers never see partial
    output), then swap the band directory in two renames. The crash
    window between the renames is ONE band wide and self-healing:
    :func:`recover_lsh_compaction` (run first) restores any band whose
    swap died halfway. Bands below the threshold are untouched — I/O
    is proportional to the fragmented fraction, not the index size.
    Partition layout (``band=N``) is preserved exactly, so probe-side
    partition pruning and ``mode="append"`` ingest are unaffected.
    Single-writer assumption: run in the maintenance window, not
    concurrently with ingest appends (Delta/Iceberg get concurrency
    from manifest logs; this is the plain-parquet discipline)."""
    recover_lsh_compaction(spark, path)
    root = path.rstrip("/")
    stats = PartitionCompactionStats(0, 0, 0, 0)
    for name in sorted(hfs.list_names(spark, root)):
        if not name.startswith("band="):
            continue
        stats.partitions_seen += 1
        band_dir = f"{root}/{name}"
        files = list_data_files(spark, band_dir)
        stats.files_before += len(files)
        if len(files) <= min_files:
            stats.files_after += len(files)
            continue
        total = sum(sz for _, sz in files)
        n_out = max(1, math.ceil(total / target_bytes))
        df = spark.read.parquet(band_dir)
        if dedupe:
            df = df.dropDuplicates()
        staged = f"{root}/_compacting/{name}"
        hfs.delete(spark, staged, recursive=True)
        df.coalesce(n_out).write.mode("overwrite").parquet(staged)
        pre = f"{root}/_pre_compact/{name}"
        hfs.mkdirs(spark, f"{root}/_pre_compact")
        hfs.rename(spark, band_dir, pre)
        hfs.rename(spark, staged, band_dir)
        hfs.delete(spark, pre, recursive=True)
        stats.partitions_compacted += 1
        stats.files_after += len(list_data_files(spark, band_dir))
    hfs.delete(spark, f"{root}/_compacting", recursive=True)
    hfs.delete(spark, f"{root}/_pre_compact", recursive=True)
    return stats


def compact_scd_store(
    spark: SparkSession,
    path: str,
    files_per_bucket: int = 1,
    retain_history: bool = False,
) -> PartitionCompactionStats:
    """Compact a ``streaming.pipeline.ParquetScdSink`` store: its
    manifest protocol already IS a snapshot commit, so compaction is
    just one more transaction — read the live buckets (the exact
    directories the manifest names, like any reader), rewrite them into
    a SINGLE new epoch directory with ``files_per_bucket`` files per
    bucket, commit a manifest pointing every bucket at it, then GC. A
    crash before the manifest rename leaves the old state fully live
    (the sink's own atomicity argument, verbatim); a crash during GC
    leaves unreferenced garbage only. The stream keeps appending epochs
    after compaction with no special casing — commit ids are shared, so
    the next micro-batch just becomes the next epoch.

    GC (``streaming.pipeline.scd_gc``) honours the store's history mode:

    - ``retain_history=False`` (default sink): every superseded
      manifest is deleted along with the data only it referenced, so
      no readable pointer can reference deleted data — time travel on
      a non-retain store fails with the typed FileNotFoundError, never
      a dangling read.
    - ``retain_history=True`` (time-travel store): all manifests are
      kept and only (epoch, bucket) directories referenced by NO
      manifest are deleted — every committed ``VERSION AS OF`` stays
      exactly readable across the compaction boundary. History storage
      is reclaimed separately by ``streaming.pipeline.scd_vacuum_history``.

    Concurrency (same contract as ``compact_lsh_index``): compaction
    assumes NO concurrent ingest — the manifest protocol is
    single-writer, and a micro-batch committing between this
    function's manifest read and its own commit would collide on the
    same commit id. The GC never deletes an epoch directory newer than
    the compaction's own commit (an in-flight write looks exactly like a
    crash orphan), but the manifest race itself is not resolved: run
    compaction in a maintenance window.
    """
    from beis_orp_data_service_spark.streaming import pipeline as st
    from pyspark.sql import functions as F

    prev_id, mapping = st.scd_manifest(spark, path)
    store = st.scd_read(spark, path, mapping)  # typed error when empty
    data_root = st.scd_data_root(path)
    files_before = len(list_data_files(spark, data_root))
    commit_id = prev_id + 1
    (
        store.repartition(max(1, len(mapping) * files_per_bucket), F.col(st.BUCKET))
        .write.mode("overwrite")
        .partitionBy(st.BUCKET)
        .parquet(st.scd_epoch_dir(path, commit_id))
    )
    st.scd_commit(
        spark, path, commit_id, {b: commit_id for b in mapping}, retain_history
    )
    st.scd_gc(spark, path, keep_from=0 if retain_history else commit_id)
    return PartitionCompactionStats(
        partitions_seen=len(mapping),
        partitions_compacted=len(mapping),
        files_before=files_before,
        files_after=len(list_data_files(spark, data_root)),
    )
