"""Shared Hadoop FileSystem helpers — the ONE place the engine touches
``org.apache.hadoop.fs`` through py4j.

Everything that persists small control-plane artifacts goes through
these instead of ``os.*``, so the code paths work identically on
HDFS / S3A / local disk and from any working directory. Every file that
records which version of something is live commits through ONE
primitive, the versioned store below:

- the SCD store's bucket→epoch manifests (``streaming.pipeline``);
- the IVF index's centroid sidecars (``operators.similarity``);
- the snapshot pointer of a compacted table (``operators.maintenance``);
- the LSH index's high-water epoch mark (``operators.dedup``).

Atomicity model: ``write_new_versioned`` writes a temp file and renames
it to a FRESH versioned name — rename-to-new-path is atomic on
rename-capable filesystems and never has a "destination missing" crash
window (a delete-then-rename overwrite does). Readers pick the highest
committed version; superseded versions are garbage, removable any time.
"""

from __future__ import annotations


def fs_for(spark, path: str):
    """(jvm, jPath, FileSystem) for ``path`` under the session's Hadoop
    configuration."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, p, p.getFileSystem(spark._jsc.hadoopConfiguration())


def exists(spark, path: str) -> bool:
    _, p, fs = fs_for(spark, path)
    return bool(fs.exists(p))


def list_names(spark, dir_path: str) -> list[str]:
    """Child names of a directory; [] when it doesn't exist."""
    _, p, fs = fs_for(spark, dir_path)
    if not fs.exists(p):
        return []
    return [st.getPath().getName() for st in fs.listStatus(p)]


def read_bytes(spark, path: str) -> bytes:
    _, p, fs = fs_for(spark, path)
    stream = fs.open(p)
    try:
        return bytes(stream.readAllBytes())
    finally:
        stream.close()


def write_bytes_rename(spark, path: str, data: bytes) -> None:
    """Write ``data`` to a per-call-unique temp name then rename to
    ``path`` (a FIXED temp name would let two concurrent committers
    truncate each other's half-written bytes and rename the corrupt
    result into place). PRECONDITION: ``path`` must not exist (Hadoop
    rename does not overwrite) — use :func:`write_new_versioned` for
    updatable artifacts."""
    import uuid

    jvm, p, fs = fs_for(spark, path)
    tmp = jvm.org.apache.hadoop.fs.Path(f"{path}.{uuid.uuid4().hex}.tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(data))
    finally:
        out.close()
    if not fs.rename(tmp, p):  # pragma: no cover - FS race
        raise OSError(f"atomic rename failed: {path}")


def rename(spark, src: str, dst: str) -> None:
    """Hadoop FS rename (atomic on HDFS/local; atomic PUT-copy on S3A
    committers). Does NOT overwrite — the destination must not exist."""
    jvm, s, fs = fs_for(spark, src)
    d = jvm.org.apache.hadoop.fs.Path(dst)
    if not fs.rename(s, d):
        raise OSError(f"rename failed: {src} -> {dst}")


def delete(spark, path: str, recursive: bool = False) -> None:
    _, p, fs = fs_for(spark, path)
    fs.delete(p, recursive)


def mkdirs(spark, path: str) -> None:
    _, p, fs = fs_for(spark, path)
    fs.mkdirs(p)


# --- versioned single-artifact store (manifests, sidecars) -------------


def _version_of(name: str, prefix: str, suffix: str) -> int | None:
    if not (name.startswith(prefix) and name.endswith(suffix)):
        return None
    core = name[len(prefix) : len(name) - len(suffix)]
    return int(core) if core.isdigit() else None


def versioned_path(dir_path: str, prefix: str, suffix: str, version: int) -> str:
    """The file committing ``version``: ``<prefix><020d-version><suffix>``."""
    return f"{dir_path}/{prefix}{version:020d}{suffix}"


def list_versions(spark, dir_path: str, prefix: str, suffix: str) -> list[int]:
    """Committed versions in ``dir_path``, ascending (files named
    ``<prefix><digits><suffix>``)."""
    return sorted(
        v
        for n in list_names(spark, dir_path)
        if (v := _version_of(n, prefix, suffix)) is not None
    )


def latest_version(spark, dir_path: str, prefix: str, suffix: str) -> int:
    """Highest committed version in ``dir_path``; -1 when none."""
    versions = list_versions(spark, dir_path, prefix, suffix)
    return versions[-1] if versions else -1


def write_new_versioned(
    spark,
    dir_path: str,
    prefix: str,
    suffix: str,
    version: int,
    data: bytes,
    keep: int | None = 10,
) -> None:
    """Commit ``data`` as version ``version``: temp write + atomic
    rename to the FRESH ``<prefix><020d-version><suffix>`` name (no
    delete-then-rename crash window — the previous version stays
    readable until the new one is committed). Afterwards best-effort
    GC: versions older than the newest ``keep`` are deleted — a crash
    mid-GC leaves unreferenced garbage, never damage. ``keep=None``
    retains every version (time-travel stores)."""
    if keep is not None and keep < 1:
        # keep=0 would make versions[:-keep] the EMPTY slice — a silent
        # GC no-op, the opposite of "retain nothing old"
        raise ValueError(f"keep must be >= 1: {keep}")
    mkdirs(spark, dir_path)
    write_bytes_rename(spark, versioned_path(dir_path, prefix, suffix, version), data)
    if keep is None:
        return
    for old in list_versions(spark, dir_path, prefix, suffix)[:-keep]:
        delete(spark, versioned_path(dir_path, prefix, suffix, old))


def read_latest_versioned(
    spark, dir_path: str, prefix: str, suffix: str
) -> tuple[int, bytes | None]:
    """(version, bytes) of the highest committed version; (-1, None)
    when none exists."""
    v = latest_version(spark, dir_path, prefix, suffix)
    if v < 0:
        return -1, None
    return v, read_bytes(spark, versioned_path(dir_path, prefix, suffix, v))
