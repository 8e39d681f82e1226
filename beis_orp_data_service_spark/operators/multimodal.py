"""Multimodal columns — image/audio/video as opaque binary columns with
typed metadata, processed via mapInPandas (engine extension for
training-data pipelines; the reference's binary handling is the S1
document-bytes scan, pdf_to_orpml.py:60-74).

Pixel kernels are import-gated: container HEADERS are parsed for real
with stdlib byte-layout code (``probe_media_header``), and the pixel
paths (``decode_image`` via ``PIL.Image.open``, ``resize_media_batch``
via ``Image.resize``) run the real branch when PIL is installed,
falling back to a deterministic bytes-derived fake here (PIL/ffmpeg are
not in this container). Everything Spark-side — schemas, Arrow batch
iteration, partition-preserving mapInPandas plumbing, metadata join
shape — is identical on both branches (contract-tested like
operators/models.py).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType()),  # image|audio|video
        T.StructField("content", T.BinaryType()),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType())),
    ]
)

DECODED_SCHEMA = (
    "media_id bigint, media_type string, n_bytes bigint, "
    "width bigint, height bigint, checksum string"
)


def _have_pil() -> bool:
    try:  # pragma: no cover - not installed here
        import PIL  # noqa: F401

        return True
    except ImportError:
        return False


def probe_media_header(content: bytes) -> dict | None:
    """REAL container-header sniffing, stdlib only: dimensions / audio
    properties parsed straight from the byte layout of the common
    containers — PNG IHDR, JPEG SOF0-3 markers, GIF logical screen,
    BMP info header, RIFF/WAVE fmt+data chunks. This is the metadata a
    pipeline buckets/filters/joins on; only pixel/sample DECODE needs
    the heavy libs (PIL/ffmpeg) and stays behind the stub."""
    import struct

    b = bytes(content or b"")
    if b[:8] == b"\x89PNG\r\n\x1a\n" and len(b) >= 24 and b[12:16] == b"IHDR":
        w, h = struct.unpack(">II", b[16:24])
        return {"container": "png", "width": w, "height": h}
    if b[:2] == b"\xff\xd8":  # JPEG: walk segments to a start-of-frame
        # SOF0-15 minus DHT(C4)/JPG(C8)/DAC(CC), per ITU T.81 B.1.1.3
        sof = {m for m in range(0xC0, 0xD0)} - {0xC4, 0xC8, 0xCC}
        i = 2
        while i + 9 <= len(b):
            if b[i] != 0xFF:
                i += 1
                continue
            while i + 1 < len(b) and b[i + 1] == 0xFF:
                i += 1  # 0xFF fill bytes before a marker are padding
            marker = b[i + 1]
            if marker in sof:
                h, w = struct.unpack(">HH", b[i + 5 : i + 9])
                return {"container": "jpeg", "width": w, "height": h}
            if marker == 0x01 or 0xD0 <= marker <= 0xD9:
                i += 2  # standalone marker, no length field
                continue
            if i + 4 > len(b):
                break
            i += 2 + struct.unpack(">H", b[i + 2 : i + 4])[0]
        return None
    if b[:6] in (b"GIF87a", b"GIF89a") and len(b) >= 10:
        w, h = struct.unpack("<HH", b[6:10])
        return {"container": "gif", "width": w, "height": h}
    if b[:2] == b"BM" and len(b) >= 26:
        w, h = struct.unpack("<ii", b[18:26])
        return {"container": "bmp", "width": w, "height": abs(h)}
    if b[:4] == b"RIFF" and b[8:12] == b"WAVE":
        out: dict = {"container": "wav"}
        i = 12
        while i + 8 <= len(b):
            cid, size = b[i : i + 4], struct.unpack("<I", b[i + 4 : i + 8])[0]
            if cid == b"fmt " and i + 24 <= len(b):
                channels, rate = struct.unpack("<HI", b[i + 10 : i + 16])
                bits = struct.unpack("<H", b[i + 22 : i + 24])[0]
                out.update(channels=channels, sample_rate_hz=rate, bits=bits)
            elif cid == b"data":
                out["data_bytes"] = size
            i += 8 + size + (size % 2)  # chunks are word-aligned
        denom = (
            out.get("sample_rate_hz", 0) * out.get("channels", 0) * out.get("bits", 0)
        )
        if denom > 0 and "data_bytes" in out:  # malformed fmt (e.g.
            # channels=0) must yield a null duration, never a crash
            out["duration_ms"] = out["data_bytes"] * 8 * 1000 // denom
        return out
    return None


def decode_image(content: bytes) -> tuple[int, int]:
    """(width, height): parsed from the real container header when the
    payload IS one (``probe_media_header`` — PNG/JPEG/GIF/BMP, stdlib);
    otherwise the deterministic byte-length fake, so non-media payloads
    (the synthetic corpus) keep stable, oracle-checkable values. Pixel
    decode itself stays stubbed behind PIL."""
    hdr = probe_media_header(content)
    if hdr and "width" in hdr:
        return (hdr["width"], hdr["height"])
    if _have_pil():  # pragma: no cover - lib absent in this container
        import io

        from PIL import Image

        try:
            with Image.open(io.BytesIO(bytes(content or b""))) as im:
                return im.size
        except Exception:  # noqa: BLE001 - not an image: fake below
            pass
    n = len(content or b"")
    return (64 + n % 1920, 64 + (n * 7) % 1080)


def decode_media_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: binary in → typed metadata out. Each Arrow
    batch is processed columnar-side; no per-row Python in the caller."""
    for pdf in batches:
        dims = pdf["content"].map(lambda b: decode_image(bytes(b or b"")))
        yield pd.DataFrame(
            {
                "media_id": pdf["media_id"],
                "media_type": pdf["media_type"],
                "n_bytes": pdf["content"].map(lambda b: len(b or b"")).astype("int64"),
                "width": dims.map(lambda d: d[0]).astype("int64"),
                "height": dims.map(lambda d: d[1]).astype("int64"),
                "checksum": pdf["content"].map(
                    lambda b: hashlib.sha256(bytes(b or b"")).hexdigest()[:16]
                ),
            }
        )


def decode_media(df: DataFrame) -> DataFrame:
    """Decode/feature-extract over a media DataFrame.

    Scale shape: mapInPandas preserves partitioning (no shuffle); the
    binary column never leaves the executor; output is a narrow typed
    table that joins back on media_id. At 100 TB the input should be
    partitioned by size-bucketed media_id so Arrow batches stay within
    executor memory (spark.sql.files.maxPartitionBytes governs the scan
    side)."""
    return df.mapInPandas(decode_media_batch, DECODED_SCHEMA)


HEADER_SCHEMA = (
    "media_id bigint, container string, width bigint, height bigint, "
    "channels bigint, sample_rate_hz bigint, duration_ms bigint"
)


def media_headers(df: DataFrame) -> DataFrame:
    """Typed header table from real byte-layout parsing
    (:func:`probe_media_header`): one row per media item with the
    container name and its intrinsic properties (nulls where the
    container has none / the payload is unrecognized). mapInPandas —
    partition-preserving, bytes never leave the executor."""

    def _batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                hdr = probe_media_header(bytes(content or b"")) or {}
                rows.append(
                    {
                        "media_id": mid,
                        "container": hdr.get("container"),
                        "width": hdr.get("width"),
                        "height": hdr.get("height"),
                        "channels": hdr.get("channels"),
                        "sample_rate_hz": hdr.get("sample_rate_hz"),
                        "duration_ms": hdr.get("duration_ms"),
                    }
                )
            yield pd.DataFrame(rows)

    return df.select("media_id", "content").mapInPandas(_batches, HEADER_SCHEMA)


def resize_dims(
    decoded: DataFrame, max_w: int = 256, max_h: int = 256
) -> DataFrame:
    """Aspect-preserving resize PLAN: target dimensions for each image,
    integer-exact (scale in per-mille, floor division) so any engine
    agrees. The byte-level resample kernel is the stub
    (:func:`resize_media`); the dimension arithmetic — the part a
    pipeline joins/filters/buckets on — is pure Catalyst expressions."""
    scale = F.least(
        F.lit(1000),
        F.expr(f"{max_w} * 1000 div width"),
        F.expr(f"{max_h} * 1000 div height"),
    )
    return decoded.withColumn("scale_pm", scale.cast("bigint")).select(
        "media_id",
        "width",
        "height",
        "scale_pm",
        F.expr("width * scale_pm div 1000").cast("bigint").alias("out_w"),
        F.expr("height * scale_pm div 1000").cast("bigint").alias("out_h"),
    )


def resize_media_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel for the byte-level resample. Real branch (PIL
    installed, ``out_w``/``out_h`` columns present from
    :func:`resize_dims`): decode → ``Image.resize`` → PNG re-encode,
    checksum of the resized bytes. Fake branch (this container): input
    checksum as the 'resized' marker. Output schema identical either
    way, so the plumbing is end-to-end testable without PIL."""
    for pdf in batches:
        if _have_pil() and "out_w" in pdf.columns:  # pragma: no cover
            import io

            from PIL import Image

            sums = []
            for b, w, h in zip(pdf["content"], pdf["out_w"], pdf["out_h"]):
                raw = bytes(b or b"")
                try:
                    with Image.open(io.BytesIO(raw)) as im:
                        out = io.BytesIO()
                        im.resize((int(w), int(h))).save(out, format="PNG")
                        data = out.getvalue()
                except Exception:  # noqa: BLE001 - non-image payload
                    data = b"resized:" + raw
                sums.append(hashlib.sha256(data).hexdigest()[:16])
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "resized_checksum": sums}
            )
            continue
        yield pd.DataFrame(
            {
                "media_id": pdf["media_id"],
                "resized_checksum": pdf["content"].map(
                    lambda b: hashlib.sha256(b"resized:" + bytes(b or b"")).hexdigest()[:16]
                ),
            }
        )


def frame_sample_plan(
    decoded: DataFrame, fps: int = 30, every_n: int = 10
) -> DataFrame:
    """Video frame-sampling PLAN: one row per sampled frame with its
    timestamp. Duration is stub-derived from byte length (real pipeline:
    a container-header probe in the decode kernel); the fan-out itself —
    sequence + posexplode, the part that must scale — is real. The
    sampled-frame table is what a frame-extract kernel (mapInPandas over
    (content, frame_idx)) consumes; grouping by media_id keeps all of a
    video's frames in one partition for the decoder."""
    d = decoded.withColumn("duration_s", (F.lit(1) + F.col("n_bytes") % 120))
    return d.select(
        "media_id",
        F.col("duration_s").cast("bigint").alias("duration_s"),
        F.explode(
            F.expr(f"sequence(0, duration_s * {fps} - 1, {every_n})")
        ).alias("frame_idx"),
    ).select(
        "media_id",
        "duration_s",
        F.col("frame_idx").cast("bigint").alias("frame_idx"),
        F.expr(f"frame_idx * 1000 div {fps}").cast("bigint").alias("ts_ms"),
    )


def feature_plan(decoded: DataFrame, dim: int = 8) -> DataFrame:
    """Deterministic fake feature vector per media item (Knuth
    multiplicative hash over byte length × component index) — the
    embedding-extraction stand-in. Schema, typed array column, and
    downstream joinability are the real contract; swap the expression
    for a model UDF (operators/models.py harness) to productionize."""
    return decoded.select(
        "media_id",
        F.expr(
            f"transform(sequence(1, {dim}), "
            "j -> (n_bytes * j * 2654435761) % 1000003)"
        ).alias("features"),
    )


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Adapter for the driver's documents table: text bytes stand in for
    an encoded image payload (deterministic, no external data)."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("media_type"),
        F.encode("text", "utf-8").alias("content"),
        F.create_map(F.lit("src"), F.col("source")).alias("meta"),
    )


# ---------------------------------------------------------------------------
# Perceptual hashing (pHash) + banded Hamming near-dup join
# ---------------------------------------------------------------------------

PHASH_SCHEMA = "media_id bigint, phash bigint"
_PHASH_WINDOW = 1024  # bytes of payload mapped onto the 32x32 fake raster


def _dct32() -> "np.ndarray":  # noqa: F821 - numpy imported lazily
    """Orthonormal 32-point DCT-II basis matrix (the real transform —
    only the pixel DECODE is faked when PIL is absent)."""
    import numpy as np

    n = 32
    k = np.arange(n)[:, None]
    j = np.arange(n)[None, :]
    m = np.cos(np.pi * (2 * j + 1) * k / (2 * n))
    m[0] *= 1.0 / np.sqrt(2.0)
    return m * np.sqrt(2.0 / n)


def _gray32(content: bytes) -> "np.ndarray":  # noqa: F821
    """32x32 float grayscale raster. Real branch: PIL decode + resize;
    fake branch: the first ``_PHASH_WINDOW`` payload bytes tiled into
    the raster (zero-padded) — deterministic, so an identical payload
    always rasters identically and a one-byte edit moves one pixel."""
    import numpy as np

    if _have_pil():  # pragma: no cover - lib absent in this container
        import io

        from PIL import Image

        try:
            with Image.open(io.BytesIO(content)) as im:
                g = im.convert("L").resize((32, 32))
                return np.asarray(g, dtype=np.float64)
        except Exception:  # noqa: BLE001 - not an image: fake below
            pass
    buf = (content or b"\x00")[:_PHASH_WINDOW]
    buf = buf + b"\x00" * (_PHASH_WINDOW - len(buf))
    return np.frombuffer(buf, dtype=np.uint8).astype(np.float64).reshape(32, 32)


def phash64_bytes(content: bytes) -> int:
    """64-bit perceptual hash (classic pHash): 2-D DCT of the 32x32
    grayscale raster, keep the 8x8 low-frequency block, threshold each
    coefficient against the median of the 63 AC coefficients (DC
    excluded from the median so a brightness shift cannot flip every
    bit). Returns a SIGNED int64 (two's complement) so the value lands
    in a Spark/parquet bigint unchanged."""
    import numpy as np

    d = _DCT32_M @ _gray32(content) @ _DCT32_M.T
    block = d[:8, :8].flatten()
    med = float(np.median(block[1:]))
    bits = block > med
    h = 0
    for b in bits:
        h = (h << 1) | int(b)
    return h - (1 << 64) if h >= (1 << 63) else h


def phash_media(df: DataFrame) -> DataFrame:
    """(media_id, phash) via one Arrow-batched mapInPandas kernel —
    partition-preserving, the binary column never shuffles."""

    def _batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "phash": pdf["content"]
                    .map(lambda b: phash64_bytes(bytes(b or b"")))
                    .astype("int64"),
                }
            )

    return df.select("media_id", "content").mapInPandas(_batches, PHASH_SCHEMA)


def phash_band_pairs(
    hashes: DataFrame,
    n_bands: int = 4,
    max_dist: int = 10,
) -> DataFrame:
    """Near-duplicate images by banded Hamming join: split the 64-bit
    phash into ``n_bands`` equal bands; any pair agreeing on at least
    one band is a candidate (recall is exact for pairs within
    ``n_bands - 1`` differing bits, pigeonhole; beyond that a pair is
    found unless its differing bits spread across ALL bands);
    candidates verified with an exact popcount on the XOR. Never
    all-pairs: the join key is (band index, band value), the same
    O(candidates) shape as ``dedup.simhash_band_pairs``.

    The hash table is stage-checkpointed before the self-join so the
    Arrow kernel (:func:`phash_media`) computes each hash ONCE, not
    once per join side; a pair agreeing on several bands is kept only
    at its first agreeing band via an unrolled codegen predicate on
    the XOR (no dedupe shuffle) — both borrowed from
    ``dedup.simhash_band_pairs``, with logical shifts instead of
    DIV/%% because the full 64-bit hash uses the sign bit.

    Output: (id_a, id_b, dist), id_a < id_b, one row per pair."""
    from beis_orp_data_service_spark.checkpointing import stage_checkpoint

    if 64 % n_bands:
        raise ValueError(f"n_bands must divide 64, got {n_bands}")
    width = 64 // n_bands
    mask = (1 << width) - 1
    hashes = stage_checkpoint(hashes, label="phash_media")
    banded = hashes.select(
        "media_id",
        "phash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band"),
                        F.expr(
                            f"shiftrightunsigned(phash, {j * width})"
                            f" & {mask}"
                        ).alias("val"),
                    )
                    for j in range(n_bands)
                ]
            )
        ).alias("b"),
    ).select("media_id", "phash", "b.band", "b.val")
    a = banded.alias("a")
    b = banded.alias("b")
    joined = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .select(
            F.col("a.media_id").alias("id_a"),
            F.col("b.media_id").alias("id_b"),
            F.col("a.band").alias("band"),
            F.expr("a.phash ^ b.phash").alias("_x"),
        )
    )
    first_band = None
    for j in range(n_bands - 1):
        term = (F.col("band") <= j) | (
            F.expr(f"shiftrightunsigned(_x, {j * width}) & {mask}") != 0
        )
        first_band = term if first_band is None else (first_band & term)
    return (
        joined.withColumn("dist", F.bit_count(F.col("_x")).cast("bigint"))
        .where(F.col("dist") <= max_dist)
        .where(first_band if first_band is not None else F.lit(True))
        .select("id_a", "id_b", "dist")
    )


_DCT32_M = _dct32()
