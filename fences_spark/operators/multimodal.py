"""Multimodal columns: image/audio/video as opaque ``binary`` payloads
with typed metadata, processed through Arrow-batched ``mapInPandas``
operators.

Two decode modes, same operator plumbing (schema, Arrow batch shapes,
partitioning, output contract):

- ``decode="fake"`` — deterministic hash-derived features; fully
  reproducible by the DuckDB oracle, so these paths are value-hash
  gated end-to-end.
- ``decode="real"`` — ACTUAL pixel/sample math for the containers a
  codec-free sandbox can parse: 24-bit BMP and 8-bit PNG images
  (PNG needs only stdlib zlib + numpy unfiltering), 16-bit PCM WAV
  audio, and a length-prefixed BMP-frame video container (``RAWV``,
  the stand-in for MP4) — see :mod:`fences_spark.operators.codecs`.
  Codec-bound containers (JPEG/MP3/MP4) raise NotImplementedError
  naming the library a deployment would add (PIL / soundfile / pyav);
  that boundary is the only remaining stub.

Schema convention for a media table:
    (media_id long, modality string, payload binary,
     meta struct<mime:string, width:int, height:int, duration_ms:int>)
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from fences_spark.operators import codecs

MEDIA_SCHEMA = (
    "media_id long, modality string, payload binary, "
    "meta struct<mime:string, width:int, height:int, duration_ms:int>"
)

FEATURE_DIM = 8

_FEATURES_SCHEMA = f"media_id long, modality string, n_bytes long, feature array<float>"
_FRAMES_SCHEMA = "media_id long, frame_idx int, frame_sha256 string"


def synth_media_table(spark: SparkSession, n: int) -> DataFrame:
    """Deterministic fake media rows (payload = seeded bytes) for
    testing the plumbing; generated distributed via spark.range."""
    df = spark.range(n).withColumnRenamed("id", "media_id")
    payload = F.sha2(F.concat(F.lit("media"), F.col("media_id").cast("string")), 256).cast("binary")
    modality = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.pmod(F.col("media_id"), 3) + 1).cast("int"),
    )
    meta = F.struct(
        F.concat(F.lit("x-fake/"), modality).alias("mime"),
        (F.pmod(F.col("media_id"), 640) + 1).cast("int").alias("width"),
        (F.pmod(F.col("media_id"), 480) + 1).cast("int").alias("height"),
        (F.pmod(F.col("media_id"), 90000)).cast("int").alias("duration_ms"),
    )
    return df.select("media_id", modality.alias("modality"), payload.alias("payload"), meta.alias("meta"))


def synth_real_media_table(spark: SparkSession, n: int, *, seed: int = 2026) -> DataFrame:
    """Deterministic media rows whose payloads are REAL containers —
    BMP and PNG images (alternating per image row), PCM WAV audio,
    RAWV (BMP-frame) video — generated
    DISTRIBUTED (mapInPandas over spark.range; nothing driver-side),
    pure function of (seed, media_id), so two runs and two cluster
    sizes produce byte-identical tables.  meta dims/duration are
    derived from the actual encoded content, which is what makes the
    real-decode geometry checks meaningful."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"media_id": [], "modality": [], "payload": [], "meta": []}
            for mid in pdf["id"]:
                mid = int(mid)
                rng = np.random.Generator(np.random.PCG64(seed * 1_000_003 + mid))
                kind = ("image", "audio", "video")[mid % 3]
                if kind == "image":
                    w, h = int(rng.integers(4, 25)), int(rng.integers(4, 25))
                    px = rng.integers(0, 256, size=(h, w, 3), dtype=np.int64).astype(np.uint8)
                    if (mid // 3) % 2 == 0:
                        payload, mime = codecs.encode_bmp(px), "image/bmp"
                    else:
                        payload, mime = codecs.encode_png(px), "image/png"
                    meta = {"mime": mime, "width": w, "height": h, "duration_ms": 0}
                elif kind == "audio":
                    rate = 8000
                    ns = int(rng.integers(400, 4001))
                    ch = 1 + (mid % 2)
                    x = rng.integers(-20000, 20001, size=(ns, ch), dtype=np.int64).astype(np.int16)
                    payload = codecs.encode_wav(x, rate)
                    meta = {"mime": "audio/wav", "width": 0, "height": 0,
                            "duration_ms": ns * 1000 // rate}
                else:
                    nf = int(rng.integers(2, 7))
                    w, h = int(rng.integers(4, 17)), int(rng.integers(4, 17))
                    frames = [
                        rng.integers(0, 256, size=(h, w, 3), dtype=np.int64).astype(np.uint8)
                        for _ in range(nf)
                    ]
                    payload = encode_rawv(frames)
                    meta = {"mime": "video/x-rawv", "width": w, "height": h,
                            "duration_ms": nf * 10_000}
                rows["media_id"].append(mid)
                rows["modality"].append(kind)
                rows["payload"].append(payload)
                rows["meta"].append(meta)
            yield pd.DataFrame(rows)

    return spark.range(n).mapInPandas(gen, schema=MEDIA_SCHEMA)


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Project a documents table (doc_id, text, …) into the media
    schema: payload = UTF-8 bytes of the text, modality round-robins
    image/audio/video on doc_id, duration derived from doc_id.  Every
    field is a pure function of the row, so a SQL oracle can re-derive
    the identical table — this is what lets the mapInPandas operators
    downstream be value-hash gated instead of rows-only."""
    modality = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.pmod(F.col("doc_id"), 3) + 1).cast("int"),
    )
    meta = F.struct(
        F.concat(F.lit("x-fake/"), modality).alias("mime"),
        (F.pmod(F.col("doc_id"), 640) + 1).cast("int").alias("width"),
        (F.pmod(F.col("doc_id"), 480) + 1).cast("int").alias("height"),
        # spread durations over the full 0..90s range even for small
        # consecutive doc_id domains, so frame counts exercise 1..8
        F.pmod(F.col("doc_id") * 7919, 90000).cast("int").alias("duration_ms"),
    )
    return docs.select(
        F.col("doc_id").alias("media_id"),
        modality.alias("modality"),
        F.col("text").cast("binary").alias("payload"),
        meta.alias("meta"),
    )


def _fake_feature(payload: bytes) -> list[float]:
    """Deterministic stand-in for a decoded-content embedding."""
    h = hashlib.sha256(payload or b"").digest()
    return [b / 255.0 for b in h[:FEATURE_DIM]]


# ---------------------------------------------------------------------------
# real decode: BMP / WAV / RAWV via fences_spark.operators.codecs
# ---------------------------------------------------------------------------

_RAWV_MAGIC = b"RAWV"


def encode_rawv(frames: list[np.ndarray]) -> bytes:
    """Minimal uncompressed video container: ``RAWV`` + uint32 frame
    count + per-frame (uint32 length, BMP blob).  Stands in for MP4 —
    real container parsing + real per-frame image decode, no codec
    library needed."""
    import struct

    parts = [_RAWV_MAGIC, struct.pack("<I", len(frames))]
    for fr in frames:
        blob = codecs.encode_bmp(fr)
        parts.append(struct.pack("<I", len(blob)))
        parts.append(blob)
    return b"".join(parts)


def decode_rawv(data: bytes) -> list[bytes]:
    """RAWV container → list of BMP blobs (decoded lazily by caller)."""
    import struct

    data = bytes(data)
    if len(data) < 8 or data[:4] != _RAWV_MAGIC:
        raise ValueError("not a RAWV payload")
    (n,) = struct.unpack_from("<I", data, 4)
    pos, out = 8, []
    for _ in range(n):
        if pos + 4 > len(data):
            raise ValueError("truncated RAWV frame table")
        (ln,) = struct.unpack_from("<I", data, pos)
        pos += 4
        if pos + ln > len(data):
            raise ValueError("truncated RAWV frame payload")
        out.append(data[pos : pos + ln])
        pos += ln
    return out


def _codec_missing(kind: str) -> NotImplementedError:
    libs = {"image": "PIL/Pillow", "audio": "soundfile/librosa", "video": "pyav"}
    return NotImplementedError(
        f"payload is not a container this sandbox can parse "
        f"(BMP/PNG/WAV/RAWV); decoding codec-bound {kind} needs {libs[kind]}, "
        f"absent from this environment"
    )


def _real_feature(payload: bytes, modality: str) -> list[float]:
    """FEATURE_DIM floats from actually-decoded content.

    image → per-channel mean and std of the RGB pixels + normalized
    dims; audio → RMS / zero-crossing rate / mean / std / peak of the
    PCM samples + normalized duration/rate; video → image features of
    the first decoded frame.  All float32-roundtripped so results are
    stable across numpy builds."""
    data = bytes(payload or b"")
    kind = codecs.sniff_container(data)
    if kind in ("bmp", "png"):
        dec = codecs.decode_bmp if kind == "bmp" else codecs.decode_png
        px = dec(data).astype(np.float64) / 255.0
        h, w = px.shape[:2]
        means = px.reshape(-1, 3).mean(axis=0)
        stds = px.reshape(-1, 3).std(axis=0)
        vec = [*means, *stds, w / 1024.0, h / 1024.0]
    elif kind == "wav":
        samples, rate = codecs.decode_wav(data)
        x = samples.astype(np.float64) / 32768.0
        flat = x.ravel()
        zc = float(np.mean(np.abs(np.diff(np.signbit(flat).astype(np.int8))))) if flat.size > 1 else 0.0
        dur_s = samples.shape[0] / rate if rate else 0.0
        vec = [
            float(np.sqrt(np.mean(flat**2))) if flat.size else 0.0,
            zc,
            float(flat.mean()) if flat.size else 0.0,
            float(flat.std()) if flat.size else 0.0,
            float(np.abs(flat).max()) if flat.size else 0.0,
            min(dur_s / 100.0, 1.0),
            rate / 48000.0,
            samples.shape[1] / 8.0,
        ]
    elif data[:4] == _RAWV_MAGIC:
        frames = decode_rawv(data)
        if not frames:
            vec = [0.0] * FEATURE_DIM
        else:
            return _real_feature(frames[0], "image")
    else:
        raise _codec_missing(modality if modality in ("image", "audio", "video") else "image")
    return [float(np.float32(v)) for v in vec]


def extract_features(df: DataFrame, *, decode: str = "fake", batch_hint: int = 256) -> DataFrame:
    """Per-media feature vector via mapInPandas (Arrow batches, one
    Python call per batch — the sanctioned slow path for binary
    payloads that builtins cannot decode)."""
    if decode not in ("fake", "real"):
        raise ValueError("decode must be 'fake' or 'real'")

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if decode == "real":
                feats = [
                    _real_feature(p, m)
                    for p, m in zip(pdf["payload"], pdf["modality"])
                ]
            else:
                feats = pdf["payload"].map(lambda p: _fake_feature(bytes(p) if p is not None else b""))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "modality": pdf["modality"],
                    "n_bytes": pdf["payload"].map(lambda p: len(p) if p is not None else 0),
                    "feature": feats,
                }
            )

    return df.mapInPandas(op, schema=_FEATURES_SCHEMA)


def sample_frames(df: DataFrame, *, every_ms: int = 10_000, max_frames: int = 8,
                  decode: str = "fake") -> DataFrame:
    """Video frame sampling: one output row per sampled frame.  Fake
    decode derives frame hashes from (payload, frame index); a real
    decoder would seek to frame_idx * every_ms.

    Frame-hash convention: sha256(payload || '#' || str(frame_idx)) —
    the index suffix is an ASCII decimal (not raw bytes) so the exact
    same hash is reproducible in engines whose sha256 only accepts
    text (DuckDB oracle), and '#' keeps (payload, idx) unambiguous.

    Real decode (RAWV payloads): sample i maps to the stored frame at
    timestamp i·every_ms (index = ⌊i·every_ms·n_frames/dur⌋, clamped),
    and frame_sha256 digests the DECODED RGB pixels — evidence the
    bytes were actually parsed, not fingerprinting the container."""
    videos = df.filter(F.col("modality") == "video")

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"media_id": [], "frame_idx": [], "frame_sha256": []}
            for mid, payload, meta in zip(pdf["media_id"], pdf["payload"], pdf["meta"]):
                dur = int(meta["duration_ms"]) if meta is not None else 0
                n = min(max_frames, max(dur // every_ms, 1))
                raw = bytes(payload) if payload is not None else b""
                frames = None
                if decode == "real":
                    if raw[:4] != _RAWV_MAGIC:
                        raise _codec_missing("video")
                    frames = decode_rawv(raw)
                for i in range(n):
                    rows["media_id"].append(mid)
                    rows["frame_idx"].append(i)
                    if decode == "real":
                        if frames:
                            fi = min(i * every_ms * len(frames) // max(dur, 1), len(frames) - 1)
                            px = codecs.decode_bmp(frames[fi])
                            digest = hashlib.sha256(px.tobytes()).hexdigest()
                        else:
                            digest = hashlib.sha256(b"").hexdigest()
                        rows["frame_sha256"].append(digest)
                    else:
                        rows["frame_sha256"].append(
                            hashlib.sha256(raw + b"#" + str(i).encode()).hexdigest()
                        )
            yield pd.DataFrame(rows)

    return videos.mapInPandas(op, schema=_FRAMES_SCHEMA)


_RESIZE_SCHEMA = "media_id long, in_w int, in_h int, out_w int, out_h int, resized_sha256 string"


def resize_images(df: DataFrame, *, target_w: int = 64, target_h: int = 64,
                  decode: str = "fake") -> DataFrame:
    """Aspect-preserving fit-within-box image resize: one row per
    image with the computed output dims and a digest of the "resized"
    bytes.

    The output geometry is pure INTEGER Column algebra on the JVM
    side (wider-than-box ⇒ out_w = target_w, out_h = h·target_w ÷ w,
    else the transpose; integer division, so bit-identical in any
    engine — no float rounding to disagree about).  Only the pixel
    resample crosses into Python (mapInPandas, Arrow batches); fake
    decode fingerprints the would-be output as
    sha256(payload || '#' || out_w || 'x' || out_h) — same
    ASCII-suffix convention as frame sampling, reproducible by the
    DuckDB oracle."""
    imgs = df.filter(F.col("modality") == "image")
    w = F.col("meta.width").cast("long")
    h = F.col("meta.height").cast("long")
    wide = (w * target_h) >= (h * target_w)
    out_w = F.when(wide, F.lit(target_w)) \
             .otherwise(F.greatest(F.lit(1), (w * target_h / h).cast("long"))).cast("int")
    out_h = F.when(wide, F.greatest(F.lit(1), (h * target_w / w).cast("long"))) \
             .otherwise(F.lit(target_h)).cast("int")
    staged = imgs.select(
        "media_id", "payload",
        w.cast("int").alias("in_w"), h.cast("int").alias("in_h"),
        out_w.alias("out_w"), out_h.alias("out_h"),
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if decode == "real":
                digests = []
                for p, ow, oh in zip(pdf["payload"], pdf["out_w"], pdf["out_h"]):
                    raw = bytes(p) if p is not None else b""
                    kind = codecs.sniff_container(raw)
                    if kind == "bmp":
                        dec, enc = codecs.decode_bmp, codecs.encode_bmp
                    elif kind == "png":
                        dec, enc = codecs.decode_png, codecs.encode_png
                    else:
                        raise _codec_missing("image")
                    px = dec(raw)
                    out = codecs.resize_nearest(px, int(ow), int(oh))
                    digests.append(hashlib.sha256(enc(out)).hexdigest())
            else:
                digests = [
                    hashlib.sha256(
                        (bytes(p) if p is not None else b"")
                        + f"#{ow}x{oh}".encode()
                    ).hexdigest()
                    for p, ow, oh in zip(pdf["payload"], pdf["out_w"], pdf["out_h"])
                ]
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "in_w": pdf["in_w"], "in_h": pdf["in_h"],
                "out_w": pdf["out_w"], "out_h": pdf["out_h"],
                "resized_sha256": digests,
            })

    return staged.mapInPandas(op, schema=_RESIZE_SCHEMA)
