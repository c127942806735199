"""Multimodal binary-column plumbing: images/audio as opaque bytes + typed
metadata, processed by Arrow-batched UDFs.

The engine ships no image/audio/video codecs, so each DECODE step
(decode_image_fake, decode_audio_fake, decode_video_fake) is a
deterministic pure-Python decoder for an in-repo synthetic payload format
(PPMX, PCMX, FVIX). The Spark-side plumbing (schema, partitioning, UDF
signature, Arrow batch shape) is REAL and tested; a real codec
(Pillow/libvips, ffmpeg/libsndfile, pyav) replaces the fake decoder's body.

Everything Spark-side is honest scale machinery: binary column stays opaque
until the one mapInPandas crossing; metadata (width/height/channels) is
extracted without decoding pixels; feature vectors come back as
array<float> ready for the ANN operators in engine/queries.py.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd

IMAGE_META_DDL = (
    "media_id long, fmt string, width int, height int, channels int, "
    "n_bytes long, parse_ok boolean"
)
IMAGE_FEATURES_DDL = (
    "media_id long, features array<float>, feat_version string, status string"
)

_MAGIC = b"PPMX"  # in-repo synthetic format: magic|w|h|c|pixels(u8)


def encode_fake_image(media_id: int, width: int, height: int) -> bytes:
    """Deterministic synthetic RGB image payload (pixel = f(media_id, x,
    y, c))."""
    head = _MAGIC + struct.pack("<III", width, height, 3)
    px = bytearray(width * height * 3)
    for i in range(len(px)):
        px[i] = (media_id * 31 + i * 7) & 0xFF
    return head + bytes(px)


def sniff_image_meta(data: bytes | None) -> dict:
    """Header-only metadata: NEVER decodes pixels (cheap at 100 TB)."""
    if not data or len(data) < 16 or data[:4] != _MAGIC:
        return {
            "fmt": None,
            "width": None,
            "height": None,
            "channels": None,
            "n_bytes": len(data) if data else 0,
            "parse_ok": False,
        }
    w, h, c = struct.unpack("<III", data[4:16])
    return {
        "fmt": "ppmx",
        "width": w,
        "height": h,
        "channels": c,
        "n_bytes": len(data),
        "parse_ok": True,
    }


def decode_image_fake(data: bytes) -> tuple[int, int, int, bytes]:
    meta = sniff_image_meta(data)
    if not meta["parse_ok"]:
        raise ValueError("not a PPMX payload")
    w, h, c = meta["width"], meta["height"], meta["channels"]
    if len(data) < 16 + w * h * c:
        # header promises more pixels than the payload carries — fail the
        # record (same contract as the audio/video codecs)
        raise ValueError("truncated PPMX payload")
    return w, h, c, data[16 : 16 + w * h * c]


FEAT_VERSION = "fake-pool-1.0"
_FEAT_DIM = 8


def _pool_features(data: bytes) -> list[float]:
    """Deterministic 'feature extraction': mean pixel value per byte-stripe
    (the stand-in for a CNN embedding; the Spark path is identical)."""
    w, h, c, px = decode_image_fake(data)
    n = len(px)
    if n == 0:
        return [0.0] * _FEAT_DIM
    stripe = max(n // _FEAT_DIM, 1)
    out = []
    for k in range(_FEAT_DIM):
        seg = px[k * stripe : (k + 1) * stripe] or px[-stripe:]
        out.append(round(sum(seg) / len(seg) / 255.0, 6))
    return out


def image_meta_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas body: (media_id, payload) → header metadata rows."""
    for pdf in batches:
        rows = []
        for mid, data in zip(pdf["media_id"], pdf["payload"]):
            rec = sniff_image_meta(data)
            rec["media_id"] = int(mid)
            rows.append(rec)
        yield pd.DataFrame(
            rows,
            columns=[
                "media_id", "fmt", "width", "height", "channels",
                "n_bytes", "parse_ok",
            ],
        )


def image_feature_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas body: decode (fake) + pool features; per-row failure
    containment mirrors the extract stage."""
    for pdf in batches:
        rows = []
        for mid, data in zip(pdf["media_id"], pdf["payload"]):
            try:
                rows.append(
                    {
                        "media_id": int(mid),
                        "features": _pool_features(data),
                        "feat_version": FEAT_VERSION,
                        "status": "ok",
                    }
                )
            except Exception:
                rows.append(
                    {
                        "media_id": int(mid),
                        "features": None,
                        "feat_version": FEAT_VERSION,
                        "status": "failed",
                    }
                )
        yield pd.DataFrame(
            rows, columns=["media_id", "features", "feat_version", "status"]
        )


def generate_media(spark, n: int, partitions: int = 8):
    """Distributed synthetic media table (media_id, payload binary)."""
    def gen(batches):
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                if i % 17 == 0:  # corrupt payloads exercise failure path
                    rows.append({"media_id": i, "payload": b"\x00garbage"})
                else:
                    rows.append(
                        {
                            "media_id": i,
                            "payload": encode_fake_image(
                                i, 16 + i % 8, 12 + i % 5
                            ),
                        }
                    )
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    return spark.range(0, n, numPartitions=partitions).mapInPandas(
        gen, schema="media_id long, payload binary"
    )


def image_meta(media_df):
    return media_df.select("media_id", "payload").mapInPandas(
        image_meta_batches, schema=IMAGE_META_DDL
    )


def image_features(media_df):
    return media_df.select("media_id", "payload").mapInPandas(
        image_feature_batches, schema=IMAGE_FEATURES_DDL
    )


# =========================================================================
# Audio path — same trio (encode / sniff / features) over a PCM-ish payload
# =========================================================================

AUDIO_META_DDL = (
    "media_id long, fmt string, sample_rate int, channels int, "
    "n_samples int, duration_ms long, n_bytes long, parse_ok boolean"
)
AUDIO_FEATURES_DDL = (
    "media_id long, features array<float>, feat_version string, status string"
)

_AUDIO_MAGIC = b"PCMX"  # magic|sample_rate|channels|n_samples|samples(s16le)


def encode_fake_audio(media_id: int, n_samples: int) -> bytes:
    """Deterministic synthetic 16 kHz mono audio payload:
    integer-arithmetic sample values (no float trig — bit-stable across
    platforms)."""
    head = _AUDIO_MAGIC + struct.pack("<III", 16000, 1, n_samples)
    body = bytearray(n_samples * 2)
    for t in range(n_samples):
        v = ((media_id * 131 + t * 37) % 65536) - 32768
        struct.pack_into("<h", body, t * 2, v)
    return head + bytes(body)


def sniff_audio_meta(data: bytes | None) -> dict:
    """Header-only metadata: NEVER decodes samples (cheap at 100 TB)."""
    if not data or len(data) < 16 or data[:4] != _AUDIO_MAGIC:
        return {
            "fmt": None,
            "sample_rate": None,
            "channels": None,
            "n_samples": None,
            "duration_ms": None,
            "n_bytes": len(data) if data else 0,
            "parse_ok": False,
        }
    sr, ch, ns = struct.unpack("<III", data[4:16])
    return {
        "fmt": "pcmx",
        "sample_rate": sr,
        "channels": ch,
        "n_samples": ns,
        "duration_ms": (ns * 1000) // sr if sr else None,
        "n_bytes": len(data),
        "parse_ok": True,
    }


def decode_audio_fake(data: bytes) -> tuple[int, int, list[int]]:
    meta = sniff_audio_meta(data)
    if not meta["parse_ok"]:
        raise ValueError("not a PCMX payload")
    ns, ch = meta["n_samples"], meta["channels"]
    want = ns * ch
    body = data[16 : 16 + want * 2]
    if len(body) < want * 2:
        raise ValueError("truncated PCMX body")
    samples = list(struct.unpack(f"<{want}h", body))
    return meta["sample_rate"], ch, samples

AUDIO_FEAT_VERSION = "fake-rmspool-1.0"


def _pool_audio_features(data: bytes) -> list[float]:
    """Deterministic 'feature extraction': RMS energy per time-stripe (the
    stand-in for a log-mel/embedding frontend; the Spark path is real)."""
    _sr, _ch, samples = decode_audio_fake(data)
    n = len(samples)
    if n == 0:
        return [0.0] * _FEAT_DIM
    stripe = max(n // _FEAT_DIM, 1)
    out = []
    for k in range(_FEAT_DIM):
        seg = samples[k * stripe : (k + 1) * stripe] or samples[-stripe:]
        rms = (sum(v * v for v in seg) / len(seg)) ** 0.5
        out.append(round(rms / 32768.0, 6))
    return out


def audio_meta_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas body: (media_id, payload) → header metadata rows."""
    cols = [
        "media_id", "fmt", "sample_rate", "channels", "n_samples",
        "duration_ms", "n_bytes", "parse_ok",
    ]
    for pdf in batches:
        rows = []
        for mid, data in zip(pdf["media_id"], pdf["payload"]):
            rec = sniff_audio_meta(data)
            rec["media_id"] = int(mid)
            rows.append(rec)
        yield pd.DataFrame(rows, columns=cols)


def audio_feature_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas body: decode (fake) + RMS pooling; per-row failure
    containment mirrors the extract stage."""
    for pdf in batches:
        rows = []
        for mid, data in zip(pdf["media_id"], pdf["payload"]):
            try:
                rows.append(
                    {
                        "media_id": int(mid),
                        "features": _pool_audio_features(data),
                        "feat_version": AUDIO_FEAT_VERSION,
                        "status": "ok",
                    }
                )
            except Exception:
                rows.append(
                    {
                        "media_id": int(mid),
                        "features": None,
                        "feat_version": AUDIO_FEAT_VERSION,
                        "status": "failed",
                    }
                )
        yield pd.DataFrame(
            rows, columns=["media_id", "features", "feat_version", "status"]
        )


def generate_audio(spark, n: int, partitions: int = 8):
    """Distributed synthetic audio table (media_id, payload binary)."""

    def gen(batches):
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                if i % 17 == 0:  # corrupt payloads exercise failure path
                    rows.append({"media_id": i, "payload": b"\x01noise"})
                else:
                    rows.append(
                        {
                            "media_id": i,
                            "payload": encode_fake_audio(
                                i, 400 + (i % 7) * 50
                            ),
                        }
                    )
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    return spark.range(0, n, numPartitions=partitions).mapInPandas(
        gen, schema="media_id long, payload binary"
    )


def audio_meta(media_df):
    return media_df.select("media_id", "payload").mapInPandas(
        audio_meta_batches, schema=AUDIO_META_DDL
    )


def audio_features(media_df):
    return media_df.select("media_id", "payload").mapInPandas(
        audio_feature_batches, schema=AUDIO_FEATURES_DDL
    )


# =========================================================================
# Video path — encode / sniff / FRAME SAMPLING over a raw-frames payload
# =========================================================================

VIDEO_META_DDL = (
    "media_id long, fmt string, width int, height int, n_frames int, "
    "fps_x100 int, duration_ms long, n_bytes long, parse_ok boolean"
)
VIDEO_FRAMES_DDL = (
    "media_id long, frame_idx int, ts_ms long, sum_lum long, status string"
)

_VIDEO_MAGIC = b"FVIX"  # magic|w|h|n_frames|fps_x100|frames(u8 gray, w*h each)


def encode_fake_video(
    media_id: int, width: int, height: int, n_frames: int, fps_x100: int = 1200
) -> bytes:
    """Deterministic synthetic video payload: n_frames raw grayscale
    frames, pixel = f(media_id, global byte offset) — same arithmetic
    family as the image path so a decode-loop byte flip is detectable."""
    head = _VIDEO_MAGIC + struct.pack("<IIII", width, height, n_frames, fps_x100)
    n = width * height * n_frames
    px = bytearray(n)
    for i in range(n):
        px[i] = (media_id * 31 + i * 7) & 0xFF
    return head + bytes(px)


def sniff_video_meta(data: bytes | None) -> dict:
    """Header-only metadata — never touches frame bytes. fps is carried as
    an integer fps_x100 and duration as integer ms so every downstream
    comparison is float-free."""
    if not data or len(data) < 20 or data[:4] != _VIDEO_MAGIC:
        return {
            "fmt": None,
            "width": None,
            "height": None,
            "n_frames": None,
            "fps_x100": None,
            "duration_ms": None,
            "n_bytes": len(data) if data else 0,
            "parse_ok": False,
        }
    w, h, nf, fps = struct.unpack("<IIII", data[4:20])
    return {
        "fmt": "fvix",
        "width": w,
        "height": h,
        "n_frames": nf,
        "fps_x100": fps,
        "duration_ms": (nf * 100000) // fps if fps else None,
        "n_bytes": len(data),
        "parse_ok": True,
    }


def decode_video_fake(data: bytes) -> tuple[int, int, int, int, bytes]:
    meta = sniff_video_meta(data)
    if not meta["parse_ok"]:
        raise ValueError("not an FVIX payload")
    w, h, nf = meta["width"], meta["height"], meta["n_frames"]
    if len(data) < 20 + w * h * nf:
        # header promises more pixels than the payload carries — a
        # truncated capture must fail the record, not return short
        # buffers whose frame sums would silently read as zeros
        raise ValueError("truncated FVIX payload")
    return w, h, nf, meta["fps_x100"], data[20 : 20 + w * h * nf]


def sample_frame_indices(n_frames: int, k: int) -> list[int]:
    """Evenly spaced distinct frame indices (the standard every-Nth
    sampling a training pipeline runs instead of decoding all frames)."""
    if n_frames <= 0:
        return []
    kk = min(k, n_frames)
    return sorted({(j * n_frames) // kk for j in range(kk)})


def video_meta_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = []
        for mid, data in zip(pdf["media_id"], pdf["payload"]):
            rec = sniff_video_meta(data)
            rec["media_id"] = int(mid)
            rows.append(rec)
        yield pd.DataFrame(
            rows,
            columns=[
                "media_id", "fmt", "width", "height", "n_frames",
                "fps_x100", "duration_ms", "n_bytes", "parse_ok",
            ],
        )


def video_frame_batches(k: int):
    """mapInPandas body factory: decode (fake) + sample k frames per video
    → one row per sampled frame with its INTEGER luminance sum (float-free
    so the DuckDB twin can recompute it from the generator arithmetic —
    agreement proves the encode→binary→decode→sample loop byte-exact)."""

    def body(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, data in zip(pdf["media_id"], pdf["payload"]):
                mid = int(mid)
                try:
                    w, h, nf, fps, px = decode_video_fake(data)
                except Exception:
                    rows.append(
                        {
                            "media_id": mid,
                            "frame_idx": None,
                            "ts_ms": None,
                            "sum_lum": None,
                            "status": "failed",
                        }
                    )
                    continue
                fsz = w * h
                for idx in sample_frame_indices(nf, k):
                    frame = px[idx * fsz : (idx + 1) * fsz]
                    rows.append(
                        {
                            "media_id": mid,
                            "frame_idx": idx,
                            "ts_ms": (idx * 100000) // fps if fps else None,
                            "sum_lum": sum(frame),
                            "status": "ok",
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "frame_idx", "ts_ms", "sum_lum", "status"],
            )

    return body


def generate_video(spark, n: int, partitions: int = 8):
    """Distributed synthetic video table; every 17th payload corrupt."""

    def gen(batches):
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                if i % 17 == 0:
                    rows.append({"media_id": i, "payload": b"\x00garbage"})
                else:
                    rows.append(
                        {
                            "media_id": i,
                            "payload": encode_fake_video(
                                i,
                                8 + i % 5,
                                6 + i % 4,
                                4 + i % 9,
                                800 + 100 * (i % 5),
                            ),
                        }
                    )
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    return spark.range(0, n, numPartitions=partitions).mapInPandas(
        gen, schema="media_id long, payload binary"
    )


def video_meta(media_df):
    return media_df.select("media_id", "payload").mapInPandas(
        video_meta_batches, schema=VIDEO_META_DDL
    )


def video_frames(media_df, k: int = 4):
    return media_df.select("media_id", "payload").mapInPandas(
        video_frame_batches(k), schema=VIDEO_FRAMES_DDL
    )
