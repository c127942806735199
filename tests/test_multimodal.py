"""Multimodal binary-column plumbing tests: schema, batch shape, failure
containment and determinism."""

from __future__ import annotations

from pyspark.sql import functions as F

from engine.multimodal import (
    audio_features,
    audio_meta,
    decode_audio_fake,
    decode_image_fake,
    encode_fake_audio,
    encode_fake_image,
    generate_audio,
    generate_media,
    image_features,
    image_meta,
    sniff_audio_meta,
    sniff_image_meta,
)


def test_fake_codec_roundtrip():
    data = encode_fake_image(7, 4, 3)
    w, h, c, px = decode_image_fake(data)
    assert (w, h, c) == (4, 3, 3) and len(px) == 36
    meta = sniff_image_meta(data)
    assert meta["parse_ok"] and meta["fmt"] == "ppmx"
    assert not sniff_image_meta(b"junk")["parse_ok"]


def test_spark_meta_and_features(spark):
    media = generate_media(spark, 200, partitions=4)
    meta = image_meta(media).cache()
    assert meta.count() == 200
    ok = meta.where("parse_ok").count()
    bad = meta.where("NOT parse_ok").count()
    assert bad == len([i for i in range(200) if i % 17 == 0])
    assert ok + bad == 200

    feats = image_features(media).cache()
    okf = feats.where(F.col("status") == "ok")
    assert okf.count() == ok
    # feature vectors: fixed dim, floats in [0,1]
    dims = okf.select(F.size("features").alias("d")).distinct().collect()
    assert [r["d"] for r in dims] == [8]
    bad_vals = okf.where(
        F.exists("features", lambda x: (x < 0) | (x > 1))
    ).count()
    assert bad_vals == 0
    # failed rows carry no features
    assert feats.where(
        (F.col("status") == "failed") & F.col("features").isNotNull()
    ).count() == 0
    meta.unpersist(); feats.unpersist()


def test_features_deterministic(spark):
    norm = lambda rows: {  # noqa: E731
        (r["media_id"], tuple(r["features"] or []), r["status"]) for r in rows
    }
    a = norm(image_features(generate_media(spark, 60)).collect())
    b = norm(image_features(generate_media(spark, 60, partitions=3)).collect())
    assert a == b


def test_features_feed_ann_operator(spark):
    """Plumbing check: multimodal features compose with the cosine top-k."""
    feats = image_features(generate_media(spark, 100)).where(
        F.col("status") == "ok"
    )
    q = feats.limit(1).select(F.col("features").alias("qe"))
    dot = F.aggregate(
        F.zip_with("features", "qe", lambda a, b: a * b), F.lit(0.0),
        lambda acc, x: acc + x.cast("double"),
    )
    top = (
        feats.crossJoin(F.broadcast(q))
        .select("media_id", dot.alias("dot"))
        .orderBy(F.desc("dot"), F.asc("media_id"))
        .limit(5)
        .collect()
    )
    assert len(top) == 5 and all(r["dot"] is not None for r in top)


# ===== audio path: the same pins as the image path =====


def test_audio_fake_codec_roundtrip():
    data = encode_fake_audio(7, 400)
    sr, ch, samples = decode_audio_fake(data)
    assert (sr, ch, len(samples)) == (16000, 1, 400)
    assert all(-32768 <= v <= 32767 for v in samples)
    meta = sniff_audio_meta(data)
    assert meta["parse_ok"] and meta["fmt"] == "pcmx"
    assert meta["duration_ms"] == 400 * 1000 // 16000
    assert not sniff_audio_meta(b"junk")["parse_ok"]


def test_audio_spark_meta_and_features(spark):
    media = generate_audio(spark, 200, partitions=4)
    meta = audio_meta(media).cache()
    assert meta.count() == 200
    ok = meta.where("parse_ok").count()
    bad = meta.where("NOT parse_ok").count()
    assert bad == len([i for i in range(200) if i % 17 == 0])
    assert ok + bad == 200

    feats = audio_features(media).cache()
    okf = feats.where(F.col("status") == "ok")
    assert okf.count() == ok
    dims = okf.select(F.size("features").alias("d")).distinct().collect()
    assert [r["d"] for r in dims] == [8]
    bad_vals = okf.where(
        F.exists("features", lambda x: (x < 0) | (x > 1))
    ).count()
    assert bad_vals == 0
    assert feats.where(
        (F.col("status") == "failed") & F.col("features").isNotNull()
    ).count() == 0
    meta.unpersist(); feats.unpersist()


def test_audio_features_deterministic(spark):
    norm = lambda rows: {  # noqa: E731
        (r["media_id"], tuple(r["features"] or []), r["status"]) for r in rows
    }
    a = norm(audio_features(generate_audio(spark, 60)).collect())
    b = norm(audio_features(generate_audio(spark, 60, partitions=3)).collect())
    assert a == b


def test_registered_multimodal_queries_deterministic(spark):
    """The driver-visible rows-only entries must be run-to-run stable —
    they are what CORRECTNESS hashes."""
    from engine.queries import _QUERIES

    for name in ("multimodal_image_topk", "multimodal_audio_loudest"):
        a = [tuple(r) for r in _QUERIES[name](spark, "unused").collect()]
        b = [tuple(r) for r in _QUERIES[name](spark, "unused").collect()]
        assert a == b and len(a) == 10, name


def test_image_topk_sims_are_feature_cosines(spark):
    """multimodal_image_topk returns the 10 media whose pooled features
    have the highest cosine against media 1's, with those cosines as its
    sims: recomputed here in numpy from the payloads (float32 features,
    as the Spark column stores them), rounded to 4 decimals."""
    import numpy as np

    from engine.multimodal import _pool_features, generate_media
    from engine.queries import N_MULTIMODAL_MEDIA, _QUERIES

    feats = {}
    for r in generate_media(spark, N_MULTIMODAL_MEDIA).collect():
        try:
            f = _pool_features(r["payload"])
        except Exception:
            continue  # a corrupt payload has no features
        feats[r["media_id"]] = np.asarray(f, dtype=np.float32).astype(np.float64)
    q = feats[1]
    sims = sorted(
        (-round(float(v @ q / (np.sqrt(v @ v) * np.sqrt(q @ q))), 4), m)
        for m, v in feats.items() if m != 1
    )
    want = [(m, -s) for s, m in sims[:10]]
    rows = _QUERIES["multimodal_image_topk"](spark, "unused").collect()
    assert [(r["media_id"], r["sim"]) for r in rows] == want


# ----------------------------------------------------------------- video
def test_video_codec_roundtrip_and_sampling():
    from engine.multimodal import (
        decode_video_fake,
        encode_fake_video,
        sample_frame_indices,
        sniff_video_meta,
    )

    b = encode_fake_video(5, 8, 6, 7, 1200)
    meta = sniff_video_meta(b)
    assert (meta["width"], meta["height"], meta["n_frames"]) == (8, 6, 7)
    assert meta["duration_ms"] == 7 * 100000 // 1200
    w, h, nf, fps, px = decode_video_fake(b)
    assert len(px) == w * h * nf
    # sampling: evenly spaced distinct; short videos yield ALL frames
    assert sample_frame_indices(7, 4) == [0, 1, 3, 5]
    assert sample_frame_indices(2, 4) == [0, 1]
    assert sample_frame_indices(0, 4) == []
    assert sniff_video_meta(b"\x00garbage")["parse_ok"] is False


def test_video_frames_spark_path(spark):
    """Frame sampling through the real mapInPandas crossing: ok rows for
    every parseable video (all frames when n_frames < k), one failed row
    per corrupt payload, and per-frame sums match a local decode."""
    from engine.multimodal import (
        decode_video_fake,
        generate_video,
        sample_frame_indices,
        video_frames,
    )

    media = generate_video(spark, 60, partitions=4)
    rows = video_frames(media, k=4).collect()
    failed = {r["media_id"] for r in rows if r["status"] == "failed"}
    assert failed == {i for i in range(60) if i % 17 == 0}
    by_media = {}
    for r in rows:
        if r["status"] == "ok":
            by_media.setdefault(r["media_id"], []).append(r)
    payloads = {r["media_id"]: bytes(r["payload"]) for r in media.collect()}
    for mid, frames in by_media.items():
        w, h, nf, fps, px = decode_video_fake(payloads[mid])
        assert sorted(f["frame_idx"] for f in frames) == sample_frame_indices(nf, 4)
        for f in frames:
            seg = px[f["frame_idx"] * w * h : (f["frame_idx"] + 1) * w * h]
            assert f["sum_lum"] == sum(seg)
            assert f["ts_ms"] == (f["frame_idx"] * 100000) // fps


def test_video_truncated_payload_fails_not_zero_frames():
    """Review finding: a payload with a valid header but short pixel
    section returned short buffers whose frame sums silently read as
    zeros — it must fail the record instead."""
    import pytest as _pt

    from engine.multimodal import decode_video_fake, encode_fake_video

    full = encode_fake_video(1, 8, 6, 7)
    with _pt.raises(ValueError, match="truncated"):
        decode_video_fake(full[:40])
    # and through the Spark frame sampler: one failed row, no fake 'ok's
    import pandas as pd

    from engine.multimodal import video_frame_batches

    out = pd.concat(
        video_frame_batches(4)(
            iter([pd.DataFrame({"media_id": [1], "payload": [full[:40]]})])
        )
    )
    assert list(out["status"]) == ["failed"]


# -------------------------------------------------------------- properties
from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=50, deadline=None)
@given(
    st.integers(0, 2**31 - 1),
    st.integers(1, 24),
    st.integers(1, 16),
    st.integers(1, 12),
    st.integers(1, 6000),
)
def test_property_codecs_roundtrip(mid, w, h, nf, fps):
    """Every (media_id, dims, frames, rate) round-trips through all three
    fake codecs: sniffed meta equals the encode parameters and the decoded
    payload length matches the header's promise."""
    from engine.multimodal import (
        decode_audio_fake,
        decode_image_fake,
        decode_video_fake,
        encode_fake_audio,
        encode_fake_image,
        encode_fake_video,
        sniff_audio_meta,
        sniff_image_meta,
        sniff_video_meta,
    )

    img = encode_fake_image(mid, w, h)
    m = sniff_image_meta(img)
    assert (m["width"], m["height"], m["parse_ok"]) == (w, h, True)
    assert len(decode_image_fake(img)[3]) == w * h * 3

    n_samples = w * h  # reuse as a sample count
    aud = encode_fake_audio(mid, n_samples)
    m = sniff_audio_meta(aud)
    assert (m["n_samples"], m["parse_ok"]) == (n_samples, True)
    assert len(decode_audio_fake(aud)[2]) == n_samples

    vid = encode_fake_video(mid, w, h, nf, fps)
    m = sniff_video_meta(vid)
    assert (m["width"], m["height"], m["n_frames"], m["fps_x100"]) == (
        w, h, nf, fps,
    )
    assert m["duration_ms"] == (nf * 100000) // fps
    assert len(decode_video_fake(vid)[4]) == w * h * nf


@settings(max_examples=60, deadline=None)
@given(st.binary(max_size=64))
def test_property_sniffers_never_raise_on_garbage(blob):
    """Arbitrary bytes: sniffers classify, never raise; decoders raise
    ValueError (the per-row containment boundary), never anything else."""
    from engine.multimodal import (
        decode_audio_fake,
        decode_image_fake,
        decode_video_fake,
        sniff_audio_meta,
        sniff_image_meta,
        sniff_video_meta,
    )

    for sniff, decode in (
        (sniff_image_meta, decode_image_fake),
        (sniff_audio_meta, decode_audio_fake),
        (sniff_video_meta, decode_video_fake),
    ):
        meta = sniff(blob)
        assert meta["n_bytes"] == len(blob)
        if not meta["parse_ok"]:
            try:
                decode(blob)
                raise AssertionError("decode accepted unparseable payload")
            except ValueError:
                pass


def test_image_truncated_payload_fails():
    """Review finding: the image codec had the same silent-short-buffer
    bug fixed for video — a valid header with a short pixel section must
    fail the record, and the Spark feature path must emit 'failed'."""
    import pandas as pd
    import pytest as _pt

    from engine.multimodal import (
        decode_image_fake,
        encode_fake_image,
        image_feature_batches,
    )

    full = encode_fake_image(3, 8, 6)
    with _pt.raises(ValueError, match="truncated"):
        decode_image_fake(full[:40])
    out = pd.concat(
        image_feature_batches(
            iter([pd.DataFrame({"media_id": [3], "payload": [full[:40]]})])
        )
    )
    assert list(out["status"]) == ["failed"]
