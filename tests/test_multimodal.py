"""Multimodal binary-column plumbing: synthesis, decode stubs, feature
extraction, resize, frame sampling — schemas and batch shapes are real,
codecs are deterministic fakes (no image/audio libs in the container)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from ddsketch_spark.operators.multimodal import (
    arith_pixels, decode_image, extract_features, fake_decode_image,
    fake_decode_video, fake_encode_image, resize_images, sample_frames,
    synthesize_media_arith,
)


def _fake_image(width, height, seed):
    return fake_encode_image(arith_pixels(width * height, seed)
                             .reshape(height, width))


def test_decode_image_dispatch_and_codec_gate():
    """decode_image dispatches by magic: FAKEIMG1 decodes via the
    synthetic parser; a container needing a real codec library (PNG, no
    Pillow in this sandbox) raises at the documented integration point."""
    payload = _fake_image(4, 4, 1)
    assert np.array_equal(decode_image(payload), fake_decode_image(payload))
    with pytest.raises(NotImplementedError, match="codec"):
        decode_image(b"\x89PNG\r\n\x1a\n" + b"\x00" * 32)


def test_bmp_gray8_roundtrip_byte_for_byte():
    """A GENUINE 8-bit grayscale BMP (standard on-disk layout: file
    header, BITMAPINFOHEADER, 256-entry palette, padded bottom-up rows)
    round-trips through the stdlib struct decoder pixel-exact — including
    a width that forces row padding (w=5 -> stride 8)."""
    from ddsketch_spark.operators.multimodal import encode_bmp_gray8

    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (7, 5), dtype=np.uint8)
    raw = encode_bmp_gray8(img)
    assert raw[:2] == b"BM"
    # header fields are the real BMP layout, byte-for-byte
    import struct as st
    offset = st.unpack_from("<I", raw, 10)[0]
    assert offset == 14 + 40 + 256 * 4
    hdr_size, w, h, planes, bpp = st.unpack_from("<IiiHH", raw, 14)
    assert (hdr_size, w, h, planes, bpp) == (40, 5, 7, 1, 8)
    assert np.array_equal(decode_image(raw), img)


def test_bmp_24bit_and_topdown_decode():
    """24-bit BGR BMP built independently of our encoder (hand-packed in
    the test), both bottom-up and top-down row orders."""
    import struct as st

    rng = np.random.default_rng(4)
    img = rng.integers(0, 256, (3, 2, 3), dtype=np.uint8)  # h=3, w=2, RGB
    stride = (2 * 3 + 3) & ~3                              # 8 bytes
    for top_down in (False, True):
        rows = img if top_down else img[::-1]
        # BGR triples with per-row padding to a 4-byte stride
        px = b"".join(
            b"".join(bytes(rows[r, c, ::-1]) for c in range(2)).ljust(
                stride, b"\x00")
            for r in range(3))
        hdr = st.pack("<2sIHHI", b"BM", 14 + 40 + len(px), 0, 0, 14 + 40)
        info = st.pack("<IiiHHIIiiII", 40, 2, -3 if top_down else 3, 1, 24,
                       0, len(px), 0, 0, 0, 0)
        assert np.array_equal(decode_image(hdr + info + px), img)


def test_wav_pcm16_roundtrip():
    """A genuine RIFF/WAVE PCM-16 container written by the stdlib wave
    module decodes sample-exact with the right rate."""
    import io
    import wave

    from ddsketch_spark.operators.multimodal import decode_audio

    rng = np.random.default_rng(5)
    samples = rng.integers(-3000, 3000, 480, dtype=np.int16)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(16000)
        wf.writeframes(samples.tobytes())
    rate, got = decode_audio(buf.getvalue())
    assert rate == 16000
    assert np.array_equal(got, samples)


def test_extract_features_on_real_containers(spark):
    """Genuine BMP and WAV payloads flow through the SAME mapInPandas
    feature pipeline as the synthetic containers — the real-format decode
    running distributed, not just in a unit test."""
    import io
    import wave

    import pandas as pd

    from ddsketch_spark.operators.multimodal import encode_bmp_gray8

    img = np.arange(64, dtype=np.uint8).reshape(8, 8)
    bmp = encode_bmp_gray8(img)
    samples = np.arange(-400, 400, dtype=np.int16)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(8000)
        wf.writeframes(samples.tobytes())
    wav = buf.getvalue()
    df = spark.createDataFrame(pd.DataFrame({
        "media_id": [1, 2], "kind": ["image", "audio"],
        "payload": [bmp, wav]}))
    out = {r["media_id"]: r for r in extract_features(df).collect()}
    # feature = 8 chunk means of the decoded elements
    assert out[1]["n_bytes"] == len(bmp)
    np.testing.assert_allclose(
        out[1]["feature"],
        [c.mean() for c in np.array_split(img.astype(float).ravel(), 8)])
    np.testing.assert_allclose(
        out[2]["feature"],
        [c.mean() for c in np.array_split(samples.astype(float), 8)])


def test_fake_image_roundtrip():
    img = fake_decode_image(_fake_image(10, 6, 7))
    assert img.shape == (6, 10) and img.dtype == np.uint8
    assert np.array_equal(img, fake_decode_image(_fake_image(10, 6, 7)))


def test_synthesize_media_deterministic(spark):
    a = synthesize_media_arith(spark, 30).orderBy("media_id").toPandas()
    b = synthesize_media_arith(spark, 30).orderBy("media_id").toPandas()
    assert list(a["kind"]) == list(b["kind"])
    assert all(bytes(x) == bytes(y) for x, y in zip(a["payload"], b["payload"]))
    assert set(a["kind"]) == {"image", "audio", "video"}


def test_extract_features_all_modalities(spark):
    media = synthesize_media_arith(spark, 30)
    feats = extract_features(media).toPandas()
    assert len(feats) == 30
    assert all(len(f) == 8 for f in feats["feature"])
    # image features are byte means in [0, 255]
    img = feats[feats["kind"] == "image"]
    assert all(0 <= v <= 255 for f in img["feature"] for v in f)


def test_resize_images(spark):
    media = synthesize_media_arith(spark, 30)
    small = resize_images(media, 8, 8).toPandas()
    assert (small["meta_width"] == 8).all() and (small["meta_height"] == 8).all()
    for _, row in small.iterrows():
        img = fake_decode_image(bytes(row["payload"]))
        assert img.shape == (8, 8)


def test_sample_frames(spark):
    media = synthesize_media_arith(spark, 30)
    frames = sample_frames(media, every=2).toPandas()
    vids = media.where(F.col("kind") == "video").toPandas()
    want = sum((fake_decode_video(bytes(p)).shape[0] + 1) // 2
               for p in vids["payload"])
    assert len(frames) == want
    assert (frames["frame_idx"] % 2 == 0).all()


def test_arith_media_decode_roundtrip(spark):
    """The arithmetic synthesizer's payloads decode to exactly the integer
    sequence the DuckDB oracle re-derives (multimodal_stats_sql)."""
    import numpy as np

    from ddsketch_spark.operators.multimodal import (
        ARITH_MUL, fake_decode_audio, fake_decode_image, fake_decode_video,
        synthesize_media_arith,
    )

    rows = synthesize_media_arith(spark, 12, seed=7).orderBy("media_id").collect()
    assert [r["kind"] for r in rows[:3]] == ["image", "audio", "video"]
    for r in rows:
        i = r["media_id"]
        s = 7 * 1_000_003 + i
        if r["kind"] == "image":
            a = fake_decode_image(bytes(r["payload"])).ravel().astype(np.int64)
            want = (s + (np.arange(a.size) + 1) * ARITH_MUL) % 256
        elif r["kind"] == "audio":
            a = fake_decode_audio(bytes(r["payload"]))[1].astype(np.int64)
            want = ((s + (np.arange(a.size) + 1) * ARITH_MUL) % 4001) - 2000
        else:
            a = fake_decode_video(bytes(r["payload"])).ravel().astype(np.int64)
            want = (s + (np.arange(a.size) + 1) * ARITH_MUL) % 256
        assert a.size % 8 == 0  # equal 8-way chunks for extract_features
        assert (a == want).all()
