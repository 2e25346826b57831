"""Multimodal plumbing: feature extraction, frame sampling —
schemas, batch shapes and determinism (kernels stubbed by design)."""

from __future__ import annotations

import pytest

from waddleml_spark.llmops import multimodal
from waddleml_spark.session import read_table
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def media(spark):
    return multimodal.docs_as_media(read_table(spark, SF_SMOKE, "documents")).cache()


def test_extract_features_schema_and_determinism(spark, media):
    out = multimodal.extract_features(media)
    rows = {r.media_id: r for r in out.collect()}
    assert len(rows) == 500
    r0 = rows[0]
    # text bytes are no known media format -> digest stub fallback
    assert r0.decoder == "stub"
    assert r0.feat_dim == 8 and 0.0 <= r0.feat_mean <= 1.0
    assert len(r0.payload_sha) == 64
    # deterministic across runs
    again = {r.media_id: r.payload_sha for r in multimodal.extract_features(media).collect()}
    assert again[0] == r0.payload_sha


def _ppm_bytes(arr):
    import numpy as np

    h, w, _ = arr.shape
    return f"P6\n{w} {h}\n255\n".encode() + np.ascontiguousarray(arr).tobytes()


def _bmp_bytes(arr):
    """Minimal 24-bit BI_RGB BMP writer (bottom-up, padded rows)."""
    import struct

    import numpy as np

    h, w, _ = arr.shape
    stride = (w * 3 + 3) & ~3
    raster = b""
    for row in arr[::-1]:  # bottom-up
        line = np.ascontiguousarray(row[:, ::-1]).tobytes()  # RGB->BGR
        raster += line + b"\x00" * (stride - len(line))
    off = 14 + 40
    return (
        b"BM" + struct.pack("<IHHI", off + len(raster), 0, 0, off)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(raster), 0, 0, 0, 0)
        + raster
    )


def _wav_bytes(samples, rate=8000):
    import struct

    import numpy as np

    data = np.asarray(samples, dtype="<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt \
        + b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_real_decoders_match_numpy():
    import numpy as np

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(5, 3, 3), dtype=np.uint8)
    # PPM round-trip is exact
    assert (multimodal.decode_ppm(_ppm_bytes(img)) == img).all()
    # BMP round-trip (padded, bottom-up, BGR) is exact
    assert (multimodal.decode_bmp(_bmp_bytes(img)) == img).all()
    # WAV PCM16 round-trip
    samples = (np.sin(np.linspace(0, 20, 64)) * 20000).astype(np.int16)
    rate, ch, got = multimodal.decode_wav(_wav_bytes(samples))
    assert rate == 8000 and ch == 1 and (got == samples).all()
    # dispatcher: real stats equal numpy's
    dec, feats, w, h = multimodal.decode_media(_ppm_bytes(img))
    assert dec == "ppm" and (w, h) == (3, 5)
    px = img.astype(np.float64)
    assert feats[0] == px[:, :, 0].mean() / 255.0
    assert feats[3] == px.std() / 255.0
    dec, feats, _, _ = multimodal.decode_media(_wav_bytes(samples))
    x = samples.astype(np.float64) / 32768.0
    assert dec == "wav" and feats[1] == np.sqrt((x * x).mean())


def test_extract_features_decodes_real_media(spark):
    import numpy as np

    img = np.arange(4 * 2 * 3, dtype=np.uint8).reshape(4, 2, 3)
    samples = np.array([0, 1000, -1000, 32000], dtype=np.int16)
    rows = [
        (1, "image", "image/x-portable-pixmap", bytearray(_ppm_bytes(img)), None),
        (2, "image", "image/bmp", bytearray(_bmp_bytes(img)), None),
        (3, "audio", "audio/wav", bytearray(_wav_bytes(samples)), None),
        (4, "image", "image/png", bytearray(b"\x89PNG\r\n\x1a\nrest"), None),
        (5, "image", "text/plain", bytearray(b"just words"), None),
    ]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    got = {r.media_id: r for r in multimodal.extract_features(media).collect()}
    assert got[1].decoder == "ppm" and (got[1].width, got[1].height) == (2, 4)
    assert got[2].decoder == "bmp" and got[2].feat_mean == got[1].feat_mean
    assert got[3].decoder == "wav" and got[3].feat_dim == 3
    # compressed codec: honest per-row gate, job survives
    assert got[4].decoder == "unsupported" and got[4].feat_mean is None
    assert got[5].decoder == "stub" and got[5].feat_dim == 8
    px = img.astype(np.float64)
    expect = (px[:, :, 0].mean() / 255 + px[:, :, 1].mean() / 255
              + px[:, :, 2].mean() / 255 + px.std() / 255) / 4
    assert abs(got[1].feat_mean - expect) < 1e-12


def test_payload_stats_metadata_only(spark, media):
    row = multimodal.payload_stats(media).head()
    assert row.modality == "image" and row.n == 500
    assert row.min_bytes > 0 and row.total_bytes >= row.n * row.min_bytes


def test_frame_neardup_pairs_finds_shared_prefix(spark):
    from waddleml_spark.llmops.multimodal import chunk_fingerprints, frame_neardup_pairs

    base = bytes(range(256))  # 8 aligned 32-byte chunks
    rows = [
        (1, base),
        (2, base + b"tail-edit-only"),        # shares all 8 chunks with 1
        (3, bytes(reversed(base))),           # different content entirely
    ]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    pairs = {(r.id_a, r.id_b): r.shared_chunks for r in frame_neardup_pairs(media).collect()}
    assert pairs == {(1, 2): 8}
    fps = chunk_fingerprints(media).filter("media_id = 1").collect()
    assert len(fps) == 8 and len({r.chunk_sha for r in fps}) == 8


def test_ahash_kernel_properties():
    import numpy as np

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(32, 32, 3), dtype=np.uint8)
    h1 = multimodal.ahash_kernel(img)
    assert -(1 << 63) <= h1 < (1 << 63)
    # small perturbation -> small hamming distance
    near = img.copy()
    near[0, 0] = 255 - near[0, 0]
    h2 = multimodal.ahash_kernel(near)
    assert bin((h1 ^ h2) & ((1 << 64) - 1)).count("1") <= 4
    # structurally different image -> far
    far = multimodal.ahash_kernel(img[::-1, ::-1].copy())
    assert bin((h1 ^ far) & ((1 << 64) - 1)).count("1") > 10
    # non-divisible dims still hash deterministically
    odd = rng.integers(0, 256, size=(13, 9, 3), dtype=np.uint8)
    assert multimodal.ahash_kernel(odd) == multimodal.ahash_kernel(odd.copy())


def test_image_phash_and_neardup_pairs(spark):
    import numpy as np

    rng = np.random.default_rng(11)
    base = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
    near = base.copy()
    near[3, 3] = 0  # one-pixel edit: a near dup
    other = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
    rows = [
        (1, "image", "image/x-portable-pixmap", bytearray(_ppm_bytes(base)), None),
        (2, "image", "image/bmp", bytearray(_bmp_bytes(near)), None),
        (3, "image", "image/x-portable-pixmap", bytearray(_ppm_bytes(other)), None),
        (4, "text", "text/plain", bytearray(b"not an image"), None),
    ]
    media = spark.createDataFrame(
        rows, "media_id long, modality string, mime string, payload binary, meta string"
    )
    ph = multimodal.image_phash(media)
    got = {r.media_id: r for r in ph.collect()}
    assert got[1].decoder == "ppm" and got[2].decoder == "bmp"
    assert got[4].decoder == "unsupported" and got[4].phash is None
    # decoders agree: the same pixels hash identically through PPM or BMP
    assert multimodal.ahash_kernel(base) == got[1].phash
    pairs = multimodal.phash_neardup_pairs(ph, max_dist=10).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(1, 2)]
    assert pairs[0].hamming <= 10


def test_phash_band_bits_guard(spark):
    ph = spark.createDataFrame(
        [(1, "ppm", 5)], "media_id long, decoder string, phash long"
    )
    with pytest.raises(ValueError, match="band_bits"):
        multimodal.phash_neardup_pairs(ph, band_bits=12)


def test_audio_fingerprint_and_pairs(spark):
    import numpy as np

    t = np.arange(8000)
    tone = (3000 * np.sin(2 * np.pi * 440 * t / 8000)).astype("<i2")
    # near dup: same tone with light noise; far: different frequency mix
    noisy = (tone + np.random.default_rng(3).integers(-80, 80, tone.size)).astype("<i2")
    other = (3000 * np.sin(2 * np.pi * 1790 * t / 8000)
             + 1500 * np.sin(2 * np.pi * 95 * t / 8000)).astype("<i2")
    k = multimodal.audio_fingerprint_kernel
    d_near = bin((k(tone) ^ k(noisy)) & ((1 << 64) - 1)).count("1")
    d_far = bin((k(tone) ^ k(other)) & ((1 << 64) - 1)).count("1")
    assert d_near <= 6 < d_far
    rows = [
        (1, "audio", "audio/wav", bytearray(_wav_bytes(tone)), None),
        (2, "audio", "audio/wav", bytearray(_wav_bytes(noisy)), None),
        (3, "audio", "audio/wav", bytearray(_wav_bytes(other)), None),
        (4, "text", "text/plain", bytearray(b"RIFFnot really a wav"), None),
    ]
    media = spark.createDataFrame(
        rows, "media_id long, modality string, mime string, payload binary, meta string"
    )
    fp = multimodal.audio_fingerprint(media)
    got = {r.media_id: r for r in fp.collect()}
    assert got[1].decoder == "wav" and got[1].phash == k(tone)
    assert got[4].decoder == "unsupported" and got[4].phash is None
    pairs = multimodal.phash_neardup_pairs(fp, max_dist=6).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(1, 2)]


def test_malformed_payloads_degrade_rows_not_stage(spark):
    # truncated BMP/WAV headers raise struct.error (not ValueError):
    # the per-row guard must swallow ANY decode failure — contract is
    # one bad payload never kills the stage
    rows = [
        (1, "image", "image/bmp", bytearray(b"BM\x01\x02"), None),       # short BMP
        (2, "audio", "audio/wav", bytearray(b"RIFF\x04\x00\x00\x00WAVE"), None),
        (3, "image", "image/x-portable-pixmap", bytearray(b"P6\n9 9\n255\nxx"), None),
    ]
    media = spark.createDataFrame(
        rows, "media_id long, modality string, mime string, payload binary, meta string"
    )
    feats = {r.media_id: r for r in multimodal.extract_features(media).collect()}
    assert all(feats[i].decoder == "unsupported" for i in (1, 2, 3))
    ph = {r.media_id: r for r in multimodal.image_phash(media).collect()}
    assert all(ph[i].phash is None for i in (1, 3))
    fp = {r.media_id: r for r in multimodal.audio_fingerprint(media).collect()}
    assert fp[2].phash is None and fp[2].decoder == "unsupported"


def test_frame_neardup_flood_bucket_is_guarded(spark):
    # round-6 review find: 200 identical payloads put 200 ids in every
    # chunk bucket; the unguarded self-join emitted ~max_chunks*N^2/2
    # pair rows.  Buckets over the cap drop on BOTH the flood and each
    # of its chunks; distinct payload pairs still pair
    from waddleml_spark.llmops.multimodal import frame_neardup_pairs

    blob = bytes(range(256)) * 16
    rows = [(i, "video", blob) for i in range(200)]
    # the variant pair shares a prefix DISTINCT from the flood's bytes:
    # a prefix equal to the flood's would land its chunks in the same
    # over-cap buckets and (correctly) drop with them
    vpre = bytes(reversed(range(256))) * 2  # 512 bytes, != blob prefix
    rows += [(500, "video", vpre + b"\x01" * 512),
             (501, "video", vpre + b"\x02" * 512)]
    media = spark.createDataFrame(
        rows, "media_id long, modality string, payload binary"
    )
    got = frame_neardup_pairs(media).collect()
    flood = [r for r in got if r.id_a < 500 and r.id_b < 500]
    assert not flood, "mega-bucket guard failed on the payload flood"
    # the two tail-edited variants share their 16 aligned prefix chunks
    assert any(r.id_a == 500 and r.id_b == 501 for r in got)
    # NULL / empty payloads contribute zero chunks (no phantom sha2(''))
    from waddleml_spark.llmops.multimodal import chunk_fingerprints

    empties = spark.createDataFrame(
        [(1, "video", None), (2, "video", b"")],
        "media_id long, modality string, payload binary",
    )
    assert chunk_fingerprints(empties).count() == 0


def test_hash_kernels_reject_over_64_bit_grids(spark):
    import numpy as np
    import pytest

    from waddleml_spark.llmops.multimodal import (
        ahash_kernel, audio_fingerprint_kernel,
    )

    with pytest.raises(ValueError, match="64 bits"):
        ahash_kernel(np.zeros((16, 16, 3)), side=9)
    with pytest.raises(ValueError, match="64 bits"):
        audio_fingerprint_kernel([0.0] * 64, n_frames=16)
