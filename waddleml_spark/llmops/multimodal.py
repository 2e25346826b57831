"""Multimodal columns: opaque binary payloads + typed metadata
(SURVEY.md §2.12; the reference's BLOB inline_bytes is the seed —
waddle/_schema.py:70).

Design: image/audio/video travel as `binary` columns with a metadata
struct (modality, mime, width/height/duration...).  Decode runs as
Arrow-batched functions over mapInPandas so each partition processes a
columnar batch.

Decode kernels: UNCOMPRESSED formats decode for real, numpy-only —
PPM P6 (decode_ppm), BMP 24-bit BI_RGB (decode_bmp), WAV PCM16
(decode_wav) — dispatched by magic bytes in decode_media, producing
real pixel/sample statistics.  Compressed codecs (JPEG/PNG/GIF/media
containers) stay honestly gated: their magics raise NotImplementedError
(install PIL/libav in a real deployment), which extract_features maps
to a per-row decoder='unsupported' marker instead of failing the job.
Unknown payloads fall back to `decode_stub`'s deterministic fake so
text-as-bytes fixtures still exercise the plumbing.

At 100 TB: payloads dominate bytes; always project metadata-only unless
the stage genuinely needs bytes (column pruning keeps payload IO zero
for metadata queries), and repartition by size class before decode so
batches are uniform.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("modality", T.StringType(), False),  # image|audio|video
        T.StructField("mime", T.StringType(), True),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("meta", T.StringType(), True),  # JSON sidecar
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("modality", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("payload_sha", T.StringType(), True),
        T.StructField("decoder", T.StringType(), True),  # ppm|bmp|wav|stub|unsupported
        T.StructField("width", T.IntegerType(), True),   # images; null otherwise
        T.StructField("height", T.IntegerType(), True),
        T.StructField("feat_mean", T.DoubleType(), True),
        T.StructField("feat_dim", T.IntegerType(), True),
    ]
)


def docs_as_media(documents: DataFrame) -> DataFrame:
    """Adapter: treat document text bytes as fake media payloads so the
    binary plumbing is exercised with the driver fixtures."""
    return documents.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("modality"),
        F.lit("application/octet-stream").alias("mime"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.to_json(F.struct(F.col("lang"), F.col("source"))).alias("meta"),
    )


def docs_as_ppm_media(documents: DataFrame) -> DataFrame:
    """Adapter: build REAL binary-PPM (P6) payloads from document text —
    an 8×8 header + the first 8*8*3 bytes of the (repeated) UTF-8 text as
    the RGB raster.  Entirely JVM-side (concat/repeat/substring on
    binary), so the decode path downstream (decode_ppm in
    extract_features) computes genuine pixel statistics on driver
    fixtures without any codec library."""
    side = 8
    need = side * side * 3
    header = f"P6\n{side} {side}\n255\n"
    # repeat the text until its UTF-8 encoding covers the raster
    # (chars are ≥1 byte, so `need` chars always suffice); empty text
    # falls back to a 1-char filler
    txt = F.coalesce(F.nullif(F.col("text"), F.lit("")), F.lit("x"))
    reps = (F.lit(need) / F.greatest(F.length(txt), F.lit(1))).cast("int") + 2
    raster = F.substring(F.encode(F.repeat(txt, reps), "UTF-8"), 1, need)
    return documents.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("modality"),
        F.lit("image/x-portable-pixmap").alias("mime"),
        F.concat(F.encode(F.lit(header), "UTF-8"), raster).alias("payload"),
        F.to_json(F.struct(F.col("lang"), F.col("source"))).alias("meta"),
    )


def docs_as_wav_media(documents: DataFrame) -> DataFrame:
    """Adapter: build REAL PCM16 WAV payloads from document text — a
    constant RIFF/fmt/data header (fixed 2048-sample count → fixed sizes,
    precomputed driver-side) + the first 2048*2 bytes of the
    repeated UTF-8 text as the little-endian sample stream.  JVM-side
    binary concat, so audio_fingerprint downstream runs the genuine
    FFT kernel on driver fixtures with no codec library."""
    import struct

    need = 2048 * 2
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    header = (
        b"RIFF" + struct.pack("<I", 36 + need) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", need)
    )
    txt = F.coalesce(F.nullif(F.col("text"), F.lit("")), F.lit("x"))
    reps = (F.lit(need) / F.greatest(F.length(txt), F.lit(1))).cast("int") + 2
    samples = F.substring(F.encode(F.repeat(txt, reps), "UTF-8"), 1, need)
    return documents.select(
        F.col("doc_id").alias("media_id"),
        F.lit("audio").alias("modality"),
        F.lit("audio/wav").alias("mime"),
        F.concat(F.lit(bytearray(header)), samples).alias("payload"),
        F.to_json(F.struct(F.col("lang"), F.col("source"))).alias("meta"),
    )


def decode_stub(payload: bytes) -> list[float]:
    """STUB decode kernel — deterministic fake feature vector.

    Fallback for payloads that are no known media format (e.g. text
    bytes in the driver fixtures): features derive from the payload
    digest (stable across runs) so the plumbing stays testable.
    """
    if payload is None:
        raise NotImplementedError("no payload; real decoder not bundled")
    digest = hashlib.sha256(payload).digest()
    return [b / 255.0 for b in digest[:8]]


# --- real decode kernels (numpy-only, uncompressed formats) -----------------


def decode_ppm(payload: bytes):
    """Decode binary PPM (P6): returns uint8 ndarray of shape (h, w, 3).

    Pure numpy — header is ASCII `P6 <w> <h> <maxval>` with optional
    `#` comments, then a single whitespace byte and the raw RGB raster.
    """
    import numpy as np

    if payload[:2] != b"P6":
        raise ValueError("not a P6 PPM")
    # tokenize header: magic, width, height, maxval (comments skipped)
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":
            while pos < len(payload) and payload[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    pos += 1  # the single whitespace after maxval
    w, h, maxval = fields
    if maxval > 255:
        raise NotImplementedError("16-bit PPM not supported")
    need = w * h * 3
    raster = payload[pos : pos + need]
    if len(raster) < need:
        raise ValueError("truncated PPM raster")
    return np.frombuffer(raster, dtype=np.uint8).reshape(h, w, 3)


def decode_bmp(payload: bytes):
    """Decode uncompressed 24-bit BI_RGB BMP: uint8 ndarray (h, w, 3), RGB.

    Handles the classic BITMAPINFOHEADER layout: 4-byte-aligned rows,
    bottom-up raster (top-down when height < 0), BGR channel order.
    """
    import struct

    import numpy as np

    if payload[:2] != b"BM":
        raise ValueError("not a BMP")
    data_off = struct.unpack_from("<I", payload, 10)[0]
    hdr_size = struct.unpack_from("<I", payload, 14)[0]
    if hdr_size < 40:
        raise NotImplementedError("BITMAPCOREHEADER BMP not supported")
    w, h = struct.unpack_from("<ii", payload, 18)
    planes, bpp = struct.unpack_from("<HH", payload, 26)
    compression = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or compression != 0:
        raise NotImplementedError("only uncompressed 24-bit BI_RGB supported")
    bottom_up = h > 0
    h = abs(h)
    stride = (w * 3 + 3) & ~3
    rows = np.frombuffer(
        payload[data_off : data_off + stride * h], dtype=np.uint8
    ).reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if bottom_up:
        rows = rows[::-1]
    return rows[:, :, ::-1]  # BGR -> RGB


def decode_wav(payload: bytes):
    """Decode WAV PCM16: returns (sample_rate, n_channels, int16 ndarray).

    Walks RIFF chunks (fmt / data, skipping others), little-endian PCM.
    """
    import struct

    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV")
    pos, rate, channels, bits, data = 12, None, None, None, None
    while pos + 8 <= len(payload):
        cid, size = payload[pos : pos + 4], struct.unpack_from("<I", payload, pos + 4)[0]
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt, channels, rate = struct.unpack_from("<HHI", body, 0)
            bits = struct.unpack_from("<H", body, 14)[0]
            if fmt != 1 or bits != 16:
                raise NotImplementedError("only PCM16 WAV supported")
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if rate is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    samples = np.frombuffer(data[: len(data) & ~1], dtype="<i2")
    return rate, channels, samples


_COMPRESSED_MAGICS = (
    b"\xff\xd8\xff",      # JPEG
    b"\x89PNG",           # PNG
    b"GIF8",              # GIF
    b"\x00\x00\x00\x18ftyp",  # MP4 (common box size)
    b"\x1a\x45\xdf\xa3",  # Matroska/WebM
    b"OggS",              # Ogg
)


def decode_media(payload: bytes):
    """Magic-byte dispatch → (decoder, feats, width, height).

    Real statistics for uncompressed formats; NotImplementedError for
    known compressed codecs (the honest gate — drop in PIL/libav);
    digest-stub for anything else (e.g. text bytes).
    Image feats: per-channel means + overall std, /255.
    Audio feats: normalized mean, RMS, zero-crossing rate.
    """
    import numpy as np

    if payload is None:
        raise NotImplementedError("no payload; real decoder not bundled")
    if payload[:2] == b"P6" or payload[:2] == b"BM":
        arr = decode_ppm(payload) if payload[:2] == b"P6" else decode_bmp(payload)
        px = arr.astype(np.float64)
        feats = [
            float(px[:, :, 0].mean()) / 255.0,
            float(px[:, :, 1].mean()) / 255.0,
            float(px[:, :, 2].mean()) / 255.0,
            float(px.std()) / 255.0,
        ]
        return ("ppm" if payload[:2] == b"P6" else "bmp", feats,
                int(arr.shape[1]), int(arr.shape[0]))
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        _rate, _ch, s = decode_wav(payload)
        x = s.astype(np.float64) / 32768.0
        if len(x) == 0:
            feats = [0.0, 0.0, 0.0]
        else:
            feats = [
                float(x.mean()),
                float(np.sqrt((x * x).mean())),
                float((np.signbit(x[1:]) != np.signbit(x[:-1])).mean())
                if len(x) > 1
                else 0.0,
            ]
        return ("wav", feats, None, None)
    for magic in _COMPRESSED_MAGICS:
        if payload[: len(magic)] == magic:
            raise NotImplementedError(
                "compressed codec not bundled (install PIL/libav)"
            )
    return ("stub", decode_stub(payload), None, None)


def extract_features(media: DataFrame) -> DataFrame:
    """mapInPandas feature extraction: per-batch decode → fixed schema.

    Arrow batches in/out; bytes never round-trip through Python row
    objects.  Output is metadata + small features only (payload dropped) —
    the pattern that keeps downstream stages payload-free.  Real decode
    for PPM/BMP/WAV payloads (decode_media); compressed codecs mark the
    ROW decoder='unsupported' rather than failing the job — at corpus
    scale one bad payload must never kill the stage."""
    from waddleml_spark.session import ensure_shipped, fan_out

    ensure_shipped(media.sparkSession)
    # prune BEFORE the fan-out shuffle: mime and the meta JSON sidecar
    # are unused here, and unpruned they cross the repartition and ride
    # every Arrow batch into Python (the siblings all select first)
    media = fan_out(media.select("media_id", "modality", "payload"))

    def batches(it):
        for pdf in it:
            out = {k: [] for k in
                   ("decoder", "width", "height", "feat_mean", "feat_dim")}
            for p in pdf["payload"]:
                try:
                    dec, feats, w, h = decode_media(p)
                # broad by contract: struct.error from truncated headers,
                # IndexError from short buffers — a malformed payload
                # degrades its own row, never the stage
                except Exception:
                    dec, feats, w, h = "unsupported", None, None, None
                out["decoder"].append(dec)
                out["width"].append(w)
                out["height"].append(h)
                out["feat_mean"].append(
                    sum(feats) / len(feats) if feats else None
                )
                out["feat_dim"].append(len(feats) if feats else None)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].values,
                    "modality": pdf["modality"].values,
                    "n_bytes": [len(p) if p is not None else None for p in pdf["payload"]],
                    "payload_sha": [
                        hashlib.sha256(p).hexdigest() if p is not None else None
                        for p in pdf["payload"]
                    ],
                    **out,
                }
            )

    return media.mapInPandas(batches, schema=FEATURE_SCHEMA)


PHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("decoder", T.StringType(), True),
        T.StructField("phash", T.LongType(), True),
    ]
)


def ahash_kernel(img, side: int = 8) -> int:
    """Average-hash of a decoded (h, w, 3) uint8 image: grayscale →
    side×side block means (np.array_split handles non-divisible dims
    deterministically) → threshold at the global mean → row-major bit
    pack into a SIGNED 64-bit int (Spark LongType two's complement).

    The classic perceptual hash: near-identical images (re-encodes,
    small edits, minor crops) land within a few bits of hamming
    distance; the banded join in phash_neardup_pairs turns that into
    a bounded candidate generation, never an all-pairs scan.
    """
    import numpy as np

    if side * side > 64:
        # the hash packs bit (row, col) into ONE long; a bigger grid
        # would overflow past Arrow's LongType OUTSIDE the per-row try
        # and kill the whole stage, not one row
        raise ValueError(f"side*side must be <= 64 bits, got {side * side}")
    if img.shape[0] < side or img.shape[1] < side:
        # sub-grid images would yield empty blocks -> NaN means -> an
        # all-zero hash that collides every tiny image into one
        # hamming-0 family; refuse instead (callers map to NULL)
        raise ValueError(f"image smaller than {side}x{side} hash grid")
    gray = img.astype(np.float32).mean(axis=2)
    blocks = [
        cell
        for row in np.array_split(gray, side, axis=0)
        for cell in np.array_split(row, side, axis=1)
    ]
    means = np.array([b.mean() for b in blocks])
    bits = means > means.mean()
    v = 0
    for i, bit in enumerate(bits):
        if bit:
            v |= 1 << i
    return v - (1 << 64) if v >= (1 << 63) else v


def audio_fingerprint_kernel(samples, n_frames: int = 8) -> int:
    """Spectral fingerprint of PCM16 audio: split into n_frames windows,
    FFT each, sum |spectrum| into 8 log-spaced energy bands, set
    bit (frame, band) when the band's energy beats the frame median —
    a 64-bit hash in the chromaprint/"robust audio hashing" family
    (public design: Haitsma & Kalker 2002).  Re-encodes and small edits
    move few bits; phash_neardup_pairs bands it the same way it bands
    image hashes."""
    import numpy as np

    n_bands = 8
    if n_frames * n_bands > 64:
        # bit (frame, band) packs into ONE long (see ahash_kernel)
        raise ValueError(
            f"n_frames*n_bands must be <= 64 bits, got {n_frames * n_bands}"
        )
    x = np.asarray(samples, dtype=np.float64)
    if x.size < n_frames:  # too short: pad so every frame exists
        x = np.pad(x, (0, n_frames - x.size))
    v = 0
    edges = np.geomspace(1, 2 ** n_bands, n_bands + 1)
    for fi, frame in enumerate(np.array_split(x, n_frames)):
        spec = np.abs(np.fft.rfft(frame))[1:]  # drop DC
        if spec.size < n_bands:
            spec = np.pad(spec, (0, n_bands - spec.size))
        # log-spaced band boundaries over the spectrum length
        idx = np.minimum((edges / edges[-1] * spec.size).astype(int), spec.size)
        energies = np.array(
            [spec[idx[b] : max(idx[b + 1], idx[b] + 1)].sum() for b in range(n_bands)]
        )
        med = np.median(energies)
        for bi, e in enumerate(energies):
            if e > med:
                v |= 1 << (fi * n_bands + bi)
    return v - (1 << 64) if v >= (1 << 63) else v


def audio_fingerprint(media: DataFrame) -> DataFrame:
    """Audio fingerprints over mapInPandas (Arrow batches): WAV payloads
    decode (decode_wav) and hash on the kernel's 8×8 grid; anything else
    gets NULL with decoder='unsupported'.  Output schema matches
    image_phash, so phash_neardup_pairs works on either modality's
    hashes.
    """
    from waddleml_spark.session import ensure_shipped, fan_out

    ensure_shipped(media.sparkSession)
    src = fan_out(media.select("media_id", "payload"))

    def batches(it):
        for pdf in it:
            ids, decs, hashes = [], [], []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                dec, fp = "unsupported", None
                if p is not None and bytes(p[:4]) == b"RIFF":
                    try:
                        _rate, _ch, samples = decode_wav(p)
                        dec, fp = "wav", audio_fingerprint_kernel(samples)
                    except Exception:  # malformed payload -> NULL row, see extract_features
                        dec, fp = "unsupported", None
                ids.append(mid)
                decs.append(dec)
                hashes.append(fp)
            yield pd.DataFrame(
                {"media_id": ids, "decoder": decs, "phash": hashes}
            )

    return src.mapInPandas(batches, schema=PHASH_SCHEMA)


def image_phash(media: DataFrame) -> DataFrame:
    """Perceptual hash (the kernel's 8×8 average hash) per image over
    mapInPandas (Arrow batches; the payload is consumed inside the task
    and never re-shuffled).  Rows whose payload isn't a decodable
    uncompressed image get phash NULL with decoder='unsupported' — one
    bad payload never kills the stage.
    """
    from waddleml_spark.session import ensure_shipped, fan_out

    ensure_shipped(media.sparkSession)
    src = fan_out(media.select("media_id", "payload"))

    def batches(it):
        for pdf in it:
            ids, decs, hashes = [], [], []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                dec, ph = "unsupported", None
                if p is not None:
                    try:
                        if p[:2] == b"P6":
                            dec, ph = "ppm", ahash_kernel(decode_ppm(p))
                        elif p[:2] == b"BM":
                            dec, ph = "bmp", ahash_kernel(decode_bmp(p))
                    except Exception:  # malformed payload -> NULL row, see extract_features
                        dec, ph = "unsupported", None
                ids.append(mid)
                decs.append(dec)
                hashes.append(ph)
            yield pd.DataFrame(
                {"media_id": ids, "decoder": decs, "phash": hashes}
            )

    return src.mapInPandas(batches, schema=PHASH_SCHEMA)


def phash_neardup_pairs(
    phashes: DataFrame,
    max_dist: int = 10,
    band_bits: int = 16,
) -> DataFrame:
    """Image near-dup pairs by banded perceptual hash — the pigeonhole
    banding LSH of SimHash, on pixels instead of tokens: two hashes within `max_dist` bits collide on at least one
    of 64/band_bits bands whenever max_dist < 64/band_bits... for wider
    radii the bands are a high-recall candidate filter, and the exact
    JVM bit_count(xor) verify keeps the result precise.

    Plan shape: explode 64/band_bits (band, value) keys → bucket-GROUP
    (ONE shuffle; a self-join here would re-evaluate the upstream
    Python decode+hash pipeline per plan reference — the old join shape
    ran the mapInPandas decode FOUR times per query) with the
    mega-bucket guard at STAR_CAP (mirrored from the text LSH ops —
    uniform images pile into one bucket otherwise; the guard is a WINDOW
    count over the same (band, bucket) partitioning, so over-cap rows
    drop BEFORE collect_list ever materializes a mega array, and the
    groupBy reuses the window's shuffle) → generator pair expansion
    carrying the hashes → distinct → exact hamming verify.  Only 8-byte
    hashes shuffle; payloads stay where they were decoded, and bucket
    arrays are bounded at STAR_CAP structs.
    """
    from pyspark.sql import Window

    from waddleml_spark.llmops import STAR_CAP
    from waddleml_spark.llmops.dedup import band_rows

    src = phashes.filter(F.col("phash").isNotNull())
    keys = band_rows(
        src.select("media_id", "phash"),
        band_bits,
        sig_col="phash",
        id_col="media_id",
        width=64,
        carry=("phash",),  # ride the explode; hamming verify needs it
    )
    w = Window.partitionBy("band", "bucket")
    bounded = keys.withColumn("__n", F.count("*").over(w)).filter(
        F.col("__n") <= STAR_CAP
    )
    buckets = (
        bounded.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_list(F.struct("id", "phash"))).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    expl = buckets.select("ids", F.posexplode("ids").alias("__i", "a"))
    cand = (
        expl.select(
            "a",
            F.explode(
                F.slice(F.col("ids"), F.col("__i") + 2, F.size("ids"))
            ).alias("b"),
        )
        # a duplicated media_id (re-read snapshot, unioned batches) sits
        # adjacent after array_sort and would pair with itself at
        # hamming 0 — the replaced a.id < b.id join excluded that
        .filter(F.col("a.id") != F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(
                F.col("a.phash").bitwiseXOR(F.col("b.phash"))
            ).alias("hamming"),
        )
        # pair-grain MIN, not distinct: a duplicated id whose two rows
        # carry different phashes would otherwise emit the same pair
        # once per hamming value; min = the nearest-duplicate distance
        .groupBy("id_a", "id_b")
        .agg(F.min("hamming").alias("hamming"))
    )
    return cand.filter(F.col("hamming") <= max_dist)


def payload_stats(media: DataFrame) -> DataFrame:
    """Metadata-only stats — pure expressions, payload column pruned except
    for octet_length which parquet can answer from the binary column
    without decoding: per modality count / total / min / max bytes."""
    return media.groupBy("modality").agg(
        F.count("*").alias("n"),
        F.sum(F.octet_length("payload")).alias("total_bytes"),
        F.min(F.octet_length("payload")).alias("min_bytes"),
        F.max(F.octet_length("payload")).alias("max_bytes"),
    )


def chunk_fingerprints(media: DataFrame) -> DataFrame:
    """Content-defined frame fingerprints: hash each aligned 32-byte
    slice of the payload (up to 64 chunks).  Each fingerprint covers
    only its own bytes, not the whole payload, so payloads sharing
    aligned content (same video with trailing edits, re-muxed streams,
    doc re-encodes) share fingerprints.  All JVM-side (substring on
    binary + sha2 inside a transform) — no Python, no decode.
    Returns (media_id, chunk_idx, chunk_sha).
    """
    # coalesce INSIDE the least: octet_length(NULL) is NULL and Spark's
    # least() SKIPS nulls (least(NULL, 64) = 64), so a NULL payload
    # would otherwise claim 64 phantom chunks
    chunk_bytes, max_chunks = 32, 64
    n = F.least(
        F.ceil(
            F.coalesce(F.octet_length("payload"), F.lit(0)) / F.lit(chunk_bytes)
        ).cast("int"),
        F.lit(max_chunks),
    )
    idx = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)))
    shas = F.transform(
        idx,
        lambda i: F.sha2(
            F.substring(F.col("payload"), i * chunk_bytes + 1, chunk_bytes), 256
        ),
    )
    # NULL/empty payloads contribute ZERO chunk rows: greatest(n-1, 0)
    # otherwise yields the [0] index for both, emitting a phantom chunk
    # — and every EMPTY payload would share sha2('') and pair with
    # every other at low min_shared (round-6 review find)
    return (
        media.filter(n >= 1)
        .select("media_id", F.posexplode(shas).alias("chunk_idx", "chunk_sha"))
    )


def frame_neardup_pairs(media: DataFrame) -> DataFrame:
    """Media near-dup candidates by shared content chunks: media pairs
    with ≥ 4 identical chunk fingerprints.

    Plan shape: explode fingerprints → bucket-GROUP on the hash (each
    bucket holds only payloads containing that exact 32-byte slice —
    the binary analog of shingle-bucket joins; payload bytes never
    shuffle, only 32-byte digests) → generator pair expansion
    (dedup._bucket_pairs, one co-occurrence row per shared bucket) →
    pair count ≥ threshold.  Returns (id_a, id_b, shared_chunks).

    STAR_CAP is the mega-bucket guard (the CLAUDE.md rule the
    earlier self-join shape violated — round-6 review find): a
    boilerplate payload copied N times puts N ids into EVERY one of its
    chunk buckets, and the unguarded join emitted ~64·N²/2
    pair rows from one flood.  Buckets over the cap are dropped —
    honest recall loss on degenerate floods, exactly like the text
    pairings.  Bucket-group also keeps ONE reference to the digest
    frame, so the payload scans/hashes once with no persist needed.
    """
    from waddleml_spark.llmops import STAR_CAP, dedup

    fp = (
        chunk_fingerprints(media)
        .select(F.col("media_id").alias("id"), "chunk_sha")
        .distinct()
    )
    buckets = (
        fp.groupBy("chunk_sha")
        .agg(F.array_sort(F.collect_list("id")).alias("ids"))
        .filter((F.size("ids") > 1) & (F.size("ids") <= STAR_CAP))
    )
    return (
        dedup._bucket_pairs(buckets, distinct=False)
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("shared_chunks"))
        .filter(F.col("shared_chunks") >= 4)
    )
