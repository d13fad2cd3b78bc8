"""Multimodal (image/audio/video) column plumbing.

Media payloads are opaque ``binary`` columns with a typed metadata struct.
The Spark-side plumbing — schema, partition-parallel Arrow batching via
``mapInPandas``, UDF signatures, deterministic batch shapes — is real and
tested. The decode step is real for formats that are pure public spec
(uncompressed BMP, PCM WAV — parsed dependency-free in ``real_decoder``);
entropy-coded formats (JPEG/MP3/H.264) need a codec library this container
doesn't ship and raise ``NotImplementedError``. ``fake_decoder`` remains the
deterministic stand-in for opaque-payload pipeline tests.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("n_bytes", T.LongType(), True),
                    T.StructField("content_md5", T.StringType(), True),
                    T.StructField("mime", T.StringType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
    ]
)

# extract_features(on_error="capture"): FEATURE_SCHEMA plus a per-row error
# column — feature/width/height are null exactly when decode_error is set
FEATURE_SCHEMA_TOLERANT = T.StructType(
    FEATURE_SCHEMA.fields + [T.StructField("decode_error", T.StringType(), True)]
)


def media_from_documents(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Deterministic media table from the documents fixture: payload = UTF-8
    bytes of the text (a stand-in blob), typed metadata computed JVM-side."""
    payload = F.encode(F.col(text_col), "UTF-8")
    return df.select(
        F.col(id_col).alias("media_id"),
        F.lit("image").alias("media_type"),
        payload.alias("payload"),
        F.struct(
            F.octet_length(payload).cast("long").alias("n_bytes"),
            F.md5(payload).alias("content_md5"),
            F.lit("application/octet-stream").alias("mime"),
        ).alias("meta"),
    )


def real_decoder(payload: bytes, media_type: str) -> dict:
    """Codec entry point. Formats whose structure is pure public spec are
    decoded HERE, dependency-free: uncompressed BMP (24/32-bit) and PCM WAV —
    header parse + 8-bin feature (luminance histogram / per-segment RMS).
    Entropy-coded formats (JPEG, MP3, H.264…) genuinely need a codec library
    this container doesn't ship and still raise ``NotImplementedError``; a
    production build plugs Pillow/torchaudio/pyav into this same signature."""
    if payload[:2] == b"BM":
        return _decode_bmp(payload)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return _decode_wav(payload)
    raise NotImplementedError(
        "only uncompressed BMP and PCM WAV decode without an external codec "
        "library; use fake_decoder for opaque-payload pipeline tests"
    )


def _decode_bmp(payload: bytes) -> dict:
    """Uncompressed 24/32-bit BMP: dimensions from BITMAPINFOHEADER, feature =
    8-bin luminance histogram normalized by pixel count."""
    import struct

    data_off = struct.unpack_from("<I", payload, 10)[0]
    width, height = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    compression = struct.unpack_from("<I", payload, 30)[0]
    if bpp not in (24, 32) or compression != 0:
        raise NotImplementedError(f"BMP bpp={bpp} compression={compression}")
    height_abs = abs(height)
    px = bpp // 8
    stride = (width * px + 3) & ~3  # rows padded to 4 bytes
    bins = [0] * 8
    for r in range(height_abs):
        row = payload[data_off + r * stride :][: width * px]
        for c in range(width):
            b, g, rr = row[c * px], row[c * px + 1], row[c * px + 2]
            bins[((b + g + rr) // 3) * 8 // 256] += 1
    n = max(width * height_abs, 1)
    return {
        "feature": [b / n for b in bins],
        "width": width,
        "height": height_abs,
    }


def _decode_wav(payload: bytes) -> dict:
    """PCM WAV (16-bit): fmt/data chunk walk, feature = RMS of 8 equal
    segments normalized to [0,1]; width = frames per channel, height = sample
    rate (the int-pair the FEATURE_SCHEMA carries for audio)."""
    import struct

    pos, n_channels, sample_rate, bits = 12, None, None, None
    frames = b""
    while pos + 8 <= len(payload):
        cid, size = payload[pos : pos + 4], struct.unpack_from("<I", payload, pos + 4)[0]
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt_code, n_channels, sample_rate = struct.unpack_from("<HHI", body, 0)
            bits = struct.unpack_from("<H", body, 14)[0]
            if fmt_code != 1 or bits != 16:
                raise NotImplementedError(f"WAV format={fmt_code} bits={bits}")
        elif cid == b"data":
            frames = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if n_channels is None or not frames:
        raise NotImplementedError("WAV missing fmt or data chunk")
    samples = struct.unpack(f"<{len(frames) // 2}h", frames[: (len(frames) // 2) * 2])
    seg = max(len(samples) // 8, 1)
    feat = []
    for i in range(8):
        chunk = samples[i * seg : (i + 1) * seg]
        feat.append(
            (sum(s * s for s in chunk) / len(chunk)) ** 0.5 / 32768.0 if chunk else 0.0
        )
    return {
        "feature": feat,
        "width": len(samples) // n_channels,
        "height": sample_rate,
    }


def _resize_bmp(payload: bytes, target_w: int, target_h: int) -> bytes:
    """Nearest-neighbor resize of an uncompressed 24/32-bit BMP, fully
    vectorized (numpy fancy indexing — no per-pixel Python), re-encoded as a
    minimal VALID 24-bit BMP (54-byte header, 4-byte-padded rows) that
    ``_decode_bmp`` round-trips. 32-bit input drops alpha."""
    import struct

    import numpy as np

    data_off = struct.unpack_from("<I", payload, 10)[0]
    width, height = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    compression = struct.unpack_from("<I", payload, 30)[0]
    if bpp not in (24, 32) or compression != 0:
        raise NotImplementedError(f"BMP bpp={bpp} compression={compression}")
    h_abs, px = abs(height), bpp // 8
    stride = (width * px + 3) & ~3
    arr = (
        np.frombuffer(payload, dtype=np.uint8, count=stride * h_abs, offset=data_off)
        .reshape(h_abs, stride)[:, : width * px]
        .reshape(h_abs, width, px)
    )
    ri = (np.arange(target_h) * h_abs) // target_h
    ci = (np.arange(target_w) * width) // target_w
    out = arr[ri][:, ci, :3]  # storage order preserved → orientation preserved

    stride_out = (target_w * 3 + 3) & ~3
    padded = np.zeros((target_h, stride_out), dtype=np.uint8)
    padded[:, : target_w * 3] = out.reshape(target_h, target_w * 3)
    body = padded.tobytes()
    header = struct.pack(
        "<2sIHHIIiiHHIIiiII",
        b"BM", 54 + len(body), 0, 0, 54,           # file header
        40, target_w, target_h if height > 0 else -target_h,  # info header
        1, 24, 0, len(body), 2835, 2835, 0, 0,
    )
    return header + body


def _resample_wav(payload: bytes, target_rate: int) -> bytes:
    """Linear-interpolation resample of a 16-bit PCM WAV to ``target_rate``
    (all channels, vectorized numpy), re-encoded as a minimal valid PCM WAV
    that ``_decode_wav`` round-trips."""
    import struct

    import numpy as np

    pos, n_channels, sample_rate = 12, None, None
    frames = b""
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = struct.unpack_from("<I", payload, pos + 4)[0]
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt_code, n_channels, sample_rate = struct.unpack_from("<HHI", body, 0)
            bits = struct.unpack_from("<H", body, 14)[0]
            if fmt_code != 1 or bits != 16:
                raise NotImplementedError(f"WAV format={fmt_code} bits={bits}")
        elif cid == b"data":
            frames = body
        pos += 8 + size + (size & 1)
    if n_channels is None or not frames:
        raise NotImplementedError("WAV missing fmt or data chunk")
    samples = np.frombuffer(
        frames, dtype="<i2", count=(len(frames) // (2 * n_channels)) * n_channels
    ).reshape(-1, n_channels)
    n_in = samples.shape[0]
    n_out = max(int(round(n_in * target_rate / sample_rate)), 1)
    t = np.arange(n_out) * (n_in - 1) / max(n_out - 1, 1)
    lo = np.floor(t).astype(np.int64)
    hi = np.minimum(lo + 1, n_in - 1)
    frac = (t - lo)[:, None]
    out = ((1 - frac) * samples[lo] + frac * samples[hi]).astype("<i2")
    data = out.tobytes()
    fmt = struct.pack(
        "<HHIIHH", 1, n_channels, target_rate,
        target_rate * n_channels * 2, n_channels * 2, 16,
    )
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _y4m_frames(payload: bytes):
    """Parse an uncompressed YUV4MPEG2 stream (pure public spec — text
    stream header, per-frame ``FRAME`` markers, raw 4:2:0 planes) and yield
    (frame_no, width, height, y_plane bytes). The only video container that
    decodes without a codec library; entropy-coded video (H.264/VP9/AV1)
    raises the same honest ``NotImplementedError`` as images/audio."""
    if not payload.startswith(b"YUV4MPEG2"):
        raise NotImplementedError(
            "only uncompressed YUV4MPEG2 (y4m) decodes without an external "
            "codec library"
        )
    nl = payload.index(b"\n")
    width = height = None
    for tok in payload[:nl].split(b" ")[1:]:
        if tok[:1] == b"W":
            width = int(tok[1:])
        elif tok[:1] == b"H":
            height = int(tok[1:])
        elif tok[:1] == b"C" and not tok[1:].startswith(b"420"):
            raise NotImplementedError(f"y4m chroma {tok[1:].decode()} (only 420)")
    if not width or not height:
        raise NotImplementedError("y4m header missing W/H")
    frame_bytes = width * height * 3 // 2  # 4:2:0: Y + quarter-size U,V
    pos, frame_no = nl + 1, 0
    while pos < len(payload):
        fnl = payload.index(b"\n", pos)
        if payload[pos : pos + 5] != b"FRAME":
            raise NotImplementedError("malformed y4m FRAME marker")
        y = payload[fnl + 1 : fnl + 1 + width * height]
        yield frame_no, width, height, y
        pos = fnl + 1 + frame_bytes
        frame_no += 1


def fake_decoder(payload: bytes, media_type: str) -> dict:
    """Deterministic fake decode: 'width/height' derived from payload length,
    'feature' = first 8 bytes scaled to [0,1]. Keeps the full pipeline testable."""
    n = len(payload)
    feat = [b / 255.0 for b in payload[:8]] + [0.0] * max(0, 8 - n)
    return {"feature": feat, "width": n % 640, "height": (n * 7) % 480}


def extract_features(
    media: DataFrame,
    decoder: Callable[[bytes, str], dict] = real_decoder,
    batch_size_hint: int = 256,
    on_error: str = "raise",
) -> DataFrame:
    """Partition-parallel feature extraction over Arrow batches (``mapInPandas``).

    Scale note: payloads never leave their partition (no shuffle); Arrow moves
    each batch to Python once; the decoder runs per-row inside the batch. At
    100 TB, pair with ``spark.sql.files.maxPartitionBytes`` so one task's
    payload working set fits executor memory.

    ``on_error``: ``"raise"`` lets a decoder exception fail the task —
    right for curated corpora where a corrupt payload IS the bug.
    ``"capture"`` is the crawl-scale posture: the row survives with null
    feature/width/height and the exception text in a ``decode_error``
    column (schema ``FEATURE_SCHEMA_TOLERANT``), so one corrupt blob among
    billions can't kill the batch — filter or route the error rows
    downstream. Deliberate per-row granularity: a decoder exception never
    poisons its Arrow batch neighbors.
    """
    if on_error not in ("raise", "capture"):
        raise ValueError(f"on_error must be 'raise' or 'capture', got {on_error!r}")
    capture = on_error == "capture"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # zip over columns, not iterrows(): iterrows materializes a Series
            # per row (~100× slower than tuple iteration on wide batches)
            decoded = []
            errors = []
            for p, m in zip(pdf["payload"], pdf["media_type"]):
                if not capture:
                    decoded.append(decoder(p, m))
                    continue
                try:
                    decoded.append(decoder(p, m))
                    errors.append(None)
                except Exception as e:  # noqa: BLE001 — the point is survival
                    decoded.append({"feature": None, "width": None, "height": None})
                    errors.append(f"{type(e).__name__}: {e}")
            out = {
                "media_id": pdf["media_id"].to_numpy(),
                "feature": [d["feature"] for d in decoded],
                "width": [d["width"] for d in decoded],
                "height": [d["height"] for d in decoded],
            }
            if capture:
                out["decode_error"] = errors
            yield pd.DataFrame(out)

    return media.select("media_id", "media_type", "payload").mapInPandas(
        run, schema=FEATURE_SCHEMA_TOLERANT if capture else FEATURE_SCHEMA
    )


def feature_rows(features: DataFrame, decimals: int = 4) -> DataFrame:
    """Long-form serialization of the ``array<float>`` feature column: one row
    per (media_id, pos) component, value widened to double and stable-rounded.

    Exists because value-hash oracles (and most SQL tools) can't canonicalize
    list-valued cells; ``posexplode`` is a JVM-side Generate — no Python, no
    shuffle, and the float→double widening is exact so both engines round the
    same IEEE value."""
    from kafka_connector_s3_sink_spark.functions.numeric import stable_round

    return features.select(
        "media_id",
        F.posexplode("feature").alias("pos", "val_raw"),
        "width",
        "height",
    ).select(
        "media_id",
        "pos",
        stable_round(F.col("val_raw").cast("double"), decimals).alias("val"),
        "width",
        "height",
    )


def frame_sample_plan(media: DataFrame, every_n: int = 10) -> DataFrame:
    """Video frame-sampling *plan*: one output row per sampled frame index,
    computed from metadata only (JVM-side sequence/explode — the decode of each
    sampled frame would go through ``extract_features``). Demonstrates the
    fan-out shape without a codec. Each frame row carries the typed metadata
    (media_type, n_bytes, content_md5) so one query verifies both the meta
    struct computation and the fan-out."""
    n_frames = (F.col("meta.n_bytes") / 1024 + 1).cast("int")
    return media.select(
        "media_id",
        "media_type",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.content_md5").alias("content_md5"),
        F.explode(F.sequence(F.lit(0), n_frames - 1, F.lit(every_n))).alias("frame_idx"),
    )


# -- perceptual dedup -------------------------------------------------------
#
# Media near-dup detection: a 64-bit content-robust fingerprint per payload
# (dHash for images, energy-envelope sign hash for audio), then the same
# blocked hamming join the text SimHash path uses — candidate pairs come from
# equality on one of (max_hamming+1) hash slices (pigeonhole: any pair within
# the radius shares at least one slice), never from an all-pairs comparison.
# The hash kernels run inside the existing decode boundary (one Arrow pass,
# payloads never shuffle); the join/bit_count stages are pure JVM.

PHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("phash", T.LongType(), True),
        T.StructField("phash_error", T.StringType(), True),
    ]
)


def _to_signed64(h: int) -> int:
    return h - (1 << 64) if h >= (1 << 63) else h


def image_dhash(payload: bytes) -> int:
    """64-bit difference hash of an uncompressed 24/32-bit BMP: grayscale →
    nearest-neighbor resize to 9×8 (same index arithmetic as ``_resize_bmp``,
    so the hash is invariant under our own resize) → bit (r,c) = 1 iff
    gray[r,c] > gray[r,c+1]. Robust to resizing and mild brightness shifts
    (gradient *signs* survive both); a crop or recolor flips many bits."""
    import struct

    import numpy as np

    data_off = struct.unpack_from("<I", payload, 10)[0]
    width, height = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    compression = struct.unpack_from("<I", payload, 30)[0]
    if bpp not in (24, 32) or compression != 0:
        raise NotImplementedError(f"BMP bpp={bpp} compression={compression}")
    h_abs, px = abs(height), bpp // 8
    stride = (width * px + 3) & ~3
    arr = (
        np.frombuffer(payload, dtype=np.uint8, count=stride * h_abs, offset=data_off)
        .reshape(h_abs, stride)[:, : width * px]
        .reshape(h_abs, width, px)
    )
    # match _decode_bmp's integer luminance ((b+g+r)//3) for determinism
    gray = arr[:, :, :3].astype(np.int32).sum(axis=2) // 3
    ri = (np.arange(8) * h_abs) // 8
    ci = (np.arange(9) * width) // 9
    g = gray[ri][:, ci]
    bits = (g[:, :-1] > g[:, 1:]).ravel()  # row-major, bit index = r*8+c
    h = 0
    for i, b in enumerate(bits):
        if b:
            h |= 1 << i
    return _to_signed64(h)


def audio_fingerprint(payload: bytes) -> int:
    """64-bit energy-envelope hash of a 16-bit PCM WAV: mono mix → 65 equal-
    time segment energies → bit i = 1 iff energy[i+1] > energy[i]. Time-
    normalized segmentation makes it robust to resampling (the envelope shape
    survives a rate change); re-recording or trimming shifts the envelope and
    flips bits."""
    import struct

    import numpy as np

    pos, n_channels, sample_rate = 12, None, None
    frames = b""
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = struct.unpack_from("<I", payload, pos + 4)[0]
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt_code, n_channels, sample_rate = struct.unpack_from("<HHI", body, 0)
            bits16 = struct.unpack_from("<H", body, 14)[0]
            if fmt_code != 1 or bits16 != 16:
                raise NotImplementedError(f"WAV format={fmt_code} bits={bits16}")
        elif cid == b"data":
            frames = body
        pos += 8 + size + (size & 1)
    if n_channels is None or not frames:
        raise NotImplementedError("WAV missing fmt or data chunk")
    samples = np.frombuffer(
        frames, dtype="<i2", count=(len(frames) // (2 * n_channels)) * n_channels
    ).reshape(-1, n_channels)
    mono = samples.astype(np.float64).mean(axis=1) / 32768.0
    n = mono.shape[0]
    if n < 65:
        mono = np.pad(mono, (0, 65 - n))
        n = 65
    bounds = (np.arange(66) * n) // 65
    energy = np.array(
        [float(np.square(mono[bounds[i] : bounds[i + 1]]).mean()) for i in range(65)]
    )
    h = 0
    for i in range(64):
        if energy[i + 1] > energy[i]:
            h |= 1 << i
    return _to_signed64(h)


def video_fingerprint(payload: bytes) -> int:
    """64-bit spatio-temporal fingerprint of an uncompressed YUV4MPEG2
    stream: frames → 8 equal-TIME segments (the same time-normalized
    segmentation as the audio envelope, so the hash survives frame-rate
    doubling and mild trims) → per segment a 3×3 block-mean luma grid
    averaged over the segment's frames (block MEANS, not point samples, so
    the hash survives resizing) → 8 gradient-sign bits per segment (6
    horizontal + 2 vertical down the center column — a coarse per-segment
    dHash) → bit index = segment·8 + comparison. A re-encoded / resized /
    retimed copy of the same footage lands within a small hamming radius;
    different footage flips many bits. Same honest-failure contract as the
    image/audio kernels for entropy-coded containers (H.264 etc. raise in
    ``_y4m_frames``)."""
    import numpy as np

    grids = []
    for _fno, w, h, y in _y4m_frames(payload):
        luma = np.frombuffer(y, dtype=np.uint8)
        if luma.size != w * h:
            raise NotImplementedError("truncated y4m frame")
        g = luma.reshape(h, w).astype(np.float64)
        rb = (np.arange(4) * h) // 3
        cb = (np.arange(4) * w) // 3
        grid = np.empty((3, 3))
        for r in range(3):
            for c in range(3):
                grid[r, c] = float(
                    g[
                        rb[r] : max(rb[r + 1], rb[r] + 1),
                        cb[c] : max(cb[c + 1], cb[c] + 1),
                    ].mean()
                )
        grids.append(grid)
    if not grids:
        raise NotImplementedError("y4m stream has no frames")
    n = len(grids)
    h64, bit = 0, 0
    for s in range(8):
        lo = min((s * n) // 8, n - 1)
        hi = max(((s + 1) * n) // 8, lo + 1)
        seg = np.mean(grids[lo:hi], axis=0)
        for a, b in (
            ((0, 0), (0, 1)), ((0, 1), (0, 2)),
            ((1, 0), (1, 1)), ((1, 1), (1, 2)),
            ((2, 0), (2, 1)), ((2, 1), (2, 2)),
            ((0, 1), (1, 1)), ((1, 1), (2, 1)),
        ):
            if seg[a] > seg[b]:
                h64 |= 1 << bit
            bit += 1
    return _to_signed64(h64)


def perceptual_hash(payload: bytes, media_type: str) -> int:
    """Magic-byte dispatch to the per-format fingerprint kernels (the same
    honest-failure contract as ``real_decoder`` for entropy-coded formats)."""
    if payload[:2] == b"BM":
        return image_dhash(payload)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return audio_fingerprint(payload)
    if payload[:9] == b"YUV4MPEG2":
        return video_fingerprint(payload)
    raise NotImplementedError(
        "perceptual hashing decodes uncompressed BMP, PCM WAV, and y4m video "
        "only; plug a codec-backed hasher into perceptual_hashes(hasher=...) "
        "for other formats"
    )


def perceptual_hashes(
    media: DataFrame,
    hasher: Callable[[bytes, str], int] = perceptual_hash,
    on_error: str = "capture",
) -> DataFrame:
    """(media_id, media_type, phash) via one Arrow pass over the payload
    partitions — the same no-shuffle decode boundary as ``extract_features``,
    with the same per-row ``on_error='capture'`` crawl posture (corrupt blob →
    null phash + error text, batch survives)."""
    if on_error not in ("raise", "capture"):
        raise ValueError(f"on_error must be 'raise' or 'capture', got {on_error!r}")
    capture = on_error == "capture"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hashes, errors = [], []
            for p, m in zip(pdf["payload"], pdf["media_type"]):
                try:
                    hashes.append(hasher(p, m))
                    errors.append(None)
                except Exception as e:  # noqa: BLE001 — survival is the point
                    if not capture:
                        raise
                    hashes.append(None)
                    errors.append(f"{type(e).__name__}: {e}")
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].to_numpy(),
                    "media_type": pdf["media_type"].to_numpy(),
                    "phash": pd.array(hashes, dtype="Int64"),
                    "phash_error": errors,
                }
            )

    return media.select("media_id", "media_type", "payload").mapInPandas(
        run, schema=PHASH_SCHEMA
    )


def _phash_block_exprs(max_hamming: int) -> list[Column]:
    """The pigeonhole slicing shared by the in-memory pair join and the
    persisted index: ``max_hamming + 1`` disjoint bit blocks of the 64-bit
    fingerprint (last block absorbs the remainder) — any pair within the
    radius agrees on at least one block."""
    if not 0 <= max_hamming <= 31:
        raise ValueError(f"max_hamming must be in [0, 31], got {max_hamming}")
    n_blocks = max_hamming + 1
    width = 64 // n_blocks
    blocks = []
    for i in range(n_blocks):
        start = i * width
        w = 64 - start if i == n_blocks - 1 else width
        sliced = F.shiftrightunsigned(F.col("phash"), start)
        if w < 64:
            sliced = sliced.bitwiseAND(F.lit((1 << w) - 1))
        blocks.append(F.struct(F.lit(i).alias("block_id"), sliced.alias("block_bits")))
    return blocks


def perceptual_dupes(hashes: DataFrame, max_hamming: int = 6) -> DataFrame:
    """Near-dup media pairs (id1 < id2, hamming ≤ max_hamming) from a
    ``perceptual_hashes`` frame, same-media-type only.

    Scale shape: the hash is sliced into ``max_hamming + 1`` disjoint bit
    blocks; by pigeonhole any pair within the radius agrees on ≥1 block, so
    candidates come from an equi-join on (media_type, block_id, block_bits) —
    one explode (×(k+1) rows) + one shuffle on the block key, never all-pairs.
    Exact hamming via ``bit_count(xor)`` prunes the collisions. Mirrors the
    text-side ``simhash_dupes`` blocking, widened to 64 bits."""
    blocks = _phash_block_exprs(max_hamming)
    hb = (
        hashes.filter(F.col("phash").isNotNull())
        .select(
            "media_id",
            "media_type",
            "phash",
            F.explode(F.array(*blocks)).alias("_b"),
        )
        .select(
            "media_id",
            "media_type",
            "phash",
            F.col("_b.block_id").alias("block_id"),
            F.col("_b.block_bits").alias("block_bits"),
        )
    )
    a, b = hb.alias("a"), hb.alias("b")
    return (
        a.join(
            b,
            (F.col("a.media_type") == F.col("b.media_type"))
            & (F.col("a.block_id") == F.col("b.block_id"))
            & (F.col("a.block_bits") == F.col("b.block_bits"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .select(
            F.col("a.media_id").alias("id1"),
            F.col("b.media_id").alias("id2"),
            F.col("a.media_type").alias("media_type"),
            F.bit_count(F.col("a.phash").bitwiseXOR(F.col("b.phash"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def media_dedup(
    media: DataFrame,
    max_hamming: int = 6,
    hasher: Callable[[bytes, str], int] = perceptual_hash,
) -> DataFrame:
    """End-to-end perceptual media dedup: fingerprint → blocked hamming pairs
    → transitive clusters (``dedup.connected_components`` — A~B, B~C puts all
    three in one cluster even when A≁C) → one canonical keeper per cluster.

    Returns (media_id, media_type, phash, phash_error, cluster_id,
    is_canonical); filter ``is_canonical = 1`` for the deduplicated corpus.
    Undecodable payloads keep a null cluster_id and is_canonical = 1 — a
    corrupt blob is never silently dropped by dedup (route on phash_error
    instead, same posture as the decode path)."""
    return dedup_media_hashes(
        perceptual_hashes(media, hasher=hasher), max_hamming=max_hamming
    )


def dedup_media_hashes(hashes: DataFrame, max_hamming: int = 6) -> DataFrame:
    """The clustering half of ``media_dedup``, taking a precomputed
    ``(media_id, media_type, phash[, phash_error])`` frame: blocked hamming
    pairs → transitive clusters → canonical keeper. Public so fingerprints
    produced elsewhere (a persisted index scan, an external hasher, an
    oracle-checkable synthetic plant) reuse the identical dedup semantics
    without re-decoding payloads."""
    from kafka_connector_s3_sink_spark.operators.dedup import connected_components

    if "phash_error" not in hashes.columns:
        hashes = hashes.withColumn("phash_error", F.lit(None).cast("string"))
    hashable = hashes.filter(F.col("phash").isNotNull())
    clusters = connected_components(
        hashable.select("media_id"),
        perceptual_dupes(hashes, max_hamming=max_hamming).select("id1", "id2"),
        id_col="media_id",
    )
    joined = hashes.join(clusters, "media_id", "left")
    return joined.select(
        "media_id",
        "media_type",
        "phash",
        "phash_error",
        "cluster_id",
        F.when(F.col("phash").isNull(), F.lit(1))
        .otherwise(F.col("is_canonical"))
        .alias("is_canonical"),
    )


# -- persisted incremental media-dedup index --------------------------------
#
# The 100 TB posture: a media corpus's fingerprints live in ONE bucketed
# block table; each new crawl batch is hashed, exploded into the same
# pigeonhole blocks, and classified with an equi-join against the index —
# O(|batch| + collisions), history is never rescanned. Mirrors the text-side
# `operators/incremental.py` architecture (bucketed table, batch_id
# partition idempotence, broadcast-batch join with no Exchange below the
# index scan).
