"""Multimodal (binary) column plumbing.

Pattern for image/audio/video at 100 TB: store the raw media as an
opaque ``binary`` column plus typed metadata; run decode / feature
extraction as Arrow-batched pandas functions via ``mapInPandas`` so the
Python boundary is crossed once per batch, not once per row.

The container has no imaging libraries (PIL/libvips), so the decoders
here are pure numpy implementations of the two simplest real formats —
uncompressed 24-bit BMP (BITMAPINFOHEADER, bottom-up BGR rows padded to
4 bytes) and binary PPM (P6) — with matching encoders for synthetic
corpora.  That is enough to make the decode stage REAL: header parsing,
row-padding/row-order/channel-order normalization, and per-channel
statistics over actual pixel buffers, all inside one Arrow crossing per
batch.  A production deployment swaps ``decode_image`` for a
PIL/libvips call with the identical (w, h, HxWx3 RGB) contract; the
resize and frame-sample transforms remain documented byte-level
stand-ins (their Spark-side shape is the deliverable there).
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("payload", BinaryType()),
        StructField("n_bytes", LongType()),
        StructField("checksum", StringType()),
    ]
)


def media_from_documents(documents: DataFrame) -> DataFrame:
    """Derive a synthetic media table: the UTF-8 bytes of ``text`` stand
    in for image bytes.  Pure JVM-side projection."""
    payload = F.encode(F.col("text"), "UTF-8")
    return documents.select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 0, F.lit("image/png"))
        .otherwise(F.lit("audio/wav"))
        .alias("media_type"),
        payload.alias("payload"),
        F.octet_length(payload).cast("long").alias("n_bytes"),
        F.md5(F.col("text")).alias("checksum"),
    )


# --------------------------------------------------------------------------
# Real image codecs (pure numpy — no imaging library in the container).
# BMP: 24bpp uncompressed BI_RGB, bottom-up BGR rows padded to 4 bytes.
# PPM: binary P6, top-down RGB, maxval 255.
# --------------------------------------------------------------------------


def encode_bmp(rgb: np.ndarray) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as an uncompressed 24-bit
    BMP (the format every decoder must get row order, channel order,
    and row padding right for)."""
    h, w, _ = rgb.shape
    row_bytes = w * 3
    pad = (4 - row_bytes % 4) % 4
    # bottom-up rows, BGR channel order, each row padded to 4 bytes
    bgr = rgb[::-1, :, ::-1]
    rows = bgr.reshape(h, row_bytes)
    if pad:
        rows = np.concatenate(
            [rows, np.zeros((h, pad), dtype=np.uint8)], axis=1
        )
    pixel_data = rows.tobytes()
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixel_data), 2835, 2835, 0, 0
    )
    header = struct.pack(
        "<2sIHHI", b"BM", 14 + 40 + len(pixel_data), 0, 0, 14 + 40
    )
    return header + info + pixel_data


def encode_ppm(rgb: np.ndarray) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as binary PPM (P6)."""
    h, w, _ = rgb.shape
    return b"P6\n%d %d\n255\n" % (w, h) + rgb.tobytes()


def decode_image(payload: bytes) -> tuple[int, int, np.ndarray]:
    """Decode a BMP or PPM payload to (width, height, (h, w, 3) uint8
    RGB top-down).  Validates headers and supports exactly the profile
    the encoders write (24bpp BI_RGB BMP incl. top-down negative-height
    files; P6 maxval-255 PPM) — anything else raises ValueError, the
    dead-letter path for a corrupt-media row."""
    if payload[:2] == b"BM":
        if len(payload) < 54:
            raise ValueError("BMP truncated before headers")
        data_off = struct.unpack_from("<I", payload, 10)[0]
        hdr_size, w, h_raw = struct.unpack_from("<Iii", payload, 14)
        planes, bpp, compression = struct.unpack_from("<HHI", payload, 26)
        if hdr_size < 40 or planes != 1 or bpp != 24 or compression != 0:
            raise ValueError(
                f"unsupported BMP profile (hdr={hdr_size}, bpp={bpp}, "
                f"compression={compression})"
            )
        h = abs(h_raw)
        if w <= 0 or h == 0:
            raise ValueError(f"invalid BMP dimensions {w}x{h_raw}")
        row_bytes = w * 3
        stride = row_bytes + (4 - row_bytes % 4) % 4
        if len(payload) < data_off + stride * h:
            raise ValueError("BMP truncated before end of pixel data")
        rows = np.frombuffer(
            payload, dtype=np.uint8, count=stride * h, offset=data_off
        ).reshape(h, stride)[:, :row_bytes]
        bgr = rows.reshape(h, w, 3)
        if h_raw > 0:  # bottom-up storage -> flip to top-down
            bgr = bgr[::-1]
        return w, h, bgr[:, :, ::-1].copy()
    if payload[:2] == b"P6":
        # header: magic, whitespace, w, whitespace, h, whitespace,
        # maxval, ONE whitespace byte, then raw RGB
        pos, fields = 2, []
        while len(fields) < 3:
            while pos < len(payload) and payload[pos : pos + 1].isspace():
                pos += 1
            start = pos
            while pos < len(payload) and not payload[pos : pos + 1].isspace():
                pos += 1
            if start == pos:
                raise ValueError("PPM truncated in header")
            fields.append(int(payload[start:pos]))
        pos += 1  # the single whitespace after maxval
        w, h, maxval = fields
        if w <= 0 or h <= 0:
            raise ValueError(f"invalid PPM dimensions {w}x{h}")
        if maxval != 255:
            raise ValueError(f"unsupported PPM maxval {maxval}")
        n = w * h * 3
        if len(payload) < pos + n:
            raise ValueError("PPM truncated before end of pixel data")
        rgb = np.frombuffer(payload, dtype=np.uint8, count=n, offset=pos)
        return w, h, rgb.reshape(h, w, 3).copy()
    raise ValueError("not a BMP or P6 PPM payload")


def synthetic_pixels(doc_id: int, w: int, h: int) -> np.ndarray:
    """Deterministic (h, w, 3) pixel pattern, closed-form per byte:
    byte(pix, ch) = (doc_id*73 + pix*7 + ch*151) mod 256 over top-down
    row-major pixels — chosen so a SQL oracle can reproduce per-channel
    sums and a position-weighted checksum without decoding anything."""
    idx = np.arange(w * h * 3, dtype=np.int64)
    b = (doc_id * 73 + (idx // 3) * 7 + (idx % 3) * 151) % 256
    return b.astype(np.uint8).reshape(h, w, 3)


IMAGE_FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("sum_r", LongType()),
        StructField("sum_g", LongType()),
        StructField("sum_b", LongType()),
        StructField("weighted_checksum", LongType()),
    ]
)


def media_with_images(documents: DataFrame) -> DataFrame:
    """Synthetic image corpus: one real encoded image per document —
    BMP for even doc_ids, PPM for odd — with dimensions and pixel bytes
    deterministic functions of doc_id (see synthetic_pixels).  Encoding
    runs inside one Arrow crossing per batch; at scale this stage is
    the ingest boundary where raw media bytes land in the binary
    column."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads, types = [], []
            for did in pdf["doc_id"]:
                did = int(did)
                w = 4 + did % 13
                h = 4 + (did * 7) % 11
                rgb = synthetic_pixels(did, w, h)
                if did % 2 == 0:
                    payloads.append(encode_bmp(rgb))
                    types.append("image/bmp")
                else:
                    payloads.append(encode_ppm(rgb))
                    types.append("image/x-portable-pixmap")
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": types,
                    "payload": payloads,
                    "n_bytes": [len(p) for p in payloads],
                    "checksum": [""] * len(payloads),
                }
            )

    from .util import spread

    return spread(documents.select("doc_id")).mapInPandas(
        run, schema=MEDIA_SCHEMA
    )


def extract_image_features(media: DataFrame) -> DataFrame:
    """REAL decode + feature extraction over binary image payloads:
    parse each BMP/PPM, normalize to top-down RGB, and reduce to
    per-channel sums plus a position-weighted checksum
    sum(byte_j * (j+1)) that catches row-order / channel-order /
    padding bugs a plain sum would miss.  One Arrow crossing per
    batch; the numpy work is vectorized per image."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ws, hs, rs, gs, bs, cks = [], [], [], [], [], []
            for payload in pdf["payload"]:
                w, h, rgb = decode_image(bytes(payload))
                flat = rgb.reshape(-1).astype(np.int64)
                ws.append(w)
                hs.append(h)
                rs.append(int(rgb[:, :, 0].sum()))
                gs.append(int(rgb[:, :, 1].sum()))
                bs.append(int(rgb[:, :, 2].sum()))
                cks.append(
                    int((flat * np.arange(1, flat.size + 1)).sum())
                )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "width": ws,
                    "height": hs,
                    "sum_r": rs,
                    "sum_g": gs,
                    "sum_b": bs,
                    "weighted_checksum": cks,
                }
            )

    return media.mapInPandas(run, schema=IMAGE_FEATURE_SCHEMA)


RESIZED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("payload", BinaryType()),
        StructField("n_bytes", LongType()),
        StructField("target_w", LongType()),
        StructField("target_h", LongType()),
    ]
)

FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("frame_bytes", BinaryType()),
    ]
)


def fake_resize(payload: bytes, w: int, h: int) -> bytes:
    """Deterministic stand-in for an image resize (real impl: PIL/vips).

    Truncates/tiles the byte stream to w*h//64 bytes so output size is a
    pure function of the target box — tests can assert the contract."""
    n = max(1, (w * h) // 64)
    reps = (n // max(1, len(payload))) + 1
    return (payload * reps)[:n]


def resize_media(media: DataFrame, w: int = 64, h: int = 48) -> DataFrame:
    """Batch resize via ``mapInPandas``: one Arrow crossing per batch,
    output is again an opaque binary column + target metadata — the
    shape a real thumbnail/normalization stage has.  At scale,
    repartition upstream by BYTES (payloads dominate) so each task's
    batches fit executor memory."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf["payload"].map(lambda p: fake_resize(p, w, h))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "payload": out,
                    "n_bytes": out.map(len),
                    "target_w": w,
                    "target_h": h,
                }
            )

    from .util import spread

    return spread(media).mapInPandas(run, schema=RESIZED_SCHEMA)


def sample_frames(
    media: DataFrame, n_frames: int = 4, frame_bytes: int = 256
) -> DataFrame:
    """Frame sampling for video-like payloads: each input row fans out to
    ``n_frames`` rows of fixed-offset byte windows (a real decoder would
    seek keyframes; the fan-out shape, schema, and batch behavior are
    identical).  Row explosion happens INSIDE the pandas batch, so the
    Arrow boundary is still crossed once per input batch."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for did, payload in zip(pdf["doc_id"], pdf["payload"]):
                n = len(payload)
                for i in range(n_frames):
                    off = (n * i) // n_frames
                    ids.append(did)
                    idxs.append(i)
                    frames.append(payload[off : off + frame_bytes])
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": idxs, "frame_bytes": frames}
            )

    from .util import spread

    return spread(media).mapInPandas(run, schema=FRAME_SCHEMA)


KEYFRAME_DELTA_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("frame_delta", LongType()),
    ]
)


def keyframe_deltas(
    media: DataFrame, n_frames: int = 8, frame_bytes: int = 128
) -> DataFrame:
    """Inter-frame change score per sampled frame — the signal a
    keyframe selector thresholds: for each frame i ≥ 1 (the
    ``sample_frames`` offset rule: byte window of ``frame_bytes`` at
    ``(n·i) DIV n_frames``), the exact integer L1 distance to the
    previous frame over their common length plus 255 per byte of
    length mismatch; frame 0 scores 0 by convention (it is always a
    keyframe).  Integer-exact on raw payload bytes, so a SQL oracle
    replays it from the hex/char space.

    Scale notes: the delta is computed INSIDE the pandas batch right
    where the frame bytes are materialized — one Arrow crossing, no
    shuffle of frame payloads at all (only the (doc, idx, delta)
    triples leave the stage)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, deltas = [], [], []
            for did, payload in zip(pdf["doc_id"], pdf["payload"]):
                n = len(payload)
                prev = None
                for i in range(n_frames):
                    off = (n * i) // n_frames
                    fb = np.frombuffer(
                        payload[off : off + frame_bytes], dtype=np.uint8
                    )
                    if prev is None:
                        d = 0
                    else:
                        m = min(len(fb), len(prev))
                        d = int(
                            np.abs(
                                fb[:m].astype(np.int64)
                                - prev[:m].astype(np.int64)
                            ).sum()
                        ) + 255 * abs(len(fb) - len(prev))
                    ids.append(did)
                    idxs.append(i)
                    deltas.append(d)
                    prev = fb
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": idxs, "frame_delta": deltas}
            )

    from .util import spread

    return spread(media).mapInPandas(run, schema=KEYFRAME_DELTA_SCHEMA)


# --------------------------------------------------------------------------
# Real audio codec (pure numpy/struct — no audio library in the
# container).  WAV: RIFF container, PCM 16-bit little-endian mono —
# the canonical uncompressed format, simple enough that the chunk walk,
# format validation, and sample parsing are the REAL decode stage a
# soundfile/librosa call would replace under the identical contract.
# --------------------------------------------------------------------------

AUDIO_FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("sample_rate", LongType()),
        StructField("n_samples", LongType()),
        StructField("duration_ms", LongType()),
        StructField("sum_abs", LongType()),
        StructField("energy", LongType()),
        StructField("zero_crossings", LongType()),
        StructField("silence_bp", LongType()),
    ]
)

_SILENCE_ABS = 200  # |sample| below this counts as silence


def encode_wav(pcm: np.ndarray, sample_rate: int) -> bytes:
    """Encode a 1-D int16 array as PCM16LE mono WAV (RIFF/WAVE with
    one fmt chunk and one data chunk — the profile every decoder must
    get chunk sizes, byte order, and block alignment right for)."""
    data = pcm.astype("<i2").tobytes()
    fmt = struct.pack(
        "<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16
    )
    return (
        struct.pack("<4sI4s", b"RIFF", 4 + 8 + len(fmt) + 8 + len(data),
                    b"WAVE")
        + struct.pack("<4sI", b"fmt ", len(fmt))
        + fmt
        + struct.pack("<4sI", b"data", len(data))
        + data
    )


def decode_wav(payload: bytes) -> tuple[int, np.ndarray]:
    """Decode a WAV payload to (sample_rate, int16 sample array).
    Walks the RIFF chunk list (tolerating extra chunks like LIST/fact
    between fmt and data), validates the PCM16 mono profile, and
    raises ValueError for anything else — the dead-letter path for a
    corrupt or unsupported media row."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid, size = struct.unpack_from("<4sI", payload, pos)
        body = payload[pos + 8 : pos + 8 + size]
        if len(body) < size:
            raise ValueError(f"WAV truncated inside {cid!r} chunk")
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt or data chunk")
    if len(fmt) < 16:
        # struct.error would escape the ValueError dead-letter path and
        # kill the whole micro-batch task instead of one bad row
        raise ValueError(f"WAV fmt chunk too short ({len(fmt)} < 16 bytes)")
    audio_fmt, channels, rate, _, block, bits = struct.unpack_from(
        "<HHIIHH", fmt, 0
    )
    if rate == 0:
        raise ValueError("WAV sample rate is zero")
    if audio_fmt != 1 or channels != 1 or bits != 16 or block != 2:
        raise ValueError(
            f"unsupported WAV profile (fmt={audio_fmt}, ch={channels}, "
            f"bits={bits})"
        )
    if len(data) % 2:
        raise ValueError("WAV data chunk not sample-aligned")
    if not data:
        # a structurally valid zero-sample WAV would pass every profile
        # check and then divide by n=0 in extract_audio_features —
        # route it to the same dead-letter path as corrupt payloads
        raise ValueError("WAV data chunk is empty (zero samples)")
    return rate, np.frombuffer(data, dtype="<i2").copy()


def synthetic_pcm(doc_id: int, n_samples: int) -> np.ndarray:
    """Deterministic int16 waveform, closed-form per sample:
    sample(i) = ((doc_id*37 + i*11) mod 4001) − 2000 — sawtooth-ish
    with sign changes and sub-threshold stretches, chosen so a SQL
    oracle reproduces energy, zero crossings, and silence ratio
    without decoding anything."""
    i = np.arange(n_samples, dtype=np.int64)
    return (((doc_id * 37 + i * 11) % 4001) - 2000).astype(np.int16)


def media_with_audio(documents: DataFrame) -> DataFrame:
    """Synthetic audio corpus: one real PCM16 mono WAV per document at
    8 kHz, with length 256 + (doc_id·13 mod 512) samples and the
    closed-form waveform of ``synthetic_pcm`` — the ingest boundary
    where raw audio bytes land in the binary column."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                did = int(did)
                n = 256 + (did * 13) % 512
                payloads.append(encode_wav(synthetic_pcm(did, n), 8000))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": ["audio/wav"] * len(payloads),
                    "payload": payloads,
                    "n_bytes": [len(p) for p in payloads],
                    "checksum": [""] * len(payloads),
                }
            )

    from .util import spread

    return spread(documents.select("doc_id")).mapInPandas(
        run, schema=MEDIA_SCHEMA
    )


def extract_audio_features(media: DataFrame) -> DataFrame:
    """REAL audio decode + feature extraction: parse each WAV payload
    (chunk walk, profile validation), then reduce the true sample
    buffer to integer-exact features — duration, Σ|s|, energy Σs²,
    zero crossings (strict sign flips), and the silence ratio in basis
    points (|s| < 200) — the voice-activity/quality gates an audio
    curation pipeline filters on.  One Arrow crossing per batch;
    int64 accumulation so no overflow for payloads up to 2^31 samples
    of int16."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                k.name: [] for k in AUDIO_FEATURE_SCHEMA
            }
            for did, mt, payload in zip(
                pdf["doc_id"], pdf["media_type"], pdf["payload"]
            ):
                rate, pcm = decode_wav(bytes(payload))
                v = pcm.astype(np.int64)
                n = len(v)
                out["doc_id"].append(int(did))
                out["media_type"].append(mt)
                out["sample_rate"].append(rate)
                out["n_samples"].append(n)
                out["duration_ms"].append(n * 1000 // rate)
                out["sum_abs"].append(int(np.abs(v).sum()))
                out["energy"].append(int((v * v).sum()))
                out["zero_crossings"].append(
                    int(np.count_nonzero(v[:-1] * v[1:] < 0))
                )
                out["silence_bp"].append(
                    int(np.count_nonzero(np.abs(v) < _SILENCE_ABS))
                    * 10000
                    // n
                )
            yield pd.DataFrame(out)

    from .util import spread

    return spread(media).mapInPandas(run, schema=AUDIO_FEATURE_SCHEMA)


# --------------------------------------------------------------------------
# Perceptual hashing: near-duplicate IMAGES that are not byte-duplicates
# --------------------------------------------------------------------------

PHASH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("phash", LongType()),
        StructField("pixel_checksum", LongType()),
    ]
)

_PHASH_GRID = 4  # 4x4 block grid -> 16-bit average hash


def variant_pixels(doc_id: int, cls: int, w: int, h: int) -> np.ndarray:
    """(h, w, 3) pixels = a CLASS-keyed low-frequency structure (a 4x4
    block checkerboard whose phase is ``cls``) plus DOC-keyed
    high-frequency noise in [-3, 3] — so documents sharing a class are
    perceptually identical but byte-distinct.  Closed-form per byte
    (base 200/40 by block parity; noise = (doc_id*31 + pix*11 + ch*13)
    mod 7 - 3) so a SQL oracle reproduces every byte without a
    decoder; the +-3 noise cannot flip an average-hash bit because the
    block-mean margins are ~40x larger."""
    idx = np.arange(w * h * 3, dtype=np.int64)
    pix, ch = idx // 3, idx % 3
    row, col = pix // w, pix % w
    gi = row * _PHASH_GRID // h
    gj = col * _PHASH_GRID // w
    base = np.where((gi + gj + cls) % 2 == 0, 200, 40)
    noise = (doc_id * 31 + pix * 11 + ch * 13) % 7 - 3
    return (base + noise).astype(np.uint8).reshape(h, w, 3)


def media_with_image_variants(documents: DataFrame) -> DataFrame:
    """Synthetic NEAR-DUPLICATE image corpus: documents in the same
    class (doc_id mod 64) share dimensions and low-frequency content
    but carry per-document pixel noise — the re-encoded / slightly-
    retouched duplicates an image curation pipeline must collapse that
    exact-hash dedup cannot.  Same real-codec ingest boundary as
    ``media_with_images`` (BMP for even doc_ids, P6 PPM for odd, one
    Arrow crossing per batch)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads, types = [], []
            for did in pdf["doc_id"]:
                did = int(did)
                cls = did % 64
                w = 8 + cls % 9
                h = 8 + (cls * 5) % 7
                rgb = variant_pixels(did, cls, w, h)
                if did % 2 == 0:
                    payloads.append(encode_bmp(rgb))
                    types.append("image/bmp")
                else:
                    payloads.append(encode_ppm(rgb))
                    types.append("image/x-portable-pixmap")
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": types,
                    "payload": payloads,
                    "n_bytes": [len(p) for p in payloads],
                    "checksum": [""] * len(payloads),
                }
            )

    from .util import spread

    return spread(documents.select("doc_id")).mapInPandas(
        run, schema=MEDIA_SCHEMA
    )


def extract_image_phash(media: DataFrame) -> DataFrame:
    """Average-hash (aHash) perceptual fingerprint over REAL decoded
    pixels: luminance (r+g+b, integer) is pooled into a 4x4 block
    grid; bit k = gi*4+gj is set iff that block's mean luminance
    exceeds the image mean — integer-exact via cross-multiplication
    (``block_sum * w * h > total_sum * block_pixels``), so no float
    division ever runs and any engine agrees bit-for-bit.  Emits the
    16-bit hash plus a position-weighted pixel checksum
    (sum(byte_j * (j+1))) that distinguishes byte-level variants the
    hash deliberately collapses.

    One Arrow crossing per batch; block pooling is numpy per image.
    Downstream grouping on (width, height, phash) is a plain hash
    aggregation — near-dup image discovery without any pairwise
    comparison, the property that makes it run at 10^10 images."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        g = _PHASH_GRID
        for pdf in batches:
            ws, hs, phs, cks = [], [], [], []
            for payload in pdf["payload"]:
                w, h, rgb = decode_image(bytes(payload))
                lum = rgb.astype(np.int64).sum(axis=2)
                gi = np.arange(h, dtype=np.int64) * g // h
                gj = np.arange(w, dtype=np.int64) * g // w
                cell = gi[:, None] * g + gj[None, :]
                sums = np.zeros(g * g, dtype=np.int64)
                np.add.at(sums, cell.ravel(), lum.ravel())
                pix = np.bincount(cell.ravel(), minlength=g * g)
                total = int(lum.sum())
                bits = sums * (w * h) > total * pix
                phash = int((bits * (1 << np.arange(g * g))).sum())
                flat = rgb.reshape(-1).astype(np.int64)
                cks.append(int((flat * np.arange(1, flat.size + 1)).sum()))
                ws.append(w)
                hs.append(h)
                phs.append(phash)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": ws,
                    "height": hs,
                    "phash": phs,
                    "pixel_checksum": cks,
                }
            )

    return media.mapInPandas(run, schema=PHASH_SCHEMA)


def phash_dup_groups(media: DataFrame) -> DataFrame:
    """Near-duplicate image groups by perceptual hash: one hash
    aggregation over (width, height, phash) — ``n_docs`` images
    collapse into a group while ``n_variants`` distinct pixel
    checksums prove they were not byte-duplicates (the gap exact
    dedup cannot close)."""
    return (
        extract_image_phash(media)
        .groupBy("width", "height", "phash")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("pixel_checksum").cast("long").alias(
                "n_variants"
            ),
            F.min("doc_id").cast("long").alias("min_doc_id"),
        )
    )
