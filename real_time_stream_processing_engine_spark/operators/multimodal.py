"""Multimodal column plumbing: opaque binary payloads + typed metadata,
processed by Arrow-batched ``mapInPandas``.

The pattern for image/audio/video at 100 TB: store the payload as a
``binary`` column (or a pointer column to object storage) next to typed
metadata; decode and feature extraction run as a ``mapInPandas`` stage so
bytes move driver-free, Arrow-batched, one Python worker per core, and
the output schema is declared up front so everything downstream is
ordinary columnar Spark.

Decode support is two-tier:

- REAL codecs for the uncompressed raster formats a pure-numpy decoder
  can handle honestly — PPM/PGM (P6/P5) and 24-bit uncompressed BMP
  (:func:`real_decode`), plus a PPM re-encoder (:func:`encode_ppm`).
- compressed formats (JPEG/PNG/video/audio) still raise
  ``NotImplementedError`` from :func:`real_decode` — their codecs
  (PIL/ffmpeg) are not in this container.  ``fake_decode_features``
  remains the clearly-marked deterministic stand-in used by the
  fixture queries, whose payloads are text bytes, not media.
"""

from __future__ import annotations

import hashlib
import re
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("byte_len", T.LongType()),
        T.StructField("feat8", T.StringType()),
    ]
)


def _payloads(
    docs: DataFrame, text_col: str, min_parallelism: int | None
) -> DataFrame:
    """(doc_id, payload) projection, repartitioned for the decode stage.

    When ``min_parallelism`` is set the repartition is UNCONDITIONAL:
    probing the current partition count via ``df.rdd.getNumPartitions()``
    forces an RDD conversion + plan analysis per call, which costs more
    than the shuffle it tries to avoid — and before a CPU-bound Python
    decode the shuffle pays for itself whenever it widens parallelism.

    Rows with a NULL ``text_col`` carry no payload and are EXCLUDED by
    declaration (r7 review): a None payload reaching the fake decode
    stages raised a TypeError that killed the whole stage — the real
    decode paths quarantine per-row instead, but the fake schemas have
    no error column, so declared exclusion is the honest contract."""
    with_payload = docs.filter(F.col(text_col).isNotNull()).select(
        "doc_id", F.encode(F.col(text_col), "UTF-8").alias("payload")
    )
    if min_parallelism:
        with_payload = with_payload.repartition(min_parallelism)
    return with_payload


#: THE one PPM/PGM header pattern — decode_ppm and iter_ppm_frames
#: both match through it (they carried byte-identical copies; a
#: comment-handling fix to one would have silently diverged the
#: single-image decoder from the video-container walker — r7 review)
_PPM_HDR = re.compile(
    rb"(P[56])\s+(?:#[^\n]*\n\s*)*(\d+)\s+(?:#[^\n]*\n\s*)*(\d+)"
    rb"\s+(?:#[^\n]*\n\s*)*(\d+)\s"
)


def decode_ppm(payload: bytes) -> np.ndarray:
    """Decode binary PPM (P6, RGB) / PGM (P5, grayscale) to an
    (h, w, c) uint8 array.  Pure numpy: header is ASCII tokens
    (magic, width, height, maxval) with ``#`` comments, then one raw
    raster separated by a single whitespace byte."""
    m = _PPM_HDR.match(payload)
    if not m:
        raise ValueError("not a binary PPM/PGM payload")
    magic, w, h, maxval = m.group(1), int(m.group(2)), int(m.group(3)), int(m.group(4))
    if maxval > 255:
        raise ValueError("16-bit PPM not supported")
    c = 3 if magic == b"P6" else 1
    raster = payload[m.end() :]
    need = w * h * c
    if len(raster) < need:
        raise ValueError(f"truncated raster: {len(raster)} < {need}")
    return np.frombuffer(raster[:need], dtype=np.uint8).reshape(h, w, c)


def encode_ppm(img: np.ndarray) -> bytes:
    """(h, w, 1|3) uint8 array -> binary PGM/PPM bytes (round-trips
    through :func:`decode_ppm`)."""
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, c = img.shape
    magic = b"P6" if c == 3 else b"P5"
    return magic + f"\n{w} {h}\n255\n".encode() + img.astype(np.uint8).tobytes()


def decode_bmp(payload: bytes) -> np.ndarray:
    """Decode uncompressed 24-bit bottom-up BMP to (h, w, 3) uint8 RGB.
    Pure numpy; rejects compressed/paletted variants explicitly."""
    if payload[:2] != b"BM" or len(payload) < 54:
        raise ValueError("not a BMP payload")
    data_off = int.from_bytes(payload[10:14], "little")
    w = int.from_bytes(payload[18:22], "little", signed=True)
    h = int.from_bytes(payload[22:26], "little", signed=True)
    bpp = int.from_bytes(payload[28:30], "little")
    compression = int.from_bytes(payload[30:34], "little")
    if bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP: {bpp}bpp compression={compression}")
    if h < 0:  # negative height = top-down
        h, topdown = -h, True
    else:
        topdown = False
    stride = (w * 3 + 3) & ~3  # rows pad to 4 bytes
    need = data_off + stride * h
    if len(payload) < need:
        raise ValueError(f"truncated raster: {len(payload)} < {need}")
    rows = np.frombuffer(
        payload[data_off : data_off + stride * h], dtype=np.uint8
    ).reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if not topdown:
        rows = rows[::-1]
    return rows[:, :, ::-1].copy()  # BGR -> RGB


def real_decode(payload: bytes) -> np.ndarray:
    """Decode a binary image payload to an (h, w, c) uint8 array.

    REAL for the self-describing uncompressed formats (PPM/PGM/BMP,
    sniffed by magic bytes); compressed formats still raise — their
    codecs (PIL/ffmpeg) are not in this container, and faking a JPEG
    decode would be dishonest.  Callers route undecodable payloads to
    the fake-feature path or a quarantine column."""
    head = bytes(payload[:2])
    if head in (b"P6", b"P5"):
        return decode_ppm(payload)
    if head == b"BM":
        return decode_bmp(payload)
    raise NotImplementedError(
        "compressed media codecs (JPEG/PNG/video) not installed; "
        "PPM/PGM/BMP decode natively, others need PIL/ffmpeg"
    )


def fake_decode_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """DETERMINISTIC FAKE decoder: byte length + first 8 hex chars of
    md5(payload).  Stands in for decode->feature-extract so the Arrow
    batch path and output contract are exercised for real."""
    for pdf in batches:
        payloads = pdf["payload"]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].astype("int64"),
                "byte_len": payloads.map(len).astype("int64"),
                "feat8": payloads.map(lambda b: hashlib.md5(bytes(b)).hexdigest()[:8]),
            }
        )


def extract_features(
    docs: DataFrame, text_col: str = "text", min_parallelism: int | None = None
) -> DataFrame:
    """Binary-column feature extraction over documents.

    Builds the binary payload from the text column (the fixture has no
    media blobs), then runs the Arrow-batched decode stage.  The payload
    construction is the only fixture-specific line.

    Decode is CPU-bound Python, so partition count governs throughput:
    a handful of giant input files pins the decode on a few Python
    workers, and thousands of tiny splits churn worker startup.
    ``min_parallelism`` repartitions the payloads to EXACTLY that many
    partitions before the decode (set it to ~2-4x total cores); the one
    shuffle is cheaper than idle or thrashing Python workers."""
    with_payload = _payloads(docs, text_col, min_parallelism)
    return with_payload.mapInPandas(fake_decode_features, FEATURE_SCHEMA)


IMAGE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("mean_luma", T.DoubleType()),
        T.StructField("decode_error", T.StringType()),
    ]
)


def real_image_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """REAL decode -> feature extraction for (doc_id, payload) batches
    of PPM/PGM/BMP bytes: dimensions + mean luminance per image.
    Undecodable payloads land in ``decode_error`` (quarantine column)
    instead of failing the stage — at 100 TB a poison payload must
    never kill the job."""
    for pdf in batches:
        out = {k: [] for k in ("doc_id", "width", "height", "channels", "mean_luma", "decode_error")}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            out["doc_id"].append(int(doc_id))
            try:
                img = real_decode(bytes(payload))
                h, w, c = img.shape
                out["width"].append(w)
                out["height"].append(h)
                out["channels"].append(c)
                out["mean_luma"].append(round(float(img.mean()), 6))
                out["decode_error"].append(None)
            except Exception as e:
                out["width"].append(None)
                out["height"].append(None)
                out["channels"].append(None)
                out["mean_luma"].append(None)
                out["decode_error"].append(f"{type(e).__name__}: {e}"[:120])
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(out["doc_id"], dtype="int64"),
                "width": pd.Series(out["width"], dtype="Int32"),
                "height": pd.Series(out["height"], dtype="Int32"),
                "channels": pd.Series(out["channels"], dtype="Int32"),
                "mean_luma": pd.Series(out["mean_luma"], dtype="float64"),
                "decode_error": out["decode_error"],
            }
        )


def extract_image_features(
    images: DataFrame, payload_col: str = "payload", min_parallelism: int | None = None
) -> DataFrame:
    """Real image feature extraction over a (doc_id, payload) frame of
    PPM/PGM/BMP bytes — same Arrow mapInPandas shape as the fake path,
    real pixels."""
    df = images.select("doc_id", F.col(payload_col).alias("payload"))
    if min_parallelism:
        df = df.repartition(min_parallelism)
    return df.mapInPandas(real_image_features, IMAGE_SCHEMA)


# ---------------------------------------------------------------- audio (WAV)

def decode_wav(payload: bytes) -> tuple[int, int, np.ndarray]:
    """REAL pure-numpy WAV (RIFF/PCM) decoder: parses the chunk tree
    (fmt + data, tolerating extra chunks), validates PCM 16-bit, and
    returns (sample_rate, n_channels, samples[int16, frames x ch]).
    The audio analogue of the PPM/PGM/BMP image codecs — uncompressed
    formats need no external libs, so the decode is real, not a stub;
    compressed audio (mp3/ogg/aac) stays behind the same env-gated
    boundary as JPEG/PNG."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = int.from_bytes(payload[pos + 4 : pos + 8], "little")
        body = payload[pos + 8 : pos + 8 + size]
        if len(body) < size:
            # a cut-off object-store read still has valid headers; it
            # must NOT silently decode as a shorter clip (the image
            # codecs already raise on truncation — same posture here;
            # r5 review catch)
            raise ValueError(
                f"truncated WAV chunk {cid!r}: declared {size} bytes, "
                f"got {len(body)}"
            )
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_format = int.from_bytes(fmt[0:2], "little")
    n_ch = int.from_bytes(fmt[2:4], "little")
    rate = int.from_bytes(fmt[4:8], "little")
    bits = int.from_bytes(fmt[14:16], "little")
    if audio_format != 1 or bits != 16:
        raise ValueError(f"unsupported WAV: format={audio_format} bits={bits}")
    if n_ch < 1 or rate < 1:
        # a zero channel count escaped as ZeroDivisionError below, and
        # rate=0 "decoded" only to poison duration_s downstream with a
        # misleading arithmetic error (r7 review) — malformed headers
        # get the contract's ValueError like every other reject
        raise ValueError(f"unsupported WAV: channels={n_ch} rate={rate}")
    samples = np.frombuffer(
        data[: (len(data) // (2 * n_ch)) * 2 * n_ch], dtype="<i2"
    ).reshape(-1, n_ch)
    return rate, n_ch, samples


AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("mean_abs", T.DoubleType()),
        T.StructField("peak_abs", T.IntegerType()),
        T.StructField("decode_error", T.StringType()),
    ]
)


def real_audio_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """REAL WAV decode -> features (rate, frames, duration, mean |amp|,
    peak) per payload; undecodable payloads quarantine in
    ``decode_error`` instead of failing the stage."""
    for pdf in batches:
        out = {k: [] for k in (
            "doc_id", "sample_rate", "n_channels", "n_frames",
            "duration_s", "mean_abs", "peak_abs", "decode_error",
        )}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            out["doc_id"].append(int(doc_id))
            try:
                rate, n_ch, samples = decode_wav(bytes(payload))
                amp = np.abs(samples.astype(np.int64))
                out["sample_rate"].append(rate)
                out["n_channels"].append(n_ch)
                out["n_frames"].append(samples.shape[0])
                out["duration_s"].append(round(samples.shape[0] / rate, 6))
                out["mean_abs"].append(round(float(amp.mean()), 6))
                out["peak_abs"].append(int(amp.max()))
                out["decode_error"].append(None)
            except Exception as e:
                for k in ("sample_rate", "n_channels", "n_frames",
                          "duration_s", "mean_abs", "peak_abs"):
                    out[k].append(None)
                out["decode_error"].append(f"{type(e).__name__}: {e}"[:120])
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(out["doc_id"], dtype="int64"),
                "sample_rate": pd.Series(out["sample_rate"], dtype="Int32"),
                "n_channels": pd.Series(out["n_channels"], dtype="Int32"),
                "n_frames": pd.Series(out["n_frames"], dtype="Int32"),
                "duration_s": pd.Series(out["duration_s"], dtype="float64"),
                "mean_abs": pd.Series(out["mean_abs"], dtype="float64"),
                "peak_abs": pd.Series(out["peak_abs"], dtype="Int32"),
                "decode_error": out["decode_error"],
            }
        )


def wav_header(n_data_bytes: int, rate: int = 8000, n_ch: int = 1) -> bytes:
    """The 44-byte RIFF/WAVE header of a PCM-16 clip whose sample data
    is ``n_data_bytes`` long (the queries that build WAV payloads as a
    JVM binary projection prepend exactly these bytes)."""
    block = 2 * n_ch
    return (
        b"RIFF" + (36 + n_data_bytes).to_bytes(4, "little") + b"WAVE"
        + b"fmt " + (16).to_bytes(4, "little")
        + (1).to_bytes(2, "little") + n_ch.to_bytes(2, "little")
        + rate.to_bytes(4, "little") + (rate * block).to_bytes(4, "little")
        + block.to_bytes(2, "little") + (16).to_bytes(2, "little")
        + b"data" + n_data_bytes.to_bytes(4, "little")
    )


def encode_wav(samples: np.ndarray, rate: int = 8000) -> bytes:
    """Minimal PCM-16 mono/stereo WAV encoder (bit-exact round-trip
    partner of :func:`decode_wav`)."""
    if samples.ndim == 1:
        samples = samples[:, None]
    data = samples.astype("<i2").tobytes()
    return wav_header(len(data), rate, samples.shape[1]) + data


def extract_audio_features(
    audio: DataFrame, payload_col: str = "payload", min_parallelism: int | None = None
) -> DataFrame:
    """Real audio feature extraction over a (doc_id, payload) frame of
    WAV bytes — same Arrow mapInPandas shape as the image path."""
    df = audio.select("doc_id", F.col(payload_col).alias("payload"))
    if min_parallelism:
        df = df.repartition(min_parallelism)
    return df.mapInPandas(real_audio_features, AUDIO_SCHEMA)


AUDIO_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("n_samples", T.IntegerType()),
        T.StructField("sumsq", T.LongType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("decode_error", T.StringType()),
    ]
)


def real_audio_frames(frame_size: int):
    """Row-exploding WAV decode: each payload yields one row per
    fixed-size analysis frame with its exact int64 energy (sum of
    squared samples, channel-summed) and RMS.  sumsq is EXACT integer
    arithmetic and rms = sqrt(sumsq/n) is one IEEE op on it, so the
    frames hash-match any engine recomputing the same samples."""
    if frame_size < 1:
        # fail once at the driver, not as per-row quarantine garbage
        raise ValueError(f"frame_size must be >= 1, got {frame_size}")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in (
                "doc_id", "frame_idx", "n_samples", "sumsq", "rms",
                "decode_error",
            )}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    _rate, _n_ch, samples = decode_wav(bytes(payload))
                    flat = samples.astype(np.int64)
                    for f in range(0, flat.shape[0], frame_size):
                        chunk = flat[f : f + frame_size]
                        ssq = int((chunk * chunk).sum())
                        n = int(chunk.shape[0] * chunk.shape[1])
                        rows["doc_id"].append(int(doc_id))
                        rows["frame_idx"].append(f // frame_size)
                        rows["n_samples"].append(n)
                        rows["sumsq"].append(ssq)
                        rows["rms"].append(float(np.sqrt(ssq / n)))
                        rows["decode_error"].append(None)
                except Exception as e:  # quarantine, never fail the stage
                    rows["doc_id"].append(int(doc_id))
                    rows["frame_idx"].append(-1)
                    for k in ("n_samples", "sumsq", "rms"):
                        rows[k].append(None)
                    rows["decode_error"].append(
                        f"{type(e).__name__}: {e}"[:120]
                    )
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(rows["doc_id"], dtype="int64"),
                    "frame_idx": pd.Series(rows["frame_idx"], dtype="Int32"),
                    "n_samples": pd.Series(rows["n_samples"], dtype="Int32"),
                    "sumsq": pd.Series(rows["sumsq"], dtype="Int64"),
                    "rms": pd.Series(rows["rms"], dtype="float64"),
                    "decode_error": rows["decode_error"],
                }
            )

    return gen


def extract_audio_frames(
    audio: DataFrame, frame_size: int = 2, payload_col: str = "payload",
    min_parallelism: int | None = None,
) -> DataFrame:
    """Per-frame energy extraction over (doc_id, payload) WAV bytes —
    the framing step every audio featurizer (VAD, loudness
    normalization, spectrogram prep) starts from, as the same Arrow
    mapInPandas shape as the image/audio feature paths.
    ``min_parallelism`` widens the CPU-bound decode like every sibling
    entry point (this row-exploding stage was the one without the
    knob; r7 review)."""
    df = audio.select("doc_id", F.col(payload_col).alias("payload"))
    if min_parallelism:
        df = df.repartition(min_parallelism)
    return df.mapInPandas(real_audio_frames(frame_size), AUDIO_FRAME_SCHEMA)


def iter_ppm_frames(payload: bytes):
    """Walk a concatenated-PPM container (the honest uncompressed
    'video' this environment can decode natively — an MJPEG-style
    stream with PPM/PGM frames) yielding (h, w, c) uint8 arrays.
    Raises on the first malformed frame so a truncated tail cannot
    silently pass as a short clip.

    Matching uses ``_PPM_HDR.match(payload, pos)`` — NOT
    ``payload[pos:]`` — so the walk never copies the remaining tail
    per frame (that made container decode O(frames x bytes): hundreds
    of GB of memcpy on a 100 MB multi-thousand-frame clip; r7
    review)."""
    pos = 0
    while pos < len(payload):
        m = _PPM_HDR.match(payload, pos)
        if not m:
            raise ValueError(f"bad frame header at offset {pos}")
        w, h = int(m.group(2)), int(m.group(3))
        c = 3 if m.group(1) == b"P6" else 1
        start = m.end()
        need = w * h * c
        if len(payload) - start < need:
            raise ValueError(f"truncated frame at offset {pos}")
        yield np.frombuffer(
            payload[start : start + need], dtype=np.uint8
        ).reshape(h, w, c)
        pos = start + need


VIDEO_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("n_px", T.IntegerType()),
        T.StructField("sum_px", T.LongType()),
        T.StructField("min_px", T.IntegerType()),
        T.StructField("max_px", T.IntegerType()),
        T.StructField("decode_error", T.StringType()),
    ]
)


def sample_video_frames(video: DataFrame, stride: int = 2,
                        payload_col: str = "payload") -> DataFrame:
    """Frame-sample a concatenated-PPM video column: decode the
    container, keep every ``stride``-th frame, emit exact integer
    pixel statistics per kept frame — the video leg of the multimodal
    family (q76 images, q115/q140 audio), with the same Arrow
    mapInPandas plumbing and quarantine-not-fail error posture.
    Compressed codecs (H.264 etc.) stay behind the env-gated
    PIL/ffmpeg boundary like JPEG/PNG."""
    if stride < 1:
        # a caller bug must fail ONCE at the driver; inside the decode
        # loop it would quarantine EVERY row as ZeroDivisionError and
        # the job would "succeed" with 100% garbage (r5 review catch)
        raise ValueError(f"stride must be >= 1, got {stride}")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in (
                "doc_id", "frame_idx", "n_px", "sum_px", "min_px",
                "max_px", "decode_error",
            )}
            for doc_id, payload in zip(pdf["doc_id"], pdf[payload_col]):
                # frames emit DURING iteration, so a mid-stream decode
                # failure must ROLL BACK the doc's partial rows: without
                # this a truncated clip's leading frames shipped as a
                # "valid short clip" — the exact outcome the
                # raise-on-truncation contract exists to prevent (r7
                # review; the WAV paths are immune only because they
                # decode fully before emitting)
                mark = len(rows["doc_id"])
                try:
                    for i, frame in enumerate(iter_ppm_frames(bytes(payload))):
                        if i % stride:
                            continue
                        flat = frame.astype(np.int64)
                        rows["doc_id"].append(int(doc_id))
                        rows["frame_idx"].append(i)
                        rows["n_px"].append(int(flat.size))
                        rows["sum_px"].append(int(flat.sum()))
                        rows["min_px"].append(int(flat.min()))
                        rows["max_px"].append(int(flat.max()))
                        rows["decode_error"].append(None)
                except Exception as e:
                    for k in rows:
                        del rows[k][mark:]
                    rows["doc_id"].append(int(doc_id))
                    rows["frame_idx"].append(-1)
                    for k in ("n_px", "sum_px", "min_px", "max_px"):
                        rows[k].append(None)
                    rows["decode_error"].append(
                        f"{type(e).__name__}: {e}"[:120]
                    )
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(rows["doc_id"], dtype="int64"),
                    "frame_idx": pd.Series(rows["frame_idx"], dtype="Int32"),
                    "n_px": pd.Series(rows["n_px"], dtype="Int32"),
                    "sum_px": pd.Series(rows["sum_px"], dtype="Int64"),
                    "min_px": pd.Series(rows["min_px"], dtype="Int32"),
                    "max_px": pd.Series(rows["max_px"], dtype="Int32"),
                    "decode_error": rows["decode_error"],
                }
            )

    return video.select("doc_id", F.col(payload_col).alias(payload_col)) \
                .mapInPandas(gen, VIDEO_FRAME_SCHEMA)
