"""Real image codecs (pure numpy): PPM/PGM/BMP decode, PPM re-encode —
and the Spark mapInPandas stages over them.

These are REAL pixels, not the fake-feature path: arrays round-trip
bit-exactly, BMP row padding / bottom-up order / BGR swap are pinned,
and undecodable payloads quarantine instead of failing the stage.
"""

from __future__ import annotations

import numpy as np
import pytest

from real_time_stream_processing_engine_spark.operators.multimodal import (
    decode_bmp,
    decode_ppm,
    encode_ppm,
    extract_image_features,
    real_decode,
)


def _rand_img(h, w, c, seed):
    return np.random.RandomState(seed).randint(0, 256, (h, w, c), dtype=np.uint8)


def _bmp_bytes(img: np.ndarray, topdown: bool = False) -> bytes:
    """Hand-rolled 24-bit uncompressed BMP writer (test-side reference)."""
    h, w, _ = img.shape
    stride = (w * 3 + 3) & ~3
    raster = bytearray()
    rows = img if topdown else img[::-1]
    for row in rows:
        raster += row[:, ::-1].tobytes()  # RGB -> BGR
        raster += b"\x00" * (stride - w * 3)
    data_off = 54
    size = data_off + len(raster)
    header = (
        b"BM"
        + size.to_bytes(4, "little")
        + b"\x00\x00\x00\x00"
        + data_off.to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + (-h if topdown else h).to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")
        + len(raster).to_bytes(4, "little")
        + b"\x00" * 16
    )
    return bytes(header) + bytes(raster)


@pytest.mark.parametrize("h,w,c", [(5, 7, 3), (1, 1, 3), (4, 4, 1), (3, 9, 1)])
def test_ppm_roundtrip_bit_exact(h, w, c):
    img = _rand_img(h, w, c, seed=h * 100 + w * 10 + c)
    assert np.array_equal(decode_ppm(encode_ppm(img)), img)


def test_ppm_header_comments_and_whitespace():
    img = _rand_img(2, 3, 3, seed=1)
    payload = b"P6 # a comment\n# another\n 3\n2 # dims\n 255\n" + img.tobytes()
    assert np.array_equal(decode_ppm(payload), img)


def test_ppm_truncated_raster_rejected():
    img = _rand_img(4, 4, 3, seed=2)
    with pytest.raises(ValueError, match="truncated"):
        decode_ppm(encode_ppm(img)[:-5])


@pytest.mark.parametrize("w", [3, 4, 5])  # w=3,5 exercise row padding
@pytest.mark.parametrize("topdown", [False, True])
def test_bmp_roundtrip(w, topdown):
    img = _rand_img(4, w, 3, seed=w)
    assert np.array_equal(decode_bmp(_bmp_bytes(img, topdown)), img)


def test_bmp_rejects_compressed():
    img = _rand_img(2, 2, 3, seed=3)
    raw = bytearray(_bmp_bytes(img))
    raw[30:34] = (1).to_bytes(4, "little")  # BI_RLE8
    with pytest.raises(ValueError, match="unsupported"):
        decode_bmp(bytes(raw))


def test_real_decode_dispatches_and_rejects():
    img = _rand_img(3, 3, 3, seed=4)
    assert np.array_equal(real_decode(encode_ppm(img)), img)
    assert np.array_equal(real_decode(_bmp_bytes(img)), img)
    with pytest.raises(NotImplementedError):
        real_decode(b"\x89PNG\r\n\x1a\n....")


def test_spark_image_features_and_quarantine(spark):
    imgs = {
        1: _rand_img(4, 6, 3, seed=11),
        2: _rand_img(2, 2, 1, seed=12),
    }
    rows = [(k, encode_ppm(v)) for k, v in imgs.items()]
    rows.append((3, b"\xffnot-an-image"))
    df = spark.createDataFrame(rows, "doc_id: long, payload: binary")
    got = {r["doc_id"]: r for r in extract_image_features(df).collect()}
    assert (got[1]["width"], got[1]["height"], got[1]["channels"]) == (6, 4, 3)
    assert got[1]["mean_luma"] == round(float(imgs[1].mean()), 6)
    assert (got[2]["width"], got[2]["height"], got[2]["channels"]) == (2, 2, 1)
    assert got[3]["width"] is None and "NotImplementedError" in got[3]["decode_error"]


# ---------------------------------------------------------------- WAV audio


def test_wav_roundtrip_mono_and_stereo():
    import numpy as np

    from real_time_stream_processing_engine_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
    )

    mono = (np.arange(-100, 100) * 163).astype(np.int16)
    r, ch, got = decode_wav(encode_wav(mono, 44100))
    assert (r, ch) == (44100, 1) and (got[:, 0] == mono).all()
    stereo = np.stack([mono, mono[::-1]], axis=1)
    r, ch, got = decode_wav(encode_wav(stereo, 8000))
    assert (r, ch) == (8000, 2) and (got == stereo).all()


def test_wav_tolerates_extra_chunks():
    """Real-world WAVs carry LIST/INFO chunks between fmt and data —
    the chunk walk must skip them (with word alignment)."""
    import numpy as np

    from real_time_stream_processing_engine_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
    )

    s = (np.arange(8) * 1000).astype(np.int16)
    b = encode_wav(s, 8000)
    # splice an odd-sized LIST chunk after fmt (ends at byte 36)
    extra = b"LIST" + (5).to_bytes(4, "little") + b"INFOx" + b"\x00"
    spliced = b[:36] + extra + b[36:]
    # fix the RIFF size
    spliced = (
        b"RIFF"
        + (len(spliced) - 8).to_bytes(4, "little")
        + spliced[8:]
    )
    r, ch, got = decode_wav(spliced)
    assert (got[:, 0] == s).all()


def test_wav_decode_quarantines_garbage(spark):
    """Poison payloads land in decode_error, never fail the stage."""
    from real_time_stream_processing_engine_spark.operators.multimodal import (
        extract_audio_features,
    )

    df = spark.createDataFrame(
        [(1, bytearray(b"not a wav")), (2, None)],
        "doc_id: long, payload: binary",
    )
    rows = {r["doc_id"]: r for r in extract_audio_features(df).collect()}
    assert rows[1]["decode_error"] is not None
    assert rows[1]["mean_abs"] is None
    assert rows[2]["decode_error"] is not None
