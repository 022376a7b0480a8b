"""Multimodal decode plumbing: video container walking and frame
sampling (row expansion) and WAV decoding, Arrow-batched mapInPandas
over real pure-numpy codecs — the schema/batch/partitioning contract
is what's under test.
"""

from __future__ import annotations


def test_video_container_walker():
    import numpy as np

    from real_time_stream_processing_engine_spark.operators.multimodal import (
        encode_ppm,
        iter_ppm_frames,
    )

    f0 = np.arange(4, dtype=np.uint8).reshape(2, 2, 1)
    f1 = np.full((2, 3, 3), 7, dtype=np.uint8)  # mixed size AND channels
    payload = encode_ppm(f0) + encode_ppm(f1) + encode_ppm(f0)
    frames = list(iter_ppm_frames(payload))
    assert [f.shape for f in frames] == [(2, 2, 1), (2, 3, 3), (2, 2, 1)]
    assert (frames[0] == f0).all() and (frames[1] == f1).all()

    import pytest as _pytest

    with _pytest.raises(ValueError, match="truncated frame"):
        list(iter_ppm_frames(payload[:-2]))
    with _pytest.raises(ValueError, match="bad frame header"):
        list(iter_ppm_frames(payload + b"JUNK"))


def test_video_frame_sampler_stride(spark):
    import numpy as np

    from real_time_stream_processing_engine_spark.operators.multimodal import (
        encode_ppm,
        sample_video_frames,
    )

    clip = b"".join(
        encode_ppm(np.full((2, 2, 1), i * 10, dtype=np.uint8)) for i in range(5)
    )
    df = spark.createDataFrame([(1, bytearray(clip))], "doc_id long, payload binary")
    rows = {r.frame_idx: r for r in sample_video_frames(df, stride=2).collect()}
    assert sorted(rows) == [0, 2, 4]
    assert rows[2].sum_px == 80 and rows[2].min_px == 20
    assert rows[0].decode_error is None


def test_truncated_wav_is_quarantined_not_shortened(spark):
    """r5 review: a cut-off WAV still has valid headers; it must land
    in quarantine (decode_error), never decode as a shorter clip."""
    import pytest as _pytest

    from real_time_stream_processing_engine_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
    )

    import numpy as np

    full = encode_wav(np.array([100, -100, 200, -200] * 100), rate=16000)
    with _pytest.raises(ValueError, match="truncated"):
        decode_wav(full[: len(full) // 2])


def test_frame_samplers_validate_parameters(spark):
    """r5 review: stride=0 / frame_size=0 used to quarantine EVERY row
    as ZeroDivisionError; they must fail once at the driver."""
    import pytest as _pytest

    from real_time_stream_processing_engine_spark.operators.multimodal import (
        real_audio_frames,
        sample_video_frames,
    )

    df = spark.createDataFrame([(1, bytearray(b"x"))], "doc_id long, payload binary")
    with _pytest.raises(ValueError, match="stride"):
        sample_video_frames(df, stride=0)
    with _pytest.raises(ValueError, match="frame_size"):
        real_audio_frames(0)
