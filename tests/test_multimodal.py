"""Multimodal (binary-column) plumbing: schema, batching, decode stub.

The codec itself is stubbed (no image/audio libs in this container) —
these tests pin the REAL parts: Arrow-batched mapInPandas signature,
deterministic fake features, metadata math, the explode shape of
frame sampling, and the NotImplementedError gate for real decoders.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from semhash_spark.operators.multimodal import extract_media_features, frame_sample_plan


def _media(spark):
    rows = [
        (0, "image", 64, 64, b"\x89PNG" + b"x" * 2048),
        (1, "audio", 0, 0, b"RIFF" + b"y" * 5000),
        (2, "video", 320, 240, b"\x00\x00\x01\xba" + b"z" * 3000),
        (3, "image", 1, 1, b""),
    ]
    return spark.createDataFrame(
        rows, "media_id long, kind string, width int, height int, payload binary"
    )


def test_fake_decode_deterministic_and_normalized(spark):
    df = _media(spark)
    out1 = {r.media_id: r for r in extract_media_features(df, "fake", dim=16).collect()}
    out2 = {r.media_id: r for r in extract_media_features(df, "fake", dim=16).collect()}
    assert set(out1) == {0, 1, 2, 3}
    for mid, r in out1.items():
        assert r.feat_dim == 16 and len(r.feat) == 16
        assert np.isclose(np.linalg.norm(r.feat), 1.0, atol=1e-5)
        assert list(r.feat) == list(out2[mid].feat)  # deterministic
    assert out1[1].n_bytes == 5004
    assert out1[3].n_bytes == 0


def test_real_decoder_is_gated(spark):
    df = _media(spark)
    with pytest.raises(Exception) as ei:
        extract_media_features(df, "real").collect()
    assert "NotImplementedError" in str(ei.value) or isinstance(
        ei.value, NotImplementedError
    )


def test_frame_sample_plan_shape(spark):
    df = _media(spark)
    out = frame_sample_plan(df, every_n=1).groupBy("media_id").agg(
        F.count("*").alias("n"), F.max("frame_idx").alias("mx")
    )
    got = {r.media_id: (r.n, r.mx) for r in out.collect()}
    # n_frames = bytes // 1024; at least one frame row each
    assert got[0] == (2, 1)      # 2052 bytes -> 2 frames
    assert got[1] == (4, 3)      # 5004 bytes -> 4 frames
    assert got[3] == (1, 0)      # empty payload -> single frame 0


def test_custom_decode_fn_injection(spark):
    """VERDICT r2 #10: a caller-supplied decode_fn rides the same
    Arrow mapInPandas path as the fake decoder."""
    from semhash_spark.operators.multimodal import extract_media_features

    def _byte_mean_decoder(payload: bytes):
        # nested def -> cloudpickle serializes it BY VALUE into the
        # UDF closure (a test-module top-level fn is pickled by
        # reference and the worker cannot import the test module)
        import numpy as np

        b = np.frombuffer(payload or b"\x00", dtype=np.uint8).astype(np.float32)
        return np.array(
            [b.mean(), b.std(), float(len(b)), float(b[0])], dtype=np.float32
        )

    rows = [(1, "image", 2, 2, bytearray(b"abcd")), (2, "audio", 0, 0, bytearray(b"zz"))]
    df = spark.createDataFrame(
        rows, "media_id long, kind string, width int, height int, payload binary"
    )
    out = extract_media_features(df, decode_fn=_byte_mean_decoder).collect()
    got = {r.media_id: r for r in out}
    assert got[1].feat_dim == 4 and got[2].feat_dim == 4
    import numpy as np

    exp1 = _byte_mean_decoder(b"abcd")
    assert np.allclose(got[1].feat, exp1, rtol=1e-6)
    assert got[1].n_bytes == 4 and got[2].n_bytes == 2


def test_real_decoder_still_raises(spark):
    from semhash_spark.operators.multimodal import extract_media_features

    rows = [(1, "image", 2, 2, bytearray(b"abcd"))]
    df = spark.createDataFrame(
        rows, "media_id long, kind string, width int, height int, payload binary"
    )
    import pytest as _pytest
    from py4j.protocol import Py4JJavaError

    with _pytest.raises(Exception) as ei:
        extract_media_features(df, decoder="real").collect()
    assert "NotImplementedError" in str(ei.value) or isinstance(
        ei.value, NotImplementedError
    )
