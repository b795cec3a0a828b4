"""Multimodal (binary) column plumbing.

Images/audio/video ride as opaque ``binary`` columns with typed
metadata; decode / feature-extraction runs as Arrow-batched
``mapInPandas`` so each Python worker sees columnar batches, never a
row at a time. ``decoder="fake"`` produces a deterministic feature
vector from the bytes (plumbing tests without any codec);
``decoder="real"`` takes a ``decode_fn`` codec closure (PIL/ffmpeg
in production) through the same Arrow batch path. ``decoder="real"``
without a ``decode_fn`` raises with guidance.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

FEATURE_SCHEMA = (
    "media_id long, kind string, feat array<float>, feat_dim int, n_bytes long"
)


def _fake_decode(payload: bytes, dim: int = 16) -> np.ndarray:
    """Deterministic stand-in for decode+embed: sha256-seeded vector."""
    h = hashlib.sha256(payload or b"").digest()
    seed = int.from_bytes(h[:8], "little")
    rng = np.random.Generator(np.random.PCG64(seed))
    v = rng.standard_normal(dim)
    return (v / np.linalg.norm(v)).astype(np.float32)


def extract_media_features(
    df: DataFrame,
    decoder: str = "fake",
    dim: int = 16,
    decode_fn=None,
) -> DataFrame:
    """binary payload -> feature vector, Arrow-batched.

    Input schema must include (media_id long, kind string,
    payload binary); output FEATURE_SCHEMA.

    ``decode_fn`` is the real-decoder SEAM (VERDICT r2 #10): a
    callable ``(payload: bytes) -> np.ndarray[dim] float`` —
    typically a closure over PIL/ffmpeg/soundfile — injected into the
    same Arrow batch path as the fake decoder, so wiring a real codec
    is an argument, not an edit. It must be picklable (defined at
    module level or built by a factory) since it ships inside the UDF
    closure. ``decoder="real"`` without ``decode_fn`` still raises
    with guidance.
    """
    if decode_fn is None and decoder == "fake":
        decode_fn = lambda p: _fake_decode(p, dim)  # noqa: E731

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if decode_fn is None:
                raise NotImplementedError(
                    "real decoders (PIL/ffmpeg/soundfile) are not available "
                    "in this environment; pass decode_fn=(bytes -> ndarray) "
                    "to plug one in"
                )
            feats = [decode_fn(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "feat": [list(map(float, f)) for f in feats],
                    "feat_dim": [len(f) for f in feats],  # actual decode_fn width
                    "n_bytes": [len(p or b"") for p in pdf["payload"]],
                }
            )

    return df.mapInPandas(run, FEATURE_SCHEMA)


def frame_sample_plan(df: DataFrame, every_n: int = 30) -> DataFrame:
    """Video frame-sampling PLAN stub: one output row per sampled
    frame index, derived from metadata only (no codec). Shows the
    explode shape a real frame sampler would produce."""
    from pyspark.sql import functions as F

    n_frames = (F.coalesce(F.col("width"), F.lit(0)) * 0 + F.length("payload") / 1024).cast("int")
    return df.select(
        "media_id",
        F.explode(F.sequence(F.lit(0), F.greatest(n_frames - 1, F.lit(0)), F.lit(every_n))).alias(
            "frame_idx"
        ),
    )
