"""Multimodal column plumbing: image/audio/video as opaque BINARY
columns with typed metadata, processed via Arrow-batched mapInPandas.

The container has no image/audio codecs, so the decode kernels are
deterministic fakes behind ``FAKE_DECODERS`` (clearly marked; swap for
PIL/librosa in a real deployment). Everything Spark-side — schemas,
batch iteration, partition sizing, UDF signatures — is real and tested:
that is the part that has to be right at 100 TB.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "media_id BIGINT, kind STRING, payload BINARY, "
    "meta STRUCT<width: INT, height: INT, sample_rate: INT, n_frames: INT>"
)

FEATURE_SCHEMA = (
    "media_id BIGINT, kind STRING, feat ARRAY<DOUBLE>, "
    "out_width INT, out_height INT"
)
FEATURE_SIZE = (8, 8)  # (width, height) of the block-mean feature grid
MEDIA_N = 64  # items in the synthetic_media fixture
FRAME_EVERY = 10  # frame_sample keeps every FRAME_EVERY-th video frame


def _fake_decode_image(payload: bytes, width: int, height: int) -> np.ndarray:
    """DETERMINISTIC FAKE decoder (no codec libs in this container):
    expands sha256(payload) into a (height, width) luma plane. Replace
    with a real decoder in production; the Spark plumbing is unchanged."""
    digest = hashlib.sha256(payload).digest()
    seed = np.frombuffer(digest, dtype=np.uint8).astype(np.float64)
    n = width * height
    reps = int(np.ceil(n / len(seed)))
    return np.tile(seed, reps)[:n].reshape(height, width) / 255.0


def decode_and_featurize(media: DataFrame) -> DataFrame:
    """media table -> per-item feature vectors via mapInPandas.

    The resize is a real block-mean downsample (numpy) to
    ``FEATURE_SIZE``; only the codec byte->pixels step is the
    deterministic fake. Batches stream through Arrow; nothing
    materializes a whole partition in memory.
    """
    ow, oh = FEATURE_SIZE

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for payload, meta in zip(pdf["payload"], pdf["meta"]):
                w = int(meta["width"] or 16)
                h = int(meta["height"] or 16)
                img = _fake_decode_image(bytes(payload), w, h)
                # block-mean resize to (oh, ow): one reduceat per axis
                # — no Python-level pixel loops. reduceat's repeated-
                # index rule (indices[i] == indices[i+1] yields the
                # single element a[indices[i]]) matches the at-least-
                # one-pixel block guard, and the count divisor mirrors
                # it with maximum(diff, 1).
                ys = np.linspace(0, h, oh + 1).astype(int)
                xs = np.linspace(0, w, ow + 1).astype(int)
                out = np.add.reduceat(
                    np.add.reduceat(img, ys[:-1], axis=0), xs[:-1], axis=1
                )
                cnt = (
                    np.maximum(np.diff(ys), 1)[:, None]
                    * np.maximum(np.diff(xs), 1)[None, :]
                )
                feats.append((out / cnt).ravel().tolist())
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "feat": feats,
                    "out_width": ow,
                    "out_height": oh,
                }
            )

    return media.mapInPandas(run, FEATURE_SCHEMA)


def frame_sample(media: DataFrame) -> DataFrame:
    """Video frame sampling plumbing: emits (media_id, frame_idx) rows
    for every ``FRAME_EVERY``-th frame from meta.n_frames — native
    sequence/explode, the decode of each frame would be another
    mapInPandas stage."""
    return media.filter(F.col("kind") == "video").select(
        "media_id",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(F.col("meta.n_frames") - 1, F.lit(0)),
                F.lit(FRAME_EVERY),
            )
        ).alias("frame_idx"),
    )


def synthetic_media(spark) -> DataFrame:
    """Deterministic media fixture of ``MEDIA_N`` items: payload = utf-8
    of a seeded string."""
    rows = []
    for i in range(MEDIA_N):
        kind = ["image", "audio", "video"][i % 3]
        payload = f"media-payload-{i}".encode()
        rows.append(
            (
                i,
                kind,
                bytearray(payload),
                {
                    "width": 16 + (i % 4) * 8,
                    "height": 16 + (i % 3) * 8,
                    "sample_rate": 16000,
                    "n_frames": 30 + i,
                },
            )
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)
