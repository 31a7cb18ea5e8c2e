"""Multimodal column handling: image/audio/video as opaque BINARY +
typed metadata.

The Spark-side plumbing (schemas, Arrow batch shapes, mapInPandas
signatures, partition sizing) is real and tested; the actual
media-codec decode is STUBBED behind ``decode_fn`` because codec
libraries (Pillow/ffmpeg/etc.) are not in this environment —
``deterministic_fake_decode`` stands in, parsing our own synthetic
header so tests are meaningful.

Scale notes: media rows are big — keep
``spark.sql.files.maxPartitionBytes`` modest and use
``mapInPandas`` (iterator of small Arrow batches) so a partition is
never fully materialized; never collect binary columns.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("kind", T.StringType(), False),      # image | audio | video
    T.StructField("content", T.BinaryType(), True),    # opaque bytes
    T.StructField("mime", T.StringType(), True),
    T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
])

FEATURE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("kind", T.StringType(), False),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("n_frames", T.IntegerType(), True),
    T.StructField("feature", T.ArrayType(T.FloatType()), True),
])

# Synthetic header: b"FAKE" + kind byte + width(4) + height(4) + n_frames(4)
_MAGIC = b"FAKE"


def encode_fake_media(media_id: int, kind: str, width: int, height: int,
                      n_frames: int = 1) -> bytes:
    kind_b = {"image": 0, "audio": 1, "video": 2}[kind]
    payload = (np.arange(32, dtype=np.uint8) + (media_id % 199)).tobytes()
    return (_MAGIC + bytes([kind_b])
            + int(width).to_bytes(4, "little") + int(height).to_bytes(4, "little")
            + int(n_frames).to_bytes(4, "little") + payload)


def deterministic_fake_decode(content: bytes) -> dict:
    """Stand-in decoder: parses the synthetic header. A real deploy
    swaps in Pillow/librosa/pyav here — same signature, same batch
    plumbing."""
    if content is None or not content.startswith(_MAGIC):
        raise NotImplementedError(
            "real media decode requires codec libraries not present in "
            "this environment; only synthetic FAKE media is decodable")
    width = int.from_bytes(content[5:9], "little")
    height = int.from_bytes(content[9:13], "little")
    n_frames = int.from_bytes(content[13:17], "little")
    body = np.frombuffer(content[17:17 + 32], dtype=np.uint8)
    feat = (body.astype(np.float32) / 255.0)[:16]
    return {"width": width, "height": height, "n_frames": n_frames,
            "feature": feat}


def extract_features(df: DataFrame,
                     decode_fn: Callable[[bytes], dict] = deterministic_fake_decode,
                     batch_hint: int = 256) -> DataFrame:
    """BINARY media -> typed features via mapInPandas (Arrow batches).

    The UDF is an *iterator* transform: one small pandas batch in, one
    out — bounded memory regardless of partition size.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "kind": [], "width": [], "height": [],
                   "n_frames": [], "feature": []}
            for mid, kind, content in zip(pdf["media_id"], pdf["kind"], pdf["content"]):
                try:
                    d = decode_fn(content)
                except NotImplementedError:
                    d = {"width": None, "height": None, "n_frames": None,
                         "feature": None}
                out["media_id"].append(mid)
                out["kind"].append(kind)
                out["width"].append(d["width"])
                out["height"].append(d["height"])
                out["n_frames"].append(d["n_frames"])
                out["feature"].append(d["feature"])
            yield pd.DataFrame(out)

    return df.select("media_id", "kind", "content").mapInPandas(gen, FEATURE_SCHEMA)


def gen_fake_media_pdf(n: int, seed: int = 42) -> pd.DataFrame:
    """Deterministic synthetic media table for tests."""
    kinds = ["image", "audio", "video"]
    rows = []
    for i in range(n):
        kind = kinds[i % 3]
        w, h = 64 + (i % 8) * 16, 64 + (i % 5) * 16
        nf = 1 if kind != "video" else 30 + (i % 10)
        rows.append({
            "media_id": i,
            "kind": kind,
            "content": encode_fake_media(i, kind, w, h, nf),
            "mime": {"image": "image/fake", "audio": "audio/fake",
                     "video": "video/fake"}[kind],
            "meta": {"n_frames": str(nf)},
        })
    return pd.DataFrame(rows)
