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

