"""Multimodal (image/audio/video) column processing.

Opaque ``binary`` payloads + typed metadata, processed via
``mapInPandas``/``mapInArrow`` — the Spark-side plumbing (schema,
batching, partitioning) is real and tested. Image decode/resize/
feature-extraction are REAL here (the engine's own numpy codecs decode
the corpus ``bytes`` column). Audio and video need decoders
(libsndfile/ffmpeg) this package does not ship, so it has no audio or
video operators.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

IMAGE_FEATURES_SCHEMA = (
    "image_id string, fmt string, w int, h int, "
    "mean_r double, mean_g double, mean_b double, std_gray double, "
    "thumb_8x8 binary"
)


def image_features(corpus: DataFrame, batch_size_hint: int = 1024) -> DataFrame:
    """Decode → per-channel stats + 8×8 block-mean grayscale thumbnail.

    One Arrow batch crosses the boundary at a time; each image is
    decoded and reduced in numpy. This is the template for any
    binary-payload featurizer: select only the columns the UDF needs
    (column pruning keeps ``bytes`` out of every other operator)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from ccrawler_spark import codecs

        for pdf in batches:
            out = []
            for image_id, payload, fmt in zip(
                pdf["image_id"], pdf["bytes"], pdf["fmt"]
            ):
                px = codecs.decode(payload, fmt).astype(np.float64)
                h, w = px.shape[:2]
                gray = px.mean(axis=2)
                th, tw = max(h // 8, 1), max(w // 8, 1)
                thumb = (
                    gray[: th * 8, : tw * 8]
                    .reshape(8, th, 8, tw)
                    .mean(axis=(1, 3))
                    .round()
                    .astype(np.uint8)
                )
                out.append(
                    {
                        "image_id": image_id,
                        "fmt": fmt,
                        "w": int(w),
                        "h": int(h),
                        "mean_r": float(px[:, :, 0].mean()),
                        "mean_g": float(px[:, :, 1].mean()),
                        "mean_b": float(px[:, :, 2].mean()),
                        "std_gray": float(gray.std()),
                        "thumb_8x8": thumb.tobytes(),
                    }
                )
            yield pd.DataFrame(out)

    return corpus.select("image_id", "bytes", "fmt").mapInPandas(
        run, IMAGE_FEATURES_SCHEMA
    )


def image_resize(corpus: DataFrame, out_w: int = 16, out_h: int = 16) -> DataFrame:
    """Block-mean resize to (out_w, out_h) — real implementation over
    the numpy decode path; output is raw RGB bytes."""
    schema = "image_id string, w int, h int, pixels binary"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from ccrawler_spark import codecs

        for pdf in batches:
            rows = []
            for image_id, payload, fmt in zip(
                pdf["image_id"], pdf["bytes"], pdf["fmt"]
            ):
                px = codecs.decode(payload, fmt).astype(np.float64)
                h, w = px.shape[:2]
                bh, bw = max(h // out_h, 1), max(w // out_w, 1)
                small = (
                    px[: bh * out_h, : bw * out_w]
                    .reshape(out_h, bh, out_w, bw, 3)
                    .mean(axis=(1, 3))
                    .round()
                    .astype(np.uint8)
                )
                rows.append(
                    {"image_id": image_id, "w": out_w, "h": out_h,
                     "pixels": small.tobytes()}
                )
            yield pd.DataFrame(rows)

    return corpus.select("image_id", "bytes", "fmt").mapInPandas(run, schema)

