"""Multimodal column operators: decode and feature-extract over opaque
binary image columns with typed metadata.

Decoding uses the self-contained codecs for the formats this repo defines
(``codecs.ALL_FMTS``); any other format raises ``NotImplementedError`` in
``decode_any``, and ``image_features`` flags such rows instead of dropping
them.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame

from .. import codecs

IMAGE_FEATURES_SCHEMA = (
    "image_id string, w int, h int, mean_lum double, std_lum double, "
    "phash long, decode_ok boolean"
)


def decode_any(data: bytes, fmt: str) -> np.ndarray:
    if fmt not in codecs.ALL_FMTS:
        raise NotImplementedError(
            f"no codec for fmt={fmt!r}; formats handled natively: "
            + ", ".join(sorted(codecs.ALL_FMTS))
        )
    return codecs.decode_image(data, fmt)


def image_features(images: DataFrame) -> DataFrame:
    """Decode + per-image luminance stats + recomputed phash, Arrow-batched.
    Rows whose format can't be decoded natively are flagged, not dropped."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            get = lambda name: batch.column(batch.schema.get_field_index(name))
            ids = get("image_id").to_pylist()
            blobs = get("bytes").to_pylist()
            fmts = get("fmt").to_pylist()
            n = len(ids)
            ws = np.zeros(n, np.int32)
            hs = np.zeros(n, np.int32)
            means = np.zeros(n, np.float64)
            stds = np.zeros(n, np.float64)
            phs = np.zeros(n, np.int64)
            oks = np.zeros(n, bool)
            for i in range(n):
                try:
                    img = decode_any(blobs[i], fmts[i])
                except NotImplementedError:
                    continue
                gray = codecs.to_gray(img)
                hs[i], ws[i] = img.shape[0], img.shape[1]
                means[i] = gray.mean()
                stds[i] = gray.std()
                phs[i] = codecs.average_phash(gray)
                oks[i] = True
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids, pa.string()),
                    pa.array(ws),
                    pa.array(hs),
                    pa.array(means),
                    pa.array(stds),
                    pa.array(phs),
                    pa.array(oks),
                ],
                names=[
                    "image_id",
                    "w",
                    "h",
                    "mean_lum",
                    "std_lum",
                    "phash",
                    "decode_ok",
                ],
            )

    return images.select("image_id", "bytes", "fmt").mapInArrow(
        fn, schema=IMAGE_FEATURES_SCHEMA
    )

