"""Multimodal (image/audio/video) column plumbing.

Media payloads are opaque `binary` columns with typed metadata structs —
the raster tile table (tiling.py) is the same pattern with pixels. The
Spark-side plumbing here is REAL and tested: schemas, mapInPandas batch
shapes, partition behavior, UDF signatures. PNG blobs decode for REAL
through the engine's own from-scratch codec (gdal_spark/png.py — the
GeoPackage tile codec); other formats (JPEG/WebP/video) remain behind
`decoder=` injection hooks because those libraries are not available
in this environment — the default raises NotImplementedError for
non-PNG magic; tests also exercise `fake_image_decoder`, a
deterministic stand-in with a synthetic byte layout.

Ops:
  attach_media_meta   parse media_ref -> (media_id, modality) columns (JVM)
  decode_images       binary -> (height, width, channels, pixels) rows
  thumbnail           decode -> box-filter resize -> re-encode
  sample_frames       video binary -> every Nth frame as image rows
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

IMAGE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("pixels", T.BinaryType()),
    ]
)


def png_image_decoder(data: bytes) -> np.ndarray:
    """REAL codec: PNG blobs decode through the engine's own
    from-scratch RFC 2083 implementation (gdal_spark/png.py — the
    same codec the GeoPackage tile reader uses). Always returns
    HxWxC uint8 (greyscale expands to 1 channel)."""
    from ..png import decode_png

    arr = decode_png(data)
    if arr.dtype != np.uint8:
        arr = (arr >> 8).astype(np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    return arr


def default_decoder(data: bytes) -> np.ndarray:
    """PNG decodes for REAL via the in-tree codec; other formats
    (JPEG/WebP/...) still need an injected decoder — those codecs
    aren't available in this environment."""
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        return png_image_decoder(data)
    raise NotImplementedError(
        "non-PNG image codec not available — inject a decoder "
        "(bytes -> HxWxC uint8 ndarray), e.g. PIL/cv2 in production or "
        "fake_image_decoder in tests; PNG decodes natively"
    )


def fake_image_decoder(data: bytes) -> np.ndarray:
    """Deterministic stand-in codec: 4-byte header (h, w as uint16 BE)
    + raw HxWx3 bytes. Lets every downstream op be tested for real."""
    h = int.from_bytes(data[0:2], "big")
    w = int.from_bytes(data[2:4], "big")
    return np.frombuffer(data[4 : 4 + h * w * 3], dtype=np.uint8).reshape(h, w, 3)


def fake_image_encode(arr: np.ndarray) -> bytes:
    h, w = arr.shape[:2]
    return h.to_bytes(2, "big") + w.to_bytes(2, "big") + arr.tobytes()


def attach_media_meta(df: DataFrame, ref_col: str = "media_ref") -> DataFrame:
    """media_ref 'media://NNNNNNNNN' -> (media_id, modality). Pure JVM."""
    mid = F.regexp_extract(F.col(ref_col), r"media://(\d+)", 1)
    modality = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (mid.cast("long") % 3 + 1).cast("int"),
    )
    return df.withColumn("media_id", mid).withColumn("modality", modality)


def decode_images(
    media: DataFrame,
    decoder: Callable[[bytes], np.ndarray] = default_decoder,
    id_col: str = "media_id",
    data_col: str = "data",
) -> DataFrame:
    """binary -> image rows. Batch-wise mapInPandas; the decoder runs on
    whole Arrow batches of blobs (never per-row Spark Python UDFs)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                arr = decoder(getattr(r, data_col))
                out.append(
                    {
                        "media_id": str(getattr(r, id_col)),
                        "height": arr.shape[0],
                        "width": arr.shape[1],
                        "channels": arr.shape[2] if arr.ndim == 3 else 1,
                        "pixels": arr.tobytes(),
                    }
                )
            yield pd.DataFrame(out, columns=[f.name for f in IMAGE_SCHEMA.fields])

    return media.mapInPandas(run, schema=IMAGE_SCHEMA)


THUMB_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("thumb", T.BinaryType()),
    ]
)


def thumbnail(
    media: DataFrame,
    factor: int = 4,
    decoder: Callable[[bytes], np.ndarray] = default_decoder,
    id_col: str = "media_id",
    data_col: str = "data",
    encoder: Callable[[np.ndarray], bytes] = fake_image_encode,
) -> DataFrame:
    """Integer-factor box-filter resize (the overview 'average' kernel,
    gcore/overview.cpp, applied to media instead of map tiles)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                arr = decoder(getattr(r, data_col)).astype(np.float64)
                h, w, c = arr.shape
                h2, w2 = h // factor, w // factor
                a = arr[: h2 * factor, : w2 * factor]
                small = a.reshape(h2, factor, w2, factor, c).mean(axis=(1, 3))
                small = np.clip(np.floor(small + 0.5), 0, 255).astype(np.uint8)
                out.append(
                    {
                        "media_id": str(getattr(r, id_col)),
                        "height": h2,
                        "width": w2,
                        "thumb": encoder(small),
                    }
                )
            yield pd.DataFrame(out, columns=[f.name for f in THUMB_SCHEMA.fields])

    return media.mapInPandas(run, schema=THUMB_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType()),
        T.StructField("frame_no", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("pixels", T.BinaryType()),
    ]
)


def sample_frames(
    media: DataFrame,
    every: int = 10,
    frame_decoder: Callable[[bytes], list[np.ndarray]] = None,
    id_col: str = "media_id",
    data_col: str = "data",
) -> DataFrame:
    """Video -> every Nth frame. frame_decoder: bytes -> list of HxWxC
    arrays (stubbed the same way as images)."""
    if frame_decoder is None:
        def frame_decoder(data: bytes):  # pragma: no cover - default stub
            raise NotImplementedError("no video codec — inject frame_decoder")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                frames = frame_decoder(getattr(r, data_col))
                for i in range(0, len(frames), every):
                    arr = frames[i]
                    out.append(
                        {
                            "media_id": str(getattr(r, id_col)),
                            "frame_no": i,
                            "height": arr.shape[0],
                            "width": arr.shape[1],
                            "pixels": arr.tobytes(),
                        }
                    )
            yield pd.DataFrame(out, columns=[f.name for f in FRAME_SCHEMA.fields])

    return media.mapInPandas(run, schema=FRAME_SCHEMA)
