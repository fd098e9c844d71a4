"""Multidimensional array model — the slicing core of GDAL's multidim
API (gcore/gdalmultidim.cpp:3957 GDALMDArray::GetView with NumPy basic
slicing: integer indexing drops a dimension, start:stop:step ranges,
negative indices count from the end; plus Transpose :4257).

Spark restatement: an MDArray is a DataFrame in COO form — one row per
element with one int64 index column per dimension plus `value`. Views
are LAZY relational algebra: a slice is a filter + affine reindex
((i - start) / step), an integer index is a filter + dimension drop,
a transpose is a column permutation — all pure Column expressions that
Catalyst folds into the scan, so a chain of GetViews reads only the
selected elements (the multidim analog of partition pruning). Chunked
storage maps naturally: persist the COO table partitioned/sorted by
leading index columns and slice filters prune files.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class MDArray:
    """dims: list of (name, size); df columns = dim names + 'value'."""

    def __init__(self, df: DataFrame, dims: list[tuple[str, int]]):
        self.df = df
        self.dims = list(dims)

    @property
    def shape(self) -> tuple[int, ...]:
        return tuple(s for _, s in self.dims)

    def get_view(self, expr: str) -> "MDArray":
        """NumPy basic slicing, e.g. "[1:9:2, ::3, 5]". Integer
        indexing drops the dimension; slices reindex to 0..n-1 like
        GDALSlicedMDArray. Multiple [] groups may be concatenated."""
        df = self.df
        dims = list(self.dims)
        for group in re.findall(r"\[([^\]]*)\]", expr):
            parts = [p.strip() for p in group.split(",")]
            if len(parts) > len(dims):
                raise ValueError(f"view {group!r}: too many indices")
            new_dims: list[tuple[str, int]] = []
            for k, p in enumerate(parts):
                name, size = dims[k]
                col = F.col(name)
                if ":" not in p:  # integer index -> drop the dimension
                    i = int(p)
                    if i < 0:
                        i += size
                    if not (0 <= i < size):
                        raise IndexError(f"{name}[{p}] out of range")
                    df = df.filter(col == i).drop(name)
                    continue
                bits = p.split(":")
                start = int(bits[0]) if bits[0] else 0
                stop = int(bits[1]) if len(bits) > 1 and bits[1] else size
                step = int(bits[2]) if len(bits) > 2 and bits[2] else 1
                if step <= 0:
                    raise ValueError("negative/zero steps unsupported")
                if start < 0:
                    start += size
                if stop < 0:
                    stop += size
                start = max(0, min(start, size))
                stop = max(start, min(stop, size))
                n = (stop - start + step - 1) // step
                df = df.filter(
                    (col >= start) & (col < stop)
                    & (((col - start) % step) == 0)
                ).withColumn(name, ((col - start) / step).cast("long"))
                new_dims.append((name, n))
            new_dims.extend(dims[len(parts):])
            dims = new_dims
        return MDArray(df, dims)

    def transpose(self, order: list[int]) -> "MDArray":
        """GDALMDArray::Transpose (gdalmultidim.cpp:4257): permute the
        dimension order — a pure metadata operation here."""
        if sorted(order) != list(range(len(self.dims))):
            raise ValueError("order must be a permutation of the dims")
        return MDArray(self.df, [self.dims[i] for i in order])

    def unscaled(self, scale: float = 1.0, offset: float = 0.0,
                 nodata: float | None = None) -> "MDArray":
        """GDALMDArray::GetUnscaled (gcore/gdalmultidim.cpp:838 region;
        GDALMDArrayUnscaled): value*scale + offset as double, with the
        raw nodata sentinel mapped to NULL — the COO-relational analog
        of the NaN dstNodata GDAL writes for floating outputs. Pure
        column math; Catalyst folds it into the scan projection."""
        v = F.col("value").cast("double")
        expr = v * F.lit(float(scale)) + F.lit(float(offset))
        if nodata is not None:
            expr = F.when(v == F.lit(float(nodata)),
                          F.lit(None).cast("double")).otherwise(expr)
        return MDArray(self.df.withColumn("value", expr), self.dims)

    def mask(self, nodata: float) -> "MDArray":
        """GDALMDArray::GetMask (gcore/gdalmultidim.cpp:5436,
        GDALMDArrayMask :4899): UInt8-like validity array — 1 where valid,
        0 at the nodata sentinel. Pure column math."""
        m = F.when(F.col("value") == F.lit(float(nodata)), F.lit(0)) \
             .otherwise(F.lit(1)).cast("int")
        return MDArray(self.df.withColumn("value", m), self.dims)

    def statistics(self, nodata: float | None = None) -> DataFrame:
        """GDALMDArray::ComputeStatistics (gcore/gdalmultidim.cpp:6119;
        same accumulation as GDALRasterBand::ComputeStatistics):
        one-row (vmin, vmax, mean, std, valid_count) over non-nodata
        elements, population stddev like the reference. One partial+
        final aggregate — no element leaves its partition before the
        combine."""
        v = F.col("value").cast("double")
        df = self.df
        if nodata is not None:
            df = df.filter(v != F.lit(float(nodata)))
        mean = F.sum(v) / F.count("*")
        return df.agg(
            F.min(v).alias("vmin"),
            F.max(v).alias("vmax"),
            mean.alias("mean"),
            F.sqrt(F.sum(v * v) / F.count("*") - mean * mean).alias("std"),
            F.count("*").alias("valid_count"),
        )

    def as_classic_dataset(self, tile_px: int = 256,
                           raster_id: str = "mdarray",
                           dtype: str = "float64",
                           nodata: float = 0.0) -> DataFrame:
        """GDALMDArray::AsClassicDataset (gcore/gdalmultidim.cpp:5927):
        expose a 2-D array (dims = [y, x]) as a classic raster — here
        as the tile table every raster operator consumes (warp,
        overview, DEM, pixel functions...). COO rows shuffle ONCE on
        (tile_y, tile_x); each tile assembles its pixels in a grouped
        Arrow batch; partial edge tiles pad with nodata. Higher-rank
        arrays: slice to 2-D with get_view first, exactly like the
        reference's iXDim/iYDim contract."""
        import numpy as np
        import pandas as pd

        from .synth import TILE_SCHEMA, tile_row
        from .tiling import _gdal_cast

        if len(self.dims) != 2:
            raise ValueError("as_classic_dataset needs a 2-D view")
        (yname, H), (xname, W) = self.dims
        ts = tile_px

        coo = self.df.select(
            (F.col(yname) / ts).cast("int").alias("t_y"),
            (F.col(xname) / ts).cast("int").alias("t_x"),
            (F.col(yname) % ts).cast("int").alias("p_y"),
            (F.col(xname) % ts).cast("int").alias("p_x"),
            F.col("value").cast("double").alias("value"),
        )

        def assemble(key, pdf: pd.DataFrame) -> pd.DataFrame:
            t_x, t_y = int(key[1]), int(key[0])
            arr = np.full((ts, ts), float(nodata), dtype=np.float64)
            arr[pdf["p_y"].to_numpy(), pdf["p_x"].to_numpy()] = \
                pdf["value"].to_numpy()
            return pd.DataFrame([tile_row(
                raster_id, 1, 0, t_x, t_y, _gdal_cast(arr, dtype),
                [float(t_x * ts), 1.0, 0.0, -float(t_y * ts), 0.0, -1.0],
                nodata=float(nodata))])

        return coo.groupBy("t_y", "t_x").applyInPandas(
            assemble, schema=TILE_SCHEMA)

    def to_rows(self) -> DataFrame:
        """(dim columns in order, value), deterministic column order."""
        return self.df.select(*[n for n, _ in self.dims], "value")


def mdarray_from_fn(spark, dims: list[tuple[str, int]], value_col) -> MDArray:
    """Build a dense COO MDArray from a value expression over the index
    columns (used by fixtures/tests; real data arrives as parquet)."""
    total = 1
    for _, s in dims:
        total *= s
    df = spark.range(0, total, 1)
    stride = total
    for name, size in dims:
        stride //= size
        df = df.withColumn(
            name, ((F.col("id") / stride).cast("long") % size)
        )
    df = df.drop("id").withColumn("value", value_col)
    return MDArray(df, dims)


def mdarray_from_tiles(tiles: DataFrame, height: int, width: int,
                       tile_px: int = 256) -> MDArray:
    """GDALRasterBand::AsMDArray (gcore/gdalrasterband.cpp:7394) — the
    reverse of as_classic_dataset: a raster tile table becomes a 2-D
    COO MDArray (dims y, x). Each tile explodes to element rows inside
    mapInPandas (vectorized, one numpy reshape per tile); rows beyond
    the declared raster extent (edge-tile padding) are dropped. Purely
    map-side — no shuffle; the COO is immediately sliceable with
    get_view."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("y", T.LongType()),
        T.StructField("x", T.LongType()),
        T.StructField("value", T.DoubleType()),
    ])

    def explode(batches):
        for pdf in batches:
            for r in pdf.itertuples(index=False):
                arr = np.frombuffer(r.data, dtype=r.dtype).reshape(
                    r.height, r.width).astype(np.float64)
                yy, xx = np.mgrid[0:r.height, 0:r.width]
                gy = yy.ravel() + int(r.tile_y) * tile_px
                gx = xx.ravel() + int(r.tile_x) * tile_px
                keep = (gy < height) & (gx < width)
                yield pd.DataFrame({
                    "y": gy[keep], "x": gx[keep],
                    "value": arr.ravel()[keep],
                })

    return MDArray(tiles.mapInPandas(explode, schema=schema),
                   [("y", height), ("x", width)])
