"""gdal_calc — textual numpy band algebra
(osgeo_utils/gdal_calc.py: eval of the --calc expression per block at
:492 with band letters bound in the local namespace :455-487).

The reference evals an arbitrary Python string; here the expression
is parsed with `ast` and validated against a whitelist (arithmetic,
comparisons, the numpy functions gdal_calc documents) BEFORE it ships
to executors — same expressive surface, no arbitrary code execution.
Inputs are single-band tile tables joined on tile coordinates (a
co-grid equi-join: on a production table bucketed by tile id this is
shuffle-free); the compiled expression then runs vectorized per tile
in one mapInPandas, exactly the reference's ship-numpy-to-the-block
pattern.
"""

from __future__ import annotations

import ast

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .synth import tile_row
from .tiling import TILE_SCHEMA, _decode

_ALLOWED_FUNCS = {
    "sqrt": np.sqrt, "log10": np.log10, "log": np.log, "exp": np.exp,
    "abs": np.abs, "absolute": np.abs, "sin": np.sin, "cos": np.cos,
    "tan": np.tan, "arctan": np.arctan, "arctan2": np.arctan2,
    "minimum": np.minimum, "maximum": np.maximum, "where": np.where,
    "logical_and": np.logical_and, "logical_or": np.logical_or,
    "logical_not": np.logical_not, "power": np.power,
    "floor": np.floor, "ceil": np.ceil, "rint": np.rint,
    "clip": np.clip, "isnan": np.isnan, "nan_to_num": np.nan_to_num,
}

_ALLOWED_NODES = (
    ast.Expression, ast.BinOp, ast.UnaryOp, ast.Compare, ast.BoolOp,
    ast.Call, ast.Name, ast.Load, ast.Constant,
    ast.Add, ast.Sub, ast.Mult, ast.Div, ast.FloorDiv, ast.Mod,
    ast.Pow, ast.USub, ast.UAdd, ast.Invert,
    ast.Lt, ast.LtE, ast.Gt, ast.GtE, ast.Eq, ast.NotEq,
    ast.And, ast.Or, ast.Not, ast.BitAnd, ast.BitOr, ast.BitXor,
)


def compile_calc(calc: str, letters: list[str]):
    """Validate + compile a --calc expression. Raises ValueError on
    anything outside the whitelisted numpy surface."""
    tree = ast.parse(calc, mode="eval")
    for node in ast.walk(tree):
        if not isinstance(node, _ALLOWED_NODES):
            raise ValueError(
                f"gdal_calc: disallowed syntax {type(node).__name__!r}"
            )
        if isinstance(node, ast.Name):
            if node.id not in letters and node.id not in _ALLOWED_FUNCS:
                raise ValueError(f"gdal_calc: unknown name {node.id!r}")
        if isinstance(node, ast.Call):
            if not isinstance(node.func, ast.Name) \
                    or node.func.id not in _ALLOWED_FUNCS:
                raise ValueError("gdal_calc: only whitelisted calls")
            if node.keywords:
                raise ValueError("gdal_calc: keyword args not supported")
    code = compile(tree, "<gdal_calc>", "eval")

    def run(arrays: dict[str, np.ndarray]) -> np.ndarray:
        ns = dict(_ALLOWED_FUNCS)
        ns.update(arrays)
        out = eval(code, {"__builtins__": {}}, ns)  # noqa: S307 — whitelisted AST
        if not isinstance(out, np.ndarray):
            out = np.ones_like(next(iter(arrays.values())), np.float64) * out
        return out

    return run


def gdal_calc(inputs: dict[str, DataFrame], calc: str,
              out_dtype: str = "float64",
              raster_id: str = "calc",
              validate: bool = True) -> DataFrame:
    """Evaluate `calc` over the letter-named single-band tile tables
    (all on the same tile grid). Output tile table carries the first
    input's georeferencing.

    Each letter input must be single-band per tile key: gdal_calc's
    CLI binds one band per letter (osgeo_utils/gdal_calc.py --A_band).
    The join key is the full tile identity (zoom, tile_x, tile_y) so a
    table carrying several zoom levels can never cross-match tiles
    from different levels. `validate=True` (default) runs one cheap
    duplicate-key probe per input and raises on multi-band/duplicate
    tiles; pass validate=False on huge inputs you have already
    deduplicated."""
    letters = sorted(inputs)
    run = compile_calc(calc, letters)

    key = ["zoom", "tile_x", "tile_y"]
    if validate:
        for name in letters:
            dup = (inputs[name].groupBy(*key).count()
                   .filter(F.col("count") > 1).limit(1).collect())
            if dup:
                r = dup[0]
                raise ValueError(
                    f"gdal_calc: input {name!r} has {r['count']} rows for "
                    f"tile (zoom={r['zoom']}, x={r['tile_x']}, "
                    f"y={r['tile_y']}) — select one band per letter")

    first = letters[0]
    joined = inputs[first].select(
        "tile_x", "tile_y", "zoom", "width", "height", "crs",
        "geotransform", "nodata",
        F.col("dtype").alias(f"_dt_{first}"),
        F.col("data").alias(f"_d_{first}"),
    )
    for name in letters[1:]:
        joined = joined.join(
            inputs[name].select(
                "zoom", "tile_x", "tile_y",
                F.col("dtype").alias(f"_dt_{name}"),
                F.col("data").alias(f"_d_{name}"),
            ),
            on=key,
        )

    def kern(batches):
        for pdf in batches:
            out_rows = []
            for i in range(len(pdf)):
                r = pdf.iloc[i]
                h, w = int(r["height"]), int(r["width"])
                arrays = {
                    name: _decode(
                        r[f"_d_{name}"], r[f"_dt_{name}"], h, w
                    ).astype(np.float64)
                    for name in letters
                }
                res = run(arrays).astype(out_dtype)
                out_rows.append(tile_row(
                    raster_id, 1, int(r["zoom"]), int(r["tile_x"]),
                    int(r["tile_y"]), res, r["geotransform"],
                    nodata=r["nodata"], crs=r["crs"], dtype=out_dtype))
            yield pd.DataFrame(out_rows)

    return joined.mapInPandas(kern, schema=TILE_SCHEMA)
