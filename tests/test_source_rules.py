"""Source rules checked by parsing the program files; no Spark starts.

- No module defines the same top-level function or class twice: the
  second definition silently replaces the first, so the first is dead
  code that still reads as live.
- Tile rows are built in one place. The TILE_SCHEMA row layout is
  spelled only by `synth.tile_row`; everywhere else a dict literal or
  `dict(...)` call holding the row's keys, or a column list spelled as
  `[f.name for f in TILE_SCHEMA...]`, is a second copy of the record
  that can drift from it (use `tile_row` / `strip_rows` and
  `TILE_COLUMNS`).
"""

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCES = sorted(
    glob.glob(os.path.join(REPO, "gdal_spark", "**", "*.py"), recursive=True)
    + glob.glob(os.path.join(REPO, "tools", "*.py"))
    + [os.path.join(REPO, f)
       for f in ("__spark_entry__.py", "localref.py", "bench.py")]
)
# the keys that make a dict a tile row (band/zoom/width/... also occur
# in other records)
ROW_KEYS = {"raster_id", "tile_x", "tile_y", "geotransform", "data"}


def _rel(path):
    return os.path.relpath(path, REPO)


def _tree(path):
    with open(path) as fh:
        return ast.parse(fh.read(), filename=path)


def test_no_top_level_name_defined_twice():
    twice = []
    for path in SOURCES:
        seen = {}
        for node in _tree(path).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                if node.name in seen:
                    twice.append(f"{_rel(path)}: {node.name} (lines "
                                 f"{seen[node.name]} and {node.lineno})")
                seen[node.name] = node.lineno
    assert not twice, twice


def _tile_row_spellings(path):
    for node in ast.walk(_tree(path)):
        keys = None
        if isinstance(node, ast.Dict):
            keys = {k.value for k in node.keys
                    if isinstance(k, ast.Constant)}
        elif (isinstance(node, ast.Call) and isinstance(node.func, ast.Name)
              and node.func.id == "dict"):
            keys = {k.arg for k in node.keywords}
        if keys and ROW_KEYS <= keys:
            yield f"{_rel(path)}:{node.lineno} row dict"
        if (isinstance(node, ast.ListComp)
                and isinstance(node.elt, ast.Attribute)
                and node.elt.attr == "name"
                and "TILE_SCHEMA" in ast.unparse(node.generators[0].iter)):
            yield f"{_rel(path)}:{node.lineno} column list"


def test_tile_rows_built_only_by_synth_tile_row():
    synth = os.path.join(REPO, "gdal_spark", "synth.py")
    found = [s for p in SOURCES if p != synth
             for s in _tile_row_spellings(p)]
    assert not found, found
    assert len(list(_tile_row_spellings(synth))) == 1
