"""Source rules checked by parsing the program files; no Spark starts.

- No module defines the same top-level function or class twice: the
  second definition silently replaces the first, so the first is dead
  code that still reads as live.
- Tile rows are built in one place. The TILE_SCHEMA row layout is
  spelled only by `synth.tile_row`; everywhere else a dict literal or
  `dict(...)` call holding the row's keys, or a column list spelled as
  `[f.name for f in TILE_SCHEMA...]`, is a second copy of the record
  that can drift from it (use `tile_row` / `strip_rows` and
  `TILE_COLUMNS`). Copying an input row (`r._asdict()`) and updating
  it inside a function that emits TILE_COLUMNS frames is the same
  second copy.
- Descriptor frames are spread one way: `blockscan.spread`, defined
  once. No `.repartition(max(...))` under gdal_spark/ (a round-robin
  shuffle of the descriptors before every read).
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


def _own_nodes(fn):
    """Nodes of a function body, not descending into nested defs."""
    todo = list(fn.body)
    while todo:
        n = todo.pop()
        yield n
        if not isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef,
                              ast.Lambda)):
            todo.extend(ast.iter_child_nodes(n))


def _tile_row_spellings(path):
    for fn in ast.walk(_tree(path)):
        if (isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef))
                and any(isinstance(n, ast.Name) and n.id == "TILE_COLUMNS"
                        for n in ast.walk(fn))):
            for c in _own_nodes(fn):
                if (isinstance(c, ast.Call)
                        and isinstance(c.func, ast.Attribute)
                        and c.func.attr == "_asdict"):
                    yield f"{_rel(path)}:{c.lineno} _asdict row copy"
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


def _spread_sites(path):
    for node in ast.walk(_tree(path)):
        if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                and node.func.attr == "repartition" and node.args
                and isinstance(node.args[0], ast.Call)
                and isinstance(node.args[0].func, ast.Name)
                and node.args[0].func.id == "max"):
            yield f"{_rel(path)}:{node.lineno}"


def test_descriptors_spread_by_one_function():
    pkg = [p for p in SOURCES
           if _rel(p).startswith("gdal_spark" + os.sep)]
    found = [s for p in pkg for s in _spread_sites(p)]
    assert not found, found
    defs = [_rel(p) for p in pkg for n in _tree(p).body
            if isinstance(n, ast.FunctionDef) and n.name == "spread"]
    assert defs == [os.path.join("gdal_spark", "blockscan.py")], defs
