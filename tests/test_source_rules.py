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
- Every top-level import is read in its module (`__init__.py`
  re-exports and `__future__` imports aside): an unread import is dead
  code that still reads as a dependency.
- Each projection direction is written once, against the backend B,
  with its stage cuts marked by `B.stage`: crs.py has no top-level
  `*_stages` twin, the staged executor (`_apply_stages`,
  `sql_cte_chain`) is defined once, and no module imports it from
  nzmg.
- One halo exchange: `raster.halo` is the only function that emits
  neighbour blocks (a loop over dx in (-1, 0, 1) that ships
  `.tobytes()` pieces) and the only one that gathers them
  (`collect_list(struct("dx", "dy", ...))`); `"dst_tx"` is spelled
  nowhere else, `_neighbor_strips` / `_neighbor_blocks` are gone, and
  no module but raster.py joins tiles on a `tile_x` comparison.
- One window gather: the five window operators (the warp, both
  overviews, retile, viewshed) build their windows with
  `tiling.paste`. Those whose source tiles feed several destinations
  (the warp, `build_overview_conv`, viewshed) read them through
  `tiling.gather`; the aligned 2x overview and retile's coarsen
  through `tiling.group_blocks`, one groupBy. Only
  `gather` joins a tile table on an exploded source-tile range (or a
  tile-range comparison), no function but `paste` (and
  `raster.halo_window`) slice-assigns a decoded tile into a window at
  an offset from a tile index, `groupBy("d_tx", "d_ty")` is spelled
  nowhere, the gauss overview takes its reach from `raster.halo`, and
  `_gauss_halo_strips` / `GS_SCHEMA` are gone.
- One warp: `tiling.warp` is the one entry (it calls `gather`, `paste`
  and `resample`); `warp_affine` / `warp_transform` are defined
  nowhere and `paste` takes no `crop`. The filter weights (`_cubic`,
  `_bspline`, `_lanczos`) are named only in the `_FILTERS` table,
  which only `resample` and `build_overview_conv` read (the overview
  samples them at its fixed 2x taps); no module under gdal_spark/
  defines the old copies (`wfun`, `cubw`, `bspl`, `lweight`) or spells
  the lanczos window `sin(x / 3)` outside `_lanczos`.
- The query builders' scratch files live under one root:
  `tempfile.mkdtemp` is called once in `__spark_entry__.py`, by
  `_scratch`, and a process that used `_scratch` leaves nothing behind.
"""

import ast
import glob
import os
import subprocess
import sys

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


def _unread_imports(path):
    tree = _tree(path)
    read = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    for node in tree.body:
        if isinstance(node, ast.ImportFrom) and node.module == "__future__":
            continue
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            for a in node.names:
                if (a.asname or a.name.split(".")[0]) not in read:
                    yield f"{_rel(path)}:{node.lineno} {a.asname or a.name}"


def test_every_top_level_import_is_read():
    found = [s for p in SOURCES if os.path.basename(p) != "__init__.py"
             for s in _unread_imports(p)]
    assert not found, found


def test_one_formula_per_projection_direction():
    crs_py = os.path.join(REPO, "gdal_spark", "crs.py")
    twins = [n.name for n in _tree(crs_py).body
             if isinstance(n, ast.FunctionDef) and n.name.endswith("_stages")
             and n.name != "_apply_stages"]
    assert not twins, twins
    defs = {"_apply_stages": [], "sql_cte_chain": []}
    from_nzmg = []
    for path in SOURCES:
        for n in ast.walk(_tree(path)):
            if isinstance(n, ast.FunctionDef) and n.name in defs:
                defs[n.name].append(_rel(path))
            if (isinstance(n, ast.ImportFrom)
                    and (n.module or "").split(".")[-1] == "nzmg"
                    and any(a.name == "_apply_stages" for a in n.names)):
                from_nzmg.append(f"{_rel(path)}:{n.lineno}")
    assert all(len(v) == 1 for v in defs.values()), defs
    assert not from_nzmg, from_nzmg


def _neighbour_loop(node):
    return (isinstance(node, ast.For) and isinstance(node.iter, ast.Tuple)
            and [ast.unparse(e) for e in node.iter.elts] == ["-1", "0", "1"])


def _calls(node, attr):
    return [c for c in ast.walk(node) if isinstance(c, ast.Call)
            and ast.unparse(c.func).split(".")[-1] == attr]


def _block_gather(call):
    args = [a for a in call.args if isinstance(a, ast.Call)
            and ast.unparse(a.func).split(".")[-1] == "struct"]
    return any({"dx", "dy"} <= {c.value for c in a.args
                                if isinstance(c, ast.Constant)} for a in args)


def test_one_halo_exchange():
    pkg = [p for p in SOURCES if _rel(p).startswith("gdal_spark" + os.sep)]
    emitters, gathers, dst, tile_joins, old = [], [], [], [], []
    for path in SOURCES:
        tree = _tree(path)
        for n in ast.walk(tree):
            name = getattr(n, "name", None) or getattr(n, "id", None) \
                or getattr(n, "attr", None)
            if name in ("_neighbor_strips", "_neighbor_blocks"):
                old.append(f"{_rel(path)}:{n.lineno}")
        for fn in tree.body:
            if not isinstance(fn, ast.FunctionDef):
                continue
            where = f"{_rel(path)}:{fn.name}"
            if any(_neighbour_loop(n) and _calls(n, "tobytes")
                   for n in ast.walk(fn)):
                emitters.append(where)
            if any(_block_gather(c) for c in _calls(fn, "collect_list")):
                gathers.append(where)
            if any(isinstance(n, ast.Constant) and n.value == "dst_tx"
                   for n in ast.walk(fn)):
                dst.append(where)
            if path in pkg and os.path.basename(path) != "raster.py" and any(
                    isinstance(n, ast.Attribute) and n.attr == "tile_x"
                    for c in _calls(fn, "join") for a in c.args
                    for n in ast.walk(a)):
                tile_joins.append(where)
    halo = os.path.join("gdal_spark", "raster.py") + ":halo"
    assert not old, old
    assert emitters == [halo], emitters
    assert gathers == [halo], gathers
    assert set(dst) <= {halo}, dst
    assert not tile_joins, tile_joins


_TILE_INDEX = {"tile_x", "tile_y", "s_tx", "s_ty", "_tx0", "_ty0"}


def _reads_tile_index(node, names=()):
    return any((isinstance(n, ast.Attribute) and n.attr in _TILE_INDEX)
               or (isinstance(n, ast.Constant) and n.value in _TILE_INDEX)
               or (isinstance(n, ast.Name)
                   and (n.id in _TILE_INDEX or n.id in names))
               for n in ast.walk(node))


def _window_pastes(fn):
    """Lines of `fn`'s own body that slice-assign an array at an offset
    from a tile index: the slice holds a subtraction over a tile index,
    or a local name computed from one."""
    assigns = [n for n in _own_nodes(fn) if isinstance(n, ast.Assign)]
    tainted, offsets = set(), set()

    def sub_over_index(node):
        return any(isinstance(b, ast.BinOp) and isinstance(b.op, ast.Sub)
                   and _reads_tile_index(b, tainted) for b in ast.walk(node))

    grew = True
    while grew:  # names computed (transitively) from a tile index
        grew = False
        for a in assigns:
            for t in a.targets:
                for n in ast.walk(t):
                    if not isinstance(n, ast.Name):
                        continue
                    if n.id not in tainted and _reads_tile_index(a.value, tainted):
                        tainted.add(n.id)
                        grew = True
                    if n.id not in offsets and (sub_over_index(a.value) or any(
                            isinstance(m, ast.Name) and m.id in offsets
                            for m in ast.walk(a.value))):
                        offsets.add(n.id)
                        grew = True
    for a in assigns:
        if isinstance(a.value, ast.Constant):  # a fill, not a tile
            continue
        for t in a.targets:
            if (isinstance(t, ast.Subscript)
                    and any(isinstance(s, ast.Slice) for s in ast.walk(t.slice))
                    and (sub_over_index(t.slice) or any(
                        isinstance(m, ast.Name) and m.id in offsets
                        for m in ast.walk(t.slice)))):
                yield a.lineno


def _range_join(fn):
    """A join fed by an explode(sequence(...)) aliased to a tile index,
    or a join whose condition orders a tile index (<, <=, >, >=)."""
    joins = _calls(fn, "join")
    exploded = any(
        ast.unparse(a.func).split(".")[-1] == "alias"
        and isinstance(a.func, ast.Attribute)
        and _calls(a.func.value, "sequence") and _calls(a.func.value, "explode")
        and a.args and isinstance(a.args[0], ast.Constant)
        and a.args[0].value in _TILE_INDEX
        for a in ast.walk(fn) if isinstance(a, ast.Call))
    theta = any(isinstance(n, ast.Compare) and _reads_tile_index(n)
                and not all(isinstance(o, ast.Eq) for o in n.ops)
                for c in joins for a in c.args[1:] for n in ast.walk(a))
    return bool(joins) and (exploded or theta)


def test_one_window_gather():
    tiling_py = os.path.join("gdal_spark", "tiling.py")
    raster_py = os.path.join("gdal_spark", "raster.py")
    old, dst_groups, range_joins, pastes = [], [], [], []
    fns = {}
    for path in SOURCES:
        tree = _tree(path)
        for n in ast.walk(tree):
            name = getattr(n, "name", None) or getattr(n, "id", None) \
                or getattr(n, "attr", None)
            if name in ("_gauss_halo_strips", "GS_SCHEMA"):
                old.append(f"{_rel(path)}:{n.lineno}")
        for c in _calls(tree, "groupBy"):
            if [ast.unparse(a) for a in c.args[:2]] == ["'d_tx'", "'d_ty'"]:
                dst_groups.append(f"{_rel(path)}:{c.lineno}")
        for fn in tree.body:
            if not isinstance(fn, ast.FunctionDef):
                continue
            where = f"{_rel(path)}:{fn.name}"
            fns[where] = fn
            if _range_join(fn):
                range_joins.append(where)
            if any(True for f in ast.walk(fn) if isinstance(f, ast.FunctionDef)
                   for _ in _window_pastes(f)):
                pastes.append(where)
    assert not old, old
    assert not dst_groups, dst_groups
    assert range_joins == [f"{tiling_py}:gather"], range_joins
    assert f"{tiling_py}:paste" in pastes
    assert set(pastes) <= {f"{tiling_py}:paste", f"{raster_py}:halo_window"}, pastes
    gathers = [f"{tiling_py}:{n}" for n in ("build_overview_conv", "warp")] + [
        f"{raster_py}:viewshed"]
    blocks = [f"{tiling_py}:{n}" for n in ("build_overview", "retile")]
    for where in gathers + blocks:
        assert _calls(fns[where], "paste"), where
        assert _calls(fns[where], "gather" if where in gathers else "group_blocks"), where
    assert _calls(fns[f"{tiling_py}:build_overview"], "halo")


_FILTER_FNS = {"_cubic", "_bspline", "_lanczos"}


def test_one_warp():
    tiling_py = os.path.join("gdal_spark", "tiling.py")
    pkg = "gdal_spark" + os.sep
    tests = sorted(glob.glob(os.path.join(REPO, "tests", "*.py")))
    old, crops, filter_refs, table_reads, sinc3 = [], [], [], [], []
    fns = {}
    for path in SOURCES + tests:
        tree = _tree(path)
        # the oracles in localref keep their own weight functions
        gone = {"warp_affine", "warp_transform"} | (
            {"wfun", "cubw", "bspl", "lweight"} if _rel(path).startswith(pkg) else set())
        for n in ast.walk(tree):
            if isinstance(n, ast.FunctionDef) and n.name in gone:
                old.append(f"{_rel(path)}:{n.name}")
            if isinstance(n, (ast.keyword, ast.arg)) and n.arg == "crop":
                crops.append(f"{_rel(path)}:{n.lineno}")
        if not _rel(path).startswith(pkg):
            continue
        for top in tree.body:
            name = getattr(top, "name", None) or ast.unparse(
                getattr(top, "targets", [top])[0])
            where = f"{_rel(path)}:{name}"
            if isinstance(top, ast.FunctionDef):
                fns[where] = top
            for n in ast.walk(top):
                if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
                    if n.id in _FILTER_FNS:
                        filter_refs.append(where)
                    if n.id == "_FILTERS" and isinstance(top, ast.FunctionDef):
                        table_reads.append(where)
                # sin(x / 3): the lanczos window spelled a second time
                if (isinstance(n, ast.Call) and ast.unparse(n.func).endswith("sin")
                        and n.args and isinstance(n.args[0], ast.BinOp)
                        and isinstance(n.args[0].op, ast.Div)
                        and ast.unparse(n.args[0].right) in ("3", "3.0")):
                    sinc3.append(where)
    assert not old, old
    assert not crops, crops
    # the filters are named only in their table; resample reads it, and
    # the convolution overview takes its fixed 2x tap weights from it
    assert set(filter_refs) == {f"{tiling_py}:_FILTERS"}, filter_refs
    assert sorted(set(table_reads)) == [f"{tiling_py}:build_overview_conv",
                                        f"{tiling_py}:resample"], table_reads
    assert sinc3 == [f"{tiling_py}:_lanczos"], sinc3
    warp = fns[f"{tiling_py}:warp"]
    for callee in ("gather", "paste", "resample"):
        assert _calls(warp, callee), callee


def test_one_mkdtemp_in_the_query_builders():
    entry = os.path.join(REPO, "__spark_entry__.py")
    calls = [n.lineno for n in ast.walk(_tree(entry))
             if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
             and n.func.attr == "mkdtemp"]
    assert len(calls) == 1, calls


def test_scratch_root_removed_at_exit(tmp_path):
    # TMPDIR puts the root where this test can look for it
    script = (
        "import os, sys\n"
        f"sys.path.insert(0, {REPO!r})\n"
        "import __spark_entry__ as E\n"
        "a, b = E._scratch('x'), E._scratch('x')\n"
        "assert a != b and not os.listdir(a), (a, b)\n"
        "for d in (a, b):\n"
        "    open(os.path.join(d, 'f'), 'w').write('x')\n"
        "print(os.path.dirname(a))\n"
    )
    env = dict(os.environ, TMPDIR=str(tmp_path))
    out = subprocess.run([sys.executable, "-c", script], env=env,
                         capture_output=True, text=True, check=True)
    root = out.stdout.strip().splitlines()[-1]
    assert os.path.dirname(root) == str(tmp_path), root
    assert not os.path.exists(root)
    assert os.listdir(tmp_path) == []
