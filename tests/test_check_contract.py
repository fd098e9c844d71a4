"""tools/check_contract.py stops at a lost Spark gateway: the query
that hit it FAILs, every later one is NOT RUN, and the run exits
non-zero. A stub registry and a stub session stand in; no Spark
starts."""

import importlib.util
import json
import os
import sys
import types

import duckdb
import pandas as pd
import pytest
from py4j.protocol import Py4JNetworkError

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load():
    spec = importlib.util.spec_from_file_location(
        "check_contract", os.path.join(REPO, "tools", "check_contract.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class _Frame:
    def toPandas(self):
        return pd.DataFrame({"v": [1.0, 2.0]})


def _registry(calls, err):
    def builder(name, fail):
        def q(spark, sf_dir):
            calls.append(name)
            if fail:
                raise err
            return _Frame()
        return q

    return {"a": builder("a", False), "b": builder("b", True),
            "c": builder("c", False), "d": builder("d", False)}


def _oracle(name):
    return "SELECT 1.0 AS v UNION ALL SELECT 2.0"


def _wrapped():
    """A higher-level error raised from the py4j one."""
    err = RuntimeError("collect failed")
    err.__cause__ = Py4JNetworkError("Answer from Java side is empty")
    return err


@pytest.mark.parametrize("err", [
    Py4JNetworkError("Answer from Java side is empty"),
    ConnectionRefusedError(111, "Connection refused"),
    EOFError(),
    _wrapped(),
], ids=["py4j", "refused", "eof", "wrapped"])
def test_lost_gateway_stops_the_run(err):
    cc = _load()
    calls = []
    summary = cc.run(None, duckdb.connect(), _registry(calls, err),
                     _oracle, "sf")
    assert calls == ["a", "b"]
    assert {k: v["status"] for k, v in summary.items()} == {
        "a": "OK", "b": "FAIL", "c": "NOT RUN", "d": "NOT RUN"}


def test_other_errors_keep_going():
    cc = _load()
    calls = []
    summary = cc.run(None, duckdb.connect(),
                     _registry(calls, ValueError("bad input")), _oracle, "sf")
    assert calls == ["a", "b", "c", "d"]
    assert [v["status"] for v in summary.values()] == [
        "OK", "FAIL", "OK", "OK"]


def test_main_writes_not_run_and_exits_nonzero(tmp_path, monkeypatch):
    cc = _load()
    calls = []
    con = duckdb.connect()
    for t in cc.TABLES:
        con.execute(f"COPY (SELECT 1 AS x) TO '{tmp_path}/{t}.parquet'")
    entry = types.ModuleType("__spark_entry__")
    entry.queries = lambda: _registry(calls, EOFError())
    entry.oracle = _oracle
    entry.entry = lambda spark: pytest.fail("entry smoke after lost gateway")

    class _Spark:
        def stop(self):
            pytest.fail("stop() on a lost gateway")

    import gdal_spark.session as session

    monkeypatch.setitem(sys.modules, "__spark_entry__", entry)
    monkeypatch.setattr(session, "get_spark", lambda *a, **k: _Spark())
    monkeypatch.setenv("SPARK_GRAFT_ORACLE_SF_DIR", str(tmp_path))
    out = tmp_path / "board.json"
    monkeypatch.setattr(sys, "argv", ["check_contract.py", "--exact",
                                      "--json", str(out), str(tmp_path)])
    with pytest.raises(SystemExit) as done:
        cc.main()
    assert done.value.code != 0
    board = json.loads(out.read_text())
    assert board["total"] == 4 and board["ok"] == 1
    assert board["queries"]["c"]["status"] == "NOT RUN"
    assert board["queries"]["d"]["status"] == "NOT RUN"
