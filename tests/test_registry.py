"""The query registry (__spark_entry__.REGISTRY) is the one table behind
queries(), oracle_sql() and bench.py's timed suite. Each row carries
its own oracle, so what is left to check is that every oracle builds,
and that one oracle that cannot be built costs only its own row."""

import __spark_entry__ as E


def test_every_oracle_builds_to_nonempty_sql():
    for name in E.REGISTRY:
        sql = E.oracle(name)
        assert isinstance(sql, str) and sql.strip(), name


def test_oracle_sql_leaves_out_only_the_oracle_that_fails(monkeypatch, capsys):
    def broken() -> str:
        raise FileNotFoundError("fixture.tif")

    monkeypatch.setattr(E, "REGISTRY", {
        "first": E.Query(None, "SELECT 1 AS x"),
        "broken": E.Query(None, broken),
        "third": E.Query(None, lambda: "SELECT 3 AS x"),
    })
    assert E.oracle_sql() == {"first": "SELECT 1 AS x",
                              "third": "SELECT 3 AS x"}
    err = capsys.readouterr().err
    assert "broken" in err and "fixture.tif" in err
    assert "first" not in err and "third" not in err
