"""The query registry feeds both the contract board (queries() with its
oracle_sql() twin) and bench.py's timed suite; a query added, renamed
or deleted on one side must show up here, not as a KeyError in a
later bench or contract run."""

import __spark_entry__ as E
import bench


def test_every_query_has_an_oracle_and_every_oracle_a_query():
    assert set(E.queries()) == set(E.oracle_sql())


def test_bench_suite_names_are_registered_queries():
    assert len(bench.SUITE) == len(set(bench.SUITE))
    assert set(bench.SUITE) <= set(E.queries()), set(bench.SUITE) - set(E.queries())
