"""The correctness gate pairs every ``queries()`` entry with an
``oracle_sql()`` entry of the same name; a query without an oracle
would pass unchecked, and an oracle without a query checks nothing.
Building both registries starts no Spark job."""

import __spark_entry__ as entry


def test_queries_and_oracles_name_the_same_entries():
    queries, oracles = set(entry.queries()), set(entry.oracle_sql())
    assert sorted(queries - oracles) == []
    assert sorted(oracles - queries) == []


def test_bench_headline_names_are_gate_entries():
    # importing bench.py starts no Spark session
    import bench

    assert sorted(set(bench.HEADLINE) - set(entry.queries())) == []
