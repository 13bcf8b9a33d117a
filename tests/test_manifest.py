"""Driver-contract manifest: the query table the round driver and
``scripts/check_oracle.py`` iterate over. No Spark session needed."""

import __spark_entry__ as E


def test_query_manifest_is_pinned():
    """68 entry queries, each with its DuckDB oracle and no oracle
    without a query; every production override names an entry query."""
    q = E.queries()
    assert len(q) == 68
    assert set(q) == set(E.oracle_sql())
    assert set(E.production_queries()) <= set(q)
