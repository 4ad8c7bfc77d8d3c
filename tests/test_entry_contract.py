"""The driver contract in __spark_entry__.py, checked without Spark.

Every query has a DuckDB oracle, and the set fits the 50 entries an outside
correctness harness records from queries(). Because all of them are
recorded, queries() returns them in registration order with no curated
priority list.
"""

import __spark_entry__ as entrymod


def test_queries_match_oracles_and_fit_recorded_window():
    names = set(entrymod.queries())
    assert names == set(entrymod.oracle_sql())
    assert len(names) <= 50
