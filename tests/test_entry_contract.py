"""The driver contract in ``__spark_entry__.py`` pairs every gate
query with one DuckDB oracle.  Checked without a SparkSession:
building and comparing the frames is ``tools/verify_entry.py``'s job."""

import __spark_entry__ as entry


def test_every_gate_query_has_an_oracle():
    assert set(entry.queries()) == set(entry.oracle_sql())
