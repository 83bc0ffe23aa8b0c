"""The DuckDB oracles' output column types (DuckDB only, no Spark session).

A bare ``sum()`` over integers is ``HUGEINT`` in DuckDB while Spark's is a
``BIGINT``: equal values, but a different type, so the result hash of the
oracle and the query never match.  Every integer sum in an oracle is cast.
"""
import os
import sys

import pytest

duckdb = pytest.importorskip("duckdb")

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the sf0.001 tables the Spark integration tests read
SF_DIR = os.path.expanduser("~/testdata/sf0.001")
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def test_no_oracle_returns_hugeint():
    if not os.path.exists(SF_DIR):
        pytest.skip("testdata missing")
    sys.path.insert(0, ROOT)
    import __spark_entry__ as entry
    con = duckdb.connect()
    for name in TABLES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"'{SF_DIR}/{name}.parquet'")
    hugeint = []
    for name, sql in entry.oracle_sql().items():
        for column, column_type, *_ in con.execute(
                f"DESCRIBE {sql}").fetchall():
            if column_type == "HUGEINT":
                hugeint.append(f"{name}.{column}")
    assert not hugeint, hugeint
