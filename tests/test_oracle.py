"""Contract queries against their DuckDB oracles, compared the way
``tools/check_oracle.py`` compares them: row count, column names, and
the multiset of normalised rows after pandas conversion.

Covers the queries that call the library's text and parse operators
(``token_counts``, ``fingerprint``, ``quarantine_parse``), on the
generated sf0.001 tables described in TESTDATA.md, which sit in
``testdata/`` beside the repository checkout.
"""

import os
import sys

import duckdb
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

import __spark_entry__ as entry  # noqa: E402
from check_oracle import TABLES, rows_to_multiset  # noqa: E402

SF_DIR = os.path.join(os.path.dirname(REPO), "testdata", "sf0.001")


@pytest.fixture(scope="module")
def oracle_db():
    if not os.path.isdir(SF_DIR):
        pytest.skip(f"sf0.001 tables not found at {SF_DIR}")
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    yield con
    con.close()


@pytest.mark.parametrize("name", ["token_counts", "fingerprint", "quarantine_parse"])
def test_query_matches_oracle(spark, oracle_db, name):
    spdf = entry.queries()[name](spark, SF_DIR).toPandas()
    dpdf = oracle_db.execute(entry.oracle_sql()[name]).df()
    scols, dcols = list(spdf.columns), list(dpdf.columns)
    srows = list(spdf.itertuples(index=False, name=None))
    drows = list(dpdf.itertuples(index=False, name=None))
    assert srows, "the query returned no rows"
    assert len(srows) == len(drows)
    assert sorted(scols) == sorted(dcols)
    assert rows_to_multiset(scols, srows) == rows_to_multiset(dcols, drows)
