"""Local replica of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() on DuckDB over the same parquet tables, then
compare row count, column names, and (order-insensitively) values.

The comparison is tools/run_oracle_gate.py's `oracle_match`: values are
compared exactly for ints/strings and to 1e-9 relative for floats — stricter
than any reasonable value-hash, so passing here means the driver's hash
compare passes too.
"""

from __future__ import annotations

import os

import duckdb
import pytest

import __spark_entry__ as entry_mod
from tools.run_oracle_gate import TABLES, _normalize, oracle_match

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


QUERY_NAMES = sorted(entry_mod.queries().keys())


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, ddb, name):
    sdf = entry_mod.queries()[name](spark, SF_DIR)
    spark_rows = [r.asDict() for r in sdf.collect()]
    ora = ddb.execute(entry_mod.oracle_sql()[name])
    ora_cols = [d[0] for d in ora.description]
    ora_rows = [dict(zip(ora_cols, row)) for row in ora.fetchall()]

    res = oracle_match(sdf.columns, spark_rows, ora_cols, ora_rows)
    assert res["schema_match"], (
        f"{name}: column mismatch {sorted(sdf.columns)} vs {sorted(ora_cols)}"
    )
    assert res["rows_match"], (
        f"{name}: row count {len(spark_rows)} vs {len(ora_rows)}"
    )
    if not res["values_match"]:
        cols = sorted(sdf.columns)
        sn, on = _normalize(spark_rows, cols), _normalize(ora_rows, cols)
        diffs = [(x, y) for x, y in zip(sn, on) if x != y][:5]
        pytest.fail(f"{name}: value mismatch, first diffs: {diffs}")


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0
