"""Local replica of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() on DuckDB over the same parquet tables, then
compare row count, column names, and (order-insensitively) values.

The comparison is tools/run_oracle_gate.py's `oracle_match`: values are
compared exactly for ints/strings and to 1e-9 relative for floats — stricter
than any reasonable value-hash, so passing here means the driver's hash
compare passes too.

Each query also runs through the measurement core, and its Spark jobs,
Exchanges and scans are held to the committed PLAN_COUNTS.json baseline
(same sf only): a count may fall, never rise. Adaptive execution can pick
a different final plan from run to run (the baseline holds each count's
maximum over several passes), so a query whose counts rise is measured up
to twice more, and fails when a count stays above the baseline in every
run. Re-record the baseline with ``python tools/record_plan_counts.py``.
"""

from __future__ import annotations

import json
import os
import warnings

import duckdb
import pytest

import __spark_entry__ as entry_mod
from tools.record_plan_counts import PATH, counts, run, sf_of, warm_tables
from tools.run_oracle_gate import TABLES, _normalize, oracle_match

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def ddb(spark):
    warm_tables(spark, SF_DIR)  # so each query's counts exclude schema reads
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


QUERY_NAMES = sorted(entry_mod.queries().keys())

with open(PATH) as _f:
    _BASELINE = json.load(_f)
PLAN_COUNTS = _BASELINE["queries"] if _BASELINE["sf"] == sf_of(SF_DIR) else {}


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, ddb, name):
    m = run(spark, name, SF_DIR)
    sdf, spark_rows = m.df, [r.asDict() for r in m.rows]
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

    if name not in PLAN_COUNTS:
        return
    got, want = counts(m), PLAN_COUNTS[name]
    for _ in range(2):
        if all(v <= want[k] for k, v in got.items()):
            break
        again = counts(run(spark, name, SF_DIR))
        got = {k: min(v, again[k]) for k, v in got.items()}
    rose = {k: (want[k], v) for k, v in got.items() if v > want[k]}
    assert not rose, (
        f"{name}: (baseline, now) counts rose above PLAN_COUNTS.json: {rose}"
    )
    if got != want:
        warnings.warn(f"{name}: counts {got} below PLAN_COUNTS.json {want}: "
                      "an adaptive plan variant, or a lowered count to re-record")


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0
