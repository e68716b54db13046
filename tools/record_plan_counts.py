"""Record PLAN_COUNTS.json: the Spark jobs, Exchanges and scans of every
registered query at sf0.001, the structural baseline that
tests/test_entry_oracle.py holds each query to (a count may fall, never
rise).

Each query is built and collected through ``measure.measure``, in name
order, on the test suite's session settings (``conftest``), exactly as
the oracle test does. Adaptive execution can settle on a different final
plan from run to run (which of two stages finishes first decides a
runtime broadcast or an exchange reuse), so the baseline keeps each
count's maximum over ``PASSES`` passes. Re-record (~4 min per pass at
local[4]) after a change that lowers a count, or raises one on purpose:

    python tools/record_plan_counts.py
"""

from __future__ import annotations

import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from beacon_indexer_spark.measure import Measurement, measure  # noqa: E402

PATH = os.path.join(REPO, "PLAN_COUNTS.json")
PASSES = 3


def warm_tables(spark, sf_dir: str) -> None:
    """Read every table's schema once. The first read of a Parquet table
    in an application runs a schema-inference job, which belongs to the
    session's history, not to the query that happens to read it first."""
    from beacon_indexer_spark.plans.queries import _t
    from tools.run_oracle_gate import TABLES

    for table in TABLES:
        _t(spark, sf_dir, table)


def run(spark, name: str, sf_dir: str) -> Measurement:
    """Build and collect one registered query, counting its jobs and plan."""
    import __spark_entry__

    return measure(spark, lambda: __spark_entry__.queries()[name](spark, sf_dir),
                   name, collect=True)


def counts(m: Measurement) -> dict[str, int]:
    return {"jobs": m.jobs, "exchanges": m.exchanges, "scans": m.scans}


def sf_of(sf_dir: str) -> float:
    return float(re.search(r"sf([0-9.]+)", sf_dir).group(1))


def main() -> None:
    import __spark_entry__
    from tests.conftest import SF_DIR, suite_session

    spark = suite_session()
    spark.sparkContext.setLogLevel("ERROR")
    warm_tables(spark, SF_DIR)
    out: dict[str, dict[str, int]] = {}
    for _ in range(PASSES):
        for name in sorted(__spark_entry__.queries()):
            seen = out.setdefault(name, {})
            for key, n in counts(run(spark, name, SF_DIR)).items():
                seen[key] = max(n, seen.get(key, 0))
    with open(PATH, "w") as f:
        json.dump({"sf": sf_of(SF_DIR), "queries": out}, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {PATH}: {len(out)} queries at sf{sf_of(SF_DIR)}")
    spark.stop()


if __name__ == "__main__":
    main()
