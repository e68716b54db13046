"""The benchmark's metrics: names, units and directions come from
``BENCHMARK.json`` at the repository root; this module holds the lists the
per-layer roll-up iterates over, and builds the result line.
"""

from __future__ import annotations

import json
import os

from perfbench.backfill import ANALYTICS
from perfbench.beacon_gen import BLOCK_TABLES

BENCHMARK_JSON = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")

TRANSFORM_TABLES = [*BLOCK_TABLES, "rewards", "validators"]
ANALYTICS_QUERIES = [
    *(f"sql_{n}" for n in ("recent_blocks", "fork_distribution", "top_proposers",
                           "network_health_hourly", "fork_transitions")),
    *ANALYTICS,
]


def units(per_layer: bool) -> dict[str, str]:
    """name -> unit of the end-to-end or the per-layer metrics."""
    with open(BENCHMARK_JSON) as f:
        bench = json.load(f)
    return {m["name"]: m["unit"]
            for m in bench["per_layer" if per_layer else "end_to_end"]}


def result(values: dict[str, float], per_layer: bool, attempted: int,
           checks: dict[str, bool]) -> dict:
    """The result line: every metric ``BENCHMARK.json`` lists, and no
    other, with its unit; ``attempted`` counts the checks as well."""
    names = units(per_layer)
    if set(values) != set(names):
        raise RuntimeError(f"metric names differ from BENCHMARK.json: "
                           f"{sorted(set(values) ^ set(names))}")
    failed = sum(not ok for ok in checks.values())
    return {
        "correct": failed == 0,
        "attempted": attempted + len(checks),
        "failed": failed,
        "metrics": {n: {"value": values[n], "unit": u} for n, u in names.items()},
    }
