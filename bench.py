"""Benchmark harness: runs the engine's queries over the tables in
$SPARK_GRAFT_SF_DIR (default: the sf0.1 test data) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line
{"metric", "value", "unit", "queries", "sf"} last.

- ``python bench.py``: the full surface, sharded across fresh JVMs by
  tools/bench_shards.py, which merges the shards into bench_reps.json.
- ``SPARK_GRAFT_BENCH_ONLY=a,b python bench.py``: the named queries in
  this JVM; their reps go to bench_reps_subset.json.

Each rep is one ``measure.measure`` call: build the query frame, then run
its plan to completion with the rows discarded on the executors. A
query's value is its minimum over $SPARK_GRAFT_BENCH_REPS reps (default
4; this box shows ±35% run-to-run noise on identical plans).

Fields of the reps artifact that flag which numbers not to trust (they
never change the numbers):
- rep_task_sec / rep_gc_sec: per rep, the executor run time and GC time
  of the rep's Spark jobs, summed over their stages in the status store
  (so at most wall time × cores). A wall-time spike without a task-time
  spike is a scheduler or environment stall, not plan cost.
- dispersion / dispersion_flags: per-query cross-rep wall spread
  (max/min) with the task-time ratio alongside; a query is flagged when
  its spread exceeds 2x and 0.3 s.
- load_median / load_flag: the 1-min loadavg sampled after each rep;
  the flag fires when the median sample exceeds 1.2 × cores.
- canary: a few cheap, stable queries re-timed after the loop. A canary
  slower at the end than its in-loop minimum (drift > 1.2) means the box
  got busier mid-run; drift < 1/1.2 is the JVM warming up.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from beacon_indexer_spark.measure import job_table, measure  # noqa: E402
from beacon_indexer_spark.plans.queries import QUERIES  # noqa: E402
from beacon_indexer_spark.session import get_spark  # noqa: E402

REPO = os.path.dirname(os.path.abspath(__file__))
CANARIES = ("top_users", "events_hourly", "event_type_stats")

# wall-spread thresholds for the per-query dispersion flag: ratio alone
# would flag 0.01 s vs 0.03 s scheduler jitter on trivial queries, so an
# absolute floor rides along
DISPERSION_RATIO = 2.0
DISPERSION_MIN_SPREAD_SEC = 0.3


def dispersion_of(
    reps: dict[str, list[float]],
    task_reps: dict[str, list] | None = None,
) -> tuple[dict[str, dict], list[str]]:
    """Per-query cross-rep wall dispersion (+ task-time ratio when
    available) and the list of flagged queries. Shared by the in-process
    runner and the shard merger so both artifacts carry identical
    semantics."""
    disp: dict[str, dict] = {}
    flags: list[str] = []
    for name, ts in reps.items():
        if not ts:
            continue
        lo, hi = min(ts), max(ts)
        ratio = round(hi / lo, 3) if lo > 0 else 1.0
        rec = {"wall_ratio": ratio, "wall_spread_sec": round(hi - lo, 4)}
        tr = (task_reps or {}).get(name)
        tvals = [t for t in (tr or []) if isinstance(t, (int, float)) and t >= 0]
        if tvals and min(tvals) > 0:
            rec["task_ratio"] = round(max(tvals) / min(tvals), 3)
        flagged = ratio > DISPERSION_RATIO and (hi - lo) > DISPERSION_MIN_SPREAD_SEC
        rec["flag"] = flagged
        disp[name] = rec
        if flagged:
            flags.append(name)
    return disp, sorted(flags)


def run_subset(only: str) -> None:
    """Min-of-N over the comma-separated queries ``only`` in ONE JVM."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "4")))
    selected = {k: QUERIES[k] for k in only.split(",") if k}

    spark = get_spark(app_name="bis-bench", master=f"local[{cpus}]")

    def rep(name: str) -> tuple[float, float, float]:
        """(wall s, task s, GC s) of one build and execution."""
        m = measure(spark, lambda: selected[name](spark, sf_dir), name)
        jobs = job_table(spark, m.first_job, m.end_job)
        return (round(m.total_s, 4), round(sum(j.task_s for j in jobs), 3),
                round(sum(j.gc_s for j in jobs), 3))

    # warm the JVM, the Parquet footers and the Python/Arrow workers (not
    # timed) with the first query, a pandas UDF pass and two reps of each
    # canary, so the canaries' loop minima carry no codegen warm-up
    import pandas as pd  # noqa: F401 - warms the Arrow/pandas worker path

    def _noop(batches):
        yield from batches

    rep(next(iter(selected)))
    n_workers = spark.sparkContext.defaultParallelism
    spark.range(0, n_workers * 8, numPartitions=n_workers).mapInPandas(
        _noop, "id long"
    ).collect()
    canaries = [c for c in CANARIES if c in selected]
    for name in canaries * 2:
        rep(name)

    rep_times: dict[str, list[float]] = {}
    rep_task: dict[str, list[float]] = {}
    rep_gc: dict[str, list[float]] = {}
    rep_loads: dict[str, list[float]] = {}
    for name in selected:
        runs = []
        for _ in range(reps):
            runs.append(rep(name))
            rep_loads.setdefault(name, []).append(round(os.getloadavg()[0], 2))
        rep_times[name], rep_task[name], rep_gc[name] = map(list, zip(*runs))
    timings = {name: min(ts) for name, ts in rep_times.items()}

    canary = {}
    for name in canaries:
        end_min = min(rep(name)[0] for _ in range(2))
        loop_min = timings[name]
        canary[name] = {
            "loop_min": loop_min,
            "end_min": end_min,
            "drift": round(end_min / loop_min, 3) if loop_min > 0 else 1.0,
        }
    drift_vals = [c["drift"] for c in canary.values()] or [1.0]

    n_cores = os.cpu_count() or 8
    load_limit = 1.2 * n_cores
    load_samples = [x for xs in rep_loads.values() for x in xs]
    load_median = round(statistics.median(load_samples), 2)
    dispersion, dispersion_flags = dispersion_of(rep_times, rep_task)
    with open(os.path.join(REPO, "bench_reps_subset.json"), "w") as f:
        json.dump(
            {
                "sf": sf,
                "n_reps": reps,
                "reps": rep_times,
                "rep_loads": rep_loads,
                "rep_task_sec": rep_task,
                "rep_gc_sec": rep_gc,
                "dispersion": dispersion,
                "dispersion_flags": dispersion_flags,
                "n_cores": n_cores,
                "load_limit": round(load_limit, 2),
                "load_median": load_median,
                "load_max": max(load_samples),
                "load_flag": load_median > load_limit,
                "canary": canary,
                "canary_max_drift": max(drift_vals),
                "canary_drift_flag": any(d > 1.2 for d in drift_vals),
                "canary_warmup_flag": any(d < 1 / 1.2 for d in drift_vals),
            },
            f,
        )
    # the headline must be the last stdout line and short enough for a
    # tail-buffer capture to parse: per-rep times go on an earlier line
    print(json.dumps({"reps": rep_times}))
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_runtime",
                "value": round(sum(timings.values()), 4),
                "unit": "sec",
                "queries": {k: round(v, 3) for k, v in timings.items()},
                "sf": sf,
                "n_reps": reps,
            },
            separators=(",", ":"),
        )
    )
    spark.stop()


def main() -> None:
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    if only:
        run_subset(only)
        return
    from tools.bench_shards import main as shards_main

    shards_main()


if __name__ == "__main__":
    main()
