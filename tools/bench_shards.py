"""Sharded bench_reps refresh: run the full query surface as N fresh-JVM
shards and merge them into bench_reps.json. A full-surface
`python bench.py` delegates here.

Why shards: a query's min-of-N in one long JVM depends on how deep in the
run it sits (JIT warm-up) and how aged the JVM is (code cache, GC
pressure), so a single-JVM full run drifts with the surface's size
(SCALE.md "Bench noise verdict"). Two rules keep runs comparable:

- **Hash-stable shard assignment** (crc32(name) % n): adding queries does
  not move existing queries between shards.
- **Fresh JVM per shard** (~85 queries): bounded JVM aging, so growth in
  one shard cannot slow queries in another.

Within a shard, queries run sorted by name. Sharded minima run ~14% above
deep-warm single-JVM minima (the fresh-JVM warm-up), so compare sharded
runs to sharded runs only. Single-shard canary drift spikes up to ~1.8
occur on quiet boxes; treat simultaneous >1.5 drift on several shards as
contamination.

The merged artifact lands in both bench_reps.json and
bench_reps_sharded.json, and the last stdout line is the driver-format
headline ({"metric", "value", "unit", "queries", "sf"}) built from the
sharded minima. The per-query flags (rep_task_sec/rep_gc_sec,
dispersion; see bench.py's module docstring) merge through from the
shard artifacts. A failed shard retries once before the run aborts.

Usage:
    python bench.py                         # full surface → sharded headline
    python tools/bench_shards.py            # same, invoked directly
    SPARK_GRAFT_BENCH_SHARDS=6 SPARK_GRAFT_BENCH_REPS=4 python tools/bench_shards.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
import zlib

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def shard_of(name: str, n_shards: int) -> int:
    return zlib.crc32(name.encode()) % n_shards


def main() -> None:
    from beacon_indexer_spark.plans.queries import QUERIES

    n_shards = int(os.environ.get("SPARK_GRAFT_BENCH_SHARDS", "4"))
    names = sorted(QUERIES)
    shards: list[list[str]] = [[] for _ in range(n_shards)]
    for n in names:
        shards[shard_of(n, n_shards)].append(n)

    merged_reps: dict[str, list[float]] = {}
    merged_loads: dict[str, list[float]] = {}
    merged_task: dict[str, list] = {}
    merged_gc: dict[str, list] = {}
    shard_meta = []
    sf = None
    n_reps = None
    load_flag = False
    load_max = 0.0
    load_medians: list[float] = []
    load_limit = None
    t0 = time.time()
    for i, shard in enumerate(shards):
        if not shard:
            continue
        env = dict(os.environ, SPARK_GRAFT_BENCH_ONLY=",".join(shard))
        print(
            f"shard {i}: {len(shard)} queries "
            f"({shard[0]}..{shard[-1]})",
            flush=True,
        )
        # one retry: a transient JVM/port/OOM failure in one shard must
        # not cost the round its headline artifact
        for attempt in (1, 2):
            proc = subprocess.run(
                [sys.executable, os.path.join(REPO, "bench.py")],
                env=env,
                cwd=REPO,
                stdout=subprocess.DEVNULL,
                stderr=subprocess.DEVNULL,
            )
            if proc.returncode == 0:
                break
            print(
                f"shard {i} attempt {attempt} failed rc={proc.returncode}",
                flush=True,
            )
        if proc.returncode != 0:
            raise SystemExit(f"shard {i} failed twice rc={proc.returncode}")
        with open(os.path.join(REPO, "bench_reps_subset.json")) as f:
            sub = json.load(f)
        sf = sub["sf"]
        # n_reps comes from the subset artifacts bench.py actually wrote —
        # never re-derived from the env default, which can diverge from
        # bench.py's own default and misdescribe the merged runs
        if n_reps is None:
            n_reps = sub["n_reps"]
        elif n_reps != sub["n_reps"]:
            raise SystemExit(
                f"shard {i} ran n_reps={sub['n_reps']} but earlier shards "
                f"ran {n_reps}; refusing to merge inconsistent rep counts"
            )
        merged_reps.update(sub["reps"])
        merged_loads.update(sub.get("rep_loads", {}))
        merged_task.update(sub.get("rep_task_sec", {}))
        merged_gc.update(sub.get("rep_gc_sec", {}))
        load_flag = load_flag or bool(sub.get("load_flag"))
        load_max = max(load_max, sub.get("load_max", 0.0))
        if sub.get("load_median") is not None:
            load_medians.append(sub["load_median"])
        load_limit = sub.get("load_limit", load_limit)
        shard_meta.append(
            {
                "shard": i,
                "n_queries": len(shard),
                "canary": sub.get("canary", {}),
                "canary_max_drift": sub.get("canary_max_drift"),
                "load_median": sub.get("load_median"),
                "load_max": sub.get("load_max"),
                "load_flag": sub.get("load_flag"),
            }
        )

    from bench import dispersion_of

    dispersion, dispersion_flags = dispersion_of(merged_reps, merged_task)
    mins = {q: min(ts) for q, ts in merged_reps.items()}
    artifact = {
        "sf": sf,
        "n_reps": n_reps,
        "sharded": True,
        "n_shards": n_shards,
        "reps": merged_reps,
        "rep_loads": merged_loads,
        "rep_task_sec": merged_task,
        "rep_gc_sec": merged_gc,
        "dispersion": dispersion,
        "dispersion_flags": dispersion_flags,
        "load_limit": load_limit,
        "load_max": round(load_max, 2),
        "load_median_max": max(load_medians) if load_medians else None,
        "load_flag": load_flag,
        "shards": shard_meta,
        "total_min_sec": round(sum(mins.values()), 2),
        "elapsed_sec": round(time.time() - t0, 1),
    }
    # bench_reps.json is the artifact name round tooling reads;
    # bench_reps_sharded.json keeps the methodology-explicit name the
    # round-over-round comparisons track. Identical content by design.
    for out_name in ("bench_reps.json", "bench_reps_sharded.json"):
        with open(os.path.join(REPO, out_name), "w") as f:
            json.dump(artifact, f)
    if dispersion_flags:
        print(
            json.dumps(
                {"dispersion_flags": dispersion_flags}, separators=(",", ":")
            ),
            flush=True,
        )
    # driver-format headline: MUST be the last stdout line
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_runtime",
                "value": artifact["total_min_sec"],
                "unit": "sec",
                "queries": {k: round(v, 3) for k, v in mins.items()},
                "sf": sf,
                "n_reps": n_reps,
                "sharded": True,
                "n_shards": n_shards,
            },
            separators=(",", ":"),
        )
    )


if __name__ == "__main__":
    main()
