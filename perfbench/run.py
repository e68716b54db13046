"""Benchmark of the beacon ELT pipeline and the query engine.

    python3 perfbench/run.py --workload backfill|query_mix --seed N \
        --seconds S --trace 0|1
    python3 perfbench/run.py --record-hashes

Run from the repository root. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics, or with ``--trace 1`` the per-layer metrics). See
``perfbench/README.md`` for what each workload does and measures.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()


def _cpu_jiffies() -> list[int]:
    """All CPUs' time since boot from /proc/stat: user, nice, system, idle,
    iowait, irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


CPU_START = _cpu_jiffies()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import uuid  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.harness import WORK_DIR, SparkCounters, jvm_peak_rss_mb  # noqa: E402


def log(msg: str) -> None:
    """Progress on standard error, stamped with seconds since start."""
    print(f"[perfbench {time.perf_counter() - T_START:7.1f}s] {msg}",
          file=sys.stderr, flush=True)


def _no_span(name: str):
    return contextlib.nullcontext()


def _units_left(seconds: float, t0: float, durations: list[float]) -> bool:
    """Start another unit of work only if it should end within the budget."""
    return time.perf_counter() - t0 + durations[-1] <= seconds


class Run:
    """What one invocation measured, and how it prints."""

    def __init__(self, spark, trace: bool):
        from perfbench.trace import Tracer

        self.spark = spark
        self.counters = SparkCounters(spark)
        self.tracer = Tracer(self.counters, uuid.uuid4().hex[:12]) if trace else None
        self.checks: dict[str, bool] = {}
        self.attempted = 0

    @property
    def span(self):
        return self.tracer.span if self.tracer else _no_span

    def start_timing(self):
        if self.tracer:
            self.tracer.install()
        self.first_job = self.counters.jobs()

    def stop_timing(self) -> dict[str, float]:
        """Traced runs: uninstall the wrappers, write the spans out, and
        return the Spark runtime metrics of the timed region."""
        end_job = self.counters.jobs()
        if not self.tracer:
            return {}
        peak = jvm_peak_rss_mb(self.spark)
        self.tracer.uninstall()
        per_job = self.tracer.finish(
            os.path.join(WORK_DIR, f"spans-{self.tracer.run_id}.jsonl"))
        d = SparkCounters.total(per_job, self.first_job, end_job)
        return {"spark.jobs": d.jobs, "spark.task_s": d.task_s, "spark.gc_s": d.gc_s,
                "spark.shuffle_bytes": d.shuffle_bytes, "peak_rss_mb": peak}

    def result(self, e2e: dict[str, float], layer: dict[str, float]) -> dict:
        from perfbench.metrics import result

        traced = self.tracer is not None
        return result(layer if traced else e2e, traced, self.attempted, self.checks)


def run_backfill(spark, seed: int, seconds: float, trace: bool) -> dict:
    from perfbench import backfill as BF
    from perfbench.metrics import ANALYTICS_QUERIES, TRANSFORM_TABLES, units
    from perfbench.query_mix import QUERY_NAMES
    from perfbench.trace import rollup

    run = Run(spark, trace)
    bf = BF.Backfill(spark, seed)
    setup_s = time.perf_counter() - T_START
    log(f"set-up {setup_s:.2f}s")

    http0 = bf.counters.values()
    run.start_timing()
    passes, elt = [], []
    t0 = time.perf_counter()
    while not passes or _units_left(seconds, t0, passes):
        p0 = time.perf_counter()
        out = bf.run_pass(f"pass{len(passes)}", run.span)
        passes.append(time.perf_counter() - p0)
        elt.append(out["times"]["load"] + out["times"]["transform"])
        log(f"pass {passes[-1]:.2f}s " + " ".join(
            f"{k}={v:.2f}" for k, v in out["times"].items()))
        run.checks.update(bf.check(out))
    runtime = run.stop_timing()
    http = {k: v - http0[k] for k, v in bf.counters.values().items()}

    # HTTP requests, analytics queries and realtime windows
    run.attempted = http["requests"] + len(passes) * (len(ANALYTICS_QUERIES) + 1)
    # rows every load must fetch: each non-empty slot's block and rewards,
    # plus the validators snapshot
    want_rows = len(passes) * (2 * bf.chain.raw_rows["raw_blocks"] + 1)
    e2e = {
        "setup_s": setup_s,
        "pass_s": statistics.median(passes),
        "items_per_s": bf.chain.n_slots / statistics.median(elt),
    }
    layer = {}
    if run.tracer:
        layer = dict.fromkeys(units(per_layer=True), 0)  # layers not crossed read 0
        layer.update(rollup(run.tracer, TRANSFORM_TABLES, list(QUERY_NAMES),
                            ANALYTICS_QUERIES))
        # blocks and rewards rows counted by the CLI's fetch metrics, plus
        # the validators snapshot of each pass
        fetched = sum(s.attrs.get("rows", 0) for s in run.tracer.spans
                      if s.name == "fetch.fold")
        fetched += len(passes) * out["lake"].read("raw_validators").count()
        layer.update({
            "fetch.requests": http["requests"], "fetch.retries": http["retries"],
            "fetch.not_found": http["not_found"], "fetch.body_bytes": http["body_bytes"],
            "fetch.rows": fetched, "fetch.failed": max(0, want_rows - fetched),
            **runtime,
        })
        layer.update(bf.lake_metrics(out, http))
        layer["fetch.s"], layer["fetch.task_s"] = bf.fetch_probe()
        _add_overhead(layer, run.tracer.overhead_s / len(passes), e2e)
    return run.result(e2e, layer)


def run_query_mix(spark, seed: int, seconds: float, trace: bool) -> dict:
    from perfbench.metrics import ANALYTICS_QUERIES, TRANSFORM_TABLES, units
    from perfbench.query_mix import QueryMix
    from perfbench.trace import rollup

    run = Run(spark, trace)
    mix = QueryMix(spark, seed)
    setup_s = time.perf_counter() - T_START
    log(f"set-up {setup_s:.2f}s")

    exchanges: dict[str, int] | None = {} if run.tracer else None
    run.start_timing()
    cycles: list[float] = []
    checks: list[dict] = []
    t0 = time.perf_counter()
    while not cycles or _units_left(seconds, t0, cycles):
        times, results = mix.run_cycle(run.span, exchanges)
        cycles.append(sum(times.values()))
        checks.append(results)
        log(f"cycle {cycles[-1]:.2f}s " + " ".join(
            f"{q}={t:.2f}" for q, t in times.items()))
    runtime = run.stop_timing()

    run.attempted = len(cycles) * len(mix.cycle)
    for i, results in enumerate(checks):
        run.checks.update({f"cycle{i}.{k}": v for k, v in mix.check(results).items()})
    e2e = {
        "setup_s": setup_s,
        "pass_s": statistics.median(cycles),
        "items_per_s": len(mix.cycle) / statistics.median(cycles),
    }
    layer = {}
    if run.tracer:
        layer = dict.fromkeys(units(per_layer=True), 0)  # layers not crossed read 0
        layer.update(rollup(run.tracer, TRANSFORM_TABLES, list(mix.cycle),
                            ANALYTICS_QUERIES))
        layer.update({f"q.{q}.exchanges": n for q, n in exchanges.items()})
        layer.update(runtime)
        _add_overhead(layer, run.tracer.overhead_s / len(cycles), e2e)
    return run.result(e2e, layer)


def _add_overhead(layer: dict, per_pass_s: float, e2e: dict) -> None:
    """Tracing overhead on the end-to-end metrics it can touch: the span
    bookkeeping time inside one timed pass, and the throughput that costs
    if spread evenly over the pass. Set-up happens before the wrappers are
    installed; the spans themselves are a few hundred small objects."""
    layer["overhead.pass_s"] = per_pass_s
    layer["overhead.items_per_s"] = (
        e2e["items_per_s"] * per_pass_s / (e2e["pass_s"] - per_pass_s))


WORKLOADS = {"backfill": run_backfill, "query_mix": run_query_mix}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--record-hashes", action="store_true",
                   help="check the query_mix results against their DuckDB "
                        "oracles and record their hashes")
    args = p.parse_args(argv)
    if not args.record_hashes and args.workload is None:
        p.error("--workload is required")
    try:
        import beacon_indexer_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is missing: {e}", file=sys.stderr)
        return 2

    from perfbench.harness import start_spark, stop_spark

    spark = start_spark()
    log("spark session up")
    try:
        if args.record_hashes:
            from perfbench.query_mix import record_hashes

            print(json.dumps(record_hashes(spark), indent=1))
            return 0
        result = WORKLOADS[args.workload](spark, args.seed, args.seconds,
                                          bool(args.trace))
        log("load average (1, 5, 15 min): %.2f %.2f %.2f" % os.getloadavg())
        # time the hypervisor gave this machine's CPUs to other guests, a
        # source of run-to-run spread on a shared virtual machine
        d = [b - a for a, b in zip(CPU_START, _cpu_jiffies())]
        log(f"CPU steal: {100.0 * d[7] / max(1, sum(d)):.1f} % of the run")
    finally:
        stop_spark(spark)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
