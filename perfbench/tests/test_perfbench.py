"""Self-tests of the benchmark: deterministic inputs, expected counts that
hold on a tiny end-to-end pass, result lines that carry exactly the metric
names of BENCHMARK.json, and the exchange count of a plan.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os

import pytest

from perfbench import beacon_gen as G
from perfbench import harness, metrics, tables_gen



def _digest(d: str) -> dict[str, str]:
    return {n: hashlib.sha256(open(os.path.join(d, n), "rb").read()).hexdigest()
            for n in sorted(os.listdir(d))}


@pytest.mark.parametrize("era", ["backfill", "realtime"])
def test_generator_is_deterministic(tmp_path, era):
    kw = dict(era=era, n_validators=200, tail_slots=60, n_reorg=3) \
        if era == "backfill" else dict(era=era)
    a = G.generate(7, str(tmp_path / "a"), 300, **kw)
    b = G.generate(7, str(tmp_path / "b"), 300, **kw)
    c = G.generate(8, str(tmp_path / "c"), 300, **kw)
    assert _digest(a.store_dir) == _digest(b.store_dir)
    assert (a.expected, a.empty_slots, a.reorg_proposers) == \
        (b.expected, b.empty_slots, b.reorg_proposers)
    assert _digest(a.store_dir) != _digest(c.store_dir)


def test_backfill_chain_walks_every_fork(tmp_path):
    spec = G.generate(3, str(tmp_path), 1000, n_validators=10, n_reorg=5)
    assert spec.versions == sorted(G.FORK_ORDER)
    assert spec.boundary_slot < spec.end_slot
    assert all(spec.boundary_slot < s <= spec.end_slot for s in spec.reorg_slots)
    assert spec.expected["validators"] == 10


def test_transport_serves_retries_and_404s(tmp_path):
    from beacon_indexer_spark.sources.beacon_api import BeaconAPI

    spec = G.generate(5, str(tmp_path), 300, n_validators=5, tail_slots=60)
    t = G.StoreTransport(spec.store_dir, spec.seed, None)
    api = BeaconAPI(base_url="http://x", transport=t, retry_delay=0.0,
                    sleep=lambda s: None)
    slots = range(spec.start_slot, spec.end_slot + 1)
    got = {s: api.get_block(s) for s in slots}
    assert {s for s, b in got.items() if b is None} == set(spec.empty_slots)
    flaky = [s for s in slots if t.transient("blocks", s)]
    assert flaky  # the 503 schedule reaches this range
    assert api.get_validators(spec.boundary_slot)["data"][0]["index"] == "0"


def test_query_tables_are_deterministic(tmp_path):
    a = tables_gen.generate(1, str(tmp_path / "a"), scale=0.1)
    b = tables_gen.generate(1, str(tmp_path / "b"), scale=0.1)
    assert a == b
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))


def test_result_prints_exactly_the_benchmark_json_names():
    with open(metrics.BENCHMARK_JSON) as f:
        bench = json.load(f)
    for per_layer, key in ((False, "end_to_end"), (True, "per_layer")):
        want = {m["name"]: m["unit"] for m in bench[key]}
        out = metrics.result(dict.fromkeys(want, 1.5), per_layer, 3, {"a": True})
        assert {n: m["unit"] for n, m in out["metrics"].items()} == want
        assert (out["correct"], out["attempted"], out["failed"]) == (True, 4, 0)
        with pytest.raises(RuntimeError):
            metrics.result({**dict.fromkeys(want, 1.5), "extra": 1}, per_layer, 1, {})
        with pytest.raises(RuntimeError):
            metrics.result(dict.fromkeys(list(want)[1:], 1.5), per_layer, 1, {})
    assert {w["name"] for w in bench["workloads"]} == {"backfill", "query_mix"}


def test_self_time_subtracts_children():
    from perfbench.trace import Span, Tracer

    tr = Tracer(counters=None, run_id="t")
    tr.spans = [Span("a", 0.0, 10.0), Span("b", 1.0, 4.0, parent=0),
                Span("c", 5.0, 6.0, parent=0), Span("d", 2.0, 3.0, parent=1)]
    assert tr.self_times() == [6.0, 2.0, 1.0, 1.0]


@pytest.fixture(scope="module")
def spark():
    s = harness.start_spark()
    yield s
    harness.stop_spark(s)


def test_exchange_count_reads_the_final_plan(spark):
    from pyspark.sql import functions as F

    from perfbench.query_mix import count_exchanges

    df = spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count()
    df.collect()
    assert count_exchanges(df._jdf.queryExecution().executedPlan()) == 1


def test_task_time_counts_tasks_not_idle_time(spark):
    import time

    from pyspark.sql import functions as F

    c = harness.SparkCounters(spark)
    first, t0 = c.jobs(), time.perf_counter()
    spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count().collect()
    wall = time.perf_counter() - t0
    time.sleep(1.0)
    end = c.jobs()
    t = harness.SparkCounters.total(c.per_job(end), first, end)
    assert t.jobs == end - first >= 1
    assert 0 < t.task_s <= wall * (os.cpu_count() or 1)
    assert t.shuffle_bytes > 0


def test_query_cycle_opens_with_the_same_query():
    from perfbench.query_mix import QUERY_NAMES, cycle_order

    a, b = cycle_order(1), cycle_order(2)
    assert a == cycle_order(1) and a != b
    assert a[0] == b[0] == QUERY_NAMES[0]
    assert sorted(a) == sorted(QUERY_NAMES)


def test_tiny_backfill_pass_meets_expected_counts(spark):
    from perfbench.backfill import Backfill

    bf = Backfill(spark, seed=2, n_slots=240, n_validators=50, tail_slots=60,
                  n_reorg=3)
    out = bf.run_pass("tiny", lambda name: contextlib.nullcontext())
    ok = bf.check(out)
    assert ok and all(ok.values()), [k for k, v in ok.items() if not v]
