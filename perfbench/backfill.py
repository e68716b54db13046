"""The ``backfill`` workload: bulk historical ELT over a seeded Gnosis lake,
then a short head-follow by the realtime loop.

One pass, on a fresh lake, runs five timed phases:

- ``load``: ``load backfill --loaders blocks,rewards`` through ``cli.main``;
  the validators snapshot at the day boundary through ``daily_slots`` +
  ``fetch_slot_list_distributed`` + ``lake.write`` (``load backfill`` would
  fetch a full state for every slot), with its ledger chunks marked.
- ``transform``: ``transform batch`` per raw table (one merged range each).
- ``reorg``: a duplicate re-fetch of the head's chunk and a re-fetch of the
  re-orged slots (new payloads, later ``retrieved_at``), ``repair_range``
  from the first slot of the head's ``date=`` partition to the head (a
  sub-day repair would drop the rest of that day), ``maintain gaps`` and
  ``maintain integrity``.
- ``analytics``: ``register_views`` for ``blocks`` (the table every
  ``DOCUMENTED_SQL`` reads), each of those queries, and ``proposer_rewards``
  (blocks joined with rewards), each collected.
- ``realtime``: one ``RealtimeLoop.run(max_iterations=1)`` in catch-up
  mode over a one-chunk Electra-era window, with the default loaders except
  ``blocks`` (the fork and daily gates skip the rest, so the window fetches
  and transforms rewards). A blocks range costs the same ~57 jobs whatever
  its size, and the transform and reorg phases already run two.

The engine runs with ``BIS_CHUNK_SIZE=100``, the reference's chunk size
(the engine's default is 1000): the range is several ledger chunks, merged
into one transform range, and every distributed fetch of it runs as several
tasks, one per chunk.

Correctness is checked after the pass, outside the timed phases.
"""

from __future__ import annotations

import os
import time

from perfbench import beacon_gen as G
from perfbench.harness import fresh_dir, run_cli

N_SLOTS = 600  # backfill range; ends TAIL_SLOTS after a UTC day boundary
TAIL_SLOTS = 200
N_VALIDATORS = 25_000  # the one daily validators snapshot
N_REORG = 20  # re-orged slots in the head's day
CHUNK_SIZE = 100  # ledger chunk, fetch task and realtime window, in slots
BENCH_NETWORK = "gnosis-perfbench"
BASE_URL = "http://bench-node"

# plans.analytics functions run besides DOCUMENTED_SQL (whose five queries
# the same-named functions duplicate), with the tables they read
ANALYTICS = {"proposer_rewards": ("blocks", "rewards")}


class Backfill:
    """Inputs for one process: the backfill chain, the realtime chain, and
    the transports that serve them."""

    def __init__(self, spark, seed: int, n_slots: int = N_SLOTS,
                 n_validators: int = N_VALIDATORS, tail_slots: int = TAIL_SLOTS,
                 n_reorg: int = N_REORG):
        from beacon_indexer_spark import config as C

        # `cli.main` reads its chunk size from the environment on every call
        os.environ["BIS_CHUNK_SIZE"] = str(CHUNK_SIZE)
        self.spark = spark
        self.seed = seed
        self.chunk = CHUNK_SIZE
        self.chain = G.generate(
            seed, fresh_dir("inputs", "backfill"), n_slots,
            n_validators=n_validators, tail_slots=tail_slots, n_reorg=n_reorg)
        self.rt_chain = G.generate(
            seed, fresh_dir("inputs", "realtime"), 3 * CHUNK_SIZE,
            era="realtime")
        # `cli --network` resolves through this registry
        C.NETWORKS[BENCH_NETWORK] = self.chain.schedule
        self.counters = G.Counters(spark.sparkContext)

    def factory(self, reorg: bool = False) -> G.ApiFactory:
        return G.ApiFactory(G.StoreTransport(
            self.chain.store_dir, self.seed, self.counters, reorg=reorg))

    # -- one pass -----------------------------------------------------------

    def run_pass(self, name: str, span) -> dict:
        """All phases on a fresh lake. ``span(name)`` is a context manager
        around each phase (a tracer span, or a no-op). Returns the phase
        wall times, the lake and what the checks need."""
        from beacon_indexer_spark.control import ledger as L
        from beacon_indexer_spark.plans.pipeline import BeaconPipeline
        from beacon_indexer_spark.sources import beacon_api as B
        from beacon_indexer_spark.sources.storage import ParquetLake

        c, spark = self.chain, self.spark
        base = fresh_dir("lakes", name)
        common = ["--lake-dir", base, "--network", BENCH_NETWORK,
                  "--beacon-url", BASE_URL]
        lake = ParquetLake(spark, base, c.schedule)
        ledger = L.ChunkLedger(spark, f"{base}/_control/load_state_chunks")
        progress = L.ProgressManifest(spark, f"{base}/_control/transformer_progress")
        fetch_cfg = B.FetchConfig(base_url=BASE_URL)
        s, e = c.start_slot, c.end_slot
        out: dict = {"lake": lake}
        times: dict[str, float] = {}

        t0 = time.perf_counter()
        with span("phase.load"):
            run_cli([*common, "load", "backfill", "--start-slot", str(s),
                     "--end-slot", str(e), "--loaders", "blocks,rewards"],
                    spark, self.factory())
            day_ends = L.daily_slots(spark, s, e, c.schedule.genesis_time,
                                     c.schedule.seconds_per_slot)
            lake.write("raw_validators", B.fetch_slot_list_distributed(
                spark, fetch_cfg, B.LOADERS["validators"], day_ends, c.schedule,
                api_factory=self.factory()))
            ledger.append(L.generate_chunks(spark, s, e, self.chunk, "validators"))
            ledger.mark(ledger.with_status(L.PENDING), L.COMPLETED)
        times["load"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        with span("phase.transform"):
            for raw in ("raw_blocks", "raw_rewards", "raw_validators"):
                run_cli([*common, "transform", "batch", "--raw-table", raw,
                         "--limit", "1000"], spark)
        times["transform"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        with span("phase.reorg"):
            head_chunk = (e // self.chunk) * self.chunk
            lake.write("raw_blocks", B.fetch_slots_distributed(
                spark, fetch_cfg, B.LOADERS["blocks"], head_chunk, e, c.schedule,
                slots_per_task=self.chunk, api_factory=self.factory()))
            reorged = spark.createDataFrame([(x,) for x in c.reorg_slots], "slot long")
            lake.write("raw_blocks", B.fetch_slot_list_distributed(
                spark, fetch_cfg, B.LOADERS["blocks"], reorged, c.schedule,
                api_factory=self.factory(reorg=True)))
            BeaconPipeline(lake, progress=progress).repair_range(
                "raw_blocks", c.boundary_slot + 1, e)
            out["gaps"] = run_cli([*common, "maintain", "gaps", "--raw-table",
                                   "raw_blocks", "--start-slot", str(s),
                                   "--end-slot", str(e)], spark)["report"]
            out["integrity"] = run_cli([*common, "maintain", "integrity",
                                        "--raw-table", "raw_blocks"], spark)["report"]
        times["reorg"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        with span("phase.analytics"):
            out["analytics"] = self.analytics(lake, span)
        times["analytics"] = time.perf_counter() - t0

        with span("phase.realtime"):
            times["realtime"] = self.realtime(name)
        out["times"] = times
        return out

    def analytics(self, lake, span) -> dict[str, list]:
        from beacon_indexer_spark.plans import analytics as A
        from beacon_indexer_spark.plans import views as V

        V.register_views(lake, tables=["blocks"])  # all DOCUMENTED_SQL reads
        results = {}
        for name, sql in V.DOCUMENTED_SQL.items():
            with span(f"analytics.sql_{name}"):
                results[f"sql_{name}"] = self.spark.sql(sql).collect()
        for name, tables in ANALYTICS.items():
            with span(f"analytics.{name}"):
                frames = [lake.read_latest(t) for t in tables]
                results[name] = getattr(A, name)(*frames).collect()
        return results

    def realtime(self, name: str) -> float:
        """One ``run(max_iterations=1)`` on a fresh lake; returns its wall
        time."""
        from beacon_indexer_spark.config import GNOSIS, EngineConfig
        from beacon_indexer_spark.control.ledger import ProgressManifest
        from beacon_indexer_spark.plans.pipeline import BeaconPipeline
        from beacon_indexer_spark.sources.beacon_api import BeaconAPI
        from beacon_indexer_spark.sources.storage import ParquetLake
        from beacon_indexer_spark.streaming.realtime import RealtimeLoop

        rc = self.rt_chain
        base = fresh_dir("lakes", name + "_rt")
        lake = ParquetLake(self.spark, base, GNOSIS)
        transport = G.StoreTransport(rc.store_dir, self.seed, self.counters,
                                     head_slot=rc.end_slot)
        loop = RealtimeLoop(
            api=BeaconAPI(base_url=BASE_URL, transport=transport,
                          retry_delay=0.0, sleep=lambda s: None),
            lake=lake,
            pipeline=BeaconPipeline(lake, progress=ProgressManifest(
                self.spark, f"{base}/_control/transformer_progress")),
            config=EngineConfig(chunk_size=CHUNK_SIZE),
            loaders=tuple(n for n in EngineConfig().enabled_loaders if n != "blocks"),
            start_slot=rc.start_slot,
            sleep=lambda s: None,
        )
        self.rt_lake = lake
        t0 = time.perf_counter()
        if loop.run(max_iterations=1) != 1:
            raise RuntimeError("realtime loop found no closed window")
        return time.perf_counter() - t0

    # -- checks ---------------------------------------------------------------

    def check(self, out: dict) -> dict[str, bool]:
        """Outside the timed phases, reading the lake's files with pyarrow
        (not through the engine): every structured table holds the
        generator's latest-wins row count, re-orged slots carry the later
        payload, the raw gaps and the gap report are exactly the empty
        slots, integrity is clean, the documented fork distribution agrees
        with the chain, and the realtime window wrote its rows."""
        from beacon_indexer_spark.schemas.structured import STRUCTURED_TABLES

        c, base = self.chain, out["lake"].base_dir
        ok: dict[str, bool] = {}
        for table, n in c.expected.items():
            keys = list(STRUCTURED_TABLES[table].keys)
            ok[f"rows.{table}"] = _latest(base, table, keys).num_rows == n
        blocks = _latest(base, "blocks", ["slot"], ["proposer_index"]).to_pylist()
        got = {r["slot"]: r["proposer_index"] for r in blocks
               if r["slot"] in c.reorg_proposers}
        ok["reorg.later_payload"] = got == c.reorg_proposers
        present = set(_read(base, "raw_blocks", ["slot"]).column("slot").to_pylist())
        gaps = [s for s in range(c.start_slot, c.end_slot + 1) if s not in present]
        ok["gaps.empty_slots"] = gaps == c.empty_slots
        ok["gaps.report"] = (out["gaps"]["missing"] == len(c.empty_slots)
                             and out["gaps"]["sample_missing"] == c.empty_slots[:20])
        ok["integrity.clean"] = out["integrity"] == {
            "failed_chunks": 0, "untransformed_chunks": 0}
        forks = {r["version"]: r["block_count"]
                 for r in out["analytics"]["sql_fork_distribution"]}
        ok["analytics.forks"] = (sum(forks.values()) == c.expected["blocks"]
                                 and sorted(forks) == c.versions)
        rc, rt_base = self.rt_chain, self.rt_lake.base_dir
        empty = set(rc.empty_slots)
        n_blocks = sum(s not in empty
                       for s in range(rc.start_slot, rc.start_slot + CHUNK_SIZE))
        ok["realtime.raw_rewards"] = _read(rt_base, "raw_rewards", ["slot"]).num_rows == n_blocks
        ok["realtime.rewards"] = _latest(
            rt_base, "rewards", ["slot", "proposer_index"]).num_rows == n_blocks
        return ok

    # -- per-layer numbers that do not come from spans -------------------------

    def fetch_probe(self) -> tuple[float, float]:
        """The distributed blocks fetch alone, into the no-op sink: (wall s,
        task s). Traced runs only, after the timed pass."""
        from perfbench.harness import SparkCounters
        from beacon_indexer_spark.sources import beacon_api as B

        c = self.chain
        counters = SparkCounters(self.spark)
        first, t0 = counters.jobs(), time.perf_counter()
        B.fetch_slots_distributed(
            self.spark, B.FetchConfig(base_url=BASE_URL), B.LOADERS["blocks"],
            c.start_slot, c.end_slot, c.schedule, slots_per_task=self.chunk,
            api_factory=self.factory()).write.mode("overwrite").format("noop").save()
        wall, end = time.perf_counter() - t0, counters.jobs()
        return wall, SparkCounters.total(counters.per_job(end), first, end).task_s

    def lake_metrics(self, out: dict, transport: dict[str, int]) -> dict[str, float]:
        """Sizes and file counts of both lakes, and the raw dedup ratio."""
        from pyspark.sql import functions as F

        from perfbench.harness import dir_stats

        raw = struct = control = (0, 0)

        def add(a, b):
            return a[0] + b[0], a[1] + b[1]

        for lake in (out["lake"], self.rt_lake):
            for name in os.listdir(lake.base_dir):
                st = dir_stats(os.path.join(lake.base_dir, name))
                if name == "_control":
                    control = add(control, st)
                elif name.startswith("raw_"):
                    raw = add(raw, st)
                else:
                    struct = add(struct, st)
        blocks = out["lake"].read("raw_blocks")
        rows_in = blocks.count()
        rows_latest = blocks.agg(F.count_distinct("slot")).collect()[0][0]
        return {
            "raw_write.files": raw[0], "raw_write.bytes": raw[1],
            "raw_write.bytes_per_payload_byte": raw[1] / max(1, transport["body_bytes"]),
            "struct_write.files": struct[0], "struct_write.bytes": struct[1],
            "lake.files": raw[0] + struct[0], "control.files": control[0],
            "transform.raw_rows_in": rows_in,
            "transform.raw_rows_latest": rows_latest,
            "transform.dedup_keep_frac": rows_latest / max(1, rows_in),
        }


def _read(base: str, table: str, columns: list[str]):
    """A lake table's columns; the engine writes no directory for a table
    that got no rows, which reads as empty here."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(base, table)
    if not os.path.isdir(path):
        return pa.table({c: [] for c in columns})
    return pq.read_table(path, columns=columns)


def _latest(base: str, table: str, keys: list[str], values: list[str] = ()):
    """Latest-wins rows of a structured table: per key, the row with the
    highest ``insert_version``."""
    import pyarrow as pa

    t = _read(base, table, [*keys, *values, "insert_version"])
    t = t.sort_by([(k, "ascending") for k in keys] + [("insert_version", "descending")])
    out, seen = [], set()
    for r in t.to_pylist():
        k = tuple(r[c] for c in keys)
        if k not in seen:
            seen.add(k)
            out.append(r)
    return pa.Table.from_pylist(out, schema=t.schema)
