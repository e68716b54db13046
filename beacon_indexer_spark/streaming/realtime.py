"""Realtime head-follow loop (reference C5, ``src/services/loader.py:44-118``).

The reference's "streaming" is a polling micro-batch loop: poll the head
every 6s, hold back ``REALTIME_SLOT_DELAY`` slots as a re-org lateness
guard, and process only *complete* CHUNK_SIZE-aligned windows — a tumbling
window over the slot clock with a completeness check. We keep exactly that
shape as a driver loop that triggers the batch fetch + transform pipeline
per closed window; the lake's idempotent append + latest-wins dedup gives
at-least-once fetches exactly-once *effect* (late re-fetches collapse on
payload_hash, re-orgs version-win on retrieved_at — SURVEY §2.12).
"""

from __future__ import annotations

import time as _time
from collections.abc import Callable
from dataclasses import dataclass, field

from beacon_indexer_spark.config import EngineConfig
from beacon_indexer_spark.control.ledger import COMPLETED, FAILED
from beacon_indexer_spark.plans.pipeline import BeaconPipeline
from beacon_indexer_spark.plans.transform import TRANSFORMS
from beacon_indexer_spark.schemas.raw import raw_envelope
from beacon_indexer_spark.sources.beacon_api import (
    BeaconAPI,
    BeaconAPIError,
    LOADERS,
    fetch_slots_local,
)
from beacon_indexer_spark.sources.storage import ParquetLake


@dataclass
class RealtimeLoop:
    api: BeaconAPI
    lake: ParquetLake
    pipeline: BeaconPipeline
    config: EngineConfig = field(default_factory=EngineConfig)
    loaders: tuple[str, ...] | None = None
    sleep: Callable[[float], None] = _time.sleep
    start_slot: int | None = None  # where to start if the lake is empty
    _cursor: int | None = field(default=None, init=False)  # next window start

    def _next_window_start(self) -> int:
        """Resume point, in preference order: the in-loop cursor (advances
        even when a window's tail slots are empty — a max-raw-slot-only
        resume would floor back and livelock on an empty final slot), the
        progress manifest's max completed range, then max raw slot + 1,
        chunk-floor-aligned (reference ``src/services/loader.py:66-79``)."""
        cs = self.config.chunk_size
        if self._cursor is not None:
            return self._cursor
        candidates: list[int] = []
        if self.pipeline.progress is not None:
            done = [r["end_slot"] for r in self.pipeline.progress.current()
                    if r["status"] == COMPLETED]
            if done:
                candidates.append(((max(done) + 1) // cs) * cs)
        if self.lake.exists("raw_blocks"):
            mx = self.lake.table_stats("raw_blocks")["max_slot"]
            if mx is not None:
                candidates.append(((mx + 1) // cs) * cs)
        if candidates:
            return max(candidates)
        base = self.start_slot if self.start_slot is not None else 0
        return (base // cs) * cs

    def process_window(self, ws: int, we: int) -> dict[str, int]:
        """Fetch + load + transform one closed window. Returns rows-written
        per raw table. A fetch failure writes no progress row (nothing was
        loaded, so nothing is there to transform or repair): it is counted,
        reported on ``/health`` with the loader and window, and re-raised,
        and ``run`` retries the window because its cursor stays put
        (chunk fails loudly, reference base.py:99-100)."""
        from beacon_indexer_spark import observability as O

        sched = self.lake.schedule
        counts: dict[str, int] = {}
        names = self.loaders or self.config.enabled_loaders
        for name in names:
            spec = LOADERS[name]
            slots = sched.day_end_slots(ws, we) if spec.daily else range(ws, we + 1)
            try:
                rows = fetch_slots_local(self.api, spec, slots, sched)
            except BeaconAPIError as e:
                O.METRICS.inc("beacon_indexer_chunks_total",
                              {"loader": name, "status": FAILED})
                O.update_health(status="failed", operation=f"load {name}",
                                error=str(e)[:500], failed_range=[name, ws, we])
                raise
            O.METRICS.inc("beacon_indexer_chunks_total",
                          {"loader": name, "status": COMPLETED})
            O.METRICS.inc("beacon_indexer_fetch_rows_total",
                          {"loader": name}, len(rows))
            O.METRICS.set_gauge("beacon_indexer_highest_raw_slot", we,
                                {"loader": name})
            if rows:
                df = self.lake.spark.createDataFrame(rows, raw_envelope())
                self.lake.write(spec.raw_table, df)
            counts[spec.raw_table] = len(rows)
            if rows and spec.raw_table in TRANSFORMS:
                self.pipeline.transform_range(spec.raw_table, ws, we)
        return counts

    def run(self, max_iterations: int | None = None) -> int:
        """Poll-process loop; returns number of windows processed.
        ``max_iterations`` bounds the loop for tests/one-shot catch-up."""
        cs = self.config.chunk_size
        processed = 0
        iters = 0
        while max_iterations is None or iters < max_iterations:
            iters += 1
            try:
                head = self.api.get_head_slot()
                if head is None:
                    self.sleep(self.config.poll_interval_s)
                    continue
                from beacon_indexer_spark import observability as O

                O.METRICS.set_gauge("beacon_indexer_chain_head_slot", head)
                target = head - self.config.realtime_slot_delay
                ws = self._next_window_start()
                we = ws + cs - 1
                # lag: slots between the head and the last processed slot
                O.update_health(head_slot=head, lag_slots=head - ws + 1)
                if we > target:  # window not complete yet
                    self.sleep(self.config.poll_interval_s)
                    continue
                self.process_window(ws, we)
                self._cursor = we + 1  # advance even if tail slots were empty
                O.update_health(lag_slots=head - we)
                processed += 1
            except BeaconAPIError:
                self.sleep(self.config.error_sleep_s)
        return processed
