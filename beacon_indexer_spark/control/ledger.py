"""Work-queue ledger + progress manifest (reference control plane, SURVEY §2.11).

The reference coordinates work through two ClickHouse tables —
``load_state_chunks`` (claim/complete ledger, C1-C4) and
``transformer_progress`` (transform ranges, C6-C8) — with status updates as
ReplacingMergeTree INSERTs read back through FINAL
(``src/services/clickhouse.py:206-238``, ``migrations/004_state_tables.sql``).

In Spark the *scheduler* replaces claim/worker logic; what survives is the
**manifest**: which (loader, slot-range) chunks are loaded, which are
transformed, where the gaps are. We keep the identical append-only +
latest-wins model over Parquet so the ledger itself is idempotent and
re-org-safe:

- ``mark(...)`` appends status rows (pending→claimed→completed|failed);
- readers dedup on the key keeping max version — the FINAL read;
- discovery queries are anti-joins, not mutations.

Scale notes: the manifests are tiny (one row per 1000-slot chunk — ~10M
slots → ~10k rows), so the driver reads and writes them with pyarrow and
launches no Spark job; readers return lists of row dicts. The files keep
the Spark schemas, so Spark reads a manifest and this reads Spark's. Gap
analysis reads the raw lake, so it stays in Spark: a generated
``spark.range`` anti-joined against the *distinct* slots present.
"""

from __future__ import annotations

import os
import time
import uuid
from datetime import datetime, timedelta, timezone
from operator import itemgetter

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from beacon_indexer_spark.functions.core import last_slot_of_day
from beacon_indexer_spark.schemas.raw import LOAD_STATE_CHUNKS, TRANSFORMER_PROGRESS

PENDING, CLAIMED, COMPLETED, FAILED = "pending", "claimed", "completed", "failed"
PROCESSING = "processing"


def _now() -> datetime:
    return datetime.now(timezone.utc)


# ---------------------------------------------------------------------------
# chunk generation (reference C1, src/services/loader.py:487-758)
# ---------------------------------------------------------------------------

def generate_chunks(
    spark: SparkSession,
    start_slot: int,
    end_slot: int,
    chunk_size: int,
    loader_name: str,
    completed: list[dict] | None = None,
) -> list[dict]:
    """Partition [start_slot, end_slot] into CHUNK_SIZE-aligned pending
    chunks, floor-aligning the start (reference behavior) and planning only
    the slots this loader's completed chunks do not cover (reference
    ``src/services/loader.py:492-528``). A chunk that is partly covered,
    such as the rest of an earlier run's partial last chunk, shrinks to its
    uncovered pieces, so no slot is fetched twice and completed chunks
    never overlap. The chunk id is the range, so re-planning is idempotent
    (the reference uses uuid4 + dedup-by-range; deterministic ids make the
    dedup structural)."""
    done = sorted(
        (c["start_slot"], c["end_slot"])
        for c in completed or ()
        if c["loader_name"] == loader_name
    )
    ranges = []
    for s in range((start_slot // chunk_size) * chunk_size, end_slot + 1, chunk_size):
        lo, hi = s, min(s + chunk_size - 1, end_slot)
        for ds, de in done:
            if de < lo or ds > hi:
                continue
            if ds > lo:
                ranges.append((lo, ds - 1))
            lo = de + 1
        if lo <= hi:
            ranges.append((lo, hi))
    now = _now()
    return [
        {"chunk_id": f"{loader_name}_{s}_{e}", "start_slot": s, "end_slot": e,
         "loader_name": loader_name, "status": PENDING, "worker_id": None,
         "created_at": now, "updated_at": now}
        for s, e in ranges
    ]


def daily_slots(
    spark: SparkSession,
    start_slot: int,
    end_slot: int,
    genesis_time: int,
    seconds_per_slot: int,
) -> DataFrame:
    """Validator daily-snapshot targets: the last slot of each UTC day in
    range (reference P9, ``src/loaders/validators.py:116-149``) — a pure
    column predicate over a generated range. The loaders use the driver-side
    ``ForkSchedule.day_end_slots``; this frame form serves
    ``perfbench/backfill.py`` and checks that rule against Spark's dates."""
    return (
        spark.range(start_slot, end_slot + 1)
        .select(F.col("id").alias("slot"))
        .filter(last_slot_of_day("slot", genesis_time, seconds_per_slot))
    )


# ---------------------------------------------------------------------------
# append-only Parquet manifest, read latest-wins on the driver
# ---------------------------------------------------------------------------

class _Manifest:
    """A directory of Parquet files in the Spark schema ``SCHEMA``, one per
    append; the FINAL read keeps the row with the max ``VERSION`` per
    ``KEYS``, and on a tie the later append. ``spark`` is unused: nothing
    here runs on the cluster."""

    def __init__(self, spark: SparkSession, path: str):
        self.path = path
        self._arrow = to_arrow_schema(self.SCHEMA)

    def _files(self) -> list[str]:
        """Data files in append order. Names starting with ``.`` or ``_``
        are skipped, as Spark skips them: Spark's ``_SUCCESS`` and ``.crc``
        files, and the temp file of an append in flight."""
        if not os.path.isdir(self.path):
            return []
        files = [f"{self.path}/{n}" for n in os.listdir(self.path)
                 if n.endswith(".parquet") and n[0] not in "._"]
        return sorted(files, key=lambda f: (os.stat(f).st_mtime_ns, f))

    def _read(self, files: list[str]) -> list[dict]:
        # the cast reads Spark's INT96 timestamps as UTC micros
        return [
            r for f in files
            for r in pq.read_table(f, columns=self._arrow.names).cast(self._arrow).to_pylist()
        ]

    def _latest(self, rows: list[dict]) -> list[dict]:
        best: dict[tuple, dict] = {}
        for r in rows:
            k = tuple(r[c] for c in self.KEYS)
            if k not in best or r[self.VERSION] >= best[k][self.VERSION]:
                best[k] = r
        return list(best.values())

    def _write(self, rows: list[dict]) -> None:
        """One new file, made visible whole: written under a ``.`` name
        that every reader skips, then renamed. The time-ordered name keeps
        append order among files that share an mtime."""
        if not rows:
            return
        os.makedirs(self.path, exist_ok=True)
        name = f"part-{time.time_ns():020d}-{uuid.uuid4().hex[:8]}.parquet"
        pq.write_table(pa.Table.from_pylist(rows, self._arrow), f"{self.path}/.{name}")
        os.replace(f"{self.path}/.{name}", f"{self.path}/{name}")

    def current(self) -> list[dict]:
        """FINAL read: the latest row per key."""
        return self._latest(self._read(self._files()))

    def compact(self) -> None:
        """Collapse the manifest to current state in one file — the
        control-plane small-file hygiene pass. Only the files read are
        deleted, so an append that lands meanwhile survives."""
        files = self._files()
        self._write(self._latest(self._read(files)))
        for f in files:
            os.remove(f)


# ---------------------------------------------------------------------------
# ledger (append-only + latest-wins, reference C2/C3)
# ---------------------------------------------------------------------------

class ChunkLedger(_Manifest):
    """``load_state_chunks`` as an append-only Parquet manifest."""

    SCHEMA, KEYS, VERSION = LOAD_STATE_CHUNKS, ("chunk_id",), "updated_at"

    def append(self, chunks: list[dict]) -> None:
        self._write(chunks)

    def mark(
        self, chunks: list[dict], status: str, worker_id: str | None = None
    ) -> None:
        """Status transition = INSERT of a new version row (reference
        ``src/services/clickhouse.py:206-238``)."""
        now = _now()
        self.append([{**c, "status": status, "worker_id": worker_id, "updated_at": now}
                     for c in chunks])

    def with_status(self, status: str) -> list[dict]:
        return [r for r in self.current() if r["status"] == status]

    def counts(self) -> list[dict]:
        """Per-loader chunk counts (reference A2/A3 overview,
        ``src/services/clickhouse.py:240-284``)."""
        statuses = (PENDING, CLAIMED, COMPLETED, FAILED)
        out: dict[str, dict] = {}
        for r in self.current():
            c = out.setdefault(
                r["loader_name"],
                {"loader_name": r["loader_name"], "total": 0, **dict.fromkeys(statuses, 0)},
            )
            c["total"] += 1
            if r["status"] in statuses:
                c[r["status"]] += 1
        return sorted(out.values(), key=itemgetter("loader_name"))

    def debug_counts(self) -> dict:
        """Raw (append-only) vs FINAL (latest-wins) row counts — the
        reference's duplicate-awareness check (``scripts/chunks.py:99-136``:
        counting without FINAL overstates; the delta is the un-compacted
        version history, normal for the append model)."""
        raw = self._read(self._files())
        return {"raw_rows": len(raw), "final_rows": len(self._latest(raw))}

    def stale_claimed(self, timeout: timedelta = timedelta(minutes=30)) -> list[dict]:
        """Chunks claimed longer than ``timeout`` ago with no newer status —
        the stuck-worker inspection (reference ``scripts/chunks.py`` +
        maintenance stale handling). Read through current() so a completed
        re-claim doesn't false-positive (the FINAL trap)."""
        cutoff = _now() - timeout
        return [
            r for r in self.current()
            if r["status"] == CLAIMED and r["updated_at"] < cutoff
        ]

    def reset(
        self,
        statuses: tuple[str, ...] = (CLAIMED, FAILED),
        slot_range: tuple[int, int] | None = None,
        loaders: tuple[str, ...] | None = None,
    ) -> int:
        """Reset chunks to pending (reference C11,
        ``src/services/maintenance.py:669-715``); returns count reset."""
        cur = [
            r for r in self.current()
            if r["status"] in statuses
            and (slot_range is None
                 or (r["start_slot"] >= slot_range[0] and r["end_slot"] <= slot_range[1]))
            and (loaders is None or r["loader_name"] in loaders)
        ]
        self.mark(cur, PENDING)
        return len(cur)


class ProgressManifest(_Manifest):
    """``transformer_progress`` as an append-only Parquet manifest."""

    SCHEMA, KEYS = TRANSFORMER_PROGRESS, ("raw_table_name", "start_slot", "end_slot")
    VERSION = "processed_at"

    def record(
        self,
        raw_table: str,
        start_slot: int,
        end_slot: int,
        status: str,
        processed_count: int = 0,
        failed_count: int = 0,
        error_message: str | None = None,
    ) -> None:
        self.record_many(
            [(raw_table, start_slot, end_slot, status, processed_count,
              failed_count, error_message)]
        )

    def record_many(
        self, rows: list[tuple[str, int, int, str, int, int, str | None]]
    ) -> None:
        """Batch progress append: N status rows in ONE parquet file —
        the small-file guard for batched transforms and stale resets
        (one file per row would accumulate thousands of tiny manifests)."""
        now = _now()
        self._write([dict(zip(self._arrow.names, (*r, now))) for r in rows])

    def completed_ranges(self, raw_table: str) -> list[dict]:
        return [
            r for r in self.current()
            if r["raw_table_name"] == raw_table and r["status"] == COMPLETED
        ]

    def reset_stale(self, timeout: timedelta = timedelta(minutes=30)) -> int:
        """processing >timeout → failed, at job start (reference C7,
        ``src/services/transformer.py:104-129``)."""
        cutoff = _now() - timeout
        stale = [
            (r["raw_table_name"], r["start_slot"], r["end_slot"], FAILED,
             0, 0, "stale processing reset")
            for r in self.current()
            if r["status"] == PROCESSING and r["processed_at"] < cutoff
        ]
        self.record_many(stale)
        return len(stale)

    def failed_ranges(self, limit: int = 5) -> list[dict]:
        """Most recent failed transform ranges with error messages
        (reference ``scripts/transformer_status.py:40-55``)."""
        return [r for r in self.recent(None) if r["status"] == FAILED][:limit]

    def recent(self, limit: int | None = 10) -> list[dict]:
        """Most recent progress activity, FINAL-read (reference
        ``scripts/transformer_status.py:57-80``)."""
        return sorted(self.current(), key=itemgetter("processed_at"), reverse=True)[:limit]

    def stats(self) -> list[dict]:
        """Transform progress rollup per raw table (reference A4/A6,
        ``src/services/transformer.py:630-641``)."""
        out: dict[str, dict] = {}
        for r in self.current():
            s = out.setdefault(r["raw_table_name"], {
                "raw_table_name": r["raw_table_name"], "completed": 0, "failed": 0,
                "max_completed_slot": None, "total_processed": 0, "total_failed_rows": 0,
            })
            if r["status"] == COMPLETED:
                s["completed"] += 1
                s["max_completed_slot"] = max(r["end_slot"], s["max_completed_slot"] or 0)
            elif r["status"] == FAILED:
                s["failed"] += 1
            s["total_processed"] += r["processed_count"] or 0
            s["total_failed_rows"] += r["failed_count"] or 0
        return sorted(out.values(), key=itemgetter("raw_table_name"))


# ---------------------------------------------------------------------------
# work discovery & integrity (reference J1/J2/C6/C8)
# ---------------------------------------------------------------------------

def untransformed_chunks(
    loaded: list[dict], progress: list[dict], raw_table: str, limit: int | None = 50
) -> list[dict]:
    """Completed load chunks FOR THE LOADER THAT FEEDS ``raw_table`` not yet
    transformed — the J1 anti-join (``src/services/transformer.py:240-262``),
    ordered by start_slot. Chunks of other loaders must not match: a range
    loaded only by e.g. the validators loader is not raw_blocks work."""
    loader_name = raw_table.removeprefix("raw_")
    done = {
        (p["start_slot"], p["end_slot"]) for p in progress
        if p["raw_table_name"] == raw_table and p["status"] == COMPLETED
    }
    todo = sorted(
        (c for c in loaded
         if c["status"] == COMPLETED and c["loader_name"] == loader_name
         and (c["start_slot"], c["end_slot"]) not in done),
        key=itemgetter("start_slot"),
    )
    return todo[:limit] if limit else todo


def integrity_check(ledger: ChunkLedger, progress: ProgressManifest, raw_table: str) -> dict:
    """Failed chunks + loaded-but-untransformed report (reference C8,
    ``src/services/maintenance.py:577-667``)."""
    cur = ledger.current()
    untrans = untransformed_chunks(cur, progress.current(), raw_table, limit=None)
    return {
        "failed_chunks": sum(r["status"] == FAILED for r in cur),
        "untransformed_chunks": len(untrans),
    }


# ---------------------------------------------------------------------------
# gap analysis (reference J3/C12, scripts/maintenance.py:87-150)
# ---------------------------------------------------------------------------

def find_gaps(raw: DataFrame, start_slot: int, end_slot: int) -> DataFrame:
    """Missing slots in [start_slot, end_slot]: generated sequence
    anti-joined against the slots present. Returns DataFrame(slot)."""
    spark = raw.sparkSession
    expected = spark.range(start_slot, end_slot + 1).select(F.col("id").alias("slot"))
    present = raw.select(F.col("slot").cast("long").alias("slot")).filter(
        (F.col("slot") >= start_slot) & (F.col("slot") <= end_slot)
    )
    return expected.join(present, "slot", "left_anti")


def gap_report(raw: DataFrame, start_slot: int, end_slot: int, sample: int = 20) -> dict:
    """A5 + J3: expected vs distinct-actual counts, % missing, sample
    missing slots (GROUP_CONCAT analogue, reference A7)."""
    expected = end_slot - start_slot + 1
    actual = (
        raw.filter((F.col("slot") >= start_slot) & (F.col("slot") <= end_slot))
        .agg(F.count_distinct("slot").alias("n"))
        .collect()[0]["n"]
    )
    missing = expected - actual
    sample_slots = [
        r["slot"] for r in find_gaps(raw, start_slot, end_slot).orderBy("slot").limit(sample).collect()
    ] if missing else []
    return {
        "expected": expected,
        "actual": actual,
        "missing": missing,
        "missing_pct": round(100.0 * missing / expected, 4) if expected else 0.0,
        "sample_missing": sample_slots,
    }
