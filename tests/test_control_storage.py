"""Storage lake + control plane + end-to-end pipeline tests."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from beacon_indexer_spark.config import GNOSIS, MAINNET
from beacon_indexer_spark.control import ledger as L
from beacon_indexer_spark.measure import job_count, job_table
from beacon_indexer_spark.plans.pipeline import BeaconPipeline
from beacon_indexer_spark.schemas.raw import RAW_TABLES, raw_envelope
from beacon_indexer_spark.sources.storage import ParquetLake
from tests import fixtures as FX

SLOT0 = 27_000_000  # gnosis, well into electra


def _raw_df(spark, rows):
    return spark.createDataFrame(rows, schema=raw_envelope())


@pytest.fixture()
def lake(spark, tmp_path):
    return ParquetLake(spark, str(tmp_path / "lake"), GNOSIS)


# ---------------------------------------------------------------------------
# ParquetLake
# ---------------------------------------------------------------------------

def test_lake_write_layout_and_latest(lake, spark):
    rows = [FX.raw_row(SLOT0 + i, FX.block_payload(SLOT0 + i)) for i in range(3)]
    # re-org: slot0 refetched later with different content
    rows.append(
        FX.raw_row(
            SLOT0,
            FX.block_payload(SLOT0, proposer=999),
            retrieved_at=FX.T0 + dt.timedelta(hours=1),
        )
    )
    # identical re-fetch of slot1: same payload_hash, later retrieved_at
    rows.append(
        FX.raw_row(
            SLOT0 + 1,
            FX.block_payload(SLOT0 + 1),
            retrieved_at=FX.T0 + dt.timedelta(hours=2),
        )
    )
    lake.write("raw_blocks", _raw_df(spark, rows))
    # hive daily-partition layout (reference parquet_storage date= dirs)
    sub = os.listdir(lake.path("raw_blocks"))
    assert any(d.startswith("date=") for d in sub)
    assert lake.read("raw_blocks").count() == 5
    # raw FINAL: identical re-fetch collapses on (slot, payload_hash);
    # the re-org row (different content) is RETAINED (reference §1.3)
    deduped = lake.read_latest("raw_blocks")
    assert deduped.count() == 4
    # per-slot latest-wins happens at transform time (P2)
    from beacon_indexer_spark.plans.transform import dedup_raw

    assert dedup_raw(deduped).count() == 3
    # storage stamps present
    cols = set(lake.read("raw_blocks").columns)
    assert {"slot_timestamp", "date", "inserted_at"} <= cols


def test_raw_read_uses_the_stored_schema(lake, spark):
    """Every raw table reads back without a schema-inference job, with the
    schema Spark infers from the files ``ParquetLake.write`` stored: the
    same column names and types, in the same order."""
    for i, (table, declared) in enumerate(RAW_TABLES.items()):
        if "slot" in declared.names:
            df = _raw_df(spark, [FX.raw_row(SLOT0 + i, FX.block_payload(SLOT0 + i))])
        else:
            df = spark.createDataFrame([("{}", "h", FX.T0)], declared)
        lake.write(table, df)
        first = job_count(spark)
        read = lake.read(table)
        assert job_count(spark) == first, table
        inferred = spark.read.parquet(lake.path(table))
        assert [(f.name, f.dataType) for f in read.schema] \
            == [(f.name, f.dataType) for f in inferred.schema], table


def test_lake_slot_range_pushdown(lake, spark):
    rows = [FX.raw_row(SLOT0 + i, FX.block_payload(SLOT0 + i)) for i in range(10)]
    lake.write("raw_blocks", _raw_df(spark, rows))
    got = lake.read_latest("raw_blocks", (SLOT0 + 2, SLOT0 + 4))
    assert sorted(r["slot"] for r in got.collect()) == [SLOT0 + 2, SLOT0 + 3, SLOT0 + 4]


def test_lake_compact(lake, spark):
    rows = [FX.raw_row(SLOT0, FX.block_payload(SLOT0))]
    lake.write("raw_blocks", _raw_df(spark, rows))
    # identical re-fetch: same (slot, payload_hash), newer retrieved_at
    lake.write(
        "raw_blocks",
        _raw_df(
            spark,
            [FX.raw_row(SLOT0, FX.block_payload(SLOT0),
                        retrieved_at=FX.T0 + dt.timedelta(hours=2))],
        ),
    )
    assert lake.read("raw_blocks").count() == 2
    lake.compact("raw_blocks")
    assert lake.read("raw_blocks").count() == 1
    assert lake.read_latest("raw_blocks").count() == 1


def test_lake_stats(lake, spark):
    rows = [FX.raw_row(SLOT0 + i, FX.block_payload(SLOT0 + i)) for i in range(5)]
    lake.write("raw_blocks", _raw_df(spark, rows))
    s = lake.table_stats("raw_blocks")
    assert s["rows"] == 5 and s["min_slot"] == SLOT0 and s["max_slot"] == SLOT0 + 4


# ---------------------------------------------------------------------------
# chunk generation / ledger
# ---------------------------------------------------------------------------

def test_generate_chunks_alignment(spark):
    chunks = L.generate_chunks(spark, 1050, 3999, 1000, "blocks")
    assert [(c["start_slot"], c["end_slot"]) for c in chunks] == [
        (1000, 1999), (2000, 2999), (3000, 3999),
    ]
    assert chunks[0]["chunk_id"] == "blocks_1000_1999"
    assert all(c["status"] == "pending" for c in chunks)


def test_generate_chunks_skips_completed(spark):
    done = [{"start_slot": 1000, "end_slot": 1999, "loader_name": "blocks"}]
    chunks = L.generate_chunks(spark, 1000, 2999, 1000, "blocks", completed=done)
    assert [(c["start_slot"], c["end_slot"]) for c in chunks] == [(2000, 2999)]


def test_daily_slots(spark):
    # gnosis: 5s slots → 17280 slots/day; day boundary at multiples of 17280
    # offset by genesis_time
    day = 86400 // GNOSIS.seconds_per_slot
    got = L.daily_slots(spark, 0, 3 * day, GNOSIS.genesis_time, GNOSIS.seconds_per_slot)
    slots = sorted(r["slot"] for r in got.collect())
    assert len(slots) == 3
    # each selected slot is the last of its UTC day
    for s in slots:
        d1 = dt.datetime.fromtimestamp(GNOSIS.slot_to_timestamp(s), dt.UTC).date()
        d2 = dt.datetime.fromtimestamp(GNOSIS.slot_to_timestamp(s + 1), dt.UTC).date()
        assert d1 != d2
    # the driver-side rule the loaders use selects the same slots
    assert GNOSIS.day_end_slots(0, 3 * day) == slots
    m_day = 86400 // MAINNET.seconds_per_slot
    got = L.daily_slots(spark, 5, 2 * m_day + 5, MAINNET.genesis_time,
                        MAINNET.seconds_per_slot)
    assert MAINNET.day_end_slots(5, 2 * m_day + 5) == sorted(r["slot"] for r in got.collect())


def test_ledger_lifecycle(spark, tmp_path):
    led = L.ChunkLedger(spark, str(tmp_path / "ledger"))
    chunks = L.generate_chunks(spark, 0, 2999, 1000, "blocks")
    led.append(chunks)
    assert len(led.with_status(L.PENDING)) == 3
    first = sorted(led.current(), key=lambda r: r["start_slot"])[:1]
    led.mark(first, L.CLAIMED, worker_id="w0")
    led.mark(first, L.COMPLETED, worker_id="w0")
    cur = {r["chunk_id"]: r["status"] for r in led.current()}
    assert cur["blocks_0_999"] == "completed"
    assert sum(1 for s in cur.values() if s == "pending") == 2
    counts = led.counts()[0]
    assert counts["total"] == 3 and counts["completed"] == 1 and counts["pending"] == 2
    # fail one, then reset
    second = [r for r in led.current() if r["chunk_id"] == "blocks_1000_1999"]
    led.mark(second, L.FAILED)
    assert led.reset(statuses=(L.FAILED,)) == 1
    assert len(led.with_status(L.PENDING)) == 2


def test_progress_and_discovery(spark, tmp_path):
    led = L.ChunkLedger(spark, str(tmp_path / "ledger"))
    prog = L.ProgressManifest(spark, str(tmp_path / "progress"))
    chunks = L.generate_chunks(spark, 0, 2999, 1000, "blocks")
    led.append(chunks)
    led.mark(led.current(), L.COMPLETED)  # all loaded
    prog.record("raw_blocks", 0, 999, L.COMPLETED, processed_count=42)
    todo = L.untransformed_chunks(led.current(), prog.current(), "raw_blocks")
    assert sorted(r["start_slot"] for r in todo) == [1000, 2000]
    chk = L.integrity_check(led, prog, "raw_blocks")
    assert chk == {"failed_chunks": 0, "untransformed_chunks": 2}
    stats = prog.stats()[0]
    assert stats["completed"] == 1 and stats["max_completed_slot"] == 999
    assert stats["total_processed"] == 42


def test_progress_latest_wins(spark, tmp_path):
    prog = L.ProgressManifest(spark, str(tmp_path / "p"))
    prog.record("raw_blocks", 0, 999, L.PROCESSING)
    prog.record("raw_blocks", 0, 999, L.COMPLETED, processed_count=10)
    cur = prog.current()
    assert len(cur) == 1 and cur[0]["status"] == "completed"


def test_control_plane_launches_no_spark_job(spark, tmp_path):
    """The ledger and the progress manifest are read and written on the
    driver: a whole load → transform → maintain lifecycle launches no
    Spark job."""
    first = job_count(spark)
    led = L.ChunkLedger(spark, str(tmp_path / "ledger"))
    prog = L.ProgressManifest(spark, str(tmp_path / "progress"))
    led.append(L.generate_chunks(spark, 0, 2999, 1000, "blocks"))
    led.mark(sorted(led.current(), key=lambda r: r["start_slot"])[:2], L.COMPLETED)
    chunks = L.generate_chunks(spark, 0, 3999, 1000, "blocks",
                               completed=led.with_status(L.COMPLETED))
    assert [c["start_slot"] for c in chunks] == [2000, 3000]
    led.append(chunks)
    prog.record_many([("raw_blocks", 0, 999, L.COMPLETED, 5, 0, None),
                      ("raw_blocks", 1000, 1999, L.PROCESSING, 0, 0, None)])
    todo = L.untransformed_chunks(led.current(), prog.current(), "raw_blocks")
    assert [c["start_slot"] for c in todo] == [1000]
    assert L.integrity_check(led, prog, "raw_blocks") == {
        "failed_chunks": 0, "untransformed_chunks": 1}
    led.mark(led.with_status(L.PENDING)[:1], L.FAILED)
    assert led.reset(statuses=(L.FAILED,)) == 1
    assert prog.reset_stale(dt.timedelta(0)) == 1
    led.compact()
    prog.compact()
    assert len(led.current()) == 4 and len(prog.current()) == 2
    assert job_count(spark) == first


def test_manifest_reads_spark_written_files(spark, tmp_path):
    """Manifests written by Spark (INT96 timestamps, ``_SUCCESS``, ``.crc``
    and empty part files) read latest-wins on the driver; new appends land
    beside them and Spark reads the mixed directory; the ``.``-prefixed
    temp file of an interrupted append is skipped by both readers."""
    from beacon_indexer_spark.schemas.raw import LOAD_STATE_CHUNKS, TRANSFORMER_PROGRESS

    utc = dt.timezone.utc
    t1 = dt.datetime(2024, 1, 1, 12, 0, 0, 123456, tzinfo=utc)
    t2 = dt.datetime(2024, 1, 1, 13, 0, 0, 654321, tzinfo=utc)
    led_dir, prog_dir = str(tmp_path / "ledger"), str(tmp_path / "progress")
    chunk = ("blocks_0_999", 0, 999, "blocks")
    for rows in ([(*chunk, "pending", None, t1, t1)], [(*chunk, "completed", "w0", t1, t2)], []):
        spark.createDataFrame(rows, LOAD_STATE_CHUNKS).write.mode("append").parquet(led_dir)
    for status, t in (("processing", t1), ("completed", t2)):
        spark.createDataFrame(
            [("raw_blocks", 0, 999, status, 10, 0, None, t)], TRANSFORMER_PROGRESS
        ).write.mode("append").parquet(prog_dir)
    names = os.listdir(led_dir)
    assert "_SUCCESS" in names and any(n.endswith(".crc") for n in names)

    led, prog = L.ChunkLedger(spark, led_dir), L.ProgressManifest(spark, prog_dir)
    assert led.current() == [{
        "chunk_id": "blocks_0_999", "start_slot": 0, "end_slot": 999,
        "loader_name": "blocks", "status": "completed", "worker_id": "w0",
        "created_at": t1, "updated_at": t2,
    }]
    assert [(r["status"], r["processed_at"]) for r in prog.current()] == [("completed", t2)]

    for d in (led_dir, prog_dir):
        with open(os.path.join(d, ".part-interrupted.parquet"), "wb") as f:
            f.write(b"PAR1 torn")
    led.append(L.generate_chunks(spark, 1000, 1999, 1000, "blocks"))
    prog.record("raw_blocks", 1000, 1999, L.COMPLETED, 5)
    assert sorted((r["chunk_id"], r["status"]) for r in led.current()) == [
        ("blocks_0_999", "completed"), ("blocks_1000_1999", "pending")]
    assert len(prog.current()) == 2
    by_spark = spark.read.schema(LOAD_STATE_CHUNKS).parquet(led_dir).collect()
    assert sorted((r["chunk_id"], r["status"]) for r in by_spark) == [
        ("blocks_0_999", "completed"), ("blocks_0_999", "pending"),
        ("blocks_1000_1999", "pending")]
    assert spark.read.schema(TRANSFORMER_PROGRESS).parquet(prog_dir).count() == 3


def test_gap_analysis(spark):
    present = spark.createDataFrame(
        [(s,) for s in range(100, 110) if s not in (103, 107)], "slot long"
    )
    gaps = sorted(r["slot"] for r in L.find_gaps(present, 100, 109).collect())
    assert gaps == [103, 107]
    rep = L.gap_report(present, 100, 109)
    assert rep["expected"] == 10 and rep["actual"] == 8 and rep["missing"] == 2
    assert rep["missing_pct"] == 20.0 and rep["sample_missing"] == [103, 107]


# ---------------------------------------------------------------------------
# end-to-end pipeline
# ---------------------------------------------------------------------------

def test_pipeline_end_to_end_and_repair(spark, tmp_path, lake):
    prog = L.ProgressManifest(spark, str(tmp_path / "progress"))
    pipe = BeaconPipeline(lake, progress=prog)

    rows = [FX.raw_row(SLOT0 + i, FX.block_payload(SLOT0 + i, proposer=100 + i))
            for i in range(5)]
    lake.write("raw_blocks", _raw_df(spark, rows))
    counts = pipe.transform_range("raw_blocks", SLOT0, SLOT0 + 4)
    assert counts["blocks"] == 5
    assert counts["attestations"] == 5
    assert len(prog.completed_ranges("raw_blocks")) == 1

    blocks = lake.read_latest("blocks")
    assert sorted(r["proposer_index"] for r in blocks.collect()) == [100, 101, 102, 103, 104]

    # re-org on one slot → repair the range → latest read reflects new block
    lake.write(
        "raw_blocks",
        _raw_df(spark, [FX.raw_row(SLOT0 + 2, FX.block_payload(SLOT0 + 2, proposer=777),
                                   retrieved_at=FX.T0 + dt.timedelta(hours=3))]),
    )
    pipe.repair_range("raw_blocks", SLOT0, SLOT0 + 4)
    fixed = lake.read_latest("blocks")
    assert sorted(r["proposer_index"] for r in fixed.collect()) == [100, 101, 103, 104, 777]


def test_pipeline_sub_day_repair_keeps_rest_of_day(spark, tmp_path, lake):
    """Repairing a few slots overwrites their whole ``date=`` partition,
    so the rest of that UTC day must be re-transformed, not dropped."""
    prog = L.ProgressManifest(spark, str(tmp_path / "progress"))
    pipe = BeaconPipeline(lake, progress=prog, tables={"raw_blocks": ["blocks"]})
    day = GNOSIS.slot_to_timestamp(SLOT0) // 86400
    assert GNOSIS.slot_to_timestamp(SLOT0 + 19) // 86400 == day

    rows = [FX.raw_row(s, FX.block_payload(s)) for s in range(SLOT0, SLOT0 + 20)]
    lake.write("raw_blocks", _raw_df(spark, rows))
    pipe.transform_range("raw_blocks", SLOT0, SLOT0 + 19)
    assert lake.read_latest("blocks").count() == 20

    pipe.repair_range("raw_blocks", SLOT0 + 5, SLOT0 + 9)
    assert lake.read_latest("blocks").count() == 20
    done = prog.completed_ranges("raw_blocks")
    assert (SLOT0 + 5, SLOT0 + 9) in {(r["start_slot"], r["end_slot"]) for r in done}


def test_transform_range_writes_each_table_once(spark, lake):
    """A 13-table blocks range over raw rows with an exact duplicate
    re-fetch and a later re-org payload: one row per slot, the later
    payload wins, each table is written once with its rows counted during
    that write (the returned counts equal the rows read back), and the
    range launches exactly its 15 Spark jobs, each named by its table's
    write."""
    rows = [FX.raw_row(SLOT0 + i, FX.block_payload(SLOT0 + i, proposer=i)) for i in range(6)]
    rows.append(FX.raw_row(SLOT0 + 1, FX.block_payload(SLOT0 + 1, proposer=1)))
    rows.append(FX.raw_row(SLOT0, FX.block_payload(SLOT0, proposer=99),
                           retrieved_at=FX.T0 + dt.timedelta(hours=1)))
    lake.write("raw_blocks", _raw_df(spark, rows))
    first = job_count(spark)
    counts = BeaconPipeline(lake).transform_range("raw_blocks", SLOT0, SLOT0 + 5)
    launched = job_count(spark) - first
    # 13 writes sharing one cached parse that the first write fills; a
    # schema-inference read, a count job per table, or a concurrent write
    # racing that fill adds jobs
    assert launched == 15, launched
    assert len(counts) == 13
    # each job names the table write that launched it, though the writes
    # run from several threads at once
    descs = [j.description for j in job_table(spark, first, first + launched)]
    assert set(descs) == {f"bis:engine:write.{t}" for t in counts}, descs
    # the fixture carries no execution requests: an empty table counts 0
    assert counts["execution_requests"] == 0 and not lake.exists("execution_requests")
    for table, n in counts.items():
        assert n == (lake.read(table).count() if lake.exists(table) else 0), table
    blocks = sorted((r["slot"], r["proposer_index"]) for r in lake.read("blocks").collect())
    assert blocks == [(SLOT0, 99)] + [(SLOT0 + i, i) for i in range(1, 6)]


def test_pipeline_discovery_loop(spark, tmp_path, lake):
    prog = L.ProgressManifest(spark, str(tmp_path / "progress"))
    led = L.ChunkLedger(spark, str(tmp_path / "ledger"))
    pipe = BeaconPipeline(lake, progress=prog, tables={"raw_blocks": ["blocks"]})

    rows = [FX.raw_row(s, FX.block_payload(s)) for s in range(SLOT0, SLOT0 + 20)]
    lake.write("raw_blocks", _raw_df(spark, rows))
    chunks = L.generate_chunks(spark, SLOT0, SLOT0 + 19, 10, "blocks")
    led.append(chunks)
    led.mark(led.current(), L.COMPLETED)

    results = pipe.transform_pending(led.current(), "raw_blocks")
    # two contiguous chunks coalesce into ONE merged transform job
    assert results == [(SLOT0, SLOT0 + 19, {"blocks": 20})]
    # ...but progress granularity stays per-chunk (discovery contract)
    done = prog.completed_ranges("raw_blocks")
    assert sorted((r["start_slot"], r["end_slot"]) for r in done) == [
        (SLOT0, SLOT0 + 9), (SLOT0 + 10, SLOT0 + 19)
    ]
    # idempotent: second pass discovers nothing
    assert pipe.transform_pending(led.current(), "raw_blocks") == []


def test_pipeline_failure_records_progress(spark, tmp_path, lake):
    prog = L.ProgressManifest(spark, str(tmp_path / "progress"))
    pipe = BeaconPipeline(lake, progress=prog)
    # raw_blocks table doesn't exist on disk → read fails → FAILED recorded
    with pytest.raises(Exception):
        pipe.transform_range("raw_blocks", 0, 10)
    cur = prog.current()
    assert len(cur) == 1 and cur[0]["status"] == "failed"
    assert cur[0]["error_message"]


def test_refresh_rollup_incremental(lake, spark):
    """Materialized daily rollup maintenance: only CHANGED days recompute
    (per-date inserted_at watermark), dynamic partition overwrite keeps
    the rest untouched, and the result always equals a full recompute."""
    DAY = 17280  # gnosis slots per day

    def agg(df):
        # distinct slots: raw latest() keys on (slot, payload_hash), so a
        # re-org keeps both payload versions — the rollup counts BLOCKS
        return df.groupBy("date").agg(
            F.countDistinct("slot").alias("n_blocks")
        )

    rows = [FX.raw_row(SLOT0 + i, FX.block_payload(SLOT0 + i)) for i in range(3)]
    lake.write("raw_blocks", _raw_df(spark, rows))
    r1 = lake.refresh_rollup("raw_blocks", "rollup_daily_blocks", agg)
    assert len(r1["refreshed_dates"]) == 1

    # append: a new day + a re-org in the old day (new version, same slot)
    later = FX.T0 + dt.timedelta(hours=1)
    rows2 = [
        FX.raw_row(SLOT0 + DAY, FX.block_payload(SLOT0 + DAY)),
        FX.raw_row(SLOT0, FX.block_payload(SLOT0, proposer=999), retrieved_at=later),
    ]
    lake.write("raw_blocks", _raw_df(spark, rows2))
    r2 = lake.refresh_rollup("raw_blocks", "rollup_daily_blocks", agg)
    assert len(r2["refreshed_dates"]) == 2  # re-orged day + new day

    roll = {
        str(r["date"]): r["n_blocks"]
        for r in lake.read("rollup_daily_blocks").collect()
    }
    full = {
        str(r["date"]): r["n_blocks"]
        for r in agg(lake.read_latest("raw_blocks")).collect()
    }
    assert roll == full
    assert sorted(roll.values()) == [1, 3]  # re-org is not an extra block

    # nothing changed since → no partitions touched
    r3 = lake.refresh_rollup("raw_blocks", "rollup_daily_blocks", agg)
    assert r3["refreshed_dates"] == []

    # physical maintenance is watermark-neutral: compacting the source
    # preserves inserted_at stamps, so the next refresh is still a no-op
    lake.compact("raw_blocks")
    r4 = lake.refresh_rollup("raw_blocks", "rollup_daily_blocks", agg)
    assert r4["refreshed_dates"] == []
