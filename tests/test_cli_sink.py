"""CLI command-surface + ClickHouse sink option/normalization tests."""

from __future__ import annotations

import json
import os

import pytest

from beacon_indexer_spark.cli import main
from beacon_indexer_spark.measure import job_count
from beacon_indexer_spark.schemas.raw import raw_envelope
from beacon_indexer_spark.sources import clickhouse as CH
from beacon_indexer_spark.sources.storage import ParquetLake
from beacon_indexer_spark.config import GNOSIS
from tests import fixtures as FX

SLOT0 = 27_000_000


def _run(capsys, argv, spark):
    rc = main(argv, spark=spark)
    assert rc == 0
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


@pytest.fixture()
def seeded_lake(spark, tmp_path):
    lake = ParquetLake(spark, str(tmp_path / "lake"), GNOSIS)
    rows = [FX.raw_row(SLOT0 + i, FX.block_payload(SLOT0 + i)) for i in range(10)]
    lake.write("raw_blocks", spark.createDataFrame(rows, schema=raw_envelope()))
    return lake


def test_cli_maintain_gaps(spark, capsys, seeded_lake):
    out = _run(
        capsys,
        ["--lake-dir", seeded_lake.base_dir, "maintain", "gaps",
         "--start-slot", str(SLOT0), "--end-slot", str(SLOT0 + 14)],
        spark,
    )
    assert out["report"]["expected"] == 15
    assert out["report"]["actual"] == 10
    assert out["report"]["missing"] == 5


def test_cli_transform_then_status_and_integrity(spark, capsys, seeded_lake, tmp_path):
    from beacon_indexer_spark.control import ledger as L

    ledger = L.ChunkLedger(
        spark, f"{seeded_lake.base_dir}/_control/load_state_chunks"
    )
    chunks = L.generate_chunks(spark, SLOT0, SLOT0 + 9, 10, "blocks")
    ledger.append(chunks)
    ledger.mark(ledger.current(), L.COMPLETED)

    out = _run(capsys, ["--lake-dir", seeded_lake.base_dir, "transform", "batch"], spark)
    assert out["chunks"] == [
        {"start_slot": SLOT0, "end_slot": SLOT0 + 9,
         "rows": out["chunks"][0]["rows"]}
    ]
    assert out["chunks"][0]["rows"]["blocks"] == 10

    st = _run(capsys, ["--lake-dir", seeded_lake.base_dir, "maintain", "status"], spark)
    assert st["chunks"][0]["completed"] == 1
    assert any(t["table"] == "blocks" and t["rows"] == 10 for t in st["tables"])

    ig = _run(
        capsys,
        ["--lake-dir", seeded_lake.base_dir, "maintain", "integrity"],
        spark,
    )
    assert ig["report"] == {"failed_chunks": 0, "untransformed_chunks": 0}


def test_cli_status_verbose_and_gaps_golden_contract(
    spark, capsys, seeded_lake
):
    """Frozen JSON output contract (verdict r3 #7): downstream tooling
    parses `maintain status --verbose` and `maintain gaps` — any key
    added, removed, or renamed must show up as a deliberate change here."""
    from datetime import timedelta

    from beacon_indexer_spark.control import ledger as L

    ledger = L.ChunkLedger(
        spark, f"{seeded_lake.base_dir}/_control/load_state_chunks"
    )
    ledger.append(L.generate_chunks(spark, SLOT0, SLOT0 + 9, 5, "blocks"))
    # one claimed-stale chunk + one completed, plus a failed transform range
    two = ledger.current()[:1]
    ledger.mark(two, L.CLAIMED)
    from beacon_indexer_spark.control.ledger import ProgressManifest

    prog = ProgressManifest(
        spark, f"{seeded_lake.base_dir}/_control/transformer_progress"
    )
    prog.record("raw_blocks", SLOT0, SLOT0 + 4, "completed", processed_count=5)
    prog.record("raw_blocks", SLOT0 + 5, SLOT0 + 9, "failed",
                error_message="boom")

    st = _run(
        capsys,
        ["--lake-dir", seeded_lake.base_dir, "maintain", "status",
         "--verbose", "--stale-minutes", "0"],
        spark,
    )
    assert set(st) == {
        "command", "chunks", "transform", "tables", "debug_counts",
        "stale_claimed", "recent_failures", "recent_activity",
    }
    assert {c["loader_name"] for c in st["chunks"]} == {"blocks"}
    assert set(st["chunks"][0]) == {
        "loader_name", "total", "pending", "claimed", "completed", "failed",
    }
    assert set(st["transform"][0]) == {
        "raw_table_name", "completed", "failed", "max_completed_slot",
        "total_processed", "total_failed_rows",
    }
    assert set(st["tables"][0]) == {"table", "rows", "min_slot", "max_slot"}
    assert set(st["debug_counts"]) == {"raw_rows", "final_rows"}
    chunk_cols = {
        "chunk_id", "loader_name", "start_slot", "end_slot", "status",
        "worker_id", "created_at", "updated_at",
    }
    assert st["stale_claimed"] and set(st["stale_claimed"][0]) == chunk_cols
    prog_cols = {
        "raw_table_name", "start_slot", "end_slot", "status",
        "processed_count", "failed_count", "error_message", "processed_at",
    }
    assert st["recent_failures"] and set(st["recent_failures"][0]) == prog_cols
    assert st["recent_activity"] and set(st["recent_activity"][0]) == prog_cols

    gp = _run(
        capsys,
        ["--lake-dir", seeded_lake.base_dir, "maintain", "gaps",
         "--start-slot", str(SLOT0), "--end-slot", str(SLOT0 + 14)],
        spark,
    )
    assert set(gp) == {"command", "report"}
    assert set(gp["report"]) == {
        "expected", "actual", "missing", "missing_pct", "sample_missing",
    }
    assert gp["report"]["missing_pct"] == round(100.0 * 5 / 15, 4)
    assert gp["report"]["sample_missing"] == [SLOT0 + 10 + i for i in range(5)]


def test_cli_maintain_reset(spark, capsys, seeded_lake):
    from beacon_indexer_spark.control import ledger as L

    ledger = L.ChunkLedger(spark, f"{seeded_lake.base_dir}/_control/load_state_chunks")
    chunks = L.generate_chunks(spark, SLOT0, SLOT0 + 9, 5, "blocks")
    ledger.append(chunks)
    ledger.mark(ledger.current(), L.FAILED)
    out = _run(capsys, ["--lake-dir", seeded_lake.base_dir, "maintain", "reset"], spark)
    assert out["reset"] == 2


# ---------------------------------------------------------------------------
# ClickHouse sink
# ---------------------------------------------------------------------------

def test_jdbc_options_reference_tuning():
    o = CH.clickhouse_jdbc_options("ch.example:8123", "attestations")
    assert o["url"] == "jdbc:clickhouse://ch.example:8123/beacon"
    assert o["batchsize"] == "500"  # reference per-table write chunk
    assert o["isolationLevel"] == "NONE"
    assert CH.clickhouse_jdbc_options("x", "transactions")["batchsize"] == "100"
    assert CH.clickhouse_jdbc_options("x", "validators")["batchsize"] == "5000"
    assert CH.clickhouse_jdbc_options("x", "blocks")["batchsize"] == "10000"
    # explicit url passes through
    assert CH.clickhouse_jdbc_options("jdbc:clickhouse://h/d", "t")["url"] == (
        "jdbc:clickhouse://h/d"
    )


def test_normalize_for_clickhouse(spark):
    df = spark.createDataFrame(
        [(1, True, {"a": 1}, [1, 2])],
        "id long, flag boolean, meta map<string,int>, arr array<int>",
    )
    out = CH.normalize_for_clickhouse(df)
    row = out.collect()[0]
    assert row["flag"] == 1  # bool → UInt8-compatible int
    assert json.loads(row["meta"]) == {"a": 1}  # map → JSON string
    assert row["arr"] == [1, 2]  # primitive arrays pass through
    kinds = dict(out.dtypes)
    assert kinds["flag"] == "int" and kinds["meta"] == "string"


def test_write_clickhouse_requires_driver(spark):
    df = spark.createDataFrame([(1,)], "id long")
    with pytest.raises(RuntimeError, match="JDBC driver not on the Spark classpath"):
        CH.write_clickhouse(df, "blocks", "ch:8123")


@pytest.fixture()
def captured_jdbc_saves(monkeypatch):
    """Intercept the terminal ``save()`` of the exact writer the sink
    builds — everything upstream (CLI arg routing, make_sink, pipeline
    transform, normalization, option construction) runs for real; only
    the JDBC handshake (no jar in this container) is stubbed."""
    captured: list[dict] = []
    real_plan = CH.plan_clickhouse_write

    def fake_plan(df, table, url, **kw):
        writer, opts = real_plan(df, table, url, **kw)
        writer.save = lambda *a, **k: captured.append(
            {"table": table, "opts": opts, "rows": df.count()}
        )
        return writer, opts

    monkeypatch.setattr(CH, "plan_clickhouse_write", fake_plan)
    monkeypatch.setattr(CH, "_require_driver", lambda spark: None)
    return captured


def test_clickhouse_sink_contract_transform_route(
    spark, capsys, seeded_lake, captured_jdbc_saves
):
    """End-to-end --sink clickhouse through the CLI transform route: the
    full JDBC option dict (url/driver/batchsize/isolation) reaches the
    writer, per-table batch sizing applies, and mode is append."""
    from beacon_indexer_spark.control import ledger as L

    ledger = L.ChunkLedger(
        spark, f"{seeded_lake.base_dir}/_control/load_state_chunks"
    )
    ledger.append(L.generate_chunks(spark, SLOT0, SLOT0 + 9, 10, "blocks"))
    ledger.mark(ledger.current(), L.COMPLETED)

    out = _run(
        capsys,
        ["--lake-dir", seeded_lake.base_dir,
         "--sink", "clickhouse", "--clickhouse-url", "ch.example:8123",
         "transform", "batch"],
        spark,
    )
    assert out["chunks"][0]["rows"]["blocks"] == 10

    by_table = {c["table"]: c for c in captured_jdbc_saves}
    assert "blocks" in by_table, f"no blocks write captured: {captured_jdbc_saves}"
    blocks = by_table["blocks"]
    assert blocks["rows"] == 10
    assert blocks["opts"] == {
        "url": "jdbc:clickhouse://ch.example:8123/beacon",
        "dbtable": "blocks",
        "user": "default",
        "password": "",
        "driver": "com.clickhouse.jdbc.ClickHouseDriver",
        "batchsize": "10000",
        "isolationLevel": "NONE",
    }
    # per-table write chunking (reference transformer.py:14-21) reaches the
    # writer when child tables flow through the same sink
    if "attestations" in by_table:
        assert by_table["attestations"]["opts"]["batchsize"] == "500"


def test_clickhouse_sink_contract_repair_route(
    spark, capsys, seeded_lake, captured_jdbc_saves
):
    """Repair (maintain fix / overwrite mode) through the ClickHouse sink
    must still APPEND — ReplacingMergeTree version-wins is the upsert;
    there is no partition overwrite on the ClickHouse side."""
    from beacon_indexer_spark.control import ledger as L
    from beacon_indexer_spark.plans.pipeline import BeaconPipeline
    from beacon_indexer_spark.sources.storage import make_sink

    prog = L.ProgressManifest(
        spark, f"{seeded_lake.base_dir}/_control/transformer_progress"
    )
    sink = make_sink("clickhouse", seeded_lake, clickhouse_url="ch.example:8123")
    pipe = BeaconPipeline(
        seeded_lake, progress=prog, sink=sink, tables={"raw_blocks": ["blocks"]}
    )
    pipe.repair_range("raw_blocks", SLOT0, SLOT0 + 9)
    assert [c["table"] for c in captured_jdbc_saves] == ["blocks"]
    assert captured_jdbc_saves[0]["opts"]["dbtable"] == "blocks"
    assert captured_jdbc_saves[0]["rows"] == 10


def test_cli_maintain_compact(spark, capsys, seeded_lake):
    import datetime as dt

    # duplicate re-fetch of one slot → compact collapses it
    seeded_lake.write(
        "raw_blocks",
        spark.createDataFrame(
            [FX.raw_row(SLOT0, FX.block_payload(SLOT0),
                        retrieved_at=FX.T0 + dt.timedelta(hours=1))],
            schema=raw_envelope(),
        ),
    )
    out = _run(
        capsys,
        ["--lake-dir", seeded_lake.base_dir, "maintain", "compact",
         "--tables", "raw_blocks"],
        spark,
    )
    assert out["compacted"]["raw_blocks"] == {"before": 11, "after": 10}


def test_cli_maintain_fix(spark, capsys, seeded_lake, tmp_path):
    """Failed transform range → maintain fix re-transforms with overwrite."""
    from beacon_indexer_spark.control import ledger as L
    from beacon_indexer_spark.plans.pipeline import BeaconPipeline

    prog = L.ProgressManifest(
        spark, f"{seeded_lake.base_dir}/_control/transformer_progress"
    )
    # transform succeeded once, then the range is marked failed (as a crash
    # mid-overwrite would leave it)
    pipe = BeaconPipeline(seeded_lake, progress=prog, tables={"raw_blocks": ["blocks"]})
    pipe.transform_range("raw_blocks", SLOT0, SLOT0 + 9)
    prog.record("raw_blocks", SLOT0, SLOT0 + 9, L.FAILED, error_message="crash")
    assert prog.current()[0]["status"] == "failed"

    out = _run(capsys, ["--lake-dir", seeded_lake.base_dir, "maintain", "fix"], spark)
    assert out["fixed_ranges"] == [[SLOT0, SLOT0 + 9]]
    # range is completed again and blocks are intact (overwrite, not dup)
    assert prog.current()[0]["status"] == "completed"
    assert seeded_lake.read_latest("blocks").count() == 10


def _recording_backfill(spark, capsys, lake_dir, log):
    """``backfill(start, end, loaders)`` runs `load backfill` against a fake
    API that logs each requested slot to ``log``; ``fetched()`` reads the
    log back, sorted."""

    # nested closure → cloudpickle ships it by value to the executors,
    # which record each request in a file the driver reads back
    def fake_api():
        from beacon_indexer_spark.sources.beacon_api import BeaconAPI

        def transport(url, params, timeout):
            with open(log, "a") as f:
                f.write(url + "\n")
            return 200, '{"data": {}}'

        return BeaconAPI("http://fake", transport=transport, sleep=lambda s: None)

    def backfill(start, end, loaders="blocks"):
        rc = main(["--lake-dir", lake_dir, "load", "backfill",
                   "--start-slot", str(start), "--end-slot", str(end),
                   "--loaders", loaders], spark=spark, api_factory=fake_api)
        assert rc == 0
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    def fetched():
        with open(log) as f:
            return sorted(int(u.rsplit("/", 1)[1]) for u in f.read().split())

    return backfill, fetched


def test_cli_backfill_loads_each_chunk_once(spark, capsys, tmp_path, monkeypatch):
    """`load backfill` fetches exactly the ledger chunks it plans: an
    unaligned first run fetches its floor-aligned first chunk whole, an
    identical second run fetches nothing, and a daily loader over a range
    with no UTC day end launches no Spark job and still succeeds."""
    from beacon_indexer_spark.control import ledger as L

    monkeypatch.setenv("BIS_CHUNK_SIZE", "10")
    lake_dir = str(tmp_path / "lake")
    backfill, fetched = _recording_backfill(spark, capsys, lake_dir,
                                            str(tmp_path / "requests.log"))
    lake = ParquetLake(spark, lake_dir, GNOSIS)
    ledger = L.ChunkLedger(spark, f"{lake_dir}/_control/load_state_chunks")
    out = backfill(SLOT0 + 5, SLOT0 + 19)
    assert fetched() == list(range(SLOT0, SLOT0 + 20))
    assert out["blocks"]["rows"] == 20 and out["blocks"]["min_slot"] == SLOT0
    assert sorted((c["start_slot"], c["end_slot"], c["status"])
                  for c in ledger.current()) == [
        (SLOT0, SLOT0 + 9, L.COMPLETED), (SLOT0 + 10, SLOT0 + 19, L.COMPLETED),
    ]

    backfill(SLOT0 + 5, SLOT0 + 19)
    assert len(fetched()) == 20
    assert lake.read("raw_blocks").count() == 20

    # validators fetch only UTC day ends, and this range holds none
    assert GNOSIS.day_end_slots(SLOT0, SLOT0 + 19) == []
    jobs = job_count(spark)
    out = backfill(SLOT0, SLOT0 + 19, loaders="validators")
    assert job_count(spark) == jobs
    assert "validators" not in out and not lake.exists("raw_validators")
    assert [c["status"] for c in ledger.current()
            if c["loader_name"] == "validators"] == [L.COMPLETED] * 2
    assert len(fetched()) == 20


def test_cli_backfill_extends_partial_last_chunk(spark, capsys, tmp_path, monkeypatch):
    """A backfill that ends inside a chunk completes a partial last chunk;
    a later, longer backfill fetches only the rest of that chunk, and the
    completed chunks do not overlap."""
    from beacon_indexer_spark.control import ledger as L

    monkeypatch.setenv("BIS_CHUNK_SIZE", "10")
    lake_dir = str(tmp_path / "lake")
    backfill, fetched = _recording_backfill(spark, capsys, lake_dir,
                                            str(tmp_path / "requests.log"))
    backfill(SLOT0, SLOT0 + 14)
    assert fetched() == list(range(SLOT0, SLOT0 + 15))
    out = backfill(SLOT0, SLOT0 + 19)
    assert fetched() == list(range(SLOT0, SLOT0 + 20))  # each slot once
    assert out["blocks"]["rows"] == 20
    ledger = L.ChunkLedger(spark, f"{lake_dir}/_control/load_state_chunks")
    done = sorted((c["start_slot"], c["end_slot"]) for c in ledger.with_status(L.COMPLETED))
    assert done == [(SLOT0, SLOT0 + 9), (SLOT0 + 10, SLOT0 + 14), (SLOT0 + 15, SLOT0 + 19)]


def test_cli_maintain_rollup(spark, capsys, seeded_lake):
    out = _run(
        capsys,
        ["--lake-dir", seeded_lake.base_dir, "maintain", "rollup",
         "--spec", "daily_blocks"],
        spark,
    )
    assert out["rollup"]["spec"] == "daily_blocks"
    assert len(out["rollup"]["refreshed_dates"]) == 1
    roll = seeded_lake.read("rollup_daily_blocks").collect()
    assert [r["n_blocks"] for r in roll] == [10]
    assert roll[0]["min_slot"] == SLOT0 and roll[0]["max_slot"] == SLOT0 + 9
    # second run with no new source data touches nothing
    out2 = _run(
        capsys,
        ["--lake-dir", seeded_lake.base_dir, "maintain", "rollup"],
        spark,
    )
    assert out2["rollup"]["refreshed_dates"] == []


def test_cli_maintain_profile(spark, capsys, seeded_lake):
    out = _run(
        capsys,
        ["--lake-dir", seeded_lake.base_dir, "maintain", "profile",
         "--table", "raw_blocks", "--columns", "slot,payload_hash"],
        spark,
    )
    prof = {c["col_name"]: c for c in out["profile"]["columns"]}
    assert out["profile"]["table"] == "raw_blocks"
    assert set(prof) == {"slot", "payload_hash"}
    assert prof["slot"]["n_rows"] == 10
    assert prof["slot"]["n_nulls"] == 0
    assert prof["slot"]["n_distinct"] == 10
    assert prof["slot"]["min_value"] == str(SLOT0)
    assert prof["payload_hash"]["n_distinct"] == 10


def test_cli_curate_run(spark, capsys, tmp_path):
    """`curate run` writes keep-list/manifest/summary through the STAGED
    CurationRun pipeline, records the run in the progress manifest, and
    reports the summary row. Golden contract mirrored on a corpus with one
    near-dup cluster {1,2,3} and two singletons."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + " extra"),
            (3, base),
            (4, "completely different text about spark partitioning at scale"),
            (5, "another unique document with its own words entirely here now"),
        ],
        "doc_id long, text string",
    )
    docs_path = str(tmp_path / "docs.parquet")
    docs.write.parquet(docs_path)
    lake_dir = str(tmp_path / "lake")

    out = _run(
        capsys,
        ["--lake-dir", lake_dir, "curate", "run", "--docs", docs_path],
        spark,
    )
    assert out["curate"]["n_docs"] == 5
    assert out["curate"]["n_clusters"] == 1
    assert out["curate"]["n_dup_docs"] == 3
    assert out["curate"]["n_kept"] == 3  # 5 - (3 - 1) removed dups

    lake = ParquetLake(spark, lake_dir, GNOSIS)
    keep = {r["doc_id"]: r["keep"] for r in lake.read("curation_keep_list").collect()}
    assert keep == {1: 1, 2: 0, 3: 0, 4: 1, 5: 1}
    man = lake.read("curation_manifest")
    assert {"doc_id", "cluster_id", "keep", "q6", "q_pass", "split", "include"} <= set(
        man.columns
    )
    assert man.count() == 5
    # the run is recorded in the transformer progress manifest
    prog = spark.read.parquet(f"{lake_dir}/_control/transformer_progress")
    rec = prog.filter(prog.raw_table_name == f"curate:{docs_path}").collect()
    assert len(rec) == 1 and rec[0]["status"] == "completed"
    assert rec[0]["processed_count"] == 5

    # RE-RUN with the same --prefix: curation tables are reports with no
    # latest-wins key, so the second run must REPLACE them — an append
    # would leave two conflicting keep verdicts per doc (ADVICE r6)
    out2 = _run(
        capsys,
        ["--lake-dir", lake_dir, "curate", "run", "--docs", docs_path],
        spark,
    )
    assert out2["curate"]["n_docs"] == 5
    keep2 = {
        r["doc_id"]: r["keep"] for r in lake.read("curation_keep_list").collect()
    }
    assert keep2 == keep  # same verdicts, not doubled
    assert lake.read("curation_keep_list").count() == 5
    assert lake.read("curation_manifest").count() == 5
    assert lake.read("curation_summary").count() == 1


def test_cli_curate_rerun_drops_stale_reports(spark, capsys, tmp_path):
    """A curate re-run with a NARROWER --reports set must not leave the
    prior run's report tables beside the fresh keep_list/manifest —
    downstream readers would pair a new manifest with a stale report
    (ADVICE r7). The re-run drops unrequested report tables and says so."""
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta", "web"),
            (2, "epsilon zeta eta theta", "web"),
        ],
        "doc_id long, text string, source string",
    )
    docs_path = str(tmp_path / "docs.parquet")
    docs.write.parquet(docs_path)
    lake_dir = str(tmp_path / "lake")
    lake = ParquetLake(spark, lake_dir, GNOSIS)

    out1 = _run(
        capsys,
        ["--lake-dir", lake_dir, "curate", "run", "--docs", docs_path,
         "--reports", "size_dist,token_budget"],
        spark,
    )
    assert "curation_size_dist" in out1["curate"]["tables"]
    assert lake.exists("curation_size_dist")
    assert lake.exists("curation_token_budget")

    # narrower re-run: only token_budget requested → size_dist is dropped
    out2 = _run(
        capsys,
        ["--lake-dir", lake_dir, "curate", "run", "--docs", docs_path,
         "--reports", "token_budget"],
        spark,
    )
    assert not lake.exists("curation_size_dist")
    assert lake.exists("curation_token_budget")
    assert out2["curate"]["dropped_tables"] == ["curation_size_dist"]
    assert "curation_size_dist" not in out2["curate"]["tables"]

    # re-run with NO reports drops the remaining one too
    out3 = _run(
        capsys,
        ["--lake-dir", lake_dir, "curate", "run", "--docs", docs_path],
        spark,
    )
    assert not lake.exists("curation_token_budget")
    assert out3["curate"]["dropped_tables"] == ["curation_token_budget"]
    # the core outputs are untouched by the cleanup
    assert lake.read("curation_keep_list").count() == 2
    assert lake.read("curation_manifest").count() == 2

    # a misspelt --reports name fails before the first write: the previous
    # run's tables keep their files
    def files(table):
        return sorted(
            (os.path.join(d, f), os.stat(os.path.join(d, f)).st_mtime_ns)
            for d, _, fs in os.walk(lake.path(table)) for f in fs
        )

    core = ("curation_keep_list", "curation_manifest", "curation_summary")
    before = {t: files(t) for t in core}
    with pytest.raises(SystemExit, match="bogus"):
        main(["--lake-dir", lake_dir, "curate", "run", "--docs", docs_path,
              "--reports", "bogus"], spark=spark)
    assert {t: files(t) for t in core} == before


def test_cli_curate_stages_clusters_once(spark, capsys, tmp_path):
    """The CLI route must go through the staged pipeline: the manifest
    written by `curate run` is derived from checkpoint-backed cluster
    blocks (same one-pass property test_curation_run_stages_clusters_once
    asserts on the library path). Asserted here structurally: the
    CurationRun class is what the CLI instantiates — monkeypatch it to
    count constructions and verify exactly ONE per run."""
    from beacon_indexer_spark.plans import pipeline as P

    calls = []
    orig = P.CurationRun

    class Counting(orig):
        def __init__(self, *a, **kw):
            calls.append(1)
            super().__init__(*a, **kw)

    P.CurationRun = Counting
    try:
        base = "the quick brown fox jumps over the lazy dog again and again"
        docs = spark.createDataFrame(
            [(1, base), (2, base), (3, "something else entirely different")],
            "doc_id long, text string",
        )
        docs_path = str(tmp_path / "docs2.parquet")
        docs.write.parquet(docs_path)
        out = _run(
            capsys,
            ["--lake-dir", str(tmp_path / "lake2"), "curate", "run",
             "--docs", docs_path],
            spark,
        )
        assert calls == [1]  # one staged pipeline per run, never per output
        assert out["curate"]["n_docs"] == 3
    finally:
        P.CurationRun = orig


def test_cli_curate_reports(spark, capsys, tmp_path):
    """`curate run --reports ...` writes the staged-spine reports from
    the SAME cluster frame; unknown report names fail loudly."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            (1, base, "web"),
            (2, base + " extra", "web"),
            (3, base, "books"),
            (4, "completely different text about spark partitioning here", "books"),
        ],
        "doc_id long, text string, source string",
    )
    docs_path = str(tmp_path / "docs.parquet")
    docs.write.parquet(docs_path)
    lake_dir = str(tmp_path / "lake")

    out = _run(
        capsys,
        ["--lake-dir", lake_dir, "curate", "run", "--docs", docs_path,
         "--reports", "size_dist,token_budget,dup_by_length,leakage_split"],
        spark,
    )
    assert set(out["curate"]["tables"]) >= {
        "curation_size_dist", "curation_token_budget",
        "curation_dup_by_length", "curation_leakage_split",
    }
    lake = ParquetLake(spark, lake_dir, GNOSIS)
    sd = {r["cluster_size"]: r["n_clusters"]
          for r in lake.read("curation_size_dist").collect()}
    assert sd == {3: 1, 1: 1}  # cluster {1,2,3} + singleton {4}
    tb = {r["source"]: r["n_kept"]
          for r in lake.read("curation_token_budget").collect()}
    assert tb == {"web": 1, "books": 1}  # keep=min id 1 (web) + 4 (books)
    ls = lake.read("curation_leakage_split")
    assert ls.count() == 4

    import pytest as _pytest

    with _pytest.raises(SystemExit):
        _run(
            capsys,
            ["--lake-dir", str(tmp_path / "lake2"), "curate", "run",
             "--docs", docs_path, "--reports", "nope"],
            spark,
        )
