"""Fetch layer + realtime loop + streaming transform tests.

Mirrors the reference's API tests (tests/test_beacon_api.py,
tests/test_validators.py in /root/reference): fake transports, retry/404
semantics, fork gates — plus the Spark-side distributed fetch and the
streaming transform the reference has no analogue for.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from beacon_indexer_spark.config import EngineConfig, GNOSIS, MAINNET
from beacon_indexer_spark.control.ledger import ProgressManifest
from beacon_indexer_spark.plans.pipeline import BeaconPipeline
from beacon_indexer_spark.sources import beacon_api as B
from beacon_indexer_spark.sources.storage import ParquetLake
from beacon_indexer_spark.streaming.realtime import RealtimeLoop
from beacon_indexer_spark.streaming.stream import stream_transform
from tests import fixtures as FX

SLOT0 = 27_000_000


class FakeTransport:
    """Scripted (status, body) transport recording every request."""

    def __init__(self, responses=None, default=(404, "not found")):
        self.responses = responses or {}  # path-substring → (status, body) or list
        self.default = default
        self.calls: list[tuple[str, dict | None]] = []

    def __call__(self, url, params, timeout):
        self.calls.append((url, params))
        for frag, resp in self.responses.items():
            if frag in url:
                if isinstance(resp, list):  # scripted sequence
                    resp = resp.pop(0) if len(resp) > 1 else resp[0]
                return resp
        return self.default


def _api(transport, **kw):
    kw.setdefault("retry_delay", 0.0)
    return B.BeaconAPI(base_url="http://node:5052", transport=transport,
                       sleep=lambda s: None, **kw)


def _ok(data):
    return (200, json.dumps(data))


# ---------------------------------------------------------------------------
# client semantics (reference tests/test_beacon_api.py)
# ---------------------------------------------------------------------------

def test_api_key_as_query_param():
    t = FakeTransport({"/genesis": _ok({"data": {}})})
    _api(t, api_key="sekrit").get_genesis()
    url, params = t.calls[0]
    assert params == {"apiKey": "sekrit"}
    assert "sekrit" not in url  # key never in the URL


def test_no_params_when_key_unset():
    t = FakeTransport({"/genesis": _ok({"data": {}})})
    _api(t).get_genesis()
    assert t.calls[0][1] is None


def test_404_block_is_empty_slot():
    t = FakeTransport()
    assert _api(t).get_block(123) is None


def test_404_state_raises():
    t = FakeTransport()
    with pytest.raises(B.BeaconAPIError, match="404 state not found"):
        _api(t).get_validators(123)


def test_validator_ids_param():
    t = FakeTransport({"/validators": _ok({"data": []})})
    _api(t).get_validators(42, validator_ids=[1, 2, 3])
    assert t.calls[0][1] == {"id": "1,2,3"}
    assert "/states/42/validators" in t.calls[0][0]


def test_retry_then_success():
    sleeps = []
    t = FakeTransport({"/blocks": [(500, "boom"), (502, "boom"), _ok({"data": 1})]})
    api = B.BeaconAPI("http://n", transport=t, retry_delay=5.0, sleep=sleeps.append)
    assert api.get_block(1) == {"data": 1}
    assert len(t.calls) == 3
    assert sleeps == [5.0, 10.0]  # linear-multiplied backoff (delay * attempt)


def test_retries_exhausted_raises():
    t = FakeTransport({"/blocks": (500, "boom")})
    with pytest.raises(B.BeaconAPIError, match="500"):
        _api(t).get_block(1)
    assert len(t.calls) == 3


def test_invalid_json_raises():
    t = FakeTransport({"/blocks": (200, "not json")})
    with pytest.raises(B.BeaconAPIError, match="Invalid JSON"):
        _api(t).get_block(1)


def test_head_slot_parse():
    t = FakeTransport(
        {"/headers/head": _ok({"data": {"header": {"message": {"slot": "123456"}}}})}
    )
    assert _api(t).get_head_slot() == 123456


# ---------------------------------------------------------------------------
# envelope + fork gates (reference tests/test_pending_queues.py:109-186)
# ---------------------------------------------------------------------------

def test_prepare_row_hash_contract():
    row = B.prepare_row(5, {"b": 1, "a": 2})
    assert row["payload"] == '{"a":2,"b":1}'  # canonical: sorted, compact
    assert len(row["payload_hash"]) == 16
    assert row["slot"] == 5


def test_fork_gate_skips_without_api_call():
    t = FakeTransport({"/pending_consolidations": _ok(FX.PENDING_CONSOLIDATIONS_PAYLOAD)})
    api = _api(t)
    spec = B.LOADERS["pending_consolidations"]
    gate = GNOSIS.activation_slot("electra")
    rows = B.fetch_slots_local(api, spec, [gate - 1, gate], GNOSIS)
    assert len(rows) == 1 and rows[0]["slot"] == gate
    assert len(t.calls) == 1  # pre-gate slot produced no HTTP call


def test_fork_gate_never_active_skips_all():
    t = FakeTransport()
    spec = B.LOADERS["data_column_sidecars"]
    rows = B.fetch_slots_local(_api(t), spec, [1, 2, 3], MAINNET)  # fulu=FAR_FUTURE
    assert rows == [] and t.calls == []


def test_fetch_error_fails_chunk():
    t = FakeTransport({"/validators": (500, "boom")})
    with pytest.raises(B.BeaconAPIError):
        B.fetch_slots_local(_api(t), B.LOADERS["validators"], [SLOT0], GNOSIS)


# ---------------------------------------------------------------------------
# foundation bootstrap (reference C13/C14)
# ---------------------------------------------------------------------------

def _specs(extra=None):
    d = {
        "CONFIG_NAME": "gnosis",
        "SECONDS_PER_SLOT": "5",
        "SLOTS_PER_EPOCH": "16",
        "ALTAIR_FORK_EPOCH": "512",
        "ELECTRA_FORK_EPOCH": "1337856",
        "FULU_FORK_EPOCH": "18446744073709551615",
    }
    d.update(extra or {})
    return {"data": d}


def test_bootstrap_schedule_digit_genesis():
    t = FakeTransport(
        {"/genesis": _ok({"data": {"genesis_time": "1638993340"}}),
         "/config/spec": _ok(_specs())}
    )
    sched, genesis, specs = B.bootstrap_schedule(_api(t))
    assert sched.network == "gnosis"
    assert sched.genesis_time == 1_638_993_340
    assert sched.seconds_per_slot == 5 and sched.slots_per_epoch == 16
    # Gnosis Fulu override applied when specs say FAR_FUTURE
    assert sched.epochs["fulu"] == GNOSIS.epochs["fulu"]
    assert sched.fork_at_slot(27_435_008) == "fulu"


def test_bootstrap_schedule_iso_genesis():
    t = FakeTransport(
        {"/genesis": _ok({"data": {"genesis_time": "2021-12-08T13:55:40Z"}}),
         "/config/spec": _ok(_specs())}
    )
    sched, _, _ = B.bootstrap_schedule(_api(t))
    assert sched.genesis_time == 1_638_971_740


# ---------------------------------------------------------------------------
# distributed fetch (mapPartitions over a slot range)
# ---------------------------------------------------------------------------

def test_fetch_slots_distributed(spark):
    cfg = B.FetchConfig(base_url="http://fake")

    # nested closures → cloudpickle ships them by value (the test module
    # isn't importable on executor workers); only package imports inside
    def fake_api():
        import json as _json

        from beacon_indexer_spark.sources.beacon_api import BeaconAPI

        def transport(url, params, timeout):
            slot = int(url.rsplit("/", 1)[1])
            if slot % 10 == 3:
                return 404, "empty"
            payload = {
                "version": "deneb",
                "data": {
                    "message": {
                        "slot": str(slot),
                        "proposer_index": str(slot % 97),
                        "parent_root": "0x10",
                        "state_root": "0x20",
                        "body": {"attestations": []},
                    },
                    "signature": "0x30",
                },
            }
            return 200, _json.dumps(payload)

        return BeaconAPI("http://fake", transport=transport, sleep=lambda s: None)

    df = B.fetch_slots_distributed(
        spark, cfg, B.LOADERS["blocks"], SLOT0, SLOT0 + 19, GNOSIS,
        slots_per_task=5, api_factory=fake_api,
    )
    rows = df.collect()
    assert len(rows) == 18  # 2 empty slots (…3 mod 10) skipped
    assert all(len(r["payload_hash"]) == 16 for r in rows)
    slots = sorted(r["slot"] for r in rows)
    assert slots[0] == SLOT0 and SLOT0 + 3 not in slots


def test_fetch_distributed_fork_gate_prunes_range(spark):
    cfg = B.FetchConfig(base_url="http://fake")
    df = B.fetch_slots_distributed(
        spark, cfg, B.LOADERS["data_column_sidecars"], 0, 100, MAINNET,
    )
    assert df.count() == 0  # fulu never active on mainnet → no tasks at all
    # the slot-list path shares the gate: nothing to fetch either
    df = B.fetch_slot_list_distributed(
        spark, cfg, B.LOADERS["data_column_sidecars"],
        spark.range(0, 101).toDF("slot"), MAINNET,
    )
    assert df.count() == 0

    def fake_api():
        import json as _json

        from beacon_indexer_spark.sources.beacon_api import BeaconAPI

        def transport(url, params, timeout):
            return 200, _json.dumps({"data": []})

        return BeaconAPI("http://fake", transport=transport, sleep=lambda s: None)

    # a gate inside the list keeps only the slots at or after activation
    gate = GNOSIS.activation_slot("electra")
    df = B.fetch_slot_list_distributed(
        spark, cfg, B.LOADERS["pending_consolidations"],
        spark.range(gate - 2, gate + 2).toDF("slot"), GNOSIS, api_factory=fake_api,
    )
    assert sorted(r["slot"] for r in df.collect()) == [gate, gate + 1]


# ---------------------------------------------------------------------------
# realtime loop (reference C5)
# ---------------------------------------------------------------------------

def _realtime_api(head_slot: int):
    def transport(url, params, timeout):
        if "/headers/head" in url:
            return 200, json.dumps(
                {"data": {"header": {"message": {"slot": str(head_slot)}}}}
            )
        if "/eth/v2/beacon/blocks/" in url:
            slot = int(url.rsplit("/", 1)[1])
            return 200, json.dumps(FX.block_payload(slot, proposer=slot % 97))
        return 404, "nf"

    return B.BeaconAPI("http://fake", transport=transport, sleep=lambda s: None)


def test_realtime_processes_complete_windows_only(spark, tmp_path):
    lake = ParquetLake(spark, str(tmp_path / "lake"), GNOSIS)
    prog = ProgressManifest(spark, str(tmp_path / "prog"))
    pipe = BeaconPipeline(lake, progress=prog, tables={"raw_blocks": ["blocks"]})
    cfg = EngineConfig(chunk_size=10, realtime_slot_delay=2)
    # head = SLOT0+25, delay 2 → target 23 → windows [0..9],[10..19] complete,
    # [20..29] incomplete
    loop = RealtimeLoop(
        api=_realtime_api(SLOT0 + 25), lake=lake, pipeline=pipe, config=cfg,
        loaders=("blocks",), sleep=lambda s: None, start_slot=SLOT0,
    )
    n = loop.run(max_iterations=3)
    assert n == 2
    raw_slots = sorted(r["slot"] for r in lake.read("raw_blocks").collect())
    assert raw_slots == list(range(SLOT0, SLOT0 + 20))
    assert lake.read_latest("blocks").count() == 20
    # resume point advanced past processed windows
    assert loop._next_window_start() == SLOT0 + 20


def test_realtime_fetch_failure_writes_no_progress(spark, tmp_path, monkeypatch):
    """A window whose fetch fails loaded nothing, so it gets no progress
    row (a failed row would send `maintain fix` to "repair" a window with
    no raw rows and record it completed). /health names the loader and
    window, and the cursor stays put: the next poll retries the window."""
    from beacon_indexer_spark import observability as O

    monkeypatch.setattr(O, "_health_state", {"status": "starting", "operation": ""})
    lake = ParquetLake(spark, str(tmp_path / "lake"), GNOSIS)
    prog = ProgressManifest(spark, str(tmp_path / "prog"))
    pipe = BeaconPipeline(lake, progress=prog, tables={"raw_blocks": ["blocks"]})
    requested = []

    def transport(url, params, timeout):
        if "/headers/head" in url:
            return 200, json.dumps(
                {"data": {"header": {"message": {"slot": str(SLOT0 + 25)}}}}
            )
        requested.append(int(url.rsplit("/", 1)[1]))
        return 500, "node down"

    cfg = EngineConfig(chunk_size=10, realtime_slot_delay=2)
    loop = RealtimeLoop(api=_api(transport), lake=lake, pipeline=pipe, config=cfg,
                        loaders=("blocks",), sleep=lambda s: None, start_slot=SLOT0)
    assert loop.run(max_iterations=2) == 0
    assert prog.current() == []
    health = O.get_health()
    assert health["status"] == "failed" and "node down" in health["error"]
    assert health["failed_range"] == ["blocks", SLOT0, SLOT0 + 9]
    # each poll retried the same window's first slot (3 attempts a poll)
    assert requested == [SLOT0] * 6
    assert not lake.exists("raw_blocks")


def test_realtime_daily_loader_filters_slots(spark, tmp_path):
    lake = ParquetLake(spark, str(tmp_path / "lake"), GNOSIS)
    pipe = BeaconPipeline(lake)
    calls = []

    def transport(url, params, timeout):
        calls.append(url)
        return 200, json.dumps(FX.VALIDATORS_PAYLOAD)

    api = B.BeaconAPI("http://fake", transport=transport, sleep=lambda s: None)
    cfg = EngineConfig(chunk_size=20_000)
    loop = RealtimeLoop(api=api, lake=lake, pipeline=pipe, config=cfg,
                        loaders=("validators",), sleep=lambda s: None)
    # one gnosis day = 17280 slots → exactly 1 day-boundary slot in 20k
    loop.process_window(0, 19_999)
    assert len(calls) == 1
    assert lake.read_latest("validators").count() == 2  # fixture has 2 entries


def test_cli_backfill_daily_loader_fetches_day_ends(spark, tmp_path, capsys):
    """`load backfill` honours LoaderSpec.daily: over a range holding two
    UTC day ends, validators are fetched exactly twice, at those slots."""
    from beacon_indexer_spark.cli import main

    def ts(s):
        return GNOSIS.slot_to_timestamp(s) // 86400

    day = 86400 // GNOSIS.seconds_per_slot
    first_end = next(s for s in range(SLOT0, SLOT0 + day) if ts(s) != ts(s + 1))
    start, end = first_end - 5, first_end + day + 5
    log = str(tmp_path / "requests.log")

    # nested closure → cloudpickle ships it by value to the executors,
    # which record each request in a file the driver reads back
    def fake_api():
        from beacon_indexer_spark.sources.beacon_api import BeaconAPI

        def transport(url, params, timeout):
            with open(log, "a") as f:
                f.write(url + "\n")
            return 200, '{"data": []}'

        return BeaconAPI("http://fake", transport=transport, sleep=lambda s: None)

    rc = main(
        ["--lake-dir", str(tmp_path / "lake"), "load", "backfill",
         "--start-slot", str(start), "--end-slot", str(end),
         "--loaders", "validators"],
        spark=spark, api_factory=fake_api,
    )
    assert rc == 0
    capsys.readouterr()
    with open(log) as f:
        urls = f.read().split()
    assert sorted(int(u.split("/")[-2]) for u in urls) == [first_end, first_end + day]
    lake = ParquetLake(spark, str(tmp_path / "lake"), GNOSIS)
    assert lake.read("raw_validators").count() == 2


# ---------------------------------------------------------------------------
# structured streaming transform
# ---------------------------------------------------------------------------

def test_stream_transform_incremental(spark, tmp_path):
    lake = ParquetLake(spark, str(tmp_path / "lake"), GNOSIS)
    ckpt = str(tmp_path / "ckpt")

    def write_raw(n, offset=0):
        rows = [FX.raw_row(SLOT0 + offset + i, FX.block_payload(SLOT0 + offset + i))
                for i in range(n)]
        df = spark.createDataFrame(
            [(r["slot"], r["payload"], r["payload_hash"], r["retrieved_at"])
             for r in rows],
            "slot long, payload string, payload_hash string, retrieved_at timestamp",
        )
        lake.write("raw_blocks", df)

    write_raw(5)
    q = stream_transform(lake, "raw_blocks", ckpt, tables=["blocks", "attestations"])
    q.awaitTermination(120)
    assert lake.read_latest("blocks").count() == 5

    # second batch: only NEW files are processed (checkpoint bookkeeping)
    write_raw(5, offset=5)
    q = stream_transform(lake, "raw_blocks", ckpt, tables=["blocks", "attestations"])
    q.awaitTermination(120)
    blocks = lake.read("blocks")
    assert blocks.count() == 10  # no reprocessing duplicates
    assert lake.read_latest("attestations").count() == 10


# ---------------------------------------------------------------------------
# foundation persistence + daily-slot distributed fetch
# ---------------------------------------------------------------------------

def test_write_foundation(spark, tmp_path):
    from beacon_indexer_spark.sources.storage import ParquetLake

    lake = ParquetLake(spark, str(tmp_path / "lake"), GNOSIS)
    t = FakeTransport(
        {"/genesis": _ok({"data": {"genesis_time": "1638993340"}}),
         "/config/spec": _ok(_specs())}
    )
    sched = B.write_foundation(lake, _api(t))
    assert sched.network == "gnosis"
    assert lake.read("raw_genesis").count() == 1
    assert lake.read("raw_specs").count() == 1
    th = lake.read("time_helpers").collect()[0]
    assert th["genesis_time"] == 1_638_993_340
    assert th["seconds_per_slot"] == 5 and th["slots_per_epoch"] == 16
    # idempotent: rerun collapses on payload_hash at FINAL read
    B.write_foundation(lake, _api(FakeTransport(
        {"/genesis": _ok({"data": {"genesis_time": "1638993340"}}),
         "/config/spec": _ok(_specs())}
    )))
    assert lake.read("raw_genesis").count() == 2
    assert lake.read_latest("raw_genesis").count() == 1


def test_fetch_slot_list_distributed(spark):
    from beacon_indexer_spark.control.ledger import daily_slots

    cfg = B.FetchConfig(base_url="http://fake")
    day = 86400 // GNOSIS.seconds_per_slot
    slots = daily_slots(spark, 0, 3 * day, GNOSIS.genesis_time, GNOSIS.seconds_per_slot)

    def fake_api():
        import json as _json

        from beacon_indexer_spark.sources.beacon_api import BeaconAPI

        def transport(url, params, timeout):
            return 200, _json.dumps({"data": []})

        return BeaconAPI("http://fake", transport=transport, sleep=lambda s: None)

    df = B.fetch_slot_list_distributed(
        spark, cfg, B.LOADERS["validators"], slots, GNOSIS, api_factory=fake_api
    )
    assert df.count() == 3  # one snapshot per day boundary
    assert all(len(r["payload_hash"]) == 16 for r in df.collect())


def test_realtime_advances_past_empty_tail_slot(spark, tmp_path):
    """An empty slot at the END of a window must not livelock the loop
    (max-raw-slot-only resume would floor back to the same window)."""
    lake = ParquetLake(spark, str(tmp_path / "lake"), GNOSIS)
    prog = ProgressManifest(spark, str(tmp_path / "prog"))
    pipe = BeaconPipeline(lake, progress=prog, tables={"raw_blocks": ["blocks"]})
    cfg = EngineConfig(chunk_size=10, realtime_slot_delay=2)

    def transport(url, params, timeout):
        if "/headers/head" in url:
            return 200, json.dumps(
                {"data": {"header": {"message": {"slot": str(SLOT0 + 25)}}}}
            )
        if "/eth/v2/beacon/blocks/" in url:
            slot = int(url.rsplit("/", 1)[1])
            if slot % 10 == 9:  # last slot of every window is EMPTY
                return 404, "empty"
            return 200, json.dumps(FX.block_payload(slot))
        return 404, "nf"

    api = B.BeaconAPI("http://fake", transport=transport, sleep=lambda s: None)
    loop = RealtimeLoop(api=api, lake=lake, pipeline=pipe, config=cfg,
                        loaders=("blocks",), sleep=lambda s: None, start_slot=SLOT0)
    n = loop.run(max_iterations=4)
    assert n == 2  # both complete windows processed exactly once
    raw_slots = sorted(r["slot"] for r in lake.read("raw_blocks").collect())
    assert len(raw_slots) == 18  # 2 empty tail slots skipped
    assert loop._next_window_start() == SLOT0 + 20


def test_realtime_soak_head_advances_with_reorg(spark, tmp_path):
    """Multi-cycle soak (verdict r3 #6): five consecutive head advances,
    then an injected re-org (same slot, NEW payload_hash) re-fetched via a
    catch-up window. End state must be latest-wins (one row per slot, the
    re-orged slot showing the new payload) with exactly one completed
    progress chunk per window — no duplicates from the re-process."""
    lake = ParquetLake(spark, str(tmp_path / "lake"), GNOSIS)
    prog = ProgressManifest(spark, str(tmp_path / "prog"))
    pipe = BeaconPipeline(lake, progress=prog, tables={"raw_blocks": ["blocks"]})
    cfg = EngineConfig(chunk_size=10, realtime_slot_delay=2)

    state = {"head": SLOT0 + 11, "reorg": {}}

    def transport(url, params, timeout):
        if "/headers/head" in url:
            h = state["head"]
            state["head"] += 10  # chain advances one window per poll
            return 200, json.dumps(
                {"data": {"header": {"message": {"slot": str(h)}}}}
            )
        if "/eth/v2/beacon/blocks/" in url:
            slot = int(url.rsplit("/", 1)[1])
            proposer = state["reorg"].get(slot, slot % 97)
            return 200, json.dumps(FX.block_payload(slot, proposer=proposer))
        return 404, "nf"

    api = B.BeaconAPI("http://fake", transport=transport, sleep=lambda s: None)
    loop = RealtimeLoop(api=api, lake=lake, pipeline=pipe, config=cfg,
                        loaders=("blocks",), sleep=lambda s: None, start_slot=SLOT0)
    n = loop.run(max_iterations=5)
    assert n == 5  # every poll closed exactly one window
    assert lake.read_latest("blocks").count() == 50

    # re-org slot SLOT0+7: the node now serves a different block for the
    # same slot; a catch-up re-process of window 0 must converge on it
    state["reorg"][SLOT0 + 7] = 4242
    loop.process_window(SLOT0, SLOT0 + 9)

    # raw keeps BOTH versions (append-only lake)...
    raw7 = lake.read("raw_blocks").filter(F.col("slot") == SLOT0 + 7)
    assert raw7.count() == 2
    assert raw7.select("payload_hash").distinct().count() == 2
    # ...but latest-wins projection shows exactly one row per slot, with
    # the re-orged block winning on retrieved_at
    latest = lake.read_latest("blocks")
    assert latest.count() == 50
    assert latest.filter(F.col("slot") == SLOT0 + 7).collect()[0][
        "proposer_index"
    ] == 4242
    # window 0's other slots keep their original proposer
    assert latest.filter(F.col("slot") == SLOT0 + 3).collect()[0][
        "proposer_index"
    ] == (SLOT0 + 3) % 97

    # progress: exactly one completed chunk per window, re-process included
    chunks = sorted(
        (r["start_slot"], r["end_slot"])
        for r in prog.completed_ranges("raw_blocks")
    )
    assert chunks == [
        (SLOT0 + i * 10, SLOT0 + i * 10 + 9) for i in range(5)
    ]


def test_realtime_resumes_from_progress_after_restart(spark, tmp_path):
    """A fresh loop (no in-memory cursor) resumes from the progress
    manifest, not just max raw slot — surviving empty-tail windows."""
    lake = ParquetLake(spark, str(tmp_path / "lake"), GNOSIS)
    prog = ProgressManifest(spark, str(tmp_path / "prog"))
    pipe = BeaconPipeline(lake, progress=prog, tables={"raw_blocks": ["blocks"]})
    prog.record("raw_blocks", SLOT0, SLOT0 + 9, "completed", processed_count=9)
    loop = RealtimeLoop(api=B.BeaconAPI("http://fake"), lake=lake, pipeline=pipe,
                        config=EngineConfig(chunk_size=10), start_slot=SLOT0)
    assert loop._next_window_start() == SLOT0 + 10


def test_untransformed_chunks_filters_by_loader(spark, tmp_path):
    """Chunks completed by OTHER loaders are not raw_blocks work."""
    from beacon_indexer_spark.control import ledger as L

    led = L.ChunkLedger(spark, str(tmp_path / "ledger"))
    prog = ProgressManifest(spark, str(tmp_path / "prog"))
    led.append(L.generate_chunks(spark, 0, 999, 1000, "blocks"))
    led.append(L.generate_chunks(spark, 0, 1999, 1000, "validators"))
    led.mark(led.current(), L.COMPLETED)
    todo = L.untransformed_chunks(led.current(), prog.current(), "raw_blocks",
                                  limit=None)
    # only the blocks-loader chunk, exactly once (no validators ranges, no
    # duplicate for the doubly-loaded [0,999] range)
    assert [(r["start_slot"], r["loader_name"]) for r in todo] == [(0, "blocks")]


def test_empty_distributed_fetch_leaves_no_broken_table(spark, tmp_path):
    """Writing a 0-row frame must not leave a schema-less directory."""
    lake = ParquetLake(spark, str(tmp_path / "lake"), GNOSIS)
    empty = spark.createDataFrame([], "slot long, payload string, "
                                  "payload_hash string, retrieved_at timestamp")
    lake.write("raw_blocks", empty)
    assert not lake.exists("raw_blocks")
    # and a later real write works + reads fine
    from beacon_indexer_spark.schemas.raw import raw_envelope

    lake.write(
        "raw_blocks",
        spark.createDataFrame(
            [FX.raw_row(SLOT0, FX.block_payload(SLOT0))], schema=raw_envelope()
        ),
    )
    assert lake.read("raw_blocks").count() == 1
