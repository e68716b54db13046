"""Transform core tests: raw JSON fixtures → structured tables.

Mirrors the reference's parser unit tests (tests/test_pending_queues.py,
tests/test_fulu_support.py in /root/reference) — literal payloads in,
exact expected rows out — plus dedup/fork-column behavior the reference
covers via FINAL + object dispatch.
"""

from __future__ import annotations

import datetime as dt

import pytest

from beacon_indexer_spark.config import GNOSIS, MAINNET
from beacon_indexer_spark.measure import plan_nodes
from beacon_indexer_spark.plans import transform as T
from beacon_indexer_spark.schemas.raw import raw_envelope
from tests import fixtures as FX


def _raw_df(spark, rows):
    return spark.createDataFrame(rows, schema=raw_envelope())


@pytest.fixture(scope="module")
def block_tables(spark):
    """One deneb block with every phase0-capella-deneb entity populated."""
    rows = [FX.raw_row(27_000_000, FX.block_payload(27_000_000, version="deneb"))]
    return T.transform_blocks(_raw_df(spark, rows), GNOSIS, insert_version=1)


def test_blocks_row(block_tables):
    b = block_tables["blocks"].collect()
    assert len(b) == 1
    r = b[0].asDict()
    assert r["slot"] == 27_000_000
    assert r["proposer_index"] == 12345
    assert r["version"] == "deneb"
    assert r["attestations_count"] == 1
    assert r["deposits_count"] == 1
    assert r["voluntary_exits_count"] == 1
    assert r["proposer_slashings_count"] == 1
    assert r["attester_slashings_count"] == 1
    assert r["sync_aggregate_participation"] == 512  # 0xff * 64
    assert r["transactions_count"] == 2
    assert r["withdrawals_count"] == 1
    assert r["blob_kzg_commitments_count"] == 2
    assert r["execution_requests_count"] == 0
    assert r["eth1_deposit_count"] == 567
    # materialized slot clock: genesis + slot*spb
    expect_ts = dt.datetime.fromtimestamp(GNOSIS.slot_to_timestamp(27_000_000), dt.UTC)
    assert r["slot_timestamp"].replace(tzinfo=dt.UTC) == expect_ts
    assert r["insert_version"] == 1


def test_attestations_explode(block_tables):
    rows = block_tables["attestations"].collect()
    assert len(rows) == 1
    a = rows[0].asDict()
    assert a["attestation_index"] == 0
    assert a["committee_index"] == 0
    assert a["attestation_slot"] == 26_999_999
    assert a["source_epoch"] == 281249 and a["target_epoch"] == 281250


def test_deposits_and_exits(block_tables):
    d = block_tables["deposits"].collect()[0].asDict()
    assert d["amount"] == 32_000_000_000
    assert d["proof"] == ["0x" + "77" * 32, "0x" + "88" * 32]
    v = block_tables["voluntary_exits"].collect()[0].asDict()
    assert v["epoch"] == 281000 and v["validator_index"] == 777


def test_slashings(block_tables):
    p = block_tables["proposer_slashings"].collect()[0].asDict()
    assert p["header_1_proposer_index"] == 42 == p["header_2_proposer_index"]
    assert p["header_1_parent_root"] != p["header_2_parent_root"]
    a = block_tables["attester_slashings"].collect()[0].asDict()
    assert a["att_1_attesting_indices"] == [1, 2, 3]
    assert a["att_2_attesting_indices"] == [2, 3, 4]
    # intersection = actually slashed (reference src/parsers/phase0.py:128)
    assert a["slashed_validators"] == [2, 3]
    assert a["slashed_count"] == 2


def test_sync_aggregate_popcount(block_tables):
    s = block_tables["sync_aggregates"].collect()[0].asDict()
    assert s["participation_count"] == 512


def test_execution_payload_and_txs(block_tables):
    e = block_tables["execution_payloads"].collect()[0].asDict()
    assert e["block_number"] == 18_000_000
    assert e["gas_used"] == 12_345_678
    assert e["base_fee_per_gas"] == "7000000000"  # big-number-as-string
    assert e["blob_gas_used"] == 131072
    txs = sorted(
        (r.asDict() for r in block_tables["transactions"].collect()),
        key=lambda r: r["transaction_index"],
    )
    assert [t["transaction_index"] for t in txs] == [0, 1]
    assert txs[0]["tx_bytes"] == 5  # "0x02f871aabb" = 5 bytes
    # deterministic placeholder hash: 0x + 16 hex
    assert txs[0]["transaction_hash"].startswith("0x")
    assert len(txs[0]["transaction_hash"]) == 18
    assert txs[0]["transaction_hash"] != txs[1]["transaction_hash"]


def test_capella_deneb_children(block_tables):
    w = block_tables["withdrawals"].collect()[0].asDict()
    assert w["validator_index"] == 555 and w["amount"] == 1_234_567
    c = block_tables["bls_changes"].collect()[0].asDict()
    assert c["validator_index"] == 888
    k = sorted(r["commitment_index"] for r in block_tables["blob_commitments"].collect())
    assert k == [0, 1]


def test_execution_requests_only_when_nonempty(spark, block_tables):
    # deneb block: no execution_requests rows
    assert block_tables["execution_requests"].count() == 0
    rows = [
        FX.raw_row(
            27_500_000,
            FX.block_payload(27_500_000, version="electra", with_requests=True),
        )
    ]
    out = T.transform_blocks(
        _raw_df(spark, rows), GNOSIS, tables=["execution_requests", "blocks"], insert_version=2
    )
    assert set(out) == {"execution_requests", "blocks"}  # allow-list (P8)
    r = out["execution_requests"].collect()[0].asDict()
    assert r["deposits_count"] == 1
    assert r["withdrawals_count"] == 0 and r["consolidations_count"] == 0
    assert '"pubkey"' in r["payload"]
    assert out["blocks"].collect()[0]["execution_requests_count"] == 1


def test_phase0_block_nulls_out_later_forks(spark):
    rows = [FX.raw_row(100, FX.block_payload(100, version="phase0"))]
    out = T.transform_blocks(_raw_df(spark, rows), MAINNET, insert_version=1)
    b = out["blocks"].collect()[0].asDict()
    assert b["sync_aggregate_participation"] == 0
    assert b["transactions_count"] == 0
    assert out["sync_aggregates"].count() == 0
    assert out["execution_payloads"].count() == 0
    assert out["transactions"].count() == 0
    assert out["withdrawals"].count() == 0


def test_dedup_latest_wins(spark):
    """Re-org: same slot, different payload, later retrieved_at wins (P2)."""
    old = FX.raw_row(500, FX.block_payload(500, proposer=1), retrieved_at=FX.T0)
    new = FX.raw_row(
        500,
        FX.block_payload(500, proposer=2),
        retrieved_at=FX.T0 + dt.timedelta(minutes=5),
    )
    out = T.transform_blocks(_raw_df(spark, [old, new]), MAINNET, tables=["blocks"])
    rows = out["blocks"].collect()
    assert len(rows) == 1
    assert rows[0]["proposer_index"] == 2


def test_fork_column_fallback_from_slot(spark):
    """Payload without a version field → fork derived from slot (X15)."""
    payload = FX.block_payload(27_435_008, version="deneb")
    del payload["version"]
    out = T.transform_blocks(
        _raw_df(spark, [FX.raw_row(27_435_008, payload)]), GNOSIS, tables=["blocks"]
    )
    # Gnosis Fulu boundary: 27_435_008 = 1_714_688 * 16 → fulu
    assert out["blocks"].collect()[0]["version"] == "fulu"
    assert GNOSIS.fork_at_slot(27_435_008) == "fulu"
    assert GNOSIS.fork_at_slot(27_435_007) == "electra"


def test_malformed_payload_yields_no_rows(spark):
    out = T.transform_blocks(
        _raw_df(spark, [FX.raw_row(42, "not json {{{")]), MAINNET, tables=["blocks"]
    )
    assert out["blocks"].count() == 0


def test_validators_transform(spark):
    raw = _raw_df(spark, [FX.raw_row(1000, FX.VALIDATORS_PAYLOAD)])
    rows = sorted(
        (r.asDict() for r in T.transform_validators(raw, MAINNET, insert_version=1).collect()),
        key=lambda r: r["validator_index"],
    )
    assert len(rows) == 2
    v0, v1 = rows
    assert v0["balance"] == 32_000_000_000 and v0["slashed"] == 0
    assert v0["status"] == "active_ongoing"
    # FAR_FUTURE_EPOCH (2^64-1) overflows long → clamped to MAX_LONG sentinel
    assert v0["exit_epoch"] == T.MAX_LONG
    assert v0["withdrawable_epoch"] == T.MAX_LONG
    assert v1["slashed"] == 1 and v1["exit_epoch"] == 3


def test_rewards_transform(spark):
    raw = _raw_df(spark, [FX.raw_row(2000, FX.REWARDS_PAYLOAD)])
    r = T.transform_rewards(raw, MAINNET).collect()[0].asDict()
    assert r["proposer_index"] == 12345
    assert r["total"] == 45_000_000
    assert r["attestations"] == 40_000_000


def test_pending_queues(spark):
    c = T.transform_pending_consolidations(
        _raw_df(spark, [FX.raw_row(1, FX.PENDING_CONSOLIDATIONS_PAYLOAD)]), GNOSIS
    ).collect()[0].asDict()
    assert c["source_index"] == 100 and c["target_index"] == 200 and c["queue_index"] == 0

    d = T.transform_pending_deposits(
        _raw_df(spark, [FX.raw_row(1, FX.PENDING_DEPOSITS_PAYLOAD)]), GNOSIS
    ).collect()[0].asDict()
    assert d["amount"] == 1_000_000_000 and d["deposit_slot"] == 27_400_000

    w = T.transform_pending_partial_withdrawals(
        _raw_df(spark, [FX.raw_row(1, FX.PENDING_PARTIAL_WITHDRAWALS_PAYLOAD)]), GNOSIS
    ).collect()[0].asDict()
    assert w["validator_index"] == 5001 and w["withdrawable_epoch"] == 1_500_000

    empty = T.transform_pending_deposits(
        _raw_df(spark, [FX.raw_row(2, {"data": []})]), GNOSIS
    )
    assert empty.count() == 0


def test_data_column_sidecars(spark):
    """Fulu sidecar metadata arithmetic (reference tests/test_fulu_support.py:40-69)."""
    raw = _raw_df(spark, [FX.raw_row(27_435_008, FX.DATA_COLUMN_SIDECARS_PAYLOAD)])
    r = T.transform_data_column_sidecars(raw, GNOSIS).collect()[0].asDict()
    assert r["column_index"] == 2
    assert r["column_cells"] == 2
    assert r["column_bytes"] == 4  # 0xaaaa + 0xbbbb = 2+2 bytes
    assert r["kzg_commitments_count"] == 2 and r["kzg_proofs_count"] == 1
    assert r["header_slot"] == 27_435_008 and r["proposer_index"] == 42
    assert len(r["column_hash"]) == 64
    assert r["column_hash"] != r["commitments_hash"]


def test_blob_sidecars(spark):
    payload = {
        "data": [
            {
                "index": "0",
                "blob": "0x" + "ab" * 10,
                "kzg_commitment": "0x" + "0b" * 48,
                "kzg_proof": "0x" + "0c" * 48,
                "signed_block_header": {
                    "message": {"slot": "9000000", "proposer_index": "7", "body_root": "0x1"}
                },
            }
        ]
    }
    raw = _raw_df(spark, [FX.raw_row(9_000_000, payload)])
    r = T.transform_blob_sidecars(raw, MAINNET).collect()[0].asDict()
    assert r["blob_index"] == 0
    assert r["blob_size"] == 10
    assert r["blob_hash"].startswith("0x") and len(r["blob_hash"]) == 18
    assert r["proposer_index"] == 7


def test_allowlist_prunes_parse_schema(spark):
    """A narrow allow-list parses only the needed JSON subtrees (P8 +
    predicate/schema pruning) and produces identical rows to the full
    superset parse."""
    from beacon_indexer_spark.schemas.payloads import block_payload_schema

    pruned = block_payload_schema({"attestations"})
    body_fields = {
        f.name
        for f in pruned["data"].dataType["message"].dataType["body"].dataType.fields
    }
    assert body_fields == {"attestations"}
    full_fields = {
        f.name
        for f in block_payload_schema(None)["data"].dataType["message"]
        .dataType["body"].dataType.fields
    }
    assert "execution_payload" in full_fields and "deposits" in full_fields

    rows = [FX.raw_row(27_000_000, FX.block_payload(27_000_000, n_attestations=3))]
    raw = _raw_df(spark, rows)
    narrow = T.transform_blocks(raw, GNOSIS, tables=["attestations"], insert_version=1)
    assert set(narrow) == {"attestations"}
    full = T.transform_blocks(raw, GNOSIS, insert_version=1)
    a = sorted(repr(sorted(r.asDict().items())) for r in narrow["attestations"].collect())
    b = sorted(repr(sorted(r.asDict().items())) for r in full["attestations"].collect())
    assert a == b and len(a) == 3


def test_parse_cache_is_narrow_and_adaptively_sized(spark):
    """A small blocks range's cached parse is coalesced to at most
    ``defaultParallelism`` partitions (adaptive execution sizes the cached
    plan), and a fan-out table's scan of it reads only its own body
    subtree: the voluntary_exits scan carries no execution payload and no
    attestations."""
    rows = [FX.raw_row(27_000_000 + i, FX.block_payload(27_000_000 + i, version="deneb"))
            for i in range(4)]
    out = T.transform_blocks(_raw_df(spark, rows), GNOSIS, insert_version=1)
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    try:
        assert out["blocks"].count() == 4  # fills the cache
        new = set(jsc.getPersistentRDDs().keys()) - before
        assert len(new) == 1, new
        parts = jsc.getPersistentRDDs()[new.pop()].getNumPartitions()
        shuffle_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        assert parts <= spark.sparkContext.defaultParallelism and parts < shuffle_parts, parts

        exits = out["voluntary_exits"]
        scans = [n for n in plan_nodes(exits._jdf.queryExecution().executedPlan())
                 if n.getClass().getSimpleName() == "InMemoryTableScanExec"]
        assert scans, "voluntary_exits does not read the parse cache"
        read = []
        for scan in scans:
            attrs = scan.output().iterator()
            while attrs.hasNext():
                a = attrs.next()
                read.append(f"{a.name()}:{a.dataType().json()}")
        assert not [r for r in read if "execution_payload" in r or "attestations" in r], read
        assert exits.count() == 4
    finally:
        out.unpersist()
