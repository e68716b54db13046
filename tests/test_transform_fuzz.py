"""Fuzz the block transform: arbitrary payload damage must never throw.

The reference's parsers are wrapped in try/except-per-row (malformed →
dropped); our column-expression transform must behave the same: any
JSON damage yields nulls/zero rows, never an exception, and the blocks
table keeps exactly one row per slot whose message parsed.
"""

from __future__ import annotations

import copy

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from beacon_indexer_spark.config import GNOSIS
from beacon_indexer_spark.plans import transform as T
from beacon_indexer_spark.schemas.raw import raw_envelope
from tests import fixtures as FX

SLOT0 = 27_000_000


def _damage(payload: dict, ops: list[tuple[int, str]]) -> dict:
    """Apply deterministic structural damage picked by hypothesis."""
    p = copy.deepcopy(payload)
    body = p.get("data", {}).get("message", {}).get("body", {})
    for kind_idx, field in ops:
        kind = kind_idx % 6
        if kind == 0:
            body.pop(field, None)                    # drop a body field
        elif kind == 1:
            body[field] = None                       # null it
        elif kind == 2:
            body[field] = "not-a-struct"             # wrong type
        elif kind == 3:
            body[field] = []                         # empty array
        elif kind == 4:
            body[field] = {"unexpected": "object"}   # object for array
        elif kind == 5:
            p.pop("version", None)                   # drop fork hint
    return p


_FIELDS = st.sampled_from([
    "attestations", "deposits", "voluntary_exits", "proposer_slashings",
    "attester_slashings", "sync_aggregate", "execution_payload",
    "bls_to_execution_changes", "blob_kzg_commitments", "execution_requests",
    "eth1_data",
])


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
@given(st.lists(st.tuples(st.integers(min_value=0, max_value=5), _FIELDS),
                min_size=0, max_size=6),
       st.booleans())
def test_damaged_payloads_never_throw(spark, ops, corrupt_json):
    base = FX.block_payload(SLOT0, version="deneb")
    damaged = _damage(base, ops)
    rows = [
        FX.raw_row(SLOT0, damaged),
        FX.raw_row(SLOT0 + 1, FX.block_payload(SLOT0 + 1)),  # healthy control
    ]
    if corrupt_json:
        rows.append(FX.raw_row(SLOT0 + 2, "}{ total garbage"))
    raw = spark.createDataFrame(rows, schema=raw_envelope())
    out = T.transform_blocks(raw, GNOSIS, insert_version=1)

    blocks = out["blocks"].collect()
    slots = sorted(r["slot"] for r in blocks)
    # healthy block always survives; damaged one survives iff its message
    # object still parsed (wrong-typed body fields null out, never raise)
    assert SLOT0 + 1 in slots
    assert len(slots) <= 2 + (0 if not corrupt_json else 0)
    for r in blocks:
        # counts are always non-negative ints, popcount never nulls
        assert r["attestations_count"] >= 0
        assert r["sync_aggregate_participation"] >= 0

    # child tables collect without errors and only reference surviving slots
    for name in ("attestations", "transactions", "withdrawals"):
        child_slots = {r["slot"] for r in out[name].collect()}
        assert child_slots <= {SLOT0, SLOT0 + 1}
    out.unpersist()


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
@given(st.integers(min_value=0, max_value=2**32))
def test_unknown_version_string_roundtrips(spark, seed):
    """Unknown fork names pass through the version column untouched
    (reference falls back to the latest parser; our superset parse is
    fork-agnostic)."""
    payload = FX.block_payload(SLOT0)
    payload["version"] = f"futurefork_{seed}"
    raw = spark.createDataFrame(
        [FX.raw_row(SLOT0, payload)], schema=raw_envelope()
    )
    out = T.transform_blocks(raw, GNOSIS, tables=["blocks"], insert_version=1)
    assert out["blocks"].collect()[0]["version"] == f"futurefork_{seed}"
