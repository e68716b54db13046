"""The transform core: raw JSON rows → structured analytic tables.

This re-expresses the reference's parser chain (SURVEY §2.10, reference
src/parsers/* — phase0⊂altair⊂bellatrix⊂capella⊂deneb⊂electra⊂fulu) as pure
DataFrame column expressions:

- ONE ``from_json`` with the fork-superset schema parses a mixed-fork batch
  in a single pass (absent later-fork fields come back null);
- the fork is a **column** derived from the payload's ``version`` field,
  falling back to the slot→fork schedule (reference X15 object dispatch →
  conditional projection);
- each structured table is a ``select``/``posexplode`` projection — the
  row-at-a-time dict parsing that bottlenecks the reference disappears into
  whole-stage codegen.

Scale notes: each transform's ``dedup_raw`` is the one wide operation and
the only latest-wins step (shuffle by slot, map-side combined via max_by);
callers pass the raw range as read. Every projection afterwards is narrow.
``transform_blocks`` caches its deduped+parsed frame, so its 13 tables
share one parse, and returns each table as a deferred build. The cached
frame is flat, one column per message and body field (``_parse_blocks``),
so each table scans only its own subtrees of the cache; adaptive
execution sizes the cache's partitions from the data (``session``), and
each table's write runs that many tasks.
``plans.pipeline.write_tables`` writes each table once and counts its rows
while writing: first ``blocks``, whose write fills the cache, then the
other twelve, built and written from a bounded pool of driver threads, so
Spark runs their small jobs concurrently. It then releases the cache.
"""

from __future__ import annotations

import time

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from beacon_indexer_spark.config import ForkSchedule, FORK_ORDER
from beacon_indexer_spark.functions.core import (
    hex_array_byte_length,
    hex_byte_length,
    latest,
    popcount_hex,
    safe_int_col,
    slot_timestamp,
)
from beacon_indexer_spark.schemas import payloads as P

# sentinel for epochs that overflow signed 64-bit (FAR_FUTURE_EPOCH = 2^64-1,
# reference src/services/fork.py:8; SURVEY §7 "UInt64 edge")
MAX_LONG = 2**63 - 1


def epoch_col(c: Column | str) -> Column:
    """Parse an epoch string; overflow (FAR_FUTURE) and malformed → MAX_LONG
    sentinel (documented clamp — ordering semantics preserved: FAR_FUTURE
    sorts after every real epoch)."""
    c = F.col(c) if isinstance(c, str) else c
    return F.coalesce(c.try_cast("long"), F.lit(MAX_LONG))


def fork_from_slot(slot: Column, schedule: ForkSchedule) -> Column:
    """Slot → fork name via the broadcastable fork schedule (X15)."""
    epoch = slot.cast("long") / F.lit(schedule.slots_per_epoch)
    out = F.lit(FORK_ORDER[0])
    for fork, act_epoch, _ in schedule.as_rows():
        out = F.when(epoch >= F.lit(act_epoch), F.lit(fork)).otherwise(out)
    return out


def _stamp(df: DataFrame, schedule: ForkSchedule, insert_version: int) -> DataFrame:
    """Materialized columns every structured table carries: slot_timestamp
    (genesis + slot*spb) and insert_version (latest-wins version for
    re-transforms) — reference migrations/005_fork_phase0.sql:25-30."""
    return df.withColumn(
        "slot_timestamp",
        slot_timestamp("slot", schedule.genesis_time, schedule.seconds_per_slot),
    ).withColumn("insert_version", F.lit(insert_version).cast("long"))


def dedup_raw(raw: DataFrame) -> DataFrame:
    """Latest payload per slot (reference P2 window-dedup read,
    src/services/transformer.py:356-367)."""
    return latest(raw, ["slot"], "retrieved_at")


class TransformResult(dict):
    """{table: build}: each value builds its table's DataFrame (plan only,
    no Spark job) and ``result[table]`` calls it; ``result[table] = df``
    stores a built frame. ``plans.pipeline.write_tables`` writes the first
    table alone, since that write fills the shared cached parse frame
    (``parsed``), then calls the other builds, and ``sink.write``, from
    pool threads. Call ``unpersist()`` once the tables are written
    (otherwise every transformed range leaks one cached DataFrame for the
    session lifetime). Single-table results carry no parse cache
    (``parsed`` stays None)."""

    parsed: DataFrame | None = None

    def __getitem__(self, table: str) -> DataFrame:
        return super().__getitem__(table)()

    def __setitem__(self, table: str, df: DataFrame) -> None:
        super().__setitem__(table, lambda: df)

    def unpersist(self) -> None:
        if self.parsed is not None:
            self.parsed.unpersist()
            self.parsed = None


# ---------------------------------------------------------------------------
# blocks family (raw_blocks → 13 tables)
# ---------------------------------------------------------------------------

# the message fields the builders read besides the body
_MESSAGE_FIELDS = ("proposer_index", "parent_root", "state_root")


def _parse_blocks(
    raw: DataFrame, schedule: ForkSchedule, tables: set[str] | None = None
) -> DataFrame:
    """Dedup + single-pass superset parse + fork column. The parse schema is
    pruned to the requested tables' fields (schemas/payloads.py) so a narrow
    allow-list never tokenizes the unrequested JSON subtrees.

    The frame is flat: ``slot``, ``version``, ``signature``,
    ``has_message``, the message fields in ``_MESSAGE_FIELDS`` and one
    column per body field of the pruned schema. ``transform_blocks``
    caches it, and a cached frame's scan prunes top-level columns only, so
    each table's scan reads just the body subtrees it projects."""
    schema = P.block_payload_schema(tables)
    body_fields = schema["data"].dataType["message"].dataType["body"].dataType.names
    msg = F.col("p.data.message")
    return dedup_raw(raw).select(
        F.col("slot").cast("long").alias("slot"),
        F.from_json("payload", schema).alias("p"),
    ).select(
        "slot",
        F.coalesce(F.col("p.version"), fork_from_slot(F.col("slot"), schedule)).alias(
            "version"
        ),
        F.col("p.data.signature").alias("signature"),
        msg.isNotNull().alias("has_message"),
        *(msg[f].alias(f) for f in _MESSAGE_FIELDS),
        *(msg["body"][f].alias(f) for f in body_fields),
    )


def transform_blocks(
    raw: DataFrame,
    schedule: ForkSchedule,
    tables: list[str] | None = None,
    insert_version: int | None = None,
) -> TransformResult:
    """raw_blocks → {blocks, attestations, deposits, voluntary_exits,
    proposer_slashings, attester_slashings, sync_aggregates,
    execution_payloads, transactions, withdrawals, bls_changes,
    blob_commitments, execution_requests}.

    ``tables`` is the loader allow-list (reference P8); None = all. Each
    table comes back as a deferred build (``TransformResult``), ``blocks``
    first. The parse frame is cached for the fan-out; call ``unpersist()``
    on the result once its tables are written.
    """
    iv = insert_version if insert_version is not None else time.time_ns()
    want = set(tables) if tables is not None else None
    parsed = _parse_blocks(raw, schedule, want).cache()

    def fan_out(arr: Column, index: str, alias: str, *cols: Column) -> DataFrame:
        """One row per element (``alias``) of ``arr``, with its position."""
        rows = parsed.select("slot", F.posexplode(arr).alias(index, alias))
        return rows.select("slot", F.col(index).cast("int"), *cols)

    cnt = lambda c: F.coalesce(F.size(c), F.lit(0)).cast("int")  # noqa: E731

    def _build_blocks() -> DataFrame:
        return parsed.filter(F.col("has_message")).select(
            "slot",
            safe_int_col("proposer_index").alias("proposer_index"),
            F.col("parent_root"),
            F.col("state_root"),
            F.col("signature"),
            F.col("version"),
            F.col("randao_reveal"),
            F.col("graffiti"),
            F.col("eth1_data.deposit_root").alias("eth1_deposit_root"),
            safe_int_col("eth1_data.deposit_count").alias("eth1_deposit_count"),
            F.col("eth1_data.block_hash").alias("eth1_block_hash"),
            cnt(F.col("attestations")).alias("attestations_count"),
            cnt(F.col("deposits")).alias("deposits_count"),
            cnt(F.col("voluntary_exits")).alias("voluntary_exits_count"),
            cnt(F.col("proposer_slashings")).alias("proposer_slashings_count"),
            cnt(F.col("attester_slashings")).alias("attester_slashings_count"),
            F.coalesce(
                popcount_hex(F.col("sync_aggregate.sync_committee_bits")), F.lit(0)
            ).cast("int").alias("sync_aggregate_participation"),
            cnt(F.col("execution_payload.transactions")).alias("transactions_count"),
            cnt(F.col("execution_payload.withdrawals")).alias("withdrawals_count"),
            cnt(F.col("blob_kzg_commitments")).alias("blob_kzg_commitments_count"),
            (
                cnt(F.col("execution_requests.deposits"))
                + cnt(F.col("execution_requests.withdrawals"))
                + cnt(F.col("execution_requests.consolidations"))
            ).alias("execution_requests_count"),
        )

    def _build_attestations() -> DataFrame:
        return fan_out(
            F.col("attestations"), "attestation_index", "a",
            safe_int_col("a.data.index").alias("committee_index"),
            F.col("a.aggregation_bits").alias("aggregation_bits"),
            F.col("a.committee_bits").alias("committee_bits"),  # Electra+
            F.col("a.signature").alias("signature"),
            safe_int_col("a.data.slot").alias("attestation_slot"),
            F.col("a.data.beacon_block_root").alias("beacon_block_root"),
            safe_int_col("a.data.source.epoch").alias("source_epoch"),
            F.col("a.data.source.root").alias("source_root"),
            safe_int_col("a.data.target.epoch").alias("target_epoch"),
            F.col("a.data.target.root").alias("target_root"),
        )

    def _build_deposits() -> DataFrame:
        return fan_out(
            F.col("deposits"), "deposit_index", "d",
            F.col("d.data.pubkey").alias("pubkey"),
            F.col("d.data.withdrawal_credentials").alias("withdrawal_credentials"),
            safe_int_col("d.data.amount").alias("amount"),
            F.col("d.data.signature").alias("signature"),
            F.col("d.proof").alias("proof"),
        )

    def _build_voluntary_exits() -> DataFrame:
        return fan_out(
            F.col("voluntary_exits"), "exit_index", "v",
            safe_int_col("v.message.epoch").alias("epoch"),
            safe_int_col("v.message.validator_index").alias("validator_index"),
            F.col("v.signature").alias("signature"),
        )

    def _build_proposer_slashings() -> DataFrame:
        def _header(side: int) -> list[Column]:
            h = F.col(f"s.signed_header_{side}")
            return [
                safe_int_col(h["message"]["slot"]).alias(f"header_{side}_slot"),
                safe_int_col(h["message"]["proposer_index"]).alias(
                    f"header_{side}_proposer_index"
                ),
                h["message"]["parent_root"].alias(f"header_{side}_parent_root"),
                h["message"]["state_root"].alias(f"header_{side}_state_root"),
                h["message"]["body_root"].alias(f"header_{side}_body_root"),
                h["signature"].alias(f"header_{side}_signature"),
            ]

        return fan_out(
            F.col("proposer_slashings"), "slashing_index", "s", *_header(1), *_header(2)
        )

    def _build_attester_slashings() -> DataFrame:
        def _att_side(side: int) -> list[Column]:
            a = F.col(f"s.attestation_{side}")
            idxs = F.transform(a["attesting_indices"], lambda x: safe_int_col(x))
            return [
                idxs.alias(f"att_{side}_attesting_indices"),
                safe_int_col(a["data"]["slot"]).alias(f"att_{side}_slot"),
                safe_int_col(a["data"]["index"]).alias(f"att_{side}_index"),
                a["data"]["beacon_block_root"].alias(f"att_{side}_beacon_block_root"),
                safe_int_col(a["data"]["source"]["epoch"]).alias(f"att_{side}_source_epoch"),
                safe_int_col(a["data"]["target"]["epoch"]).alias(f"att_{side}_target_epoch"),
                a["signature"].alias(f"att_{side}_signature"),
            ]

        slashed = F.array_sort(
            F.array_intersect(
                F.transform(F.col("s.attestation_1.attesting_indices"), lambda x: safe_int_col(x)),
                F.transform(F.col("s.attestation_2.attesting_indices"), lambda x: safe_int_col(x)),
            )
        )
        return fan_out(
            F.col("attester_slashings"), "slashing_index", "s",
            *_att_side(1),
            *_att_side(2),
            slashed.alias("slashed_validators"),
            F.size(slashed).cast("int").alias("slashed_count"),
        )

    def _build_sync_aggregates() -> DataFrame:
        bits = F.col("sync_aggregate.sync_committee_bits")
        sagg = parsed.filter(bits.isNotNull())
        return sagg.select(
            "slot",
            bits.alias("sync_committee_bits"),
            F.col("sync_aggregate.sync_committee_signature").alias(
                "sync_committee_signature"
            ),
            popcount_hex(bits)
            .cast("int")
            .alias("participation_count"),
        )

    ep = F.col("execution_payload")

    def _build_execution_payloads() -> DataFrame:
        epl = parsed.filter(ep["block_hash"].isNotNull())
        return epl.select(
            "slot",
            safe_int_col(ep["block_number"]).alias("block_number"),
            ep["parent_hash"].alias("parent_hash"),
            ep["fee_recipient"].alias("fee_recipient"),
            ep["state_root"].alias("state_root"),
            ep["receipts_root"].alias("receipts_root"),
            ep["logs_bloom"].alias("logs_bloom"),
            ep["prev_randao"].alias("prev_randao"),
            safe_int_col(ep["gas_limit"]).alias("gas_limit"),
            safe_int_col(ep["gas_used"]).alias("gas_used"),
            safe_int_col(ep["timestamp"]).alias("timestamp"),
            ep["extra_data"].alias("extra_data"),
            # big-number-as-string (reference 007_fork_bellatrix.sql:16)
            F.coalesce(ep["base_fee_per_gas"], F.lit("0")).alias("base_fee_per_gas"),
            ep["block_hash"].alias("block_hash"),
            F.coalesce(F.size(ep["transactions"]), F.lit(0)).cast("int").alias(
                "transactions_count"
            ),
            F.coalesce(F.size(ep["withdrawals"]), F.lit(0)).cast("int").alias(
                "withdrawals_count"
            ),
            safe_int_col(ep["blob_gas_used"]).alias("blob_gas_used"),  # Deneb+
            safe_int_col(ep["excess_blob_gas"]).alias("excess_blob_gas"),
        )

    def _build_transactions() -> DataFrame:
        txs = parsed.select(
            "slot",
            safe_int_col(ep["block_number"]).alias("block_number"),
            ep["block_hash"].alias("block_hash"),
            F.posexplode(ep["transactions"]).alias("transaction_index", "tx"),
        )
        return txs.select(
            "slot",
            "block_number",
            "block_hash",
            F.col("transaction_index").cast("int"),
            # deterministic placeholder id, not keccak (reference F16 hashes
            # with Python hash() & 0xffffffff — explicitly a placeholder; we
            # hash the bytes so the id is stable across processes)
            F.concat(F.lit("0x"), F.substring(F.sha2(F.col("tx"), 256), 1, 16)).alias(
                "transaction_hash"
            ),
            F.col("tx").alias("tx_data"),
            hex_byte_length(F.col("tx")).alias("tx_bytes"),
        )

    def _build_withdrawals() -> DataFrame:
        return fan_out(
            ep["withdrawals"], "withdrawal_index", "w",
            safe_int_col("w.index").alias("index"),
            safe_int_col("w.validator_index").alias("validator_index"),
            F.col("w.address").alias("address"),
            safe_int_col("w.amount").alias("amount"),
        )

    def _build_bls_changes() -> DataFrame:
        return fan_out(
            F.col("bls_to_execution_changes"), "change_index", "c",
            safe_int_col("c.message.validator_index").alias("validator_index"),
            F.col("c.message.from_bls_pubkey").alias("from_bls_pubkey"),
            F.col("c.message.to_execution_address").alias("to_execution_address"),
            F.col("c.signature").alias("signature"),
        )

    def _build_blob_commitments() -> DataFrame:
        return fan_out(
            F.col("blob_kzg_commitments"), "commitment_index", "k", F.col("k").alias("commitment")
        )

    def _build_execution_requests() -> DataFrame:
        er = F.col("execution_requests")
        reqs = parsed.filter(
            (F.coalesce(F.size(er["deposits"]), F.lit(0)) > 0)
            | (F.coalesce(F.size(er["withdrawals"]), F.lit(0)) > 0)
            | (F.coalesce(F.size(er["consolidations"]), F.lit(0)) > 0)
        )
        return reqs.select(
            "slot",
            F.to_json(er).alias("payload"),
            F.coalesce(F.size(er["deposits"]), F.lit(0)).cast("int").alias("deposits_count"),
            F.coalesce(F.size(er["withdrawals"]), F.lit(0)).cast("int").alias(
                "withdrawals_count"
            ),
            F.coalesce(F.size(er["consolidations"]), F.lit(0)).cast("int").alias(
                "consolidations_count"
            ),
        )

    builders = {
        "blocks": _build_blocks,
        "attestations": _build_attestations,
        "deposits": _build_deposits,
        "voluntary_exits": _build_voluntary_exits,
        "proposer_slashings": _build_proposer_slashings,
        "attester_slashings": _build_attester_slashings,
        "sync_aggregates": _build_sync_aggregates,
        "execution_payloads": _build_execution_payloads,
        "transactions": _build_transactions,
        "withdrawals": _build_withdrawals,
        "bls_changes": _build_bls_changes,
        "blob_commitments": _build_blob_commitments,
        "execution_requests": _build_execution_requests,
    }

    def stamped(build):
        return lambda: _stamp(build(), schedule, iv)

    out = TransformResult({
        name: stamped(build) for name, build in builders.items()
        if want is None or name in want
    })
    out.parsed = parsed
    return out


# ---------------------------------------------------------------------------
# single-table transforms (snapshots, queues, sidecars, rewards)
# ---------------------------------------------------------------------------

def _transform_rows(
    raw: DataFrame,
    schedule: ForkSchedule,
    payload_schema,
    project: list[Column],
    insert_version: int | None,
    explode=F.explode,
) -> DataFrame:
    """Dedup → ``from_json`` → one row per ``data`` entry → project → stamp.

    ``explode`` is ``F.explode`` (entry as ``e``), ``F.posexplode`` (entry
    as ``e`` plus its ``queue_index``) or None (``data`` is one object:
    one row per slot, null payloads dropped)."""
    iv = insert_version if insert_version is not None else time.time_ns()
    data = F.from_json("payload", payload_schema)["data"]
    slot = F.col("slot").cast("long").alias("slot")
    deduped = dedup_raw(raw)
    if explode is None:
        rows = deduped.select(slot, data.alias("e")).filter(F.col("e").isNotNull())
    elif explode is F.posexplode:
        rows = deduped.select(slot, explode(data).alias("queue_index", "e"))
        project = [F.col("queue_index").cast("int"), *project]
    else:
        rows = deduped.select(slot, explode(data).alias("e"))
    return _stamp(rows.select("slot", *project), schedule, iv)


def transform_validators(
    raw: DataFrame, schedule: ForkSchedule, insert_version: int | None = None
) -> DataFrame:
    """raw_validators → validators. The ~400k-entry state snapshot that OOMs
    the reference's row-at-a-time parser (src/config.py:59-65) is a single
    explode here — Spark streams it through codegen."""
    cols = [
        safe_int_col("e.index").alias("validator_index"),
        safe_int_col("e.balance").alias("balance"),
        F.col("e.status").alias("status"),
        F.col("e.validator.pubkey").alias("pubkey"),
        F.col("e.validator.withdrawal_credentials").alias("withdrawal_credentials"),
        safe_int_col("e.validator.effective_balance").alias("effective_balance"),
        F.coalesce(F.col("e.validator.slashed").cast("int"), F.lit(0)).alias("slashed"),
        epoch_col("e.validator.activation_eligibility_epoch").alias(
            "activation_eligibility_epoch"
        ),
        epoch_col("e.validator.activation_epoch").alias("activation_epoch"),
        epoch_col("e.validator.exit_epoch").alias("exit_epoch"),
        epoch_col("e.validator.withdrawable_epoch").alias("withdrawable_epoch"),
    ]
    return _transform_rows(raw, schedule, P.VALIDATORS_PAYLOAD, cols, insert_version)


def transform_rewards(
    raw: DataFrame, schedule: ForkSchedule, insert_version: int | None = None
) -> DataFrame:
    """raw_rewards → rewards (data is a single dict → 1 row)."""
    cols = [
        safe_int_col(f"e.{c}").alias(c)
        for c in ("proposer_index", "total", "attestations", "sync_aggregate",
                  "proposer_slashings", "attester_slashings")
    ]
    return _transform_rows(raw, schedule, P.REWARDS_PAYLOAD, cols, insert_version,
                           explode=None)


def transform_pending_consolidations(
    raw: DataFrame, schedule: ForkSchedule, insert_version: int | None = None
) -> DataFrame:
    cols = [
        safe_int_col("e.source_index").alias("source_index"),
        safe_int_col("e.target_index").alias("target_index"),
    ]
    return _transform_rows(raw, schedule, P.PENDING_CONSOLIDATIONS_PAYLOAD, cols,
                           insert_version, explode=F.posexplode)


def transform_pending_deposits(
    raw: DataFrame, schedule: ForkSchedule, insert_version: int | None = None
) -> DataFrame:
    # entry "slot" is the deposit's origin slot, not the snapshot slot
    cols = [
        F.col("e.pubkey").alias("pubkey"),
        F.col("e.withdrawal_credentials").alias("withdrawal_credentials"),
        safe_int_col("e.amount").alias("amount"),
        F.col("e.signature").alias("signature"),
        safe_int_col("e.slot").alias("deposit_slot"),
    ]
    return _transform_rows(raw, schedule, P.PENDING_DEPOSITS_PAYLOAD, cols,
                           insert_version, explode=F.posexplode)


def transform_pending_partial_withdrawals(
    raw: DataFrame, schedule: ForkSchedule, insert_version: int | None = None
) -> DataFrame:
    cols = [
        safe_int_col("e.validator_index").alias("validator_index"),
        safe_int_col("e.amount").alias("amount"),
        epoch_col("e.withdrawable_epoch").alias("withdrawable_epoch"),
    ]
    return _transform_rows(raw, schedule, P.PENDING_PARTIAL_WITHDRAWALS_PAYLOAD, cols,
                           insert_version, explode=F.posexplode)


def transform_data_column_sidecars(
    raw: DataFrame, schedule: ForkSchedule, insert_version: int | None = None
) -> DataFrame:
    """raw_data_column_sidecars → data_column_sidecars (Fulu): per-sidecar
    metadata — cells/bytes/counts + sha256 identities of the column,
    commitments and proofs (canonical JSON of the string arrays)."""
    cols = [
        safe_int_col("e.index").alias("column_index"),
        safe_int_col("e.signed_block_header.message.proposer_index").alias("proposer_index"),
        safe_int_col("e.signed_block_header.message.slot").alias("header_slot"),
        F.col("e.signed_block_header.message.body_root").alias("body_root"),
        F.coalesce(F.size("e.column"), F.lit(0)).cast("int").alias("column_cells"),
        F.coalesce(hex_array_byte_length(F.col("e.column")), F.lit(0)).alias("column_bytes"),
        F.coalesce(F.size("e.kzg_commitments"), F.lit(0)).cast("int").alias(
            "kzg_commitments_count"
        ),
        F.coalesce(F.size("e.kzg_proofs"), F.lit(0)).cast("int").alias("kzg_proofs_count"),
        # canonical-JSON sha256 identities (reference F5): a JSON array of
        # strings is canonical as-is (no keys to sort) — to_json is compact
        F.sha2(F.to_json(F.col("e.column")), 256).alias("column_hash"),
        F.sha2(F.to_json(F.col("e.kzg_commitments")), 256).alias("commitments_hash"),
        F.sha2(F.to_json(F.col("e.kzg_proofs")), 256).alias("proofs_hash"),
    ]
    return _transform_rows(raw, schedule, P.DATA_COLUMN_SIDECARS_PAYLOAD, cols,
                           insert_version)


def transform_blob_sidecars(
    raw: DataFrame, schedule: ForkSchedule, insert_version: int | None = None
) -> DataFrame:
    """raw_blob_sidecars → blob_sidecars (Deneb): blob size + deterministic
    placeholder blob id (reference F16 semantics)."""
    cols = [
        safe_int_col("e.index").alias("blob_index"),
        F.col("e.kzg_commitment").alias("kzg_commitment"),
        F.col("e.kzg_proof").alias("kzg_proof"),
        F.coalesce(hex_byte_length(F.col("e.blob")), F.lit(0)).alias("blob_size"),
        F.concat(F.lit("0x"), F.substring(F.sha2(F.col("e.blob"), 256), 1, 16)).alias(
            "blob_hash"
        ),
        safe_int_col("e.signed_block_header.message.proposer_index").alias("proposer_index"),
    ]
    return _transform_rows(raw, schedule, P.BLOB_SIDECARS_PAYLOAD, cols, insert_version)


# registry: raw table name → transform entry point
TRANSFORMS = {
    "raw_blocks": transform_blocks,
    "raw_validators": transform_validators,
    "raw_rewards": transform_rewards,
    "raw_pending_consolidations": transform_pending_consolidations,
    "raw_pending_deposits": transform_pending_deposits,
    "raw_pending_partial_withdrawals": transform_pending_partial_withdrawals,
    "raw_data_column_sidecars": transform_data_column_sidecars,
    "raw_blob_sidecars": transform_blob_sidecars,
}
