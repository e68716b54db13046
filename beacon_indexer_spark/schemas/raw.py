"""Raw (Load-stage) table schemas.

Every slot-based raw table shares the envelope (reference
src/loaders/base.py:48-57, migrations/003_raw_tables.sql:2-106):
``(slot, payload, payload_hash, retrieved_at)`` with dedup key
``(slot, payload_hash)`` and latest-wins version ``retrieved_at``. The
``payload`` is the verbatim canonical-JSON API response. The reference's
optional ``block_root`` column of ``raw_blocks`` is not declared: no
fetcher fills it, and the root stays readable from the payload.
"""

from __future__ import annotations

from pyspark.sql import types as T

RAW_KEY = ("slot", "payload_hash")
RAW_VERSION = "retrieved_at"


def raw_envelope() -> T.StructType:
    return T.StructType([
        T.StructField("slot", T.LongType(), False),
        T.StructField("payload", T.StringType(), True),
        T.StructField("payload_hash", T.StringType(), False),
        T.StructField("retrieved_at", T.TimestampType(), False),
    ])


RAW_BLOCKS = raw_envelope()
RAW_VALIDATORS = raw_envelope()
RAW_REWARDS = raw_envelope()
RAW_PENDING_CONSOLIDATIONS = raw_envelope()
RAW_PENDING_DEPOSITS = raw_envelope()
RAW_PENDING_PARTIAL_WITHDRAWALS = raw_envelope()
RAW_DATA_COLUMN_SIDECARS = raw_envelope()
RAW_BLOB_SIDECARS = raw_envelope()

# one-row config tables: payload JSON kept verbatim
RAW_GENESIS = T.StructType(
    [
        T.StructField("payload", T.StringType(), True),
        T.StructField("payload_hash", T.StringType(), False),
        T.StructField("retrieved_at", T.TimestampType(), False),
    ]
)
RAW_SPECS = RAW_GENESIS

RAW_TABLES: dict[str, T.StructType] = {
    "raw_blocks": RAW_BLOCKS,
    "raw_validators": RAW_VALIDATORS,
    "raw_rewards": RAW_REWARDS,
    "raw_pending_consolidations": RAW_PENDING_CONSOLIDATIONS,
    "raw_pending_deposits": RAW_PENDING_DEPOSITS,
    "raw_pending_partial_withdrawals": RAW_PENDING_PARTIAL_WITHDRAWALS,
    "raw_data_column_sidecars": RAW_DATA_COLUMN_SIDECARS,
    "raw_blob_sidecars": RAW_BLOB_SIDECARS,
    "raw_genesis": RAW_GENESIS,
    "raw_specs": RAW_SPECS,
}

# control plane (reference migrations/004_state_tables.sql)
LOAD_STATE_CHUNKS = T.StructType(
    [
        T.StructField("chunk_id", T.StringType(), False),
        T.StructField("start_slot", T.LongType(), False),
        T.StructField("end_slot", T.LongType(), False),
        T.StructField("loader_name", T.StringType(), False),
        T.StructField("status", T.StringType(), False),  # pending|claimed|completed|failed
        T.StructField("worker_id", T.StringType(), True),
        T.StructField("created_at", T.TimestampType(), False),
        T.StructField("updated_at", T.TimestampType(), False),
    ]
)

TRANSFORMER_PROGRESS = T.StructType(
    [
        T.StructField("raw_table_name", T.StringType(), False),
        T.StructField("start_slot", T.LongType(), False),
        T.StructField("end_slot", T.LongType(), False),
        T.StructField("status", T.StringType(), False),  # processing|completed|failed
        T.StructField("processed_count", T.LongType(), True),
        T.StructField("failed_count", T.LongType(), True),
        T.StructField("error_message", T.StringType(), True),
        T.StructField("processed_at", T.TimestampType(), False),
    ]
)
