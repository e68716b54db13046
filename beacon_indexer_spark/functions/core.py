"""Core helpers: latest-wins dedup, slot clock, payload hashing, hex math.

Reference parity (citations into /root/reference):
- ``latest``        — ReplacingMergeTree + FINAL dedup
                      (src/services/transformer.py:356-367)
- ``payload_hash``  — sha256 of canonical JSON truncated to 16 hex chars
                      (src/loaders/base.py:17-31)
- ``slot_timestamp``— genesis + slot*seconds_per_slot
                      (src/utils/time_utils.py:5-8)
- ``popcount_hex``  — sync-committee participation bit count
                      (src/parsers/fork_base.py:141-161)
- ``hex_to_long``   — safe_int accepting "0x.." and decimal strings
                      (src/parsers/fork_base.py:210-222)
- ``hex_byte_length`` — len(hex)//2 (src/parsers/data_column_sidecars.py:67-74)
- ``last_slot_of_day`` — daily validator snapshot predicate
                      (src/utils/time_utils.py:10-27)
- ``run_concurrently`` — independent Spark actions from driver threads
"""

from __future__ import annotations

import hashlib
import json
from collections.abc import Callable, Sequence
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

ColumnOrName = Column | str


def _col(c: ColumnOrName) -> Column:
    return F.col(c) if isinstance(c, str) else c


# ---------------------------------------------------------------------------
# latest-wins dedup (ReplacingMergeTree semantics)
# ---------------------------------------------------------------------------

def latest(df: DataFrame, keys: Sequence[str], version: str) -> DataFrame:
    """Keep the newest row per key — the engine's ReplacingMergeTree+FINAL.

    Every reader of an append-only table MUST go through this (forgetting it
    silently double-counts; the reference has the identical trap with FINAL).

    ``groupBy(keys).agg(max(struct(version, *rest)))``: partial aggregation
    combines map-side, so only one candidate row per key per partition is
    shuffled — shuffle volume is O(distinct keys), not O(rows). The input
    column order is kept. Every non-key column must be orderable (no map
    columns: they cannot sit inside the max struct).

    Ties on ``version`` break deterministically by the remaining columns
    (struct comparison is lexicographic field-by-field).
    """
    keys = list(keys)
    rest = [c for c in df.columns if c not in keys]
    if version not in rest:
        raise ValueError(f"version column {version!r} must not be a key")
    ordered = [version] + [c for c in rest if c != version]
    packed = df.groupBy(*keys).agg(F.max(F.struct(*[F.col(c) for c in ordered])).alias("__v"))
    return packed.select(*keys, *[F.col(f"__v.{c}").alias(c) for c in ordered]).select(
        *df.columns
    )


# ---------------------------------------------------------------------------
# canonical payload hash
# ---------------------------------------------------------------------------

def canonical_json(data) -> str:
    """Canonical JSON exactly as the reference serializes before hashing:
    sorted keys, compact separators (src/loaders/base.py:26)."""
    return json.dumps(data, sort_keys=True, separators=(",", ":"))


def payload_hash(data) -> str:
    """sha256(canonical_json)[:16] — the dedup identity of a payload.

    Computed in the Python fetch layer (driver or mapPartitions) so the
    canonicalization byte-for-byte matches the reference.
    """
    return hashlib.sha256(canonical_json(data).encode()).hexdigest()[:16]


def payload_hash_col(payload: ColumnOrName) -> Column:
    """Column form: sha256 of an *already canonical* JSON string, 16 hex
    chars. Only equivalent to :func:`payload_hash` when the column was
    serialized canonically (our fetch layer guarantees this)."""
    return F.substring(F.sha2(_col(payload), 256), 1, 16)


# ---------------------------------------------------------------------------
# slot clock
# ---------------------------------------------------------------------------

def slot_timestamp(
    slot: ColumnOrName, genesis_time: int, seconds_per_slot: int
) -> Column:
    """slot → UTC timestamp: ``genesis_time + slot * seconds_per_slot``."""
    return F.timestamp_seconds(
        F.lit(genesis_time) + _col(slot).cast("long") * F.lit(seconds_per_slot)
    )


def last_slot_of_day(
    slot: ColumnOrName, genesis_time: int, seconds_per_slot: int
) -> Column:
    """True when ``slot`` is the last slot of its UTC day — the daily
    validator-snapshot predicate, as a pure column expression
    (date(ts(slot)) != date(ts(slot+1)))."""
    s = _col(slot).cast("long")
    return F.to_date(slot_timestamp(s, genesis_time, seconds_per_slot)) != F.to_date(
        slot_timestamp(s + F.lit(1), genesis_time, seconds_per_slot)
    )


# ---------------------------------------------------------------------------
# hex / string math
# ---------------------------------------------------------------------------

def _strip0x(c: Column) -> Column:
    return F.regexp_replace(F.lower(c), "^0x", "")


def hex_to_long(c: ColumnOrName, default: int | None = 0) -> Column:
    """Parse "0x1a" hex or "26" decimal strings to long; non-parsable →
    ``default``. ANSI-safe (try_cast, no exceptions on bad input)."""
    c = _col(c)
    stripped = _strip0x(c)
    as_hex = F.conv(stripped, 16, 10).try_cast("long")
    as_dec = c.try_cast("long")
    parsed = F.when(F.lower(c).startswith("0x"), as_hex).otherwise(as_dec)
    if default is None:
        return parsed
    return F.coalesce(parsed, F.lit(default).cast("long"))


def safe_int_col(c: ColumnOrName, default: int = 0) -> Column:
    """Reference ``safe_int`` (src/parsers/fork_base.py:210-222)."""
    return hex_to_long(c, default)


def safe_str_col(c: ColumnOrName, default: str = "") -> Column:
    """Reference ``safe_str`` — None → default."""
    return F.coalesce(_col(c).cast("string"), F.lit(default))


# popcount of each hex digit, indexed '0'..'f' → digit '0'..'4'
_HEX_DIGITS = "0123456789abcdef"
_POPCOUNTS = "0112122312232334"


def popcount_hex(c: ColumnOrName) -> Column:
    """Count 1-bits of an arbitrary-length hex string (e.g. a 512-bit
    sync-committee bitfield, which overflows any integer type).

    Pure expression, no UDF: map each hex digit to its popcount via
    ``translate``, then sum the digit characters. Runs in whole-stage
    codegen; length-independent.
    """
    h = _strip0x(_col(c))
    mapped = F.translate(h, _HEX_DIGITS, _POPCOUNTS)
    return F.aggregate(
        F.split(mapped, ""),
        F.lit(0),
        lambda acc, x: acc + F.coalesce(x.try_cast("int"), F.lit(0)),
    )


def hex_byte_length(c: ColumnOrName) -> Column:
    """Byte length of a hex string: len(strip0x)/2
    (src/parsers/data_column_sidecars.py:67-74)."""
    return (F.length(_strip0x(_col(c))) / 2).cast("long")


def hex_array_byte_length(c: ColumnOrName) -> Column:
    """Total byte length over an array<string> of hex blobs."""
    return F.aggregate(
        _col(c),
        F.lit(0).cast("long"),
        lambda acc, x: acc + (F.length(F.regexp_replace(F.lower(x), "^0x", "")) / 2).cast("long"),
    )


# ---------------------------------------------------------------------------
# driver threads
# ---------------------------------------------------------------------------

def run_concurrently(thunks: Sequence[Callable], max_workers: int) -> list:
    """Call independent zero-argument thunks from a pool of at most
    ``max_workers`` driver threads; results come back in argument order.
    Spark runs jobs from separate driver threads concurrently, so their
    jobs interleave on the scheduler. Threads inherit the caller's local
    properties and session tags. Every call settles before the first
    failure, in argument order, is re-raised."""
    inherit = inheritable_thread_target(SparkSession.active())
    with ThreadPoolExecutor(max_workers=max_workers) as pool:
        futs = [pool.submit(inherit(fn)) for fn in thunks]
        return [f.result() for f in futs]
