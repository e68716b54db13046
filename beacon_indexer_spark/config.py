"""Engine configuration: networks, fork schedules, tuning constants.

Re-expresses the reference's network/fork auto-detection
(``src/services/fork.py:104-241,363-388`` in /root/reference) as plain data +
pure functions. The fork schedule becomes a small broadcast-ready table; the
``fork`` of a row is a *column* derived from ``slot`` (SURVEY §2.10 X15),
not an object-dispatch decision.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

# Sentinel used by consensus specs for "never activates"
# (reference src/services/fork.py:8). 2**64-1 overflows signed 64-bit —
# schedule epochs are kept as Python ints driver-side and compared before
# they ever reach a LongType column (SURVEY §7 "UInt64 edge").
FAR_FUTURE_EPOCH = 2**64 - 1

# Ordered fork names, oldest → newest (reference docs/ARCHITECTURE.md:113-126).
FORK_ORDER = ["phase0", "altair", "bellatrix", "capella", "deneb", "electra", "fulu"]


@dataclass(frozen=True)
class ForkSchedule:
    """Network timing + activation epochs per fork.

    ``epochs`` maps fork name → activation epoch; missing/FAR_FUTURE forks
    are treated as never-active. Slots-per-epoch and seconds-per-slot come
    from the specs table (reference src/loaders/specs.py).
    """

    network: str
    genesis_time: int
    seconds_per_slot: int
    slots_per_epoch: int
    epochs: dict[str, int] = field(default_factory=dict)

    def fork_at_slot(self, slot: int) -> str:
        epoch = slot // self.slots_per_epoch
        current = FORK_ORDER[0]
        for fork in FORK_ORDER:
            e = self.epochs.get(fork)
            if e is None or e >= FAR_FUTURE_EPOCH:
                continue
            if epoch >= e:
                current = fork
        return current

    def activation_slot(self, fork: str) -> int | None:
        """First slot of the fork, or None if never active."""
        e = self.epochs.get(fork)
        if e is None or e >= FAR_FUTURE_EPOCH:
            return None
        return e * self.slots_per_epoch

    def slot_to_timestamp(self, slot: int) -> int:
        return self.genesis_time + slot * self.seconds_per_slot

    def utc_day_bounds(self, start_slot: int, end_slot: int) -> tuple[int, int]:
        """First slot of ``start_slot``'s UTC day and last slot of
        ``end_slot``'s — the slots of the daily ``date=`` partitions the
        range's rows are stored in."""
        g, sps, day = self.genesis_time, self.seconds_per_slot, 86400
        first_ts = self.slot_to_timestamp(start_slot) // day * day
        end_ts = self.slot_to_timestamp(end_slot) // day * day + day
        return max(0, -(-(first_ts - g) // sps)), (end_ts - 1 - g) // sps

    def day_end_slots(self, start_slot: int, end_slot: int) -> list[int]:
        """The last slot of each UTC day that ends inside [start_slot,
        end_slot]: the fetch targets of the daily-snapshot loaders
        (validators, pending queues). One step per day."""
        out, s = [], start_slot
        while s <= end_slot:
            last = self.utc_day_bounds(s, s)[1]
            if last <= end_slot:
                out.append(last)
            s = last + 1
        return out

    def as_rows(self) -> list[tuple[str, int, int]]:
        """(fork, activation_epoch, activation_slot) rows for a broadcast
        fork-schedule DataFrame; FAR_FUTURE forks excluded."""
        out = []
        for fork in FORK_ORDER:
            e = self.epochs.get(fork)
            if e is None or e >= FAR_FUTURE_EPOCH:
                continue
            out.append((fork, e, e * self.slots_per_epoch))
        return out


# Known-network defaults (reference src/services/fork.py:104-241: CONFIG_NAME
# → network; `%_FORK_EPOCH` specs rows → epoch map, Gnosis-Fulu override).
MAINNET = ForkSchedule(
    network="mainnet",
    genesis_time=1_606_824_023,
    seconds_per_slot=12,
    slots_per_epoch=32,
    epochs={
        "phase0": 0,
        "altair": 74_240,
        "bellatrix": 144_896,
        "capella": 194_048,
        "deneb": 269_568,
        "electra": 364_032,
        "fulu": FAR_FUTURE_EPOCH,
    },
)

GNOSIS = ForkSchedule(
    network="gnosis",
    genesis_time=1_638_993_340,
    seconds_per_slot=5,
    slots_per_epoch=16,
    epochs={
        "phase0": 0,
        "altair": 512,
        "bellatrix": 385_536,
        "capella": 648_704,
        "deneb": 889_856,
        "electra": 1_337_856,
        # reference hard-override for Gnosis Fulu
        # (src/services/fork.py fixture: boundary slot 27_435_008)
        "fulu": 1_714_688,
    },
)

NETWORKS = {"mainnet": MAINNET, "gnosis": GNOSIS}


def schedule_from_specs(specs: dict[str, str]) -> ForkSchedule:
    """Build a ForkSchedule from a beacon `/eth/v1/config/spec` payload
    (flat dict of stringly values) — the reference's auto-detection
    (src/services/fork.py:363-388) re-expressed.
    """
    config_name = str(specs.get("CONFIG_NAME", "")).lower()
    network = config_name if config_name in NETWORKS else "custom"
    spb = int(specs.get("SECONDS_PER_SLOT", 12))
    spe = int(specs.get("SLOTS_PER_EPOCH", 32))
    epochs: dict[str, int] = {"phase0": 0}
    for fork in FORK_ORDER[1:]:
        key = f"{fork.upper()}_FORK_EPOCH"
        if key in specs:
            epochs[fork] = int(specs[key])
    # Gnosis Fulu override (reference behavior)
    if network == "gnosis" and epochs.get("fulu", FAR_FUTURE_EPOCH) >= FAR_FUTURE_EPOCH:
        epochs["fulu"] = GNOSIS.epochs["fulu"]
    genesis_time = int(specs.get("GENESIS_TIME", NETWORKS.get(network, MAINNET).genesis_time))
    return ForkSchedule(network, genesis_time, spb, spe, epochs)


@dataclass(frozen=True)
class EngineConfig:
    """Operational knobs (reference src/config.py) — most collapse into
    Spark's scheduler; retained ones govern the fetch layer and realtime loop."""

    chunk_size: int = 1000  # slots per work unit (ref default 100, docs suggest 1000-2000)
    realtime_slot_delay: int = 2  # re-org lateness guard (ref REALTIME_SLOT_DELAY)
    poll_interval_s: float = 6.0  # head-poll cadence
    error_sleep_s: float = 12.0
    enabled_loaders: tuple[str, ...] = (
        "blocks",
        "validators",
        "rewards",
        "pending_consolidations",
        "pending_deposits",
        "pending_partial_withdrawals",
        "data_column_sidecars",
    )


def default_config() -> EngineConfig:
    return EngineConfig(
        chunk_size=int(os.environ.get("BIS_CHUNK_SIZE", 1000)),
        realtime_slot_delay=int(os.environ.get("BIS_REALTIME_SLOT_DELAY", 2)),
    )
