"""Seeded synthetic Gnosis beacon chain, served from pre-serialised bodies.

``generate(seed, out_dir, ...)`` draws every block, rewards and validators
payload of a slot range once, writes the canonical JSON bodies to one file
per endpoint kind (plus a slot → (offset, length) index), and returns a
:class:`ChainSpec` holding the range, the fork schedule, the empty slots, the
re-orged slots and the latest-wins row count every structured table must
end up with. The same seed gives the same bytes.

:class:`StoreTransport` is the ``BeaconAPI`` transport that answers from
those files, so fetch time measures the client (JSON load, canonical
re-dump, sha256), not the generator. It injects a fixed share of transient
503s and counts requests, retries, 404s and body bytes in Spark
accumulators, which count in the calling process and inside executor tasks
alike.
"""

from __future__ import annotations

import hashlib
import json
import mmap
import os
import random
import re
from dataclasses import dataclass, field

from beacon_indexer_spark.config import FORK_ORDER, GNOSIS, ForkSchedule

DAY_SLOTS = 86400 // GNOSIS.seconds_per_slot
FAR_FUTURE = "18446744073709551615"

# Per-block ceilings of the consensus specs (Gnosis preset and config where
# they differ from mainnet). perfbench/README.md ("Traffic model") gives the
# source of each, and marks the draws below that are assumptions.
MAX_ATTESTATIONS = 128  # phase0 .. deneb
MAX_ATTESTATIONS_ELECTRA = 8
MAX_WITHDRAWALS_PER_PAYLOAD = 8  # Gnosis preset (mainnet: 16)
MAX_BLOBS_PER_BLOCK = 2  # Gnosis config (mainnet: 6)

# Draws within those ceilings: assumptions, not measured chain statistics
ATTESTATIONS_MEAN = 12  # pre-Electra, exponential, plus one
TX_MEAN = 10  # transactions per payload, exponential
TX_MAX = 60
TX_BYTES_LOGNORMAL = (5.3, 0.9)  # mu, sigma of ln(bytes): median ~200 B
TX_BYTES_RANGE = (40, 4000)
BLOB_BLOCK_SHARE = 0.4  # Deneb+ blocks carrying blobs
DEPOSIT_SHARE = EXIT_SHARE = 0.01
SLASHING_SHARE = 0.003  # each of proposer and attester slashings
BLS_CHANGE_SHARE = 0.02
EXECUTION_REQUEST_SHARE = 0.1  # Electra+ blocks
EMPTY_SLOT_SHARE = 0.02
TRANSIENT_503_SHARE = 0.03

# tables fed by raw_blocks, in transform order
BLOCK_TABLES = (
    "blocks", "attestations", "deposits", "voluntary_exits",
    "proposer_slashings", "attester_slashings", "sync_aggregates",
    "execution_payloads", "transactions", "withdrawals", "bls_changes",
    "blob_commitments", "execution_requests",
)


def last_slot_of_day(day: int) -> int:
    """Last slot of the ``day``-th UTC day after Gnosis genesis."""
    midnight = (GNOSIS.genesis_time // 86400 + 1 + day) * 86400
    return -(-(midnight - GNOSIS.genesis_time) // GNOSIS.seconds_per_slot) - 1


def compressed_schedule(start_slot: int, n_slots: int) -> ForkSchedule:
    """Gnosis timing with fork epochs squeezed into [start, start + n) so
    one range walks phase0 → fulu."""
    spe = GNOSIS.slots_per_epoch
    e0 = start_slot // spe
    n_epochs = n_slots // spe
    shares = {"altair": 0.06, "bellatrix": 0.12, "capella": 0.22,
              "deneb": 0.34, "electra": 0.55, "fulu": 0.8}
    epochs = {"phase0": 0}
    epochs.update({f: e0 + int(n_epochs * s) for f, s in shares.items()})
    return ForkSchedule("gnosis", GNOSIS.genesis_time, GNOSIS.seconds_per_slot,
                        spe, epochs)


def _at_least(fork: str, version: str) -> bool:
    return FORK_ORDER.index(version) >= FORK_ORDER.index(fork)


@dataclass
class ChainSpec:
    """What the generator drew — everything the checks need, nothing the
    program under test receives."""

    seed: int
    store_dir: str
    schedule: ForkSchedule
    start_slot: int
    end_slot: int
    boundary_slot: int | None  # validators snapshot slot (last of a day)
    empty_slots: list[int]
    reorg_slots: list[int] = field(default_factory=list)
    reorg_proposers: dict[int, int] = field(default_factory=dict)
    expected: dict[str, int] = field(default_factory=dict)
    raw_rows: dict[str, int] = field(default_factory=dict)
    versions: list[str] = field(default_factory=list)  # forks of non-empty slots
    body_bytes: int = 0

    @property
    def n_slots(self) -> int:
        return self.end_slot - self.start_slot + 1


class _Draw:
    """Draws the random payloads of one seed."""

    def __init__(self, rng: random.Random):
        self.rng = rng
        self.pool = [rng.randbytes(32).hex() for _ in range(256)]

    def h(self, nbytes: int = 32) -> str:
        if nbytes == 32:
            return "0x" + self.rng.choice(self.pool)
        return "0x" + self.rng.randbytes(nbytes).hex()

    def rare(self, version: str) -> dict:
        """Items kept identical across a re-org, so a partition repair can
        only change the common tables."""
        r = self.rng
        out = {
            "deposits": [self._deposit()
                         for _ in range(1 if r.random() < DEPOSIT_SHARE else 0)],
            "voluntary_exits": [
                {"message": {"epoch": str(r.randint(1, 10**6)),
                             "validator_index": str(r.randint(0, 10**5))},
                 "signature": self.h(96)}
                for _ in range(1 if r.random() < EXIT_SHARE else 0)
            ],
            "proposer_slashings": [
                self._proposer_slashing()
                for _ in range(1 if r.random() < SLASHING_SHARE else 0)
            ],
            "attester_slashings": [
                self._attester_slashing()
                for _ in range(1 if r.random() < SLASHING_SHARE else 0)
            ],
        }
        if _at_least("capella", version):
            out["bls_to_execution_changes"] = [
                {"message": {"validator_index": str(r.randint(0, 10**5)),
                             "from_bls_pubkey": self.h(48),
                             "to_execution_address": self.h(20)},
                 "signature": self.h(96)}
                for _ in range(r.randint(1, 3) if r.random() < BLS_CHANGE_SHARE else 0)
            ]
        if _at_least("deneb", version):
            n = r.randint(1, MAX_BLOBS_PER_BLOCK) if r.random() < BLOB_BLOCK_SHARE else 0
            out["blob_kzg_commitments"] = [self.h(48) for _ in range(n)]
        if _at_least("electra", version) and r.random() < EXECUTION_REQUEST_SHARE:
            out["execution_requests"] = {
                "deposits": [
                    {"pubkey": self.h(48), "withdrawal_credentials": self.h(),
                     "amount": "32000000000", "signature": self.h(96),
                     "index": str(r.randint(0, 10**6))}
                    for _ in range(r.randint(1, 2))
                ],
                "withdrawals": [
                    {"source_address": self.h(20), "validator_pubkey": self.h(48),
                     "amount": str(r.randint(1, 10**9))}
                    for _ in range(r.randint(0, 1))
                ],
                "consolidations": [
                    {"source_address": self.h(20), "source_pubkey": self.h(48),
                     "target_pubkey": self.h(48)}
                    for _ in range(r.randint(0, 1))
                ],
            }
        return out

    def _deposit(self) -> dict:
        return {
            "proof": [self.h() for _ in range(4)],
            "data": {"pubkey": self.h(48), "withdrawal_credentials": self.h(),
                     "amount": "32000000000", "signature": self.h(96)},
        }

    def _header(self, slot: int, proposer: int) -> dict:
        return {"message": {"slot": str(slot), "proposer_index": str(proposer),
                            "parent_root": self.h(), "state_root": self.h(),
                            "body_root": self.h()},
                "signature": self.h(96)}

    def _proposer_slashing(self) -> dict:
        slot, prop = self.rng.randint(1, 10**7), self.rng.randint(0, 10**5)
        return {"signed_header_1": self._header(slot, prop),
                "signed_header_2": self._header(slot, prop)}

    def _indexed(self, idx: list[int]) -> dict:
        return {"attesting_indices": [str(i) for i in idx],
                "data": {"slot": str(self.rng.randint(1, 10**7)), "index": "0",
                         "beacon_block_root": self.h(),
                         "source": {"epoch": "100", "root": self.h()},
                         "target": {"epoch": "101", "root": self.h()}},
                "signature": self.h(96)}

    def _attester_slashing(self) -> dict:
        base = sorted(self.rng.sample(range(10**5), 6))
        return {"attestation_1": self._indexed(base[:4]),
                "attestation_2": self._indexed(base[2:])}

    def block(self, slot: int, version: str, proposer: int, rare: dict,
              block_number: int) -> dict:
        r = self.rng
        electra = _at_least("electra", version)
        n_att = (r.randint(1, MAX_ATTESTATIONS_ELECTRA) if electra else
                 min(MAX_ATTESTATIONS, int(r.expovariate(1 / ATTESTATIONS_MEAN)) + 1))
        atts = []
        for _ in range(n_att):
            a = {
                "aggregation_bits": self.h(r.randint(8, 64)),
                "data": {"slot": str(slot - 1 - int(r.expovariate(1.5))),
                         "index": str(0 if electra else r.randint(0, 63)),
                         "beacon_block_root": self.h(),
                         "source": {"epoch": str(slot // 16 - 2), "root": self.h()},
                         "target": {"epoch": str(slot // 16 - 1), "root": self.h()}},
                "signature": self.h(96),
            }
            if electra:
                a["committee_bits"] = self.h(8)
            atts.append(a)
        body = {
            "randao_reveal": self.h(96),
            "eth1_data": {"deposit_root": self.h(), "deposit_count": str(slot // 50),
                          "block_hash": self.h()},
            "graffiti": self.h(),
            "attestations": atts,
            **{k: v for k, v in rare.items()
               if k not in ("bls_to_execution_changes", "blob_kzg_commitments",
                            "execution_requests")},
        }
        if _at_least("altair", version):
            body["sync_aggregate"] = {"sync_committee_bits": self.h(64),
                                      "sync_committee_signature": self.h(96)}
        if _at_least("bellatrix", version):
            n_tx = min(TX_MAX, int(r.expovariate(1 / TX_MEAN)))
            ep = {
                "parent_hash": self.h(), "fee_recipient": self.h(20),
                "state_root": self.h(), "receipts_root": self.h(),
                "logs_bloom": self.h(256), "prev_randao": self.h(),
                "block_number": str(block_number),
                "gas_limit": "17000000", "gas_used": str(r.randint(10**5, 17 * 10**6)),
                "timestamp": str(slot * 5), "extra_data": "0x",
                "base_fee_per_gas": str(r.randint(1, 10**10)),
                "block_hash": self.h(),
                "transactions": [
                    self.h(max(TX_BYTES_RANGE[0], min(TX_BYTES_RANGE[1], int(
                        r.lognormvariate(*TX_BYTES_LOGNORMAL)))))
                    for _ in range(n_tx)
                ],
            }
            if _at_least("capella", version):
                ep["withdrawals"] = [
                    {"index": str(block_number * 8 + i),
                     "validator_index": str(r.randint(0, 10**5)),
                     "address": self.h(20), "amount": str(r.randint(1, 10**7))}
                    for i in range(r.randint(0, MAX_WITHDRAWALS_PER_PAYLOAD))
                ]
                body["bls_to_execution_changes"] = rare["bls_to_execution_changes"]
            if _at_least("deneb", version):
                ep["blob_gas_used"] = str(131072 * len(rare["blob_kzg_commitments"]))
                ep["excess_blob_gas"] = "0"
                body["blob_kzg_commitments"] = rare["blob_kzg_commitments"]
            if "execution_requests" in rare:
                body["execution_requests"] = rare["execution_requests"]
            body["execution_payload"] = ep
        return {
            "version": version,
            "data": {"message": {"slot": str(slot), "proposer_index": str(proposer),
                                 "parent_root": self.h(), "state_root": self.h(),
                                 "body": body},
                     "signature": self.h(96)},
        }

    def rewards(self, proposer: int) -> dict:
        r = self.rng
        att, sync = r.randint(10**6, 5 * 10**7), r.randint(0, 5 * 10**6)
        return {"execution_optimistic": False, "finalized": True,
                "data": {"proposer_index": str(proposer), "total": str(att + sync),
                         "attestations": str(att), "sync_aggregate": str(sync),
                         "proposer_slashings": "0", "attester_slashings": "0"}}

    def validators(self, n: int) -> dict:
        r = self.rng
        statuses = ["active_ongoing"] * 17 + ["pending_queued", "exited_unslashed",
                                              "withdrawal_done"]
        out = []
        for i in range(n):
            st = r.choice(statuses)
            active = st == "active_ongoing"
            out.append({
                "index": str(i),
                "balance": str(r.randint(31 * 10**9, 33 * 10**9)),
                "status": st,
                "validator": {
                    "pubkey": self.h(48),
                    "withdrawal_credentials": "0x01" + r.choice(self.pool)[2:],
                    "effective_balance": "32000000000",
                    "slashed": r.random() < 0.001,
                    "activation_eligibility_epoch": str(r.randint(0, 10**5)),
                    "activation_epoch": str(r.randint(0, 10**5)),
                    "exit_epoch": FAR_FUTURE if active else str(r.randint(10**5, 10**6)),
                    "withdrawable_epoch": (FAR_FUTURE if active
                                           else str(r.randint(10**6, 2 * 10**6))),
                },
            })
        return {"execution_optimistic": False, "finalized": True, "data": out}


def _dump(obj: dict) -> bytes:
    return json.dumps(obj, sort_keys=True, separators=(",", ":")).encode()


class _Writer:
    """Append-only body file plus its slot index."""

    def __init__(self, store_dir: str, kind: str):
        self.path = os.path.join(store_dir, kind)
        self.f = open(self.path + ".bin", "wb")
        self.index: dict[int, list[int]] = {}
        self.off = 0

    def put(self, slot: int, body: bytes) -> None:
        self.f.write(body)
        self.index[slot] = [self.off, len(body)]
        self.off += len(body)

    def close(self) -> None:
        self.f.close()
        with open(self.path + ".idx.json", "w") as f:
            json.dump({str(k): v for k, v in self.index.items()}, f)


def _count_block(b: dict) -> dict[str, int]:
    body = b["data"]["message"]["body"]
    ep = body.get("execution_payload")
    er = body.get("execution_requests")
    return {
        "blocks": 1,
        "attestations": len(body["attestations"]),
        "deposits": len(body["deposits"]),
        "voluntary_exits": len(body["voluntary_exits"]),
        "proposer_slashings": len(body["proposer_slashings"]),
        "attester_slashings": len(body["attester_slashings"]),
        "sync_aggregates": int("sync_aggregate" in body),
        "execution_payloads": int(ep is not None),
        "transactions": len(ep["transactions"]) if ep else 0,
        "withdrawals": len(ep.get("withdrawals", [])) if ep else 0,
        "bls_changes": len(body.get("bls_to_execution_changes", [])),
        "blob_commitments": len(body.get("blob_kzg_commitments", [])),
        "execution_requests": int(bool(er) and any(er.values())),
    }


def generate(
    seed: int,
    out_dir: str,
    n_slots: int,
    *,
    era: str = "backfill",
    n_validators: int = 0,
    tail_slots: int = 400,
    n_reorg: int = 0,
) -> ChainSpec:
    """Draw a chain of ``n_slots`` slots and write its bodies to ``out_dir``.

    ``era="backfill"``: a compressed phase0 → fulu schedule whose range ends
    ``tail_slots`` after a UTC day boundary; the validators snapshot sits at
    that boundary and ``n_reorg`` non-empty slots of the head's day get a
    second, later payload. ``era="realtime"``: real Gnosis schedule,
    Electra-era slots starting right after a day boundary, so no window
    holds a daily-snapshot slot.
    """
    rng = random.Random(seed)
    draw = _Draw(rng)
    os.makedirs(out_dir, exist_ok=True)
    if era == "backfill":
        boundary = last_slot_of_day(1000 + seed % 64)
        end = boundary + tail_slots
        start = end - n_slots + 1
        schedule = compressed_schedule(start, n_slots)
    elif era == "realtime":
        first_day = (GNOSIS.activation_slot("electra") - last_slot_of_day(0)) // DAY_SLOTS + 1
        day_end = last_slot_of_day(first_day + seed % 64)
        start = (day_end // 100 + 2) * 100
        end = start + n_slots - 1
        if end >= day_end + DAY_SLOTS:
            raise ValueError("a realtime range must stay inside one UTC day")
        boundary = None
        schedule = GNOSIS
    else:
        raise ValueError(f"unknown era {era!r}")

    blocks, rewards = _Writer(out_dir, "blocks"), _Writer(out_dir, "rewards")
    reorg_w, vals = _Writer(out_dir, "blocks_reorg"), _Writer(out_dir, "validators")
    expected = {t: 0 for t in BLOCK_TABLES}
    empty: list[int] = []
    drawn: dict[int, tuple[dict, dict, str, int]] = {}
    block_number = 10**6 + start
    for slot in range(start, end + 1):
        if rng.random() < EMPTY_SLOT_SHARE:
            empty.append(slot)
            continue
        version = schedule.fork_at_slot(slot)
        proposer = rng.randint(0, 10**5)
        rare = draw.rare(version)
        block_number += 1
        b = draw.block(slot, version, proposer, rare, block_number)
        drawn[slot] = (b, rare, version, block_number)
        blocks.put(slot, _dump(b))
        rewards.put(slot, _dump(draw.rewards(proposer)))
        for t, n in _count_block(b).items():
            expected[t] += n
    n_blocks = len(drawn)

    reorg_props: dict[int, int] = {}
    if n_reorg and boundary is not None:
        head_day = [s for s in range(boundary + 1, end + 1) if s in drawn]
        for slot in sorted(rng.sample(head_day, n_reorg)):
            old, rare, version, bn = drawn[slot]
            proposer = int(old["data"]["message"]["proposer_index"])
            new_prop = (proposer + 1 + rng.randint(0, 1000)) % 10**5
            b = draw.block(slot, version, new_prop, rare, bn)
            reorg_w.put(slot, _dump(b))
            reorg_props[slot] = new_prop
            for t, n in _count_block(b).items():
                expected[t] += n
            for t, n in _count_block(old).items():
                expected[t] -= n

    if n_validators and boundary is not None:
        vals.put(boundary, _dump(draw.validators(n_validators)))
        expected["validators"] = n_validators
    expected["rewards"] = n_blocks
    for w in (blocks, rewards, reorg_w, vals):
        w.close()
    return ChainSpec(
        seed=seed, store_dir=out_dir, schedule=schedule, start_slot=start,
        end_slot=end, boundary_slot=boundary, empty_slots=empty,
        reorg_slots=sorted(reorg_props), reorg_proposers=reorg_props,
        expected=expected,
        raw_rows={"raw_blocks": n_blocks, "raw_rewards": n_blocks,
                  "raw_validators": len(vals.index)},
        versions=sorted({v for _, _, v, _ in drawn.values()}),
        body_bytes=blocks.off + rewards.off + vals.off,
    )


# ---------------------------------------------------------------------------
# transport
# ---------------------------------------------------------------------------

_ROUTES = [
    (re.compile(r"/eth/v2/beacon/blocks/(\d+)$"), "blocks"),
    (re.compile(r"/eth/v1/beacon/rewards/blocks/(\d+)$"), "rewards"),
    (re.compile(r"/eth/v1/beacon/states/(\d+)/validators$"), "validators"),
]
_NOT_FOUND = '{"code":404,"message":"NOT_FOUND"}'
_OPEN: dict[str, tuple[mmap.mmap | None, dict]] = {}  # per-process store cache


def _open(path: str) -> tuple[mmap.mmap | None, dict]:
    if path not in _OPEN:
        with open(path + ".idx.json") as f:
            idx = json.load(f)
        mm = None
        if idx:
            with open(path + ".bin", "rb") as f:
                mm = mmap.mmap(f.fileno(), 0, access=mmap.ACCESS_READ)
        _OPEN[path] = (mm, idx)
    return _OPEN[path]


class Counters:
    """Spark accumulators for the transport's counts."""

    NAMES = ("requests", "retries", "not_found", "body_bytes")

    def __init__(self, sc):
        self.acc = {n: sc.accumulator(0) for n in self.NAMES}

    def values(self) -> dict[str, int]:
        return {n: int(a.value) for n, a in self.acc.items()}


class StoreTransport:
    """``(url, params, timeout) -> (status, body)`` over the generated store.

    Picklable (holds only paths, the seed and accumulators). ``reorg=True``
    serves the re-orged payload where one exists. ``TRANSIENT_503_SHARE``
    of the (kind, slot) pairs answer 503 on every other attempt, so
    ``BeaconAPI`` retries exactly once per such fetch.
    """

    def __init__(self, store_dir: str, seed: int, counters: Counters | None,
                 head_slot: int = 0, reorg: bool = False):
        self.store_dir = store_dir
        self.seed = seed
        self.acc = counters.acc if counters else None
        self.head_slot = head_slot
        self.reorg = reorg
        self._attempts: dict[str, int] = {}

    def _add(self, name: str, n: int = 1) -> None:
        if self.acc is not None:
            self.acc[name].add(n)

    def transient(self, kind: str, slot: int) -> bool:
        h = hashlib.sha256(f"{self.seed}:{kind}:{slot}".encode()).digest()
        return h[0] < 256 * TRANSIENT_503_SHARE

    def __call__(self, url: str, params, timeout) -> tuple[int, str]:
        self._add("requests")
        if url.endswith("/eth/v1/beacon/headers/head"):
            return 200, json.dumps(
                {"data": {"header": {"message": {"slot": str(self.head_slot)}}}}
            )
        for pat, kind in _ROUTES:
            m = pat.search(url)
            if m:
                break
        else:
            self._add("not_found")
            return 404, _NOT_FOUND
        slot = int(m.group(1))
        if self.transient(kind, slot):
            n = self._attempts.get(url, 0)
            self._attempts[url] = n + 1
            if n % 2 == 0:
                self._add("retries")
                return 503, '{"code":503,"message":"busy"}'
        mm, idx = None, {}
        if self.reorg and kind == "blocks":
            mm, idx = _open(os.path.join(self.store_dir, "blocks_reorg"))
        if str(slot) not in idx:
            mm, idx = _open(os.path.join(self.store_dir, kind))
        loc = idx.get(str(slot))
        if loc is None:
            self._add("not_found")
            return 404, _NOT_FOUND
        off, n = loc
        self._add("body_bytes", n)
        return 200, mm[off:off + n].decode()


class ApiFactory:
    """Picklable ``api_factory`` for the distributed fetch: a ``BeaconAPI``
    over a :class:`StoreTransport` with a no-op retry sleep."""

    def __init__(self, transport: StoreTransport):
        self.transport = transport

    def __call__(self):
        from beacon_indexer_spark.sources.beacon_api import BeaconAPI

        return BeaconAPI(base_url="http://bench-node", transport=self.transport,
                         retry_delay=0.0, sleep=lambda s: None)
