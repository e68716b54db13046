"""Beacon-node API client + loader registry + distributed fetch stage.

Parity with the reference fetch layer (citations into /root/reference):
- retry/backoff + 404 semantics + API-key query param —
  ``src/services/beacon_api.py:44-159``: 3 attempts, ``delay*(attempt+1)``
  linear-multiplied backoff; 404 on block-style endpoints = empty slot →
  None; 404 on state endpoints = real error → raises (so a chunk fails
  loudly instead of completing with zero rows); key param name default
  ``apiKey`` kept out of the URL.
- endpoints S2-S8 — ``src/services/beacon_api.py:160-227``.
- fork-gated fetch S9 — ``src/loaders/pending_consolidations.py:28-33``,
  ``src/loaders/data_column_sidecars.py:16-20``: skip the HTTP call
  entirely below the fork's activation slot.
- envelope + canonical payload hash — ``src/loaders/base.py:17-31``.

The client is synchronous (``requests``): inside Spark the fetch stage runs
as ``mapPartitions`` over a slot DataFrame, so concurrency comes from task
parallelism across executors — the reference's asyncio/mp.Pool machinery
(C1-C4) collapses into the scheduler. The transport is injectable for
tests and for alternative HTTP stacks.
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable, Iterable, Iterator
from dataclasses import asdict, dataclass, field
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from beacon_indexer_spark.config import ForkSchedule, schedule_from_specs
from beacon_indexer_spark.functions.core import canonical_json, payload_hash
from beacon_indexer_spark.schemas.raw import raw_envelope

# transport: (url, params, timeout_s) -> (status_code, body_text)
Transport = Callable[[str, dict | None, float], tuple[int, str]]


class BeaconAPIError(Exception):
    """Error that should fail the whole chunk (reference semantics)."""


def _requests_transport(url: str, params: dict | None, timeout: float) -> tuple[int, str]:
    import requests

    r = requests.get(url, params=params, timeout=timeout)
    return r.status_code, r.text


@dataclass
class BeaconAPI:
    base_url: str
    api_key: str = ""
    api_key_param: str = "apiKey"
    max_retries: int = 3
    retry_delay: float = 5.0
    timeout: float = 600.0
    transport: Transport = field(default=_requests_transport, repr=False)
    sleep: Callable[[float], None] = field(default=time.sleep, repr=False)

    def get(
        self,
        endpoint: str,
        params: dict | None = None,
        allow_empty_404: bool = True,
    ) -> dict | None:
        from beacon_indexer_spark import observability as O

        url = f"{self.base_url.rstrip('/')}{endpoint}"
        route = O.normalize_api_endpoint(endpoint)
        query = dict(params or {})
        if self.api_key:
            query[self.api_key_param] = self.api_key
        last_err: str = ""
        for attempt in range(self.max_retries):
            if attempt:
                O.METRICS.inc("beacon_indexer_api_retries_total",
                              {"endpoint": route})
            t0 = time.monotonic()
            try:
                status, body = self.transport(url, query or None, self.timeout)
            except Exception as e:  # noqa: BLE001 — network errors retry
                O.METRICS.inc("beacon_indexer_api_requests_total",
                              {"endpoint": route, "status": "error"})
                last_err = str(e)
                if attempt < self.max_retries - 1:
                    self.sleep(self.retry_delay * (attempt + 1))
                    continue
                raise BeaconAPIError(f"Error requesting {endpoint}: {e}") from e
            O.METRICS.inc("beacon_indexer_api_requests_total",
                          {"endpoint": route, "status": str(status)})
            O.METRICS.observe("beacon_indexer_api_request_duration_seconds",
                              time.monotonic() - t0, {"endpoint": route})
            if status == 404:
                if allow_empty_404:
                    return None  # empty slot — normal
                raise BeaconAPIError(f"404 state not found: {endpoint}")
            if status != 200:
                last_err = f"{status}: {body[:300]}"
                if attempt < self.max_retries - 1:
                    self.sleep(self.retry_delay * (attempt + 1))
                    continue
                raise BeaconAPIError(last_err)
            try:
                return json.loads(body)
            except ValueError as e:
                raise BeaconAPIError(f"Invalid JSON response from {endpoint}: {e}") from e
        raise BeaconAPIError(last_err or f"retries exhausted: {endpoint}")

    # -- endpoints (reference S2-S8) --------------------------------------

    def get_genesis(self) -> dict | None:
        return self.get("/eth/v1/beacon/genesis")

    def get_spec(self) -> dict | None:
        return self.get("/eth/v1/config/spec")

    def get_block(self, slot: int) -> dict | None:
        return self.get(f"/eth/v2/beacon/blocks/{slot}")

    def get_validators(self, state_id: str | int = "head",
                       validator_ids: list | None = None) -> dict | None:
        params = {"id": ",".join(map(str, validator_ids))} if validator_ids else None
        return self.get(
            f"/eth/v1/beacon/states/{state_id}/validators",
            params=params,
            allow_empty_404=False,
        )

    def get_rewards(self, slot: int | str = "head") -> dict | None:
        return self.get(f"/eth/v1/beacon/rewards/blocks/{slot}")

    def get_pending_consolidations(self, state_id: str | int = "head") -> dict | None:
        return self.get(
            f"/eth/v1/beacon/states/{state_id}/pending_consolidations",
            allow_empty_404=False,
        )

    def get_pending_deposits(self, state_id: str | int = "head") -> dict | None:
        return self.get(
            f"/eth/v1/beacon/states/{state_id}/pending_deposits", allow_empty_404=False
        )

    def get_pending_partial_withdrawals(self, state_id: str | int = "head") -> dict | None:
        return self.get(
            f"/eth/v1/beacon/states/{state_id}/pending_partial_withdrawals",
            allow_empty_404=False,
        )

    def get_data_column_sidecars(self, slot: int) -> dict | None:
        return self.get(f"/eth/v1/debug/beacon/data_column_sidecars/{slot}")

    def get_blob_sidecars(self, slot: int) -> dict | None:
        return self.get(f"/eth/v1/beacon/blob_sidecars/{slot}")

    def get_head_slot(self) -> int | None:
        data = self.get("/eth/v1/beacon/headers/head")
        if data and "data" in data:
            return int(data["data"]["header"]["message"]["slot"])
        return None


# ---------------------------------------------------------------------------
# loader registry (reference src/loaders/__init__.py:11-24 + fork gates)
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class LoaderSpec:
    """name → raw table, fetch endpoint, fork gate (None = always)."""

    name: str
    fetch: Callable[[BeaconAPI, int], dict | None]
    fork_gate: str | None = None  # fork name; slots before activation are skipped
    daily: bool = False  # snapshot cadence (validators/pending queues)

    @property
    def raw_table(self) -> str:
        return f"raw_{self.name}"


LOADERS: dict[str, LoaderSpec] = {
    s.name: s
    for s in [
        LoaderSpec("blocks", lambda api, slot: api.get_block(slot)),
        LoaderSpec("validators", lambda api, slot: api.get_validators(slot), daily=True),
        LoaderSpec("rewards", lambda api, slot: api.get_rewards(slot)),
        LoaderSpec(
            "pending_consolidations",
            lambda api, slot: api.get_pending_consolidations(slot),
            fork_gate="electra",
            daily=True,
        ),
        LoaderSpec(
            "pending_deposits",
            lambda api, slot: api.get_pending_deposits(slot),
            fork_gate="electra",
            daily=True,
        ),
        LoaderSpec(
            "pending_partial_withdrawals",
            lambda api, slot: api.get_pending_partial_withdrawals(slot),
            fork_gate="electra",
            daily=True,
        ),
        LoaderSpec(
            "data_column_sidecars",
            lambda api, slot: api.get_data_column_sidecars(slot),
            fork_gate="fulu",
        ),
        LoaderSpec("blob_sidecars", lambda api, slot: api.get_blob_sidecars(slot),
                   fork_gate="deneb"),
    ]
}


def prepare_row(slot: int, data: dict, retrieved_at: datetime | None = None) -> dict:
    """Raw envelope exactly as the reference's ``prepare_row``
    (src/loaders/blocks.py:16-32): canonical JSON + 16-hex hash + version."""
    return {
        "slot": slot,
        "payload": canonical_json(data),
        "payload_hash": payload_hash(data),
        "retrieved_at": retrieved_at or datetime.now(timezone.utc),
    }


def fetch_slots_local(
    api: BeaconAPI, loader: LoaderSpec, slots: Iterable[int], schedule: ForkSchedule
) -> list[dict]:
    """Driver-side fetch of a small slot set (realtime loop, tests).

    Fork gating (S9): slots before the gate fork's activation are skipped
    without an API call; a never-active gate fork skips everything.
    A ``BeaconAPIError`` propagates → the chunk fails loudly
    (reference src/loaders/base.py:99-100).
    """
    gate_slot = None
    if loader.fork_gate is not None:
        gate_slot = schedule.activation_slot(loader.fork_gate)
    rows = []
    for slot in slots:
        if loader.fork_gate is not None and (gate_slot is None or slot < gate_slot):
            continue
        data = loader.fetch(api, slot)
        if data is None:
            continue  # empty slot
        rows.append(prepare_row(slot, data))
    return rows


class FetchMetrics:
    """Executor→driver metric transport for the distributed fetch stage.

    A process-local registry can't see executor work; Spark's answer is the
    accumulator. The fetch closure adds slots-attempted / rows-fetched on
    the executors; ``fold()`` — called after the job's action has run —
    publishes the totals into the driver's ``observability.METRICS``
    (counters ``beacon_indexer_fetch_slots_total`` /
    ``beacon_indexer_fetch_rows_total`` by loader), mirroring the
    reference's chunk counters (observability.py:59-77).

    Accuracy caveat (Spark semantics): accumulator updates inside a
    *transformation* are at-least-once — a retried or speculative task
    re-adds its partial progress. These are throughput telemetry, not
    exact accounting; the exact numbers are the ledger/progress manifests
    (which the idempotent latest-wins writes keep correct under retries).
    """

    def __init__(self, spark: SparkSession, loader_name: str):
        self.loader = loader_name
        self.slots = spark.sparkContext.accumulator(0)
        self.rows = spark.sparkContext.accumulator(0)

    def fold(self) -> None:
        from beacon_indexer_spark import observability as O

        O.METRICS.inc("beacon_indexer_fetch_slots_total",
                      {"loader": self.loader}, self.slots.value)
        O.METRICS.inc("beacon_indexer_fetch_rows_total",
                      {"loader": self.loader}, self.rows.value)


@dataclass(frozen=True)
class FetchConfig:
    """Picklable fetch-stage config shipped to executors."""

    base_url: str
    api_key: str = ""
    api_key_param: str = "apiKey"
    max_retries: int = 3
    retry_delay: float = 5.0
    timeout: float = 600.0

    def build(self) -> BeaconAPI:
        return BeaconAPI(**asdict(self))


def _first_fetchable_slot(loader: LoaderSpec, schedule: ForkSchedule) -> int | None:
    """The fork gate of a fetch (S9): the first slot ``loader`` may fetch,
    0 when it is ungated, None when its fork never activates."""
    if loader.fork_gate is None:
        return 0
    return schedule.activation_slot(loader.fork_gate)


def _fetch_stage(
    spark: SparkSession,
    cfg: FetchConfig,
    loader: LoaderSpec,
    slots: DataFrame,
    schedule: ForkSchedule,
    api_factory: Callable[[], BeaconAPI] | None,
    metrics: FetchMetrics | None,
) -> DataFrame:
    """The distributed fetch body shared by both entry points: one HTTP
    client per task, reused across the task's slots (column ``slot``),
    each slot fetched and enveloped by :func:`fetch_slots_local`."""
    make_api = api_factory or cfg.build
    slots_acc = metrics.slots if metrics else None
    rows_acc = metrics.rows if metrics else None

    def run(parts: Iterator) -> Iterator[tuple]:
        api = make_api()
        for row in parts:
            if slots_acc is not None:
                slots_acc.add(1)
            for out in fetch_slots_local(api, loader, [row["slot"]], schedule):
                if rows_acc is not None:
                    rows_acc.add(1)
                yield (out["slot"], out["payload"], out["payload_hash"],
                       out["retrieved_at"])

    return spark.createDataFrame(slots.rdd.mapPartitions(run), raw_envelope())


def _n_tasks(n_slots: int, slots_per_task: int) -> int:
    return max(1, min(n_slots // max(1, slots_per_task) + 1, 2048))


def fetch_slots_distributed(
    spark: SparkSession,
    cfg: FetchConfig,
    loader: LoaderSpec,
    start_slot: int,
    end_slot: int,
    schedule: ForkSchedule,
    slots_per_task: int = 100,
    api_factory: Callable[[], BeaconAPI] | None = None,
    metrics: FetchMetrics | None = None,
) -> DataFrame:
    """The distributed load stage (reference §3.1 backfill): a slot range
    partitioned into ~CHUNK_SIZE tasks, each task fetching its slots over
    HTTP inside ``mapPartitions`` and emitting raw envelope rows.

    Fork gating prunes the range *before* any task is scheduled (no wasted
    tasks, reference S9). ``api_factory`` overrides the client construction
    for tests (must be picklable). ``metrics`` accumulates executor-side
    fetch counts; call ``metrics.fold()`` after the job's action.
    """
    gate = _first_fetchable_slot(loader, schedule)
    if gate is None or max(start_slot, gate) > end_slot:
        return spark.createDataFrame([], raw_envelope())
    start_slot = max(start_slot, gate)
    n_parts = _n_tasks(end_slot - start_slot + 1, slots_per_task)
    slots = spark.range(start_slot, end_slot + 1, numPartitions=n_parts).toDF("slot")
    return _fetch_stage(spark, cfg, loader, slots, schedule, api_factory, metrics)


# ---------------------------------------------------------------------------
# foundation bootstrap (reference C14: genesis + specs → broadcast schedule)
# ---------------------------------------------------------------------------

def parse_genesis_time(genesis_payload: dict) -> int:
    """Digit-string or ISO-8601 genesis time (reference
    src/loaders/genesis.py:61-84)."""
    raw = str(genesis_payload.get("data", {}).get("genesis_time", "0"))
    if raw.isdigit():
        return int(raw)
    return int(datetime.fromisoformat(raw.replace("Z", "+00:00")).timestamp())


def bootstrap_schedule(api: BeaconAPI) -> tuple[ForkSchedule, dict, dict]:
    """Fetch genesis + specs once, derive the broadcastable ForkSchedule
    (reference C13/C14). Returns (schedule, genesis_payload, specs_payload)
    so the caller can persist the raw config tables."""
    genesis = api.get_genesis()
    specs = api.get_spec()
    if not genesis or not specs:
        raise BeaconAPIError("foundation bootstrap failed: empty genesis/specs")
    flat_specs = {k: str(v) for k, v in specs.get("data", {}).items()}
    schedule = schedule_from_specs(flat_specs)
    gt = parse_genesis_time(genesis)
    if gt:
        schedule = ForkSchedule(
            schedule.network, gt, schedule.seconds_per_slot,
            schedule.slots_per_epoch, schedule.epochs,
        )
    return schedule, genesis, specs


def write_foundation(lake, api: BeaconAPI) -> ForkSchedule:
    """Foundation bootstrap with persistence (reference C14,
    ``src/loaders/genesis.py:24-107``, ``src/loaders/specs.py:24-91``,
    ``migrations/001_time_helpers.sql``): fetch genesis + specs, write the
    raw config tables verbatim and the derived ``time_helpers`` single-row
    table, return the ForkSchedule. Idempotent — identical payloads collapse
    on payload_hash at read time."""
    schedule, genesis, specs = bootstrap_schedule(api)
    now = datetime.now(timezone.utc)
    for table, payload in (("raw_genesis", genesis), ("raw_specs", specs)):
        df = lake.spark.createDataFrame(
            [(canonical_json(payload), payload_hash(payload), now)],
            "payload string, payload_hash string, retrieved_at timestamp",
        )
        lake.write(table, df)
    helpers = lake.spark.createDataFrame(
        [(schedule.network, schedule.genesis_time, schedule.seconds_per_slot,
          schedule.slots_per_epoch, now)],
        "network string, genesis_time long, seconds_per_slot int, "
        "slots_per_epoch int, updated_at timestamp",
    )
    lake.write("time_helpers", helpers)
    return schedule


def fetch_slot_list_distributed(
    spark: SparkSession,
    cfg: FetchConfig,
    loader: LoaderSpec,
    slots: DataFrame,
    schedule: ForkSchedule,
    slots_per_task: int = 100,
    api_factory: Callable[[], BeaconAPI] | None = None,
    metrics: FetchMetrics | None = None,
) -> DataFrame:
    """Distributed fetch of an explicit slot list (column ``slot``) — the
    backfill path for daily-snapshot loaders (validators, pending queues),
    fed by ``ForkSchedule.day_end_slots`` in ``plans.pipeline.load_chunks``.
    Same fork gating, envelope and ``metrics`` as
    :func:`fetch_slots_distributed`."""
    gate = _first_fetchable_slot(loader, schedule)
    if gate is None:
        return spark.createDataFrame([], raw_envelope())
    if gate:
        slots = slots.filter(slots["slot"] >= gate)
    n = slots.count()
    if n == 0:
        return spark.createDataFrame([], raw_envelope())
    part = slots.select(F.col("slot").cast("long").alias("slot"))
    return _fetch_stage(spark, cfg, loader, part.repartition(_n_tasks(n, slots_per_task)),
                        schedule, api_factory, metrics)
