"""Tracing from outside the package: monkeypatched wrappers around the
public functions and methods at each layer boundary.

Each wrapper records a :class:`Span` (name, start, end, parent, run id) and
the Spark jobs launched while it was open. Spans stay in memory; when the
run ends, they get those jobs' task time, GC time and shuffle-write bytes
from the status store and are written out. Because Spark is lazy, a span
around a function that returns a DataFrame covers plan building only; the
execution lands in the span of the action that runs it (for example, the
block parse runs inside the first sink write of a range, which is why that
write is named ``transform.parse``).
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from perfbench.harness import SparkCounters

# span name prefix -> the package layer it belongs to
LAYERS = {
    "fetch": "sources.beacon_api",
    "raw_write": "sources.storage",
    "struct_write": "sources.storage",
    "read_latest": "sources.storage",
    "transform": "plans.transform",
    "pipeline": "plans.pipeline",
    "repair": "plans.pipeline",
    "ledger": "control.ledger",
    "progress": "control.ledger",
    "maintain": "control.ledger",
    "rt": "streaming.realtime",
    "views": "plans.analytics",
    "analytics": "plans.analytics",
    "q": "plans.queries",
}


def layer_of(name: str) -> str | None:
    """Layer of a span name; None for the workloads' own phase spans."""
    return LAYERS.get(name.split(".", 1)[0])


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    first_job: int = 0  # id of the first job launched inside the span
    jobs: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, counters: SparkCounters, run_id: str):
        self.counters = counters
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self.overhead_s = 0.0  # time spent in span bookkeeping

    # -- spans -----------------------------------------------------------

    @contextmanager
    def span(self, name: str, **attrs):
        t0 = time.perf_counter()
        first = self.counters.jobs()
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.perf_counter(), parent=parent, run_id=self.run_id,
                 first_job=first, attrs=dict(attrs))
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        self.overhead_s += s.start - t0
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.jobs = self.counters.jobs() - first
            self._stack.pop()
            self.overhead_s += time.perf_counter() - s.end

    def inside(self, name: str) -> Span | None:
        """Innermost open span called ``name``, if any."""
        for i in reversed(self._stack):
            if self.spans[i].name == name:
                return self.spans[i]
        return None

    def self_times(self) -> list[float]:
        """Each span's duration minus the part its direct children cover
        (children never overlap: the calls are made from one thread)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.dur
        return [s.dur - c for s, c in zip(self.spans, child)]

    def finish(self, path: str) -> list:
        """Add each span's task time, GC time and shuffle-write bytes, then
        write the spans to ``path``, one JSON object a line. Returns the
        totals of every job so far (``SparkCounters.per_job``)."""
        per_job = self.counters.per_job(self.counters.jobs())
        for s in self.spans:
            t = SparkCounters.total(per_job, s.first_job, s.first_job + s.jobs)
            s.task_s, s.gc_s, s.shuffle_bytes = t.task_s, t.gc_s, t.shuffle_bytes
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")
        return per_job

    # -- wrappers ----------------------------------------------------------

    def wrap(self, owner, attr: str, name, on_return=None) -> None:
        """Replace ``owner.attr`` with a spanning wrapper. ``name`` is a
        span name or ``f(args, kwargs) -> name | None`` (None: no span)."""
        original = owner[attr] if isinstance(owner, dict) else getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            n = name(args, kwargs) if callable(name) else name
            if n is None:
                return original(*args, **kwargs)
            with tracer.span(n) as s:
                out = original(*args, **kwargs)
                if on_return is not None:
                    on_return(s, args, out)
                return out

        wrapper.__wrapped__ = original
        _set(owner, attr, wrapper)
        self._patches.append((owner, attr, original))

    def install(self) -> None:
        """Wrap every layer boundary the workloads cross."""
        from beacon_indexer_spark import cli
        from beacon_indexer_spark.control import ledger as L
        from beacon_indexer_spark.plans import pipeline as P
        from beacon_indexer_spark.plans import transform as T
        from beacon_indexer_spark.plans import views as V
        from beacon_indexer_spark.sources import beacon_api as B
        from beacon_indexer_spark.sources import storage as S
        from beacon_indexer_spark.streaming import realtime as R

        # sources.beacon_api: these return lazy frames (plan build only);
        # the fetch itself runs inside the raw write that consumes them
        for owner in (B, cli):
            self.wrap(owner, "fetch_slots_distributed", "fetch.plan")
        self.wrap(B, "fetch_slot_list_distributed", "fetch.plan")

        def fold(span, args, out):
            fm = args[0]
            span.attrs.update(slots=int(fm.slots.value), rows=int(fm.rows.value))

        self.wrap(B.FetchMetrics, "fold", "fetch.fold", on_return=fold)

        # sources.storage
        def write_name(args, kwargs):
            table = args[1]
            return "raw_write" if table.startswith("raw_") else "struct_write"

        self.wrap(S.ParquetLake, "write", write_name)
        self.wrap(S.ParquetLake, "read_latest", "read_latest")

        # plans.transform: the first sink write of a range fills the cached
        # parse (dedup + from_json), the rest are the per-table fan-out
        def sink_name(args, kwargs):
            rng = self.inside("pipeline.range")
            if rng is None:
                return "struct_write"
            n = rng.attrs.get("writes", 0)
            rng.attrs["writes"] = n + 1
            return "transform.parse" if n == 0 else "transform.fanout"

        self.wrap(S.ParquetSink, "write", sink_name)
        self.wrap(P, "transform_blocks", "transform.plan")
        for raw in ("raw_rewards", "raw_validators"):
            self.wrap(T.TRANSFORMS, raw, "transform.plan")

        # plans.pipeline
        def range_counts(span, args, out):
            span.attrs.update(table=args[1], rows=dict(out))

        self.wrap(P.BeaconPipeline, "transform_range", "pipeline.range",
                  on_return=range_counts)
        self.wrap(P.BeaconPipeline, "transform_pending", "pipeline.pending")
        self.wrap(P.BeaconPipeline, "repair_range", "repair")

        # control.ledger
        self.wrap(L, "generate_chunks", "ledger.plan")
        self.wrap(L.ChunkLedger, "mark", "ledger.mark")
        self.wrap(L.ChunkLedger, "append",
                  lambda a, k: None if self.inside("ledger.mark") else "ledger.plan")
        self.wrap(L.ProgressManifest, "record_many", "progress.record")
        self.wrap(L, "gap_report", "maintain.gaps")
        self.wrap(L, "integrity_check", "maintain.integrity")

        # streaming.realtime
        self.wrap(R.RealtimeLoop, "run", "rt.window")
        self.wrap(R, "fetch_slots_local", "rt.fetch")
        self.wrap(B.BeaconAPI, "get_head_slot", "rt.poll")

        # plans.views
        self.wrap(V, "register_views", "views.register")

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patches):
            _set(owner, attr, original)
        self._patches.clear()


def _set(owner, attr: str, value) -> None:
    if isinstance(owner, dict):
        owner[attr] = value
    else:
        setattr(owner, attr, value)


def _total(spans, name: str) -> float:
    return sum(s.dur for s in spans if s.name == name)


def _median(xs) -> float:
    xs = sorted(xs)
    if not xs:
        return 0.0
    mid = len(xs) // 2
    return float(xs[mid]) if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2.0


def rollup(tracer: Tracer, tables: list[str], queries: list[str],
           analytics: list[str]) -> dict[str, float]:
    """Per-layer metrics derivable from the spans alone. Layers a workload
    does not cross read 0."""
    spans = tracer.spans
    by_name: dict[str, list[Span]] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)

    def under(s: Span, name: str) -> bool:
        p = s.parent
        while p is not None:
            if spans[p].name == name:
                return True
            p = spans[p].parent
        return False

    m: dict[str, float] = {}
    ranges = by_name.get("pipeline.range", [])
    m["transform.parse_s"] = _total(spans, "transform.parse")
    m["transform.fanout_s"] = _total(spans, "transform.fanout")
    for t in tables:
        m[f"transform.rows.{t}"] = sum(
            s.attrs.get("rows", {}).get(t, 0)
            for s in ranges if under(s, "phase.transform"))
    m["raw_write.s"] = _total(spans, "raw_write")
    writes = by_name.get("struct_write", [])
    m["struct_write.s"] = sum(s.dur for s in writes)
    m["struct_write.calls"] = len(writes)
    m["read_latest.s"] = _total(spans, "read_latest")
    m["pipeline.ranges"] = len(ranges)
    m["pipeline.range_s"] = sum(s.dur for s in ranges)
    m["pipeline.jobs_per_range"] = _median([s.jobs for s in ranges])
    m["repair.s"] = _total(spans, "repair")
    m["ledger.plan_s"] = _total(spans, "ledger.plan")
    m["ledger.mark_s"] = _total(spans, "ledger.mark")
    own = tracer.self_times()
    # discovery (progress read + anti-join + collect) is what
    # transform_pending does besides its merged ranges
    m["ledger.discover_s"] = sum(own[i] for i, s in enumerate(spans)
                                 if s.name == "pipeline.pending")
    m["progress.record_s"] = _total(spans, "progress.record")
    m["maintain.gaps_s"] = _total(spans, "maintain.gaps")
    m["maintain.integrity_s"] = _total(spans, "maintain.integrity")
    # whole phases of the backfill pass
    m["reorg_repair_s"] = _total(spans, "phase.reorg")
    m["analytics_s"] = _total(spans, "phase.analytics")
    windows = by_name.get("rt.window", [])
    m["rt_window_p50_s"] = _median([s.dur for s in windows])
    m["rt.windows"] = len(windows)
    m["rt.window_jobs"] = _median([s.jobs for s in windows])
    m["rt.poll_s"] = _total(spans, "rt.poll")
    m["rt.fetch_s"] = _total(spans, "rt.fetch")
    m["rt.raw_write_s"] = sum(s.dur for s in by_name.get("raw_write", [])
                              if under(s, "rt.window"))
    m["rt.transform_s"] = sum(s.dur for s in ranges if under(s, "rt.window"))
    m["views.register_s"] = _total(spans, "views.register")
    for a in analytics:
        m[f"analytics.{a}.s"] = _total(spans, f"analytics.{a}")
    m["analytics.jobs"] = sum(s.jobs for s in spans
                              if s.name.startswith("analytics."))
    for q in queries:
        build, run = by_name.get(f"q.{q}.build", []), by_name.get(f"q.{q}.exec", [])
        m[f"q.{q}.build_s"] = _median([s.dur for s in build])
        m[f"q.{q}.exec_s"] = _median([s.dur for s in run])
        m[f"q.{q}.jobs"] = _median([b.jobs + r.jobs for b, r in zip(build, run)])
    layer_self: dict[str, float] = {layer: 0.0 for layer in set(LAYERS.values())}
    for i, s in enumerate(spans):
        layer = layer_of(s.name)
        if layer is not None:
            layer_self[layer] += own[i]
    for layer, v in sorted(layer_self.items()):
        m[f"self_s.{layer}"] = v
    return m
