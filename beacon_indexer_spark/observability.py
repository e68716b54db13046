"""Metrics + health: the reference's observability layer, Spark-shaped.

Parity with ``/root/reference/src/observability.py:1-198``: the same metric
family names (``beacon_indexer_api_requests_total``,
``beacon_indexer_chunks_total``, ``beacon_indexer_rows_written_total``,
``beacon_indexer_chain_head_slot``, …), endpoint-label normalization to
bounded cardinality, and an optional ``/metrics`` + ``/health`` HTTP
endpoint — without requiring ``prometheus_client`` (not shipped here): the
registry renders Prometheus text exposition format itself, and dumps JSON
for log-based scraping.

Where metrics live in a *distributed* engine: this registry is
process-local. Driver-side surfaces (the realtime loop, transform jobs,
ledger transitions, driver API calls) record here directly. Executor-side
work (the ``mapPartitions`` fetch stage) cannot reach the driver registry;
distributed fetch metrics flow through Spark's own machinery instead — a
``LongAccumulator`` pair threaded through ``fetch_slots_distributed``
(see ``sources/beacon_api.py``) whose totals are folded into this registry
when the job completes. That is the Spark answer to the reference's
in-process Prometheus counters.
"""

from __future__ import annotations

import json
import re
import threading
from collections.abc import Iterable

# reference observability.py:20-21 — same bucket boundaries
API_LATENCY_BUCKETS = (0.05, 0.1, 0.25, 0.5, 1, 2.5, 5, 10, 30, 60, 120, 300)
CHUNK_DURATION_BUCKETS = (0.5, 1, 2.5, 5, 10, 30, 60, 120, 300, 600, 1800)

# reference observability.py:124-143 — collapse dynamic path segments so the
# endpoint label stays bounded-cardinality
_ENDPOINT_PATTERNS: tuple[tuple[re.Pattern, str], ...] = tuple(
    (re.compile(pat), label)
    for pat, label in (
        (r"^/eth/v2/beacon/blocks/[^/]+$", "/eth/v2/beacon/blocks/{block_id}"),
        (r"^/eth/v1/beacon/rewards/blocks/[^/]+$",
         "/eth/v1/beacon/rewards/blocks/{block_id}"),
        (r"^/eth/v1/debug/beacon/data_column_sidecars/[^/]+$",
         "/eth/v1/debug/beacon/data_column_sidecars/{slot}"),
        (r"^/eth/v1/beacon/blob_sidecars/[^/]+$",
         "/eth/v1/beacon/blob_sidecars/{slot}"),
        (r"^/eth/v1/beacon/states/[^/]+/(validators|pending_consolidations|"
         r"pending_deposits|pending_partial_withdrawals)$",
         "/eth/v1/beacon/states/{state_id}/\\1"),
    )
)


def normalize_api_endpoint(endpoint: str) -> str:
    path = endpoint.split("?", 1)[0]
    for pat, label in _ENDPOINT_PATTERNS:
        m = pat.match(path)
        if m:
            return m.expand(label) if "\\" in label else label
    return path


def _labels_key(labels: dict[str, str] | None) -> tuple:
    return tuple(sorted((labels or {}).items()))


class MetricsRegistry:
    """Thread-safe counters / gauges / histograms with Prometheus text and
    JSON renderers. One instance per process; ``METRICS`` is the default."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._counters: dict[tuple[str, tuple], float] = {}
        self._gauges: dict[tuple[str, tuple], float] = {}
        # name → (buckets, {labels: [bucket_counts..., sum, count]})
        self._hists: dict[str, tuple[tuple, dict[tuple, list]]] = {}

    # -- write ------------------------------------------------------------

    def inc(self, name: str, labels: dict[str, str] | None = None, n: float = 1) -> None:
        key = (name, _labels_key(labels))
        with self._lock:
            self._counters[key] = self._counters.get(key, 0) + n

    def set_gauge(self, name: str, value: float,
                  labels: dict[str, str] | None = None) -> None:
        with self._lock:
            self._gauges[(name, _labels_key(labels))] = value

    def observe(self, name: str, value: float,
                labels: dict[str, str] | None = None,
                buckets: Iterable[float] = API_LATENCY_BUCKETS) -> None:
        lk = _labels_key(labels)
        with self._lock:
            bkts, series = self._hists.setdefault(name, (tuple(buckets), {}))
            row = series.setdefault(lk, [0] * (len(bkts) + 2))
            for i, b in enumerate(bkts):
                if value <= b:
                    row[i] += 1
            row[-2] += value
            row[-1] += 1

    # -- read -------------------------------------------------------------

    def counter_value(self, name: str, labels: dict[str, str] | None = None) -> float:
        return self._counters.get((name, _labels_key(labels)), 0)

    def gauge_value(self, name: str, labels: dict[str, str] | None = None) -> float | None:
        return self._gauges.get((name, _labels_key(labels)))

    def to_dict(self) -> dict:
        with self._lock:
            out: dict = {"counters": {}, "gauges": {}, "histograms": {}}
            for (name, lk), v in sorted(self._counters.items()):
                out["counters"].setdefault(name, []).append(
                    {"labels": dict(lk), "value": v}
                )
            for (name, lk), v in sorted(self._gauges.items()):
                out["gauges"].setdefault(name, []).append(
                    {"labels": dict(lk), "value": v}
                )
            for name, (bkts, series) in sorted(self._hists.items()):
                out["histograms"][name] = [
                    {"labels": dict(lk), "buckets": dict(zip(map(str, bkts), row)),
                     "sum": row[-2], "count": row[-1]}
                    for lk, row in sorted(series.items())
                ]
            return out

    def dump_json(self) -> str:
        return json.dumps(self.to_dict(), sort_keys=True)

    def render_prometheus(self) -> str:
        """Prometheus text exposition format, no client library needed."""

        def fmt_labels(lk: tuple, extra: dict | None = None) -> str:
            items = dict(lk)
            if extra:
                items.update(extra)
            if not items:
                return ""
            body = ",".join(f'{k}="{v}"' for k, v in sorted(items.items()))
            return "{" + body + "}"

        lines: list[str] = []
        with self._lock:
            for (name, lk), v in sorted(self._counters.items()):
                lines.append(f"{name}{fmt_labels(lk)} {v}")
            for (name, lk), v in sorted(self._gauges.items()):
                lines.append(f"{name}{fmt_labels(lk)} {v}")
            for name, (bkts, series) in sorted(self._hists.items()):
                for lk, row in sorted(series.items()):
                    cum = 0
                    for i, b in enumerate(bkts):
                        cum = row[i]
                        lines.append(
                            f"{name}_bucket{fmt_labels(lk, {'le': b})} {cum}"
                        )
                    lines.append(
                        f"{name}_bucket{fmt_labels(lk, {'le': '+Inf'})} {row[-1]}"
                    )
                    lines.append(f"{name}_sum{fmt_labels(lk)} {row[-2]}")
                    lines.append(f"{name}_count{fmt_labels(lk)} {row[-1]}")
        return "\n".join(lines) + "\n"

    def reset(self) -> None:
        with self._lock:
            self._counters.clear()
            self._gauges.clear()
            self._hists.clear()


METRICS = MetricsRegistry()

_health_state: dict = {"status": "starting", "operation": ""}
_health_lock = threading.Lock()
_metrics_server = None
_metrics_registry: MetricsRegistry | None = None


def update_health(**kwargs) -> None:
    with _health_lock:
        _health_state.update(kwargs)


def get_health() -> dict:
    with _health_lock:
        return dict(_health_state)


def error_text(e: BaseException, limit: int = 500) -> str:
    """``e`` in at most ``limit`` characters, for ``/health`` and the
    progress ``error_message``. A failure inside a Spark task reaches the
    driver as a Py4J error whose first line only names the JVM call ("An
    error occurred while calling o160.parquet."), followed by a Java trace
    of many kilobytes. Its cause is the exception line that ends the
    task's Python traceback, or else the last ``Caused by:`` line; that
    cause is kept whole, after as much of the first line as fits."""
    lines = str(e).splitlines()
    py_cause = java_cause = None
    in_traceback = False
    for line in lines[1:]:
        if line.endswith("Traceback (most recent call last):"):
            in_traceback = True
        elif in_traceback and line[:1] not in ("", " ", "\t"):
            py_cause, in_traceback = line, False
        elif line.startswith("Caused by: "):
            java_cause = line[len("Caused by: "):]
    cause = py_cause or java_cause
    if cause is None:
        return str(e)[:limit]
    sep = " caused by: "
    return (lines[0][: max(0, limit - len(sep) - len(cause))] + sep + cause)[:limit]


def start_metrics_server(port: int = 9090, registry: MetricsRegistry | None = None):
    """``/metrics`` (Prometheus text) + ``/health`` (JSON) on a daemon
    thread — reference observability.py:158-198, stdlib-only. Threaded so
    one stalled scraper connection cannot block /health. Idempotent for
    the same port; a second call with a DIFFERENT port is an error (the
    silent-return alternative leaves the caller believing the new port is
    served)."""
    global _metrics_server, _metrics_registry
    reg = registry or METRICS
    if _metrics_server is not None:
        if _metrics_server.server_address[1] != port:
            raise RuntimeError(
                f"metrics server already running on port "
                f"{_metrics_server.server_address[1]}, refusing {port}"
            )
        if _metrics_registry is not reg:
            raise RuntimeError(
                "metrics server already serving a different registry"
            )
        return _metrics_server
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802 — http.server API
            if self.path == "/metrics":
                body = reg.render_prometheus().encode()
                self.send_response(200)
                self.send_header("Content-Type", "text/plain; version=0.0.4")
            elif self.path == "/health":
                health = get_health()
                code = 200 if health.get("status") not in {"failed", "error"} else 503
                body = json.dumps(health, default=str).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
            else:
                self.send_response(404)
                self.end_headers()
                return
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, fmt, *args):  # silence access log
            pass

    server = ThreadingHTTPServer(("0.0.0.0", port), Handler)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    _metrics_server = server
    _metrics_registry = reg
    return server
