"""Observability: health endpoint + metrics, preserving the reference's
metric names (internal/prometheus/prometheus.go; /healthz shape
internal/server/health.go:31-45; response asserted by
test/acceptance/observability_test.go:35-63).

Spark-side signal comes from a StreamingQueryListener (per-batch progress ->
processing-duration observations and row counts); the sink contributes
per-subject publish counters. Exposition is Prometheus text format rendered
with the stdlib only (prometheus_client isn't in this environment).
"""

from __future__ import annotations

import json
import threading
from collections import defaultdict
from http.server import BaseHTTPRequestHandler, HTTPServer

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener


# prometheus.DefBuckets — the reference registers its duration histograms
# with the client_golang defaults (internal/prometheus/prometheus.go:18-26),
# so quantile-over-time queries a reference user runs against /metrics work
# unchanged here.
DEFAULT_BUCKETS: tuple[float, ...] = (
    0.005, 0.01, 0.025, 0.05, 0.1, 0.25, 0.5, 1.0, 2.5, 5.0, 10.0,
)


class MetricsRegistry:
    """Counters + duration histograms keyed by label tuples, thread-safe."""

    def __init__(self, buckets: tuple[float, ...] = DEFAULT_BUCKETS) -> None:
        self._lock = threading.Lock()
        self.buckets = tuple(sorted(buckets))
        self.counters: dict[tuple[str, tuple], float] = defaultdict(float)
        self.dur_sum: dict[tuple[str, tuple], float] = defaultdict(float)
        self.dur_count: dict[tuple[str, tuple], int] = defaultdict(int)
        # cumulative observation counts per upper bound (le), Prometheus-style
        self.dur_buckets: dict[tuple[str, tuple], list[int]] = {}

    def inc(self, name: str, labels: dict[str, str], by: float = 1) -> None:
        with self._lock:
            self.counters[(name, tuple(sorted(labels.items())))] += by

    def observe(self, name: str, labels: dict[str, str], seconds: float) -> None:
        key = (name, tuple(sorted(labels.items())))
        with self._lock:
            self.dur_sum[key] += seconds
            self.dur_count[key] += 1
            counts = self.dur_buckets.setdefault(key, [0] * len(self.buckets))
            for i, le in enumerate(self.buckets):
                if seconds <= le:
                    counts[i] += 1

    @staticmethod
    def _fmt_labels(labels: tuple) -> str:
        if not labels:
            return ""
        inner = ",".join(f'{k}="{v}"' for k, v in labels)
        return "{" + inner + "}"

    def render_prometheus(self) -> str:
        """Prometheus text exposition: counters + full histograms
        (`_bucket{le=...}` cumulative counts incl. +Inf, `_sum`, `_count`)."""
        out: list[str] = []
        with self._lock:
            for (name, labels), v in sorted(self.counters.items()):
                out.append(f"{name}{self._fmt_labels(labels)} {v:g}")
            for (name, labels), s in sorted(self.dur_sum.items()):
                c = self.dur_count[(name, labels)]
                counts = self.dur_buckets.get((name, labels), [0] * len(self.buckets))
                for le, cum in zip(self.buckets, counts):
                    ll = labels + (("le", f"{le:g}"),)
                    out.append(f"{name}_bucket{self._fmt_labels(ll)} {cum}")
                ll = labels + (("le", "+Inf"),)
                out.append(f"{name}_bucket{self._fmt_labels(ll)} {c}")
                out.append(f"{name}_sum{self._fmt_labels(labels)} {s:.6f}")
                out.append(f"{name}_count{self._fmt_labels(labels)} {c}")
        return "\n".join(out) + "\n"


def drain_listener_bus(spark: SparkSession) -> None:
    """Block until Spark's listener bus has delivered every posted event,
    including streaming progress to ``ConnectorMetricsListener``. Listener
    callbacks run on the bus's own thread, so they can lag the query that
    posted the events; after 30 s the JVM's ``TimeoutException`` raises."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)


class ConnectorMetricsListener(StreamingQueryListener):
    """Maps streaming progress to the reference's metric names:
    `connector_change_event_processing_duration_seconds` (per-event duration,
    prometheus.go:18-26) — observed here as batch duration spread over batch
    rows — and input counters per pipeline."""

    def __init__(self, registry: MetricsRegistry) -> None:
        self.registry = registry

    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API name)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        name = p.name or p.id
        rows = p.numInputRows or 0
        batch_s = (p.batchDuration or 0) / 1000.0
        labels = {"collection": str(name)}
        self.registry.inc("connector_events_total", labels, rows)
        if rows:  # one observation per batch
            self.registry.observe(
                "connector_change_event_processing_duration_seconds",
                labels,
                batch_s / rows,
            )

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass


class ObservabilityServer:
    """GET /healthz + GET /metrics on a daemon thread (O15/O16). The handler
    mirrors internal/server/health.go: {"status": ..., "components": [...]}
    with 200/503 depending on component status."""

    def __init__(self, health_fn, registry: MetricsRegistry, addr: str = "127.0.0.1", port: int = 0):
        self.health_fn = health_fn
        self.registry = registry
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def do_GET(self):  # noqa: N802
                try:
                    if self.path == "/healthz":
                        body = json.dumps(outer.health_fn()).encode()
                        code = 200 if json.loads(body)["status"] == "UP" else 503
                        ctype = "application/json"
                    elif self.path == "/metrics":
                        body = outer.registry.render_prometheus().encode()
                        code, ctype = 200, "text/plain; version=0.0.4"
                    else:
                        body, code, ctype = b"not found", 404, "text/plain"
                except Exception as e:  # recoverer middleware (middleware.go:10-22)
                    body = json.dumps({"error": str(e)}).encode()
                    code, ctype = 500, "application/json"
                self.send_response(code)
                self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *a):  # silence request logging
                pass

        self.server = HTTPServer((addr, port), Handler)
        self.port = self.server.server_address[1]
        self._thread: threading.Thread | None = None

    def start(self) -> None:
        self._thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self.server.shutdown()
        self.server.server_close()
