"""The CDC streaming pipeline — the reference connector, Spark-first.

Reference dataflow (SURVEY.md §2.1, internal/mongo/client.go:177-266):

  change-stream scan (O1) -> offset recovery/resume (O2/O3, cursor token)
  -> extract token + op type (O4) -> filter publishable ops (O5)
  -> invalidate handling (O6) -> ExtJSON serialize (O7)
  -> subject = <STREAM>.<opType> (O8)
  -> publish with Nats-Msg-Id = token (O9) -> commit token (O10)

Spark mapping: Structured Streaming owns O1/O2/O3/O10 via the checkpoint
(offset + commit logs — the whole resume-token subsystem disappears), O4-O8
are column expressions on the stream definition itself, planned once per
query rather than rebuilt per epoch, and O9 is a `foreachBatch` idempotent
sink (streaming/sink.py). Delivery semantics match the reference's crash
matrix (README.md:118-127): at-least-once publish + msg-id dedup =
effectively once.

Each epoch is one Spark write. In the total-order mode that is one job of
one stage and one task: read, serialize, sort, number, count, write. (The
per-key mode keeps its window shuffle, which AQE may run as a job of its
own.) O6 rides the write: the transform keeps the invalidate marker as a
``<STREAM>.invalidate`` row, the sink's write Observation counts it and
filters it out before the write, and the batch handler reads
``sink.invalidated`` afterwards to stop that pipeline's query once the epoch
has committed. There is no separate scan for the marker.

Ordering: the reference is strictly ordered per collection because its loop
is single-threaded (client.go:217-257). Here each micro-batch is sorted by
resume token and written atomically per epoch; batch N+1 only commits after
N (epoch serialization) — the same per-collection total order with batch
granularity.
"""

from __future__ import annotations

import threading
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from mongodb_nats_connector_spark.config import (
    INVALIDATE_OPERATION_TYPE,
    PUBLISHABLE_OPERATION_TYPES,
    CollectionConfig,
    ConnectorConfig,
)
from mongodb_nats_connector_spark.functions.extjson import envelope_to_extjson
from mongodb_nats_connector_spark.sources.change_events import read_change_event_stream
from mongodb_nats_connector_spark.streaming.observability import drain_listener_bus
from mongodb_nats_connector_spark.streaming.sink import JetStreamLikeSink


def transform_change_events(
    events: DataFrame, stream_name: str, keep_document_key: bool = False
) -> DataFrame:
    """O4-O8: the whole per-event transform as one narrow projection.

    Filter to publishable op types (O5; drop/rename silently dropped like
    client.go:231-237), derive the routing subject (O8), and serialize the
    envelope to relaxed ExtJSON (O7). The invalidate marker (O6) is kept as a
    ``<STREAM>.invalidate`` row so the sink can count it inside its one write
    and drop it there; it is never published. No shuffle — this is a
    map-only stage at any scale. ``keep_document_key`` carries the document
    key through for the sink's per-key-ordered mode.
    """
    cols = [
        F.col("_id_data").alias("msg_id"),  # Nats-Msg-Id (nats/client.go:124)
        F.concat(
            F.lit(stream_name), F.lit("."), F.col("operation_type")
        ).alias("subject"),
        envelope_to_extjson().alias("data"),
        F.col("cluster_time"),
    ]
    if keep_document_key:
        cols.append(F.col("document_key_id").alias("document_key"))
    return events.filter(
        F.col("operation_type").isin(
            *PUBLISHABLE_OPERATION_TYPES, INVALIDATE_OPERATION_TYPE
        )
    ).select(*cols)


@dataclass
class PipelineHandle:
    config: CollectionConfig
    query: StreamingQuery
    sink: JetStreamLikeSink
    # holds the query for the batch handler, which stops it gracefully once
    # the sink saw an invalidate marker (reference client.go:232-235 returns
    # from the watch loop without error — the connector stays alive)
    lifecycle: dict = field(default_factory=dict)

    @property
    def invalidated(self) -> bool:
        return self.sink.invalidated


def _stop_after_epoch(query: StreamingQuery, timeout: float = 30.0) -> None:
    """Stop a StreamingQuery once its in-flight trigger (if any) finishes.

    Runs on a helper thread: stop() from inside foreachBatch would interrupt
    the very epoch that carried the invalidate marker before its commit.
    Waiting for the trigger to go idle lets the final publishable events of
    that epoch commit; if the wait races the next trigger, the epoch-keyed
    idempotent sink makes the replay harmless.

    A terminated, failed or concurrently stopping query answers
    ``isActive``, ``status`` and ``stop()`` without raising; ``stop()`` on a
    query whose SparkContext has stopped raises a ``Py4JJavaError``. The
    ``except`` takes every error from the JVM side (``Py4JError`` and its
    ``Py4JJavaError`` subclass); anything else raises out of the thread. In
    both cases a query left running is reported DOWN by
    ``Connector.health()`` once this thread has ended.
    """
    deadline = time.monotonic() + timeout
    try:
        while time.monotonic() < deadline:
            if not query.isActive:
                return
            if not query.status.get("isTriggerActive", False):
                break
            time.sleep(0.1)
        query.stop()
    except Py4JError:
        pass


def _stop_in_background(lifecycle: dict) -> None:
    """Run ``_stop_after_epoch`` on a daemon thread, kept in ``lifecycle``
    so ``Connector.health()`` can tell a stop that failed from one still
    waiting."""
    stopper = threading.Thread(
        target=_stop_after_epoch, args=(lifecycle["query"],), daemon=True
    )
    lifecycle["stopper"] = stopper
    stopper.start()


class Connector:
    """Pipeline fan-out + lifecycle (O14): one StreamingQuery per watched
    collection, mirroring pkg/connector/connector.go:125-186 (goroutine per
    collection under errgroup -> concurrent StreamingQueries under one
    SparkSession; awaitAnyTermination ≡ errgroup semantics)."""

    def __init__(
        self,
        spark: SparkSession,
        config: ConnectorConfig,
        source_paths: dict[str, str],
        sink_root: str,
        order_within_key: bool = False,
        metrics=None,
    ) -> None:
        """``source_paths`` maps '<db>.<coll>' -> change-event feed dir (the
        file-backed stand-in for a Mongo change stream; a real Mongo source
        would plug in via the Python Data Source API with the same schema).
        ``order_within_key`` selects the sink's parallel per-document-order
        mode over the reference-faithful total order (see JetStreamLikeSink).
        """
        self.spark = spark
        self.config = config
        self.source_paths = source_paths
        self.sink_root = sink_root
        self.order_within_key = order_within_key
        self.metrics = metrics  # optional MetricsRegistry for NATS counters
        self.handles: list[PipelineHandle] = []
        self._drain_at_stop = False

    @staticmethod
    def _batch_handler(sink: JetStreamLikeSink, lifecycle: dict):
        """foreachBatch body: publish the epoch, then — O6 — if the sink's
        write saw an invalidate marker, stop the query after the epoch
        (client.go:232-235: the reference stops resuming the dropped
        collection; siblings keep running). The batch arrives already
        transformed: ``transform_change_events`` sits on the stream
        definition, planned once per query, so an epoch builds no plan in
        Python beyond the sink's own select."""

        def handle(batch: DataFrame, epoch_id: int) -> None:
            sink.publish_batch(batch, epoch_id)
            if sink.invalidated and "query" in lifecycle:
                _stop_in_background(lifecycle)

        return handle

    def start(self) -> list[PipelineHandle]:
        self._drain_at_stop = True
        for coll in self.config.collections:
            key = f"{coll.db_name}.{coll.coll_name}"
            if key not in self.source_paths:
                raise KeyError(f"no source feed for {key}")
            sink = JetStreamLikeSink(
                self.spark,
                stream_dir=f"{self.sink_root}/streams/{coll.stream_name}",
                stream_name=coll.stream_name,
                order_within_key=self.order_within_key,
                metrics=self.metrics,
            )
            sink.add_stream()  # DDL bootstrap, idempotent (O13)
            events = transform_change_events(
                read_change_event_stream(self.spark, self.source_paths[key]),
                coll.stream_name,
                keep_document_key=self.order_within_key,
            )
            checkpoint = f"{self.sink_root}/checkpoints/{coll.checkpoint_name}"
            lifecycle: dict = {}
            query = (
                events.writeStream.outputMode("append")
                .option("checkpointLocation", checkpoint)
                .foreachBatch(self._batch_handler(sink, lifecycle))
                .queryName(f"cdc-{coll.stream_name}")
                .start()
            )
            lifecycle["query"] = query
            if sink.invalidated:
                # the first trigger raced us and already saw the invalidate
                _stop_in_background(lifecycle)
            self.handles.append(PipelineHandle(coll, query, sink, lifecycle))
        return self.handles

    def process_all_available(self) -> None:
        for h in self.handles:
            try:
                h.query.processAllAvailable()
            except Exception:
                # a query stopped mid-wait by the invalidate handler is a
                # graceful completion, not a failure
                if not h.invalidated:
                    raise

    def await_any_termination(self, timeout: float | None = None):
        terminated = self.spark.streams.awaitAnyTermination(timeout)
        if terminated and any(h.query.isActive for h in self.handles):
            # One terminated handle (e.g. an invalidated collection) would
            # otherwise make every later call return immediately and the
            # serve loop busy-spin at full CPU while siblings keep running:
            # clear the manager's terminated set so the next wait blocks.
            # A query that failed with an exception has already raised out
            # of awaitAnyTermination above, before the reset.
            self.spark.streams.resetTerminated()
        return terminated

    def stop(self) -> None:
        """Stop every pipeline. The first call after ``start()`` then waits
        until the listener bus has delivered their last progress events, so
        ``/metrics`` counts the final epochs before the caller shuts the
        server down; it raises the JVM's ``TimeoutException`` if the bus has
        not drained in 30 s. Later calls (``__main__`` stops again after its
        signal handler did) only stop."""
        for h in self.handles:
            if h.query.isActive:
                h.query.stop()
        if self._drain_at_stop:
            self._drain_at_stop = False
            drain_listener_bus(self.spark)

    # -- observability (O15): /healthz response shape,
    #    internal/server/health.go:31-45 --
    def health(self) -> dict:
        components = []
        for h in self.handles:
            stopper = h.lifecycle.get("stopper")
            if h.invalidated and not h.query.isActive:
                # graceful completion after a collection drop/rename: the
                # reference's watch loop returns nil on invalidate and the
                # connector keeps serving (client.go:232-235, drop_test.go)
                status = "COMPLETED"
            elif stopper is not None and not stopper.is_alive():
                # the invalidate's stop has ended but left the query running
                status = "DOWN"
            elif h.query.isActive and h.query.exception() is None:
                status = "UP"
            else:
                status = "DOWN"
            components.append(
                {"name": f"pipeline-{h.config.stream_name}", "status": status}
            )
        status = (
            "UP"
            if components and all(c["status"] in ("UP", "COMPLETED") for c in components)
            else "DOWN"
        )
        return {"status": status, "components": components}
