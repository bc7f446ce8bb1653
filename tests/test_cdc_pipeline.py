"""Port of the reference's acceptance + fault-injection suites (SURVEY.md §5).

Scenario sources (reference files under /root/reference/):
  insert/update/replace/delete golden specs: test/acceptance/*_test.go
  drop/rename/invalidate negatives:          drop_test.go / rename_test.go
  exactly-once + order under restart:        test/faultinjection/*_test.go,
                                             harness MustVerifyMessageCorrectness
"""

from __future__ import annotations

import glob
import json

import pytest
from pyspark.sql import functions as F

from mongodb_nats_connector_spark.config import CollectionConfig, ConnectorConfig
from mongodb_nats_connector_spark.functions.extjson import (
    envelope_to_extjson,
    extjson_get_date,
    extjson_get_oid,
)
from mongodb_nats_connector_spark.sources.change_events import (
    generate_change_events,
    write_change_event_feed,
)
from mongodb_nats_connector_spark.streaming.pipeline import (
    Connector,
    transform_change_events,
)


def _connector(spark, tmp_path, n_docs=10, **feed_kw):
    feed = str(tmp_path / "feed")
    write_change_event_feed(spark, feed, n_docs=n_docs, **feed_kw)
    cfg = ConnectorConfig(
        collections=[CollectionConfig(db_name="test-connector-db", coll_name="coll1")]
    )
    conn = Connector(
        spark,
        cfg,
        source_paths={"test-connector-db.coll1": feed},
        sink_root=str(tmp_path / "sink"),
    )
    return conn


def test_insert_event_published_once(spark, tmp_path):
    """insert_test.go:36-53: one insert -> one message on COLL1.insert with
    msg id == resume token and an ExtJSON body that round-trips."""
    conn = _connector(spark, tmp_path, n_docs=1, with_noise_tail=False, with_duplicates=False)
    conn.start()
    conn.process_all_available()
    conn.stop()
    sink = conn.handles[0].sink
    msgs = sink.read_messages().filter(F.col("subject") == "COLL1.insert").collect()
    assert len(msgs) == 1
    m = msgs[0]
    body = json.loads(m.data)
    assert m.msg_id == body["_id"]["_data"]
    assert body["operationType"] == "insert"
    assert body["ns"] == {"db": "test-connector-db", "coll": "coll1"}
    assert body["fullDocument"]["message"] == "test 0"
    assert body["fullDocumentBeforeChange"] is None
    assert set(body["documentKey"]["_id"].keys()) == {"$oid"}


def test_update_delete_images(spark, tmp_path):
    """update_test.go:51-56 / delete_test.go:50-55: update carries both
    images; delete has no post-image but a pre-image."""
    conn = _connector(spark, tmp_path, n_docs=1, with_noise_tail=False, with_duplicates=False)
    conn.start()
    conn.process_all_available()
    conn.stop()
    sink = conn.handles[0].sink
    upd = json.loads(
        sink.read_messages().filter(F.col("subject") == "COLL1.update").first().data
    )
    assert upd["fullDocument"]["message"] == "bye 0"
    assert upd["fullDocumentBeforeChange"]["message"] == "test 0"
    dele = json.loads(
        sink.read_messages().filter(F.col("subject") == "COLL1.delete").first().data
    )
    assert dele["fullDocument"] is None
    assert dele["fullDocumentBeforeChange"]["message"] == "replaced 0"


def test_noise_ops_not_published(spark, tmp_path):
    """drop_test.go:32-42 / rename_test.go: drop/rename/invalidate produce NO
    messages and do not crash the pipeline."""
    conn = _connector(spark, tmp_path, n_docs=5, with_noise_tail=True, with_duplicates=False)
    conn.start()
    conn.process_all_available()
    conn.stop()
    sink = conn.handles[0].sink
    subjects = {r.subject for r in sink.read_messages().select("subject").distinct().collect()}
    assert subjects == {"COLL1.insert", "COLL1.update", "COLL1.replace", "COLL1.delete"}
    assert conn.health()["components"][0]["name"] == "pipeline-COLL1"


def test_duplicate_tokens_deduped(spark, tmp_path):
    """README.md:121-127 crash matrix: replayed events with the same resume
    token are dropped by msg-id dedup (consumer side), like Nats-Msg-Id."""
    conn = _connector(spark, tmp_path, n_docs=5, with_noise_tail=False, with_duplicates=True)
    conn.start()
    conn.process_all_available()
    conn.stop()
    sink = conn.handles[0].sink
    total = sink.message_count(deduped=True)
    raw = sink.message_count(deduped=False)
    assert total == 5 * 4  # 4 ops per doc, duplicates dropped
    assert raw >= total  # at-least-once underneath


def test_order_preserved_and_exactly_once_across_restart(spark, tmp_path):
    """faultinjection/restart_connector_test.go:30-38 +
    MustVerifyMessageCorrectness (harness.go:274-294): kill the query
    mid-stream, restart from the checkpoint, then verify every event arrived
    exactly once and in token order."""
    feed = str(tmp_path / "feed")
    n1 = write_change_event_feed(
        spark, feed, n_docs=25, with_noise_tail=False, with_duplicates=False
    )
    cfg = ConnectorConfig(
        collections=[CollectionConfig(db_name="test-connector-db", coll_name="coll1")]
    )
    conn = Connector(
        spark, cfg, {"test-connector-db.coll1": feed}, sink_root=str(tmp_path / "sink")
    )
    conn.start()
    conn.process_all_available()
    conn.stop()  # "restart the connector"

    # more events arrive while the connector is down
    extra = generate_change_events(
        spark, n_docs=50, with_noise_tail=False, with_duplicates=False
    ).filter(F.col("document_key_id") >= F.lpad(F.lit("19"), 24, "0"))  # docs 25..49
    extra.orderBy("_id_data").coalesce(1).write.mode("append").parquet(feed)

    conn2 = Connector(
        spark, cfg, {"test-connector-db.coll1": feed}, sink_root=str(tmp_path / "sink")
    )
    conn2.start()
    conn2.process_all_available()
    conn2.stop()

    sink = conn2.handles[0].sink
    msgs = sink.read_messages().orderBy("epoch", "seq_in_epoch").collect()
    # exactly once: no duplicate msg ids
    ids = [m.msg_id for m in msgs]
    assert len(ids) == len(set(ids)), "duplicate messages after restart"
    assert len(ids) == n1 + extra.count()
    # in-order per collection: token order == arrival order
    assert ids == sorted(ids), "messages out of order"


def test_invalidate_stops_pipeline_siblings_keep_running(spark, tmp_path):
    """O6 end-to-end (client.go:232-235 + drop_test.go:32-42): an invalidate
    marker stops THAT pipeline's StreamingQuery gracefully after its epoch —
    no invalidate message is published, the sibling pipeline keeps running,
    and the connector itself stays healthy."""
    import time

    feeds = {}
    for coll, noise in (("coll1", True), ("coll2", False)):
        path = str(tmp_path / f"feed_{coll}")
        write_change_event_feed(
            spark, path, n_docs=3, ns_coll=coll,
            with_noise_tail=noise, with_duplicates=False,
        )
        feeds[f"db1.{coll}"] = path
    cfg = ConnectorConfig(
        collections=[
            CollectionConfig(db_name="db1", coll_name="coll1"),
            CollectionConfig(db_name="db1", coll_name="coll2"),
        ]
    )
    conn = Connector(spark, cfg, feeds, sink_root=str(tmp_path / "sink"))
    h1, h2 = conn.start()
    conn.process_all_available()

    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and h1.query.isActive:
        time.sleep(0.2)
    assert h1.invalidated, "invalidate marker not detected"
    assert not h1.query.isActive, "invalidated pipeline should stop"
    assert h1.query.exception() is None, "stop must be graceful, not a failure"
    assert h2.query.isActive, "sibling pipeline must keep running"
    assert not h2.invalidated

    # the dropped collection's events before the invalidate were published;
    # drop/rename/invalidate themselves were not
    subjects = {r.subject for r in h1.sink.read_messages().select("subject").distinct().collect()}
    assert subjects == {"COLL1.insert", "COLL1.update", "COLL1.replace", "COLL1.delete"}
    assert h1.sink.message_count() == 12

    health = conn.health()
    assert health["status"] == "UP", "connector stays alive after a drop"
    by_name = {c["name"]: c["status"] for c in health["components"]}
    assert by_name["pipeline-COLL1"] == "COMPLETED"
    assert by_name["pipeline-COLL2"] == "UP"

    # the serve loop must not busy-spin on the terminated handle: the first
    # wait observes the termination and resets, so the next wait BLOCKS for
    # its full timeout instead of returning immediately forever
    assert conn.await_any_termination(timeout=1.0) is True
    t0 = time.monotonic()
    assert conn.await_any_termination(timeout=0.5) is False
    assert time.monotonic() - t0 >= 0.4, "second wait returned immediately"
    conn.stop()


def test_order_within_key_mode_exactly_once_per_key_order(spark, tmp_path):
    """Per-key-ordered sink mode: the epoch write parallelizes (no global
    coalesce) while each document's events stay in token order — the
    guarantee consumers key on (NATS subjects partition per document)."""
    feed = str(tmp_path / "feed")
    n = write_change_event_feed(
        spark, feed, n_docs=20, with_noise_tail=False, with_duplicates=False
    )
    cfg = ConnectorConfig(
        collections=[CollectionConfig(db_name="test-connector-db", coll_name="coll1")]
    )
    conn = Connector(
        spark, cfg, {"test-connector-db.coll1": feed},
        sink_root=str(tmp_path / "sink"), order_within_key=True,
    )
    conn.start()
    conn.process_all_available()
    conn.stop()
    sink = conn.handles[0].sink
    msgs = sink.read_messages().orderBy("document_key", "epoch", "seq_in_epoch").collect()
    ids = [m.msg_id for m in msgs]
    assert len(ids) == n and len(set(ids)) == n, "not exactly-once"
    per_key: dict = {}
    for m in msgs:
        per_key.setdefault(m.document_key, []).append(m.msg_id)
    for key, toks in per_key.items():
        assert toks == sorted(toks), f"per-key order violated for {key}"
    assert len(per_key) == 20


def _prometheus_values(text: str) -> dict[str, float]:
    """``name{labels}`` -> value for every sample line of an exposition."""
    out = {}
    for line in text.splitlines():
        key, _, value = line.rpartition(" ")
        out[key] = float(value)
    return out


def test_nats_publish_metrics_exposed(spark, tmp_path):
    """The reference's NATS exposition (prometheus.go NatsRegisterer):
    per-subject published counters + duration histogram come from the sink,
    and the listener counts every change event exactly once, even though the
    feed carries replayed tokens and the drop/rename/invalidate tail. The
    invalidate marker is never counted as published or failed."""
    import time

    from mongodb_nats_connector_spark.streaming.observability import (
        ConnectorMetricsListener,
        MetricsRegistry,
    )
    from mongodb_nats_connector_spark.streaming.sink import JetStreamLikeSink

    registry = MetricsRegistry()
    listener = ConnectorMetricsListener(registry)
    feed = str(tmp_path / "feed")
    n_rows = write_change_event_feed(spark, feed, n_docs=3)  # 12 + 3 replays + 3 noise
    cfg = ConnectorConfig(
        collections=[CollectionConfig(db_name="test-connector-db", coll_name="coll1")]
    )
    conn = Connector(
        spark, cfg, {"test-connector-db.coll1": feed},
        sink_root=str(tmp_path / "sink"), metrics=registry,
    )
    spark.streams.addListener(listener)
    try:
        conn.start()
        conn.process_all_available()
        query = conn.handles[0].query
        epochs = sum(1 for p in query.recentProgress if p.numInputRows)
        assert epochs >= 1
        # the listener bus is asynchronous: wait until it has seen every epoch
        seen_key = (
            "connector_change_event_processing_duration_seconds_count"
            '{collection="cdc-COLL1"}'
        )
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline:
            seen = _prometheus_values(registry.render_prometheus()).get(seen_key, 0)
            if seen >= epochs:
                break
            time.sleep(0.1)
        assert seen == epochs, f"listener saw {seen} of {epochs} epochs"
    finally:
        conn.stop()
        spark.streams.removeListener(listener)

    values = _prometheus_values(registry.render_prometheus())
    assert values['connector_events_total{collection="cdc-COLL1"}'] == n_rows
    # at-least-once underneath: the three replayed tokens (insert, update,
    # replace of doc 0) are published again and counted
    expected = {"insert": 4, "update": 4, "replace": 4, "delete": 3}
    for op, n in expected.items():
        assert values[f'nats_messages_published_total{{subject="COLL1.{op}"}}'] == n
    published = {k for k in values if k.startswith("nats_messages_published_total")}
    assert len(published) == 4, published  # no COLL1.invalidate, no "other"
    assert 'nats_message_duration_seconds_bucket{subject="COLL1.insert",le="+Inf"}' in values
    assert not any(k.startswith("nats_messages_failed_total") for k in values)

    # failure path: the write fails mid-job, the sink falls back to counting
    # the batch directly — still without the invalidate marker
    failing_sink = JetStreamLikeSink(
        spark, str(tmp_path / "failing"), "COLL1", metrics=registry
    )
    failing_sink.add_stream()
    failing = transform_change_events(
        generate_change_events(spark, n_docs=2, with_duplicates=False), "COLL1"
    ).withColumn(
        "data",
        F.when(F.col("subject").isNotNull(), F.raise_error(F.lit("injected failure")))
        .otherwise(F.col("data")),
    )
    assert failing.filter(F.col("subject") == "COLL1.invalidate").count() == 1
    with pytest.raises(Exception, match="injected failure"):
        failing_sink.publish_batch(failing, 0)
    values = _prometheus_values(registry.render_prometheus())
    failed = {k: v for k, v in values.items() if k.startswith("nats_messages_failed_total")}
    assert failed == {
        f'nats_messages_failed_total{{subject="COLL1.{op}"}}': 2.0
        for op in ("insert", "update", "replace", "delete")
    }


@pytest.mark.parametrize("order_within_key", [False, True])
def test_one_job_per_epoch_and_final_metrics_at_stop(spark, tmp_path, order_within_key):
    """An epoch is one Spark write: exactly one job of one task in the
    total-order mode (the batch is coalesced before the global window, so no
    exchange), at most two in the per-key mode (AQE may run the key
    shuffle's map stage as a job of its own). ``stop()`` drains the listener
    bus: right after it, with no polling, /metrics counts every event, the
    last epoch's too. The last file ends with the invalidate marker, so the
    query may already be stopping itself when ``stop()`` runs."""
    import urllib.request

    from mongodb_nats_connector_spark.functions.extjson import CHANGE_EVENT_SCHEMA
    from mongodb_nats_connector_spark.sources.change_events import (
        generate_change_event_rows,
    )
    from mongodb_nats_connector_spark.streaming.observability import (
        ConnectorMetricsListener,
        MetricsRegistry,
        ObservabilityServer,
    )

    rows = generate_change_event_rows(n_docs=12, with_duplicates=False)  # 48 + 3 noise
    feed = str(tmp_path / "feed")
    for i in range(0, len(rows), 17):  # three files, one epoch each
        spark.createDataFrame(rows[i : i + 17], CHANGE_EVENT_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(feed)
    # Split every file into several scan partitions, as a backlog file is,
    # so the one task per epoch shows the coalesce folding a multi-partition
    # scan. The query's session is cloned at start(), which takes the conf.
    split_conf = "spark.sql.files.maxPartitionBytes"
    saved_split = spark.conf.get(split_conf)
    spark.conf.set(split_conf, "1024")
    first_file = sorted(glob.glob(f"{feed}/*.parquet"))[0]
    assert spark.read.parquet(first_file).rdd.getNumPartitions() > 1
    registry = MetricsRegistry()
    listener = ConnectorMetricsListener(registry)
    cfg = ConnectorConfig(
        collections=[CollectionConfig(db_name="test-connector-db", coll_name="coll1")]
    )
    conn = Connector(
        spark, cfg, {"test-connector-db.coll1": feed},
        sink_root=str(tmp_path / "sink"), order_within_key=order_within_key,
        metrics=registry,
    )
    server = ObservabilityServer(health_fn=conn.health, registry=registry)
    spark.streams.addListener(listener)
    server.start()
    try:
        (handle,) = conn.start()
        conn.process_all_available()
        conn.stop()
        url = f"http://127.0.0.1:{server.port}/metrics"
        with urllib.request.urlopen(url, timeout=30) as r:
            values = _prometheus_values(r.read().decode())
    finally:
        spark.conf.set(split_conf, saved_split)
        conn.stop()
        server.stop()
        spark.streams.removeListener(listener)

    epochs = {p.batchId for p in handle.query.recentProgress if p.numInputRows}
    assert len(epochs) == 3
    # Structured Streaming runs a query's jobs in its run-id job group
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(str(handle.query.runId))
    if order_within_key:
        assert len(epochs) <= len(jobs) <= 2 * len(epochs), sorted(jobs)
    else:
        assert len(jobs) == len(epochs), sorted(jobs)
        tasks = [
            tracker.getStageInfo(stage).numTasks
            for job in jobs
            for stage in tracker.getJobInfo(job).stageIds
        ]
        assert tasks == [1] * len(epochs), tasks
    assert values['connector_events_total{collection="cdc-COLL1"}'] == len(rows)
    assert handle.sink.message_count() == 48


@pytest.mark.filterwarnings("ignore::pytest.PytestUnhandledThreadExceptionWarning")
def test_failed_invalidate_stop_reports_down():
    """The invalidate's helper thread takes only errors from the JVM side (a
    Py4JError, as stop() raises once the SparkContext has stopped); any
    other error raises out of it. Either way, a query that the stop left
    running makes health() report the pipeline DOWN, not UP."""
    from py4j.protocol import Py4JError

    from mongodb_nats_connector_spark.streaming.pipeline import (
        PipelineHandle,
        _stop_after_epoch,
        _stop_in_background,
    )

    class IdleQuery:
        status = {"isTriggerActive": False}

        def __init__(self, error=None):
            self.isActive = True
            self.error = error

        def stop(self):
            if self.error is not None:
                raise self.error
            self.isActive = False

        def exception(self):
            return None

    class InvalidatedSink:
        invalidated = True

    _stop_after_epoch(IdleQuery(Py4JError("RpcEnv already stopped")))
    with pytest.raises(RuntimeError, match="unexpected"):
        _stop_after_epoch(IdleQuery(RuntimeError("unexpected")))

    cfg = ConnectorConfig(
        collections=[CollectionConfig(db_name="test-connector-db", coll_name="coll1")]
    )
    conn = Connector(None, cfg, {}, sink_root="unused")
    for error, status in [
        (None, "COMPLETED"),
        (Py4JError("RpcEnv already stopped"), "DOWN"),
        (RuntimeError("unexpected"), "DOWN"),
    ]:
        lifecycle = {"query": IdleQuery(error)}
        conn.handles = [
            PipelineHandle(cfg.collections[0], lifecycle["query"], InvalidatedSink(), lifecycle)
        ]
        _stop_in_background(lifecycle)
        lifecycle["stopper"].join(timeout=10)
        assert not lifecycle["stopper"].is_alive()
        assert conn.health()["components"] == [
            {"name": "pipeline-COLL1", "status": status}
        ], error


def test_source_pause_resume_zero_loss(spark, tmp_path):
    """restart_mongo_test.go:30-38 analogue on the file feed: the source goes
    quiet (database down produces nothing), the connector query STAYS
    RUNNING through idle triggers that publish nothing, the source resumes
    with a new file, and every event is delivered exactly once in token
    order — zero loss across the outage, no restart needed."""
    import time

    conn = _connector(
        spark, tmp_path, n_docs=10, with_noise_tail=False, with_duplicates=False
    )
    (handle,) = conn.start()
    try:
        conn.process_all_available()
        assert handle.sink.message_count() == 40
        # outage: the feed produces nothing; the trigger loop keeps polling
        time.sleep(1.0)
        conn.process_all_available()
        assert handle.query.isActive
        assert handle.sink.message_count() == 40
        # recovery: docs 10..24 arrive as a later file (tokens 40..99)
        generate_change_events(
            spark, n_docs=25, with_noise_tail=False, with_duplicates=False
        ).filter(F.col("document_key_id") >= F.lit(f"{10:024x}")).orderBy(
            "_id_data"
        ).coalesce(1).write.mode("append").parquet(str(tmp_path / "feed"))
        conn.process_all_available()
        assert handle.query.isActive
    finally:
        conn.stop()
    ids = [
        r.msg_id
        for r in handle.sink.read_messages().orderBy("epoch", "seq_in_epoch").collect()
    ]
    assert len(ids) == 100 and len(set(ids)) == 100
    assert ids == sorted(ids), "order broken across the outage"


@pytest.mark.parametrize("order_within_key", [False, True])
def test_noise_only_and_invalidate_only_epochs(spark, tmp_path, order_within_key):
    """Lifecycle edges by value, one epoch per file: an epoch of only
    drop/rename events publishes nothing and leaves an empty, readable
    partition; a later epoch publishes normally; an epoch that holds only the
    invalidate marker publishes nothing and stops the pipeline gracefully."""
    import time

    from mongodb_nats_connector_spark.functions.extjson import CHANGE_EVENT_SCHEMA
    from mongodb_nats_connector_spark.sources.change_events import (
        generate_change_event_rows,
    )

    rows = generate_change_event_rows(n_docs=2, with_duplicates=False)
    publishable, (drop, rename, invalidate) = rows[:-3], rows[-3:]
    feed = str(tmp_path / "feed")

    def append(batch):
        spark.createDataFrame(batch, CHANGE_EVENT_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(feed)

    append([drop, rename])
    cfg = ConnectorConfig(
        collections=[CollectionConfig(db_name="test-connector-db", coll_name="coll1")]
    )
    conn = Connector(
        spark, cfg, {"test-connector-db.coll1": feed},
        sink_root=str(tmp_path / "sink"), order_within_key=order_within_key,
    )
    (handle,) = conn.start()
    try:
        conn.process_all_available()
        assert handle.query.isActive and not handle.invalidated
        assert handle.sink.read_messages().count() == 0
        assert handle.sink.message_count() == 0

        append(publishable)
        conn.process_all_available()
        assert handle.query.isActive and not handle.invalidated
        assert handle.sink.message_count() == 8

        append([invalidate])
        conn.process_all_available()
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline and handle.query.isActive:
            time.sleep(0.2)
        assert handle.invalidated
        assert not handle.query.isActive
        assert handle.query.exception() is None
    finally:
        conn.stop()
    per_epoch = {
        r["epoch"]: r["count"]
        for r in handle.sink.read_messages(deduped=False).groupBy("epoch").count().collect()
    }
    assert per_epoch == {1: 8}
    assert conn.health()["components"][0]["status"] == "COMPLETED"


def test_message_count_raises_on_corrupt_stream(spark, tmp_path):
    """``message_count`` is 0 only while no epoch exists; a damaged stream
    raises instead of reading as empty."""
    import glob
    import os

    from mongodb_nats_connector_spark.streaming.sink import JetStreamLikeSink

    sink = JetStreamLikeSink(spark, str(tmp_path / "stream"), "COLL1")
    sink.add_stream()
    assert sink.message_count() == 0
    sink.publish_batch(
        transform_change_events(
            generate_change_events(spark, n_docs=2, with_duplicates=False), "COLL1"
        ),
        0,
    )
    assert sink.message_count() == 8
    files = glob.glob(os.path.join(sink.messages_dir, "epoch=0", "*.parquet"))
    assert files
    for path in files:
        with open(path, "r+b") as f:
            f.truncate(os.path.getsize(path) // 2)
    with pytest.raises(Exception):
        sink.message_count()


def test_extjson_envelope_roundtrip(spark):
    """O7 fidelity: serialize the envelope to relaxed ExtJSON and parse the
    typed fields back out ($oid / $date / $timestamp), insert_test.go:45-52."""
    ev = generate_change_events(spark, n_docs=3, with_noise_tail=False, with_duplicates=False)
    doc = ev.select(
        "_id_data",
        "document_key_id",
        "wall_time",
        envelope_to_extjson().alias("j"),
    )
    parsed = doc.select(
        "_id_data",
        "document_key_id",
        "wall_time",
        F.get_json_object("j", "$._id._data").alias("token"),
        extjson_get_oid(F.col("j"), "$.documentKey._id").alias("oid"),
        extjson_get_date(F.col("j"), "$.wallTime").alias("wall"),
    )
    for r in parsed.collect():
        assert r.token == r._id_data
        assert r.oid == r.document_key_id
        assert r.wall == r.wall_time


def test_multi_pipeline_fanout(spark, tmp_path):
    """O14: two watched collections -> two concurrent StreamingQueries, one
    stream each (connector.go:155-174; config fixture FIXTURES.md §5)."""
    feeds = {}
    for coll in ("coll1", "coll2"):
        path = str(tmp_path / f"feed_{coll}")
        write_change_event_feed(
            spark, path, n_docs=3, ns_coll=coll,
            with_noise_tail=False, with_duplicates=False,
        )
        feeds[f"db1.{coll}"] = path
    cfg = ConnectorConfig(
        collections=[
            CollectionConfig(db_name="db1", coll_name="coll1",
                             tokens_coll_capped=True, tokens_coll_size_in_bytes=4096),
            CollectionConfig(db_name="db1", coll_name="coll2"),
        ]
    )
    conn = Connector(spark, cfg, feeds, sink_root=str(tmp_path / "sink"))
    handles = conn.start()
    assert len(handles) == 2
    conn.process_all_available()
    health = conn.health()
    assert health["status"] == "UP"
    conn.stop()
    for h in handles:
        assert h.sink.message_count() == 12
        subs = {r.subject for r in h.sink.read_messages().select("subject").distinct().collect()}
        assert all(s.startswith(h.config.stream_name + ".") for s in subs)


@pytest.mark.parametrize("order_within_key", [False, True])
def test_publish_failure_then_replay_no_duplicates(spark, tmp_path, order_within_key):
    """README.md:118-127 crash matrix row 2: publish fails mid-epoch -> the
    query fails, a restart replays the SAME epoch, and the sink stays
    effectively-once (epoch-keyed idempotent write + msg-id dedup). Runs in
    both ordering modes: reference-faithful total order and the parallel
    per-key-ordered mode."""
    from mongodb_nats_connector_spark.streaming.sink import JetStreamLikeSink

    feed = str(tmp_path / "feed")
    n = write_change_event_feed(
        spark, feed, n_docs=10, with_noise_tail=False, with_duplicates=False
    )

    class FlakySink(JetStreamLikeSink):
        def __init__(self, *a, fail_marker: str, **kw):
            super().__init__(*a, **kw)
            self.fail_marker = fail_marker

        def publish_batch(self, batch, epoch_id):
            super().publish_batch(batch, epoch_id)  # publish happened ...
            import os
            if not os.path.exists(self.fail_marker):
                open(self.fail_marker, "w").close()
                raise RuntimeError("injected NATS publish failure")  # ... then die

    marker = str(tmp_path / "failed_once")
    sink = FlakySink(
        spark,
        stream_dir=str(tmp_path / "sink/streams/COLL1"),
        stream_name="COLL1",
        fail_marker=marker,
        order_within_key=order_within_key,
    )
    sink.add_stream()
    checkpoint = str(tmp_path / "sink/checkpoints/c1")

    from mongodb_nats_connector_spark.sources.change_events import (
        read_change_event_stream,
    )
    from mongodb_nats_connector_spark.streaming.pipeline import (
        transform_change_events,
    )

    def start():
        return (
            transform_change_events(
                read_change_event_stream(spark, feed), "COLL1",
                keep_document_key=order_within_key,
            )
            .writeStream.outputMode("append")
            .option("checkpointLocation", checkpoint)
            .foreachBatch(sink.publish_batch)
            .start()
        )

    q = start()
    with pytest.raises(Exception):
        q.processAllAvailable()  # injected failure surfaces here
    q.stop()

    q2 = start()  # restart: checkpoint replays the uncommitted epoch
    q2.processAllAvailable()
    q2.stop()

    assert sink.message_count(deduped=True) == n
    if order_within_key:
        msgs = sink.read_messages().orderBy("document_key", "epoch", "seq_in_epoch").collect()
        assert len({m.msg_id for m in msgs}) == n
        per_key: dict = {}
        for m in msgs:
            per_key.setdefault(m.document_key, []).append(m.msg_id)
        for toks in per_key.values():
            assert toks == sorted(toks)
    else:
        ids = [r.msg_id for r in sink.read_messages().orderBy("epoch", "seq_in_epoch").collect()]
        assert ids == sorted(ids) and len(set(ids)) == n


@pytest.mark.parametrize("order_within_key", [False, True])
def test_throughput_floor_100_events(spark, tmp_path, order_within_key):
    """BASELINE.md row 1 (harness.go:284 + base_test.go:30): 100 events must
    flow source->transform->publish end-to-end within the reference's 10 s
    subscribe window (>= 10 events/s sustained), exactly once — in BOTH
    ordering modes: the reference-faithful total order and the parallel
    per-key write path."""
    import time

    feed = str(tmp_path / "feed")
    n = write_change_event_feed(
        spark, feed, n_docs=100, with_noise_tail=False, with_duplicates=False
    )
    cfg = ConnectorConfig(
        collections=[CollectionConfig(db_name="test-connector-db", coll_name="coll1")]
    )
    conn = Connector(
        spark, cfg, {"test-connector-db.coll1": feed},
        sink_root=str(tmp_path / "sink"), order_within_key=order_within_key,
    )
    conn.start()  # startup is covered by the cold-start bound, not this one
    t0 = time.perf_counter()
    conn.process_all_available()
    elapsed = time.perf_counter() - t0
    conn.stop()

    sink = conn.handles[0].sink
    if order_within_key:
        msgs = sink.read_messages().orderBy("document_key", "epoch", "seq_in_epoch").collect()
        ids = [m.msg_id for m in msgs]
        assert len(ids) == n and len(set(ids)) == n
        per_key: dict = {}
        for m in msgs:
            per_key.setdefault(m.document_key, []).append(m.msg_id)
        for toks in per_key.values():
            assert toks == sorted(toks)
    else:
        ids = [r.msg_id for r in sink.read_messages().orderBy("epoch", "seq_in_epoch").collect()]
        assert len(ids) == n and ids == sorted(ids)
    assert elapsed < 10.0, f"100 events took {elapsed:.1f}s (floor is 10s)"
