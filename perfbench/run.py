#!/usr/bin/env python3
"""Benchmark of the CDC connector and of the batch query registry.

    python3 perfbench/run.py --workload cdc|batch_mix --seed N --seconds S --trace 0|1

Run from the root of a checkout. Inputs are generated from ``--seed`` into
``.perfbench/work/`` (with ``.perfbench/traces/``, the only directories the
benchmark writes besides Spark's ``spark-warehouse/``); the program under
test sees only those files.

* ``cdc``: the connector as ``__main__`` wires it (``Connector`` plus
  ``MetricsRegistry``, ``ConnectorMetricsListener`` and
  ``ObservabilityServer`` on ``get_spark()``). A closed-loop catch-up drain
  of a pre-written backlog, once with the total-order sink and once with
  ``order_within_key=True``, then a full consumer read of the total-order
  stream; then an open-loop live phase where a separate generator process
  publishes one file per collection on a fixed schedule to two collections.
* ``batch_mix``: ten registry queries in seed-shuffled order, each built
  and forced with a noop write, after one warm-up pass whose results are
  checked against the DuckDB oracles.

The last line of stdout is one JSON object: correct, attempted, failed and
metrics (end-to-end metrics with ``--trace 0``, per-layer ones with
``--trace 1``). A traced run also writes its spans and a full record to
``.perfbench/traces/<workload>-<seed>.jsonl`` / ``.json``. README.md gives
the definitions.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()  # setup_s counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import urllib.request  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench", "work")  # emptied at the start of each run
TRACES = os.path.join(ROOT, ".perfbench", "traces")
sys.path.insert(1, ROOT)

import cdcfeed  # noqa: E402
import outchecks  # noqa: E402
import spans  # noqa: E402

DB = cdcfeed.DB
# backlog: two files of 100k events, drained one file per epoch; one drain
# and its share of the consumer read take about BACKLOG_DRAIN_S on 4 cores,
# and the backlog phase gets half the run. The warm-up drains a separate feed of small files: the
# driver-side per-epoch path needs many epochs to warm up, the per-row path
# few.
BACKLOG_FILES, BACKLOG_EVENTS, BACKLOG_DRAIN_S = 2, 100_000, 7.0
WARMUP_FILES, WARMUP_EVENTS = 6, 2_000
# live: one 1000-event file per collection every 2 s
LIVE_COLLS, LIVE_PERIOD_S, LIVE_EVENTS = ("live0", "live1"), 2.0, 1000
LIVE_LEAD_S = 1.0  # generator start-up allowance before the first due time
MIX = [
    "q1_pricing_summary", "q5_local_supplier_volume", "cdc_serialize_envelope",
    "cdc_apply_asof", "merge_upsert_snapshot", "graph_cc_bigstar", "agg_hll_registers",
    "text_passage_dedup", "dedup_minhash_lsh", "stream_tumbling_window",
]
BATCH_SCALE = 0.1
WARMUP_THREADS = 4
DRIVER_MEMORY = "2g"
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


class Run:
    """State of one benchmark run: settings, clocks, spans and results."""

    def __init__(self, args) -> None:
        self.args = args
        self.seed = args.seed
        self.trace = spans.Tracer(bool(args.trace))
        self.setup_s = 0.0
        self.prep_s = 0.0  # input generation before set-up ends; not set-up time
        self.attempted = 0
        self.failed = 0
        self.checks: dict = {}
        self.layer: dict[str, float] = {}
        self.e2e: dict[str, float] = {}
        self.record: dict = {}
        self.spark = None
        self.status = None
        self.publishes: list[tuple] = []  # (stream, epoch, start, end) wall clock
        self.jobs_before: set[int] = set()
        self.jobs: list[dict] = []  # Spark jobs of the measured region (traced runs)
        self.stages: list[dict] = []

    def ready(self) -> None:
        """Set-up ends: process start to now, less input generation."""
        self.setup_s = time.perf_counter() - T_PROCESS - self.prep_s

    def start_measuring(self) -> None:
        """The measured region starts. The Python process's peak RSS is reset
        to its resident set, after freeing what the harness has dropped, so
        that generated inputs do not count."""
        import gc

        import pyarrow as pa

        if self.args.trace:
            self.status.settle()
            self.jobs_before = {j["jobId"] for j in self.status.jobs()}
        gc.collect()
        pa.default_memory_pool().release_unused()
        spans.reset_hwm()

    def end_measuring(self) -> None:
        """The measured region ends, before any output check or oracle runs:
        peak RSS is the Spark driver JVM's over its life plus the Python
        process's since ``start_measuring``."""
        self.e2e["peak_rss_mb"] = (spans.vm_hwm_mb(jvm_pid(self.spark))
                                   + spans.vm_hwm_mb(os.getpid()))
        if self.args.trace:
            self.status.settle()
            self.jobs = [j for j in self.status.jobs() if j["jobId"] not in self.jobs_before]
            self.stages = self.status.stages()

    def count(self, name: str, attempted: int, failed: int, detail) -> None:
        self.attempted += attempted
        self.failed += failed
        self.checks[name] = detail


def log(msg: str) -> None:
    """Progress line on stderr, stamped with seconds since process start."""
    print(f"[{time.perf_counter() - T_PROCESS:7.1f}s] {msg}", file=sys.stderr, flush=True)


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty list."""
    s = sorted(values)
    return s[max(1, math.ceil(q / 100.0 * len(s))) - 1]


def median_or_zero(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


# -- session ---------------------------------------------------------------


def start_spark(run: Run, master: str | None = None):
    from mongodb_nats_connector_spark.session import get_spark

    t0 = time.time()
    spark = get_spark(
        app_name=f"perfbench-{run.args.workload}",
        master=master,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # heap committed up front (-Xms = the driver memory): resident
            # memory then tracks the program, not the heap's growth policy
            "spark.driver.extraJavaOptions":
                f"-Xms{os.environ['SPARK_DRIVER_MEMORY']} -Djava.io.tmpdir={WORK}/tmp",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    run.trace.add("session.get_spark", t0, time.time(), "session", master=master or "default")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the Spark driver JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None and getattr(gateway, "proc", None) is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


# -- cdc -------------------------------------------------------------------


def install_publish_probe(run: Run):
    """Wrap JetStreamLikeSink.publish_batch to record when each epoch's
    publish returned; live lag is measured against that time. Returns the
    undo callable."""
    from mongodb_nats_connector_spark.streaming.sink import JetStreamLikeSink

    original = JetStreamLikeSink.publish_batch

    def publish_batch(self, batch, epoch_id):
        start = time.time()
        original(self, batch, epoch_id)
        run.publishes.append((self.stream_name, int(epoch_id), start, time.time()))

    JetStreamLikeSink.publish_batch = publish_batch
    return lambda: setattr(JetStreamLikeSink, "publish_batch", original)


def progress_of(query) -> list[dict]:
    """Progress of every epoch that ran a batch (idle triggers dropped)."""
    out = []
    for p in query.recentProgress:
        d = p if isinstance(p, dict) else json.loads(p.json)
        if "addBatch" in d.get("durationMs", {}):
            out.append(d)
    return out


class ConnectorRun:
    """One Connector wired as ``__main__`` wires it, for a set of feeds."""

    def __init__(self, run: Run, colls: list[str], feed_root: str, sink_root: str,
                 keyed: bool) -> None:
        from mongodb_nats_connector_spark.config import CollectionConfig, ConnectorConfig
        from mongodb_nats_connector_spark.streaming.observability import (
            ConnectorMetricsListener, MetricsRegistry, ObservabilityServer)
        from mongodb_nats_connector_spark.streaming.pipeline import Connector

        self.run = run
        cfg = ConnectorConfig(
            collections=[CollectionConfig(db_name=DB, coll_name=c) for c in colls],
            server_addr="127.0.0.1:0",
        )
        self.registry = MetricsRegistry()
        self.connector = Connector(
            run.spark, cfg, {f"{DB}.{c}": os.path.join(feed_root, c) for c in colls},
            sink_root, order_within_key=keyed, metrics=self.registry)
        self.listener = ConnectorMetricsListener(self.registry)
        self.server = ObservabilityServer(
            health_fn=self.connector.health, registry=self.registry, port=0)

    def __enter__(self):
        self.run.spark.streams.addListener(self.listener)
        self.server.start()
        return self

    def __exit__(self, *exc) -> None:
        self.connector.stop()
        self.server.stop()
        self.run.spark.streams.removeListener(self.listener)

    def start(self, trace_id: str) -> None:
        with self.run.trace.span("pipeline.Connector.start", trace_id):
            self.connector.start()

    def drain(self, trace_id: str) -> None:
        with self.run.trace.span("pipeline.process_all_available", trace_id):
            self.connector.process_all_available()

    def scrape(self, trace_id: str) -> dict[str, float]:
        """GET /metrics after the listener bus drained; summed per name."""
        self.run.status.settle()
        url = f"http://127.0.0.1:{self.server.port}/metrics"
        with self.run.trace.span("observability.render_prometheus", trace_id):
            with urllib.request.urlopen(url, timeout=30) as r:
                text = r.read().decode()
        out: dict[str, float] = {}
        for line in text.splitlines():
            name, _, value = line.rpartition(" ")
            out[name.split("{")[0]] = out.get(name.split("{")[0], 0.0) + float(value)
        return out

    def epochs(self) -> dict[str, list[dict]]:
        return {h.config.stream_name: progress_of(h.query) for h in self.connector.handles}

    def run_ids(self) -> set[str]:
        return {str(h.query.runId) for h in self.connector.handles}


def read_view(run: Run, sink_root: str, stream: str, trace_id: str, timed: bool):
    """Consumer view of one stream through ``read_messages(deduped=True)``,
    fully read into Arrow. Returns (Arrow table, seconds)."""
    from mongodb_nats_connector_spark.streaming.sink import JetStreamLikeSink

    sink = JetStreamLikeSink(run.spark, os.path.join(sink_root, "streams", stream), stream)
    run.spark.sparkContext.setJobGroup(f"read:{stream}:{trace_id}", "consumer read")
    t0 = time.perf_counter()
    with run.trace.span("sink.read_messages", trace_id, timed=timed):
        table = sink.read_messages(deduped=True).toArrow()
    elapsed = time.perf_counter() - t0
    run.spark.sparkContext.setJobGroup("perfbench", "perfbench")
    return table, elapsed


def view_frame(table):
    """A consumer view as the pandas frame the checks take."""
    df = table.to_pandas()
    if "cluster_time" in df:
        df["cluster_time_us"] = table.column("cluster_time").cast("int64").to_numpy()
    return df


def raw_messages(sink_root: str, stream: str):
    """Every stored message of a stream, read with pyarrow (no Spark), for
    checking sinks outside the consumer view."""
    import pyarrow.dataset as ds

    dataset = ds.dataset(os.path.join(sink_root, "streams", stream, "messages"),
                         format="parquet", partitioning="hive")
    return dataset.to_table().to_pandas(), dataset.files


def epoch_layers(run: Run, prefix: str, epochs: list[dict], publishes: list[tuple],
                 offered_rows: int) -> None:
    """Per-epoch phase medians and epoch spans for one phase of the run."""
    pub_ms = {(s, e): (b - a) * 1000 for s, e, a, b in publishes}
    add, trig, self_ms, non_pub = [], [], [], []
    phase = {p: [] for p in PHASES}
    rows = 0
    for stream, eps in epochs.items():
        for d in eps:
            dur = d["durationMs"]
            rows += d.get("numInputRows", 0)
            for p in PHASES:
                phase[p].append(dur.get(p, 0))
            trig.append(dur["triggerExecution"])
            self_ms.append(dur["triggerExecution"] - sum(dur.get(p, 0) for p in PHASES))
            add.append(dur["addBatch"])
            pm = pub_ms.get((stream, d["batchId"]))
            if pm is not None:
                non_pub.append(dur["addBatch"] - pm)
            start = _iso_ts(d["timestamp"])
            tid = f"{prefix}:{stream}:{d['batchId']}"
            root = run.trace.add("pipeline.triggerExecution", start,
                                 start + dur["triggerExecution"] / 1000, tid)
            t = start
            for p in PHASES:
                if p in dur:
                    run.trace.add(f"pipeline.{p}", t, t + dur[p] / 1000, tid, root)
                    t += dur[p] / 1000
    L = run.layer
    L[f"sources.{prefix}.latest_offset_ms"] = median_or_zero(phase["latestOffset"])
    L[f"sources.{prefix}.get_batch_ms"] = median_or_zero(phase["getBatch"])
    L[f"sources.{prefix}.scan_amplification"] = rows / offered_rows if offered_rows else 0.0
    n = sum(len(v) for v in epochs.values())
    L[f"pipeline.{prefix}.epochs"] = float(n)
    L[f"pipeline.{prefix}.trigger_ms"] = median_or_zero(trig)
    L[f"pipeline.{prefix}.trigger_self_ms"] = median_or_zero(self_ms)
    L[f"pipeline.{prefix}.add_batch_ms"] = median_or_zero(add)
    L[f"pipeline.{prefix}.query_planning_ms"] = median_or_zero(phase["queryPlanning"])
    L[f"pipeline.{prefix}.non_publish_ms"] = median_or_zero(non_pub)
    L[f"pipeline.{prefix}.wal_commit_ms"] = median_or_zero(phase["walCommit"])
    L[f"pipeline.{prefix}.commit_offsets_ms"] = median_or_zero(phase["commitOffsets"])
    L[f"sink.{prefix}.publish_ms"] = median_or_zero(list(pub_ms.values()))


def _iso_ts(s: str) -> float:
    import datetime as dt

    return dt.datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp()


def job_counts(run: Run, run_ids: set[str], jobs: list[dict], n_epochs: int,
               prefix: str) -> None:
    """Jobs and tasks per epoch for the streaming queries in ``run_ids``
    (Structured Streaming runs each query's jobs in its run-id job group)."""
    mine = [j for j in jobs if j.get("jobGroup") in run_ids]
    tasks = sum(j.get("numCompletedTasks", 0) for j in mine)
    run.layer[f"pipeline.{prefix}.jobs_per_epoch"] = len(mine) / n_epochs if n_epochs else 0.0
    run.layer[f"pipeline.{prefix}.tasks_per_epoch"] = tasks / n_epochs if n_epochs else 0.0


def backlog_drain(run: Run, feed_root: str, sink_root: str, keyed: bool, trace_id: str):
    """Drain the whole backlog into a fresh sink root. Returns (seconds,
    scraped /metrics, epoch progress, publishes, query run ids)."""
    run.publishes = []
    with ConnectorRun(run, ["backlog"], feed_root, sink_root, keyed) as cr:
        t0 = time.perf_counter()
        cr.start(trace_id)
        cr.drain(trace_id)
        elapsed = time.perf_counter() - t0
        scraped = cr.scrape(trace_id)
        epochs = cr.epochs()
        ids = cr.run_ids()
    for stream, epoch, a, b in run.publishes:
        run.trace.add("sink.publish_batch", a, b, f"{trace_id}:{stream}:{epoch}")
    return elapsed, scraped, epochs, list(run.publishes), ids


def workload_cdc(run: Run) -> None:
    args = run.args
    feed_root = os.path.join(WORK, "feed")
    backlog_dir = os.path.join(feed_root, "backlog")
    warm_root = os.path.join(WORK, "feed-warmup")
    g0 = time.perf_counter()
    offered = sum(t.num_rows for t in cdcfeed.write_backlog(
        backlog_dir, run.seed, "backlog", BACKLOG_FILES, BACKLOG_EVENTS))
    cdcfeed.write_backlog(os.path.join(warm_root, "backlog"), run.seed + 1, "backlog",
                          WARMUP_FILES, WARMUP_EVENTS)
    run.prep_s += time.perf_counter() - g0
    log("backlog written")

    t0 = time.perf_counter()
    run.spark = start_spark(run)
    run.status = spans.SparkStatus(run.spark)
    run.layer["session.start_s"] = time.perf_counter() - t0
    undo = install_publish_probe(run)
    try:
        w0 = time.perf_counter()
        backlog_drain(run, warm_root, os.path.join(WORK, "sink-warmup"), False, "warmup")
        run.layer["session.warmup_s"] = time.perf_counter() - w0
        run.ready()
        log("warm-up drain done")
        run.start_measuring()
        measured = measure_cdc(run, feed_root, offered)
        run.end_measuring()
        # the expected messages come from the feed on disk, read back after
        # the measured region so that no copy of it was held in memory there
        expected = outchecks.Expected(cdcfeed.read_backlog(backlog_dir), "BACKLOG")
        check_cdc(run, expected, offered, measured)
        if args.trace:
            keyed_drain(run, feed_root, warm_root, expected, offered)
            local1_baseline(run, feed_root, offered)
    finally:
        undo()


def measure_cdc(run: Run, feed_root: str, offered: int) -> dict:
    """The measured region of ``cdc``: back-to-back total-order drains, one
    full consumer read of the first drain's stream, then the live phase.
    Nothing is checked here; ``check_cdc`` does that afterwards."""
    stat0 = spans.proc_stat()
    rates, first = [], None
    n_drains = max(1, round(run.args.seconds / 2 / BACKLOG_DRAIN_S))
    for i in range(n_drains):
        root = os.path.join(WORK, f"sink-total-{i}")
        s, scraped, eps, pubs, ids = backlog_drain(run, feed_root, root, False, f"total{i}")
        rates.append(offered / s)
        log(f"total-order drain {s:.2f}s")
        if first is None:
            first = {"scraped": scraped, "epochs": eps, "publishes": pubs, "run_ids": ids}
    view, read_s = read_view(run, os.path.join(WORK, "sink-total-0"), "BACKLOG", "read",
                             timed=True)
    log(f"consumer read {read_s:.2f}s")
    live = measure_live(run, run.args.seconds / 2)
    run.record["host"] = spans.stat_delta(stat0, spans.proc_stat())
    run.record["backlog"] = {"drains": n_drains, "events_per_s": rates}
    run.e2e["throughput_per_s"] = statistics.median(rates)
    return {"drains": n_drains, "first": first, "view": view, "read_s": read_s, "live": live}


def check_cdc(run: Run, expected, offered: int, m: dict) -> None:
    """Output checks of ``cdc`` and the figures derived from its outputs."""
    for i in range(m["drains"]):
        raw, _ = raw_messages(os.path.join(WORK, f"sink-total-{i}"), "BACKLOG")
        failed, detail = outchecks.check_view(raw, expected, keyed=False, deduped=False)
        run.count(f"total{i}", expected.n, failed, detail)
    failed, detail = outchecks.check_view(view_frame(m.pop("view")), expected, keyed=False,
                                          deduped=True)
    run.count("consumer-view", expected.n, failed, detail)
    live = check_live(run, m["live"])
    run.e2e["latency_p50_s"] = live["p50"]
    read_s, scraped = m["read_s"], m["first"]["scraped"]
    run.record["backlog"]["consume_events_per_s"] = expected.n / read_s
    L = run.layer
    L["workload.latency_p99_s"] = live["p99"]
    L["workload.latency_samples"] = float(live["samples"])
    L["sink.consume_events_per_s"] = expected.n / read_s
    L["sink.read_ms"] = read_s * 1000
    L["sink.bytes_per_event"] = float(expected.events["data"].str.len().mean())
    L["observability.events_total_ratio"] = scraped.get("connector_events_total", 0.0) / offered
    L["observability.published_ratio"] = (
        scraped.get("nats_messages_published_total", 0.0) / expected.publishable_rows)
    if run.args.trace:
        first, lv = m["first"], m["live"]
        epoch_layers(run, "backlog", first["epochs"], first["publishes"], offered)
        epoch_layers(run, "live", lv["epochs"], lv["publishes"],
                     len(LIVE_COLLS) * lv["spec"]["n_files"] * LIVE_EVENTS)
        job_counts(run, first["run_ids"], run.jobs, int(L["pipeline.backlog.epochs"]), "backlog")
        job_counts(run, lv["run_ids"], run.jobs, int(L["pipeline.live.epochs"]), "live")
        read_jobs = [j for j in run.jobs if str(j.get("jobGroup", "")).startswith("read:BACKLOG:")]
        read_stage_ids = {s for j in read_jobs for s in j.get("stageIds", [])}
        L["sink.read_shuffle_bytes"] = spans.stage_totals(
            run.stages, read_stage_ids)["shuffle_write_bytes"]
        spark_layers(run, run.jobs, run.stages)


def measure_live(run: Run, seconds: float) -> dict:
    """Open loop: a separate process publishes ``LIVE_EVENTS`` events per
    collection every ``LIVE_PERIOD_S`` for ``seconds``. Returns what
    ``check_live`` needs to check the streams and compute the lag."""
    feed_root = os.path.join(WORK, "live-feed")
    sink_root = os.path.join(WORK, "sink-live")
    for c in LIVE_COLLS:
        os.makedirs(os.path.join(feed_root, c), exist_ok=True)
    n_files = max(1, int(round(seconds / LIVE_PERIOD_S)))
    run.publishes = []
    with ConnectorRun(run, list(LIVE_COLLS), feed_root, sink_root, False) as cr:
        cr.start("live")
        spec = {"seed": run.seed * 1000 + 17, "colls": list(LIVE_COLLS), "root": feed_root,
                "t0": time.time() + LIVE_LEAD_S, "period_s": LIVE_PERIOD_S,
                "n_files": n_files, "events_per_file": LIVE_EVENTS}
        gen = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "cdcfeed.py"), "live", json.dumps(spec)],
            stdout=subprocess.PIPE, text=True)
        try:
            out, _ = gen.communicate(timeout=seconds + 60)
        finally:
            if gen.poll() is None:
                gen.kill()
                gen.wait()
        if gen.returncode != 0:
            raise RuntimeError(f"live generator exited {gen.returncode}")
        report = json.loads(out.strip().splitlines()[-1])
        log("live generator done")
        published_by_end = sum(1 for p in run.publishes if p[3] <= report["end"])
        cr.drain("live")
        scraped = cr.scrape("live")
        epochs = cr.epochs()
        ids = cr.run_ids()
    pubs = list(run.publishes)
    for stream, epoch, a, b in pubs:
        run.trace.add("sink.publish_batch", a, b, f"live:{stream}:{epoch}")
    return {"spec": spec, "sink_root": sink_root, "report": report,
            "published_by_end": published_by_end, "publishes": pubs, "epochs": epochs,
            "run_ids": ids, "scraped": scraped}


def check_live(run: Run, lv: dict) -> dict:
    """Check each live stream's consumer view against the regenerated feed.
    Lag per event is the return time of the ``publish_batch`` that carried
    it minus its due time."""
    spec, report = lv["spec"], lv["report"]
    publish_end = {(s, e): b for s, e, _, b in lv["publishes"]}
    lags: list[float] = []
    for i, c in enumerate(LIVE_COLLS):
        src = cdcfeed.EventSource(spec["seed"] + i, c)
        due_us = [int(round((spec["t0"] + k * LIVE_PERIOD_S) * 1e6))
                  for k in range(spec["n_files"])]
        tables = [src.take(LIVE_EVENTS, cluster_us=d) for d in due_us]
        stream = c.upper()
        exp = outchecks.Expected(tables, stream)
        table, _ = read_view(run, lv["sink_root"], stream, "live", timed=False)
        view = view_frame(table)
        failed, detail = outchecks.check_view(view, exp, keyed=False, deduped=True)
        run.count(f"live:{stream}", exp.n, failed, detail)
        ends = view["epoch"].map(lambda e, s=stream: publish_end.get((s, int(e))))
        lags.extend((ends - view["cluster_time_us"] / 1e6).dropna().tolist())
    log("live checked")
    L = run.layer
    L["generator.late_max_s"] = report["late_max_s"]
    L["sources.live.backlog_files_end"] = float(
        report["files_written"] - lv["published_by_end"])
    run.record["live"] = {"samples": len(lags), "files": report["files_written"],
                          "epochs_published": len(lv["publishes"]), "scraped": lv["scraped"]}
    return {"p50": statistics.median(lags), "p99": percentile(lags, 99), "samples": len(lags)}


def keyed_drain(run: Run, feed_root: str, warm_root: str, expected, offered: int) -> None:
    """Traced runs only: the backlog drained with ``order_within_key=True``
    (after its own warm-up drain), its raw sink checked with the consumer's
    dedup applied."""
    backlog_drain(run, warm_root, os.path.join(WORK, "sink-warmup-keyed"), True, "warmup")
    root = os.path.join(WORK, "sink-keyed")
    s, *_ = backlog_drain(run, feed_root, root, True, "keyed")
    run.layer["sink.keyed_events_per_s"] = offered / s
    log(f"keyed drain {s:.2f}s")
    raw, files = raw_messages(root, "BACKLOG")
    failed, detail = outchecks.check_view(raw, expected, keyed=True, deduped=False)
    run.count("keyed", expected.n, failed, detail)
    run.layer["sink.files_written"] = float(len(files))


def local1_baseline(run: Run, feed_root: str, offered: int) -> None:
    """Drain the backlog once on local[1] (same JVM, so already warm) for
    the parallel speedup of the total-order drain."""
    run.spark.stop()
    run.spark = start_spark(run, master="local[1]")
    run.status = spans.SparkStatus(run.spark)
    s, *_ = backlog_drain(run, feed_root, os.path.join(WORK, "sink-local1"), False, "local1")
    run.layer["baseline.local1_events_per_s"] = offered / s
    run.layer["baseline.speedup"] = run.e2e["throughput_per_s"] / (offered / s)


# -- batch_mix --------------------------------------------------------------


def workload_batch(run: Run) -> None:
    import random

    import batchdata

    args = run.args
    sf_dir = os.path.join(WORK, "tables")
    g0 = time.perf_counter()
    batchdata.write_tables(sf_dir, run.seed, BATCH_SCALE)
    run.prep_s += time.perf_counter() - g0

    from mongodb_nats_connector_spark import registry

    t0 = time.perf_counter()
    run.spark = start_spark(run)
    run.status = spans.SparkStatus(run.spark)
    run.layer["session.start_s"] = time.perf_counter() - t0
    qs = registry.queries()
    sc = run.spark.sparkContext

    def warm(name: str):
        sc.setJobGroup(f"warmup:{name}", "warm-up")
        return qs[name](run.spark, sf_dir).toPandas()

    w0 = time.perf_counter()
    # graph_cc_bigstar first: its driver-side build is the longest
    order = sorted(MIX, key=lambda q: q != "graph_cc_bigstar")
    with ThreadPoolExecutor(WARMUP_THREADS) as ex:
        results = dict(zip(order, ex.map(warm, order)))
    run.layer["session.warmup_s"] = time.perf_counter() - w0
    run.ready()
    log("warm-up pass done")

    # the warm-up results stay in memory through the measured region: they
    # are the program's own output, collected by its client
    run.start_measuring()
    stat0 = spans.proc_stat()
    rng = random.Random(run.seed)
    timings: dict[str, list[tuple[float, float]]] = {q: [] for q in MIX}
    passes: list[float] = []
    # whole passes that fit in the run, at least one
    p0 = time.perf_counter()
    while not passes or (time.perf_counter() - p0) * (len(passes) + 1) / len(passes) <= args.seconds:
        p = len(passes)
        order = MIX[:]
        rng.shuffle(order)
        total = 0.0
        for name in order:
            tid = f"pass{p}:{name}"
            sc.setJobGroup(f"{name}:build", "build")
            t0 = time.perf_counter()
            with run.trace.span(f"operators.{name}.build", tid):
                df = qs[name](run.spark, sf_dir)
            t1 = time.perf_counter()
            sc.setJobGroup(f"{name}:exec", "exec")
            with run.trace.span(f"operators.{name}.exec", tid):
                df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            timings[name].append((t1 - t0, t2 - t1))
            total += t2 - t0
        passes.append(total)
    run.record["host"] = spans.stat_delta(stat0, spans.proc_stat())
    run.end_measuring()
    run.record["passes_s"] = passes
    per_query = [b + e for v in timings.values() for b, e in v]
    run.e2e["throughput_per_s"] = len(per_query) / sum(passes)
    run.e2e["latency_p50_s"] = statistics.median(per_query)
    run.layer["workload.latency_p99_s"] = percentile(per_query, 99)
    run.layer["workload.latency_samples"] = float(len(per_query))
    run.record["batch_total_s"] = statistics.median(passes)
    run.record["query_s"] = {q: [round(b + e, 3) for b, e in v] for q, v in timings.items()}

    log("timed passes done")
    oracle_results = oracle_frames(sf_dir, registry.oracle_sql())
    for name in MIX:
        reason = outchecks.frames_match(results[name], oracle_results[name])
        run.count(name, 1, int(reason is not None), reason or "ok")

    for name, v in timings.items():
        run.layer[f"operators.{name}.build_s"] = statistics.median(b for b, _ in v)
        run.layer[f"operators.{name}.exec_s"] = statistics.median(e for _, e in v)
    if args.trace:
        n = len(passes)
        for name in MIX:
            for phase in ("build", "exec"):
                k = sum(1 for j in run.jobs if j.get("jobGroup") == f"{name}:{phase}")
                run.layer[f"operators.{name}.{phase}_jobs"] = k / n
        spark_layers(run, run.jobs, run.stages)


def oracle_frames(sf_dir: str, oracle: dict[str, str]) -> dict:
    """Expected result of every mix query, from its DuckDB oracle."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in ("region", "nation", "customer", "supplier", "orders", "lineitem",
                  "events", "documents"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        pairs = con.sql(oracle["dedup_minhash_lsh"]).df()
        out = {}
        for name in MIX:
            if name == "graph_cc_bigstar":
                out[name] = components(con.sql("SELECT doc_id FROM documents").df()["doc_id"],
                                       pairs)
            elif name == "dedup_minhash_lsh":
                out[name] = pairs
            else:
                out[name] = con.sql(oracle[name]).df()
        return out
    finally:
        con.close()


def components(doc_ids, pairs) -> "object":
    """Connected components of the near-duplicate pair graph by union-find:
    each document's cluster is the smallest doc_id reachable from it (the
    closure the registered recursive-CTE oracle computes)."""
    import pandas as pd

    parent = {int(d): int(d) for d in doc_ids}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(pairs["doc_a"], pairs["doc_b"]):
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    ids = sorted(parent)
    roots = [find(d) for d in ids]
    return pd.DataFrame({"doc_id": ids, "cluster_id": roots,
                         "is_canonical": [int(d == r) for d, r in zip(ids, roots)]})


# -- shared ----------------------------------------------------------------


def spark_layers(run: Run, jobs: list[dict], stages: list[dict]) -> None:
    ids = {s for j in jobs for s in j.get("stageIds", [])}
    tot = spans.stage_totals(stages, ids)
    py = run.status.python_stage_ids({j["jobId"] for j in jobs}, jobs)
    for k, v in tot.items():
        run.layer[f"spark.{k}"] = v
    run.layer["spark.python_stages"] = float(len(py & ids))


def metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """Names and units of the end-to-end and per-layer metrics, from the
    BENCHMARK.json at the root of the checkout."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["cdc", "batch_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    # fail fast, before any input is generated, when the package is absent
    import mongodb_nats_connector_spark  # noqa: F401

    e2e_units, layer_units = metric_units()

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    nproc = len(os.sched_getaffinity(0))
    cpus = min(4, nproc, int(os.environ.get("SPARK_GRAFT_CPUS", nproc)))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # a fixed Spark driver heap: with the 8 GiB default the heap's growth, and so
    # resident memory, varied from run to run
    os.environ.setdefault("SPARK_DRIVER_MEMORY", DRIVER_MEMORY)

    run = Run(args)
    try:
        if args.workload == "cdc":
            workload_cdc(run)
        else:
            workload_batch(run)
        run.e2e["setup_s"] = run.setup_s
    finally:
        if run.spark is not None:
            stop_spark(run.spark)

    host = run.record.get("host", {})
    run.layer.update({"host.steal_s": host.get("steal_s", 0.0),
                      "host.busy_s": host.get("busy_s", 0.0)})
    run.layer.update({f"traced.{k}": v for k, v in run.e2e.items()})
    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "commit": commit_id(), "nproc": nproc, "cpus": cpus,
        "end_to_end": run.e2e, "checks": run.checks, **run.record,
    }
    if args.trace:
        artifact["per_layer"] = run.layer
        os.makedirs(TRACES, exist_ok=True)
        base = os.path.join(TRACES, f"{args.workload}-{args.seed}")
        run.trace.dump(base + ".jsonl")
        with open(base + ".json", "w") as f:
            json.dump(artifact, f, indent=1, default=str)
        metrics = {n: {"value": float(run.layer.get(n, 0.0)), "unit": u}
                   for n, u in layer_units.items()}
    else:
        metrics = {n: {"value": float(run.e2e[n]), "unit": u} for n, u in e2e_units.items()}
    print(json.dumps({"detail": artifact}, default=str))
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


def commit_id() -> str:
    """Commit of the checkout: git when available, else a content hash of
    the package sources (the benchmark may run outside a git work tree)."""
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except OSError:
        pass
    import hashlib

    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "mongodb_nats_connector_spark")
    for dirpath, dirnames, files in sorted(os.walk(pkg)):
        dirnames.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    h.update(fh.read())
    return "src-" + h.hexdigest()[:16]


if __name__ == "__main__":
    sys.exit(main())
