"""Idempotent, subject-routed streaming sink — the NATS JetStream analogue.

The reference publishes each event with header ``Nats-Msg-Id`` = resume token
so the broker/consumer can drop replays (internal/nats/client.go:120-140);
combined with publish-then-commit ordering this yields effectively-once
delivery (README.md:118-127).

Here the sink is a parquet "stream": one directory per JetStream stream
(AddStream O13 = idempotent mkdir, internal/nats/client.go:105-118), epoch-
partitioned writes inside ``foreachBatch``. Idempotency is the epoch trick:
a replayed epoch overwrites its own partition (`epoch=<id>` subdir,
dynamic partition overwrite), so a crash between publish and checkpoint
commit re-publishes the same batch into the same location — at-least-once
publish, msg-id-keyed storage, exactly-once observable state. Consumers read
through ``read_messages`` which additionally dedups by msg_id, mirroring the
NATS consumer-side dedup window.
"""

from __future__ import annotations

import glob
import os
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mongodb_nats_connector_spark.config import (
    INVALIDATE_OPERATION_TYPE,
    PUBLISHABLE_OPERATION_TYPES,
)


class JetStreamLikeSink:
    def __init__(
        self,
        spark: SparkSession,
        stream_dir: str,
        stream_name: str,
        order_within_key: bool = False,
        metrics=None,
    ) -> None:
        """``order_within_key=False`` (default) reproduces the reference's
        strict per-collection TOTAL order (its publish loop is single-
        threaded, client.go:217-257) — faithful, but one task per epoch.
        ``order_within_key=True`` is the scale mode: order is guaranteed per
        ``document_key`` only (the guarantee consumers actually rely on —
        NATS subjects partition by document anyway), the epoch writes with
        full partition parallelism, and ``seq_in_epoch`` numbers within the
        key. Requires the batch to carry a ``document_key`` column.

        ``metrics`` (a ``streaming.observability.MetricsRegistry``) enables
        the reference's NATS exposition (internal/prometheus/prometheus.go):
        ``nats_messages_published_total{subject}`` /
        ``nats_messages_failed_total{subject}`` counters and
        ``nats_message_duration_seconds{subject}`` — observed once per epoch
        here (the reference observes per message; counter VALUES match)."""
        self.spark = spark
        self.stream_dir = stream_dir
        self.stream_name = stream_name
        self.order_within_key = order_within_key
        self.metrics = metrics
        self.messages_dir = os.path.join(stream_dir, "messages")
        self._op_subjects = [
            f"{stream_name}.{op}" for op in PUBLISHABLE_OPERATION_TYPES
        ]
        self._invalidate_subject = f"{stream_name}.{INVALIDATE_OPERATION_TYPE}"
        self._publishable = ~F.col("subject").eqNullSafe(self._invalidate_subject)
        # set once an epoch carried the invalidate marker (O6): the stream
        # has ended and its pipeline should stop after that epoch
        self.invalidated = False

    # O13 — idempotent DDL bootstrap (AddStream)
    def add_stream(self) -> None:
        os.makedirs(self.messages_dir, exist_ok=True)

    # O9 — publish with idempotency key; called per epoch by foreachBatch
    def publish_batch(self, batch: DataFrame, epoch_id: int) -> None:
        """Write the epoch as ONE Spark job. ``batch`` may still carry the
        ``<STREAM>.invalidate`` marker row (``transform_change_events`` keeps
        it): it is counted by the write's Observation, recorded in
        ``invalidated``, and filtered out before the write, so it is never
        published. An invalidate is always the last token of its collection,
        so numbering before the filter leaves publishable ``seq_in_epoch``
        values unchanged. An epoch with nothing publishable writes an empty
        partition."""
        if self.order_within_key:
            if "document_key" not in batch.columns:
                raise ValueError(
                    "order_within_key sink requires a document_key column "
                    "(transform_change_events(..., keep_document_key=True))"
                )
            # Per-key order: rows for one document are numbered in token
            # order; different documents write concurrently. No coalesce —
            # the epoch write parallelizes across all partitions.
            w = Window.partitionBy("document_key").orderBy("msg_id")
        else:
            # Per-collection total order within the epoch: sort by resume
            # token (the reference's order is token order, client.go:217-257)
            # and tag each row with its in-epoch sequence so consumers can
            # verify order. The global window forces one task per epoch —
            # the price of a total order, exactly like the reference's
            # single-threaded loop.
            w = Window.partitionBy().orderBy("msg_id")
        ordered = batch.withColumn(
            "seq_in_epoch", F.row_number().over(w)
        ).withColumn("epoch", F.lit(int(epoch_id)))
        # Per-subject counts (NATS metrics) and the invalidate count ride the
        # WRITE job itself via Observation, so the epoch is one scan. It sits
        # after the window's shuffle: one attached before it is dropped by AQE
        # when the epoch has no publishable rows. Subjects are enumerable —
        # `<STREAM>.<operationType>` over the four publishable op types.
        observation = Observation()
        writer = ordered.observe(
            observation,
            *[
                F.count_if(F.col("subject") == s).alias(f"n_{i}")
                for i, s in enumerate(self._op_subjects)
            ],
            F.count_if(F.col("subject") == self._invalidate_subject).alias(
                "n_invalidate"
            ),
            F.count(F.lit(1)).alias("n_total"),
        ).filter(self._publishable)
        if not self.order_within_key:
            writer = writer.coalesce(1)
        t0 = time.perf_counter()
        try:
            # Epoch-keyed overwrite = replay-safe (idempotent) publish.
            (
                writer.write.mode("overwrite")
                .format("parquet")
                .save(os.path.join(self.messages_dir, f"epoch={int(epoch_id)}"))
            )
        except Exception:
            if self.metrics is not None:
                # the observation never materialized — fall back to counting
                # the failed batch directly so failure counters stay labeled
                # (rare path; one extra job only on publish failure)
                failed = batch.filter(self._publishable)
                for r in (
                    failed.groupBy("subject").agg(F.count(F.lit(1)).alias("n")).collect()
                ):
                    self.metrics.inc(
                        "nats_messages_failed_total", {"subject": r["subject"]}, r["n"]
                    )
            raise
        elapsed = time.perf_counter() - t0
        got = observation.get  # blocks until the write's listener fires
        n_invalidate = int(got["n_invalidate"])
        if n_invalidate:
            self.invalidated = True
        if self.metrics is None:
            return
        counted = n_invalidate
        for i, subject in enumerate(self._op_subjects):
            n = int(got[f"n_{i}"])
            counted += n
            if n:
                self.metrics.inc(
                    "nats_messages_published_total", {"subject": subject}, n
                )
                self.metrics.observe(
                    "nats_message_duration_seconds", {"subject": subject}, elapsed
                )
        other = int(got["n_total"]) - counted
        if other:
            self.metrics.inc(
                "nats_messages_published_total", {"subject": "other"}, other
            )
            self.metrics.observe(
                "nats_message_duration_seconds", {"subject": "other"}, elapsed
            )

    # Consumer view — dedup by msg id. Default mirrors durable storage:
    # the window is UNBOUNDED (strictly stronger than JetStream, which
    # remembers a Nats-Msg-Id only for Duplicates — default 2 min — after
    # it was STORED, internal/nats/client.go:122-125 semantics). Pass
    # ``dedup_window_epochs`` to reproduce the bounded behavior: a replay
    # whose last *stored* occurrence is at least that many epochs old is
    # delivered again, exactly like a consumer relying on window expiry.
    def read_messages(
        self,
        deduped: bool = True,
        dedup_window_epochs: int | None = None,
    ) -> DataFrame:
        df = (
            self.spark.read.option("basePath", self.messages_dir)
            .parquet(os.path.join(self.messages_dir, "epoch=*"))
        )
        if not deduped:
            return df
        if dedup_window_epochs is None:
            w = Window.partitionBy("msg_id").orderBy("epoch", "seq_in_epoch")
            return (
                df.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
        # Bounded window, JetStream rule: duplicates are NOT stored, so they
        # do not refresh the window — keep an occurrence iff it is at least
        # `window` epochs after the last KEPT occurrence of the same id.
        # That greedy rule is a fold over the (tiny) per-id occurrence list,
        # all JVM-side: one shuffle on msg_id, then a semi-join back.
        win = int(dedup_window_epochs)
        occ = (
            df.select("msg_id", "epoch", "seq_in_epoch")
            .groupBy("msg_id")
            .agg(
                F.sort_array(
                    F.collect_list(F.struct("epoch", "seq_in_epoch"))
                ).alias("occ")
            )
        )
        kept = (
            occ.select(
                "msg_id",
                F.explode(
                    F.aggregate(
                        F.col("occ"),
                        F.slice(F.col("occ"), 1, 0),  # empty, same type
                        lambda acc, x: F.when(
                            (F.size(acc) == 0)
                            | (
                                x["epoch"] - F.element_at(acc, -1)["epoch"]
                                >= F.lit(win)
                            ),
                            F.concat(acc, F.array(x)),
                        ).otherwise(acc),
                    )
                ).alias("k"),
            )
            .select(
                "msg_id",
                F.col("k.epoch").alias("epoch"),
                F.col("k.seq_in_epoch").alias("seq_in_epoch"),
            )
        )
        return df.join(kept, ["msg_id", "epoch", "seq_in_epoch"], "left_semi")

    def message_count(self, deduped: bool = True) -> int:
        if not glob.glob(os.path.join(glob.escape(self.messages_dir), "epoch=*")):
            return 0  # no epochs written yet
        return self.read_messages(deduped).count()
