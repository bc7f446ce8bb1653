"""Seeded change-event feed generator for the CDC workloads.

Writes parquet files in the connector's change-event envelope
(``functions.extjson.CHANGE_EVENT_SCHEMA``) with pyarrow alone, so the
generator never shares a process or a SparkSession with the system under
test. Two modes:

* backlog: a pre-written directory of large files with increasing mtimes,
  so the file source's listing order is token order across epochs;
* live: run as its own process (``python3 cdcfeed.py live <json>``), it
  publishes one file per collection on a fixed schedule, stamps each
  event's ``cluster_time`` with the file's due time, renames a hidden temp
  file into place so the source never sees a partial file, and prints a
  JSON report (``late_max_s``) as its last line.

The event mix is in ``MIX``; README.md gives the source of each value, or
says that it is an unverified choice.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PUBLISHABLE = ("insert", "update", "replace", "delete")
NOISE = ("drop", "rename")

MIX = {
    # share of each publishable op among publishable events (unverified:
    # equal shares, no measured change-stream mix to follow)
    "op_weights": {"insert": 0.25, "update": 0.25, "replace": 0.25, "delete": 0.25},
    # drop/rename events the connector must filter out
    "noise_share": 0.02,
    # re-deliveries of an earlier event with its original token
    "replay_share": 0.01,
    # document keys: Zipf(s) over a fixed key space; s is YCSB's Zipfian
    # constant, the key count is unverified
    "zipf_s": 0.99,
    "n_keys": 50_000,
    # length in bytes of the document's one ``message`` field:
    # lognormal(ln(median), sigma), capped; the median is YCSB's default
    # field length, sigma and the cap are unverified
    "message_median": 100,
    "message_sigma": 0.7,
    "message_max": 4096,
}

SCHEMA = pa.schema(
    [
        ("_id_data", pa.string()),
        ("operation_type", pa.string()),
        ("cluster_time", pa.timestamp("us", tz="UTC")),
        ("wall_time", pa.timestamp("us", tz="UTC")),
        ("full_document", pa.string()),
        ("full_document_before_change", pa.string()),
        ("ns_db", pa.string()),
        ("ns_coll", pa.string()),
        ("document_key_id", pa.string()),
    ]
)

DB = "bench-db"
_ALPHABET = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz0123456789 ", dtype=np.uint8)
# backlog cluster times start here and advance 1 ms per event
_BACKLOG_T0_US = int(dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc).timestamp() * 1e6)


def token(seq: int) -> str:
    """Fixed-width hex resume token: string order is sequence order."""
    return f"82{seq:022x}"


class EventSource:
    """Deterministic event stream of one collection: call ``take(n)`` for the
    next ``n`` events as a pyarrow table. Replays copy an earlier event of
    the same collection, token included."""

    def __init__(self, seed: int, coll: str) -> None:
        self.rng = np.random.default_rng(seed)
        self.coll = coll
        self.seq = 0
        ranks = np.arange(1, MIX["n_keys"] + 1, dtype=np.float64)
        p = ranks ** -MIX["zipf_s"]
        self.key_p = p / p.sum()
        # hot ranks map to scattered ids, as real ObjectIds would
        key_ids = self.rng.permutation(MIX["n_keys"]) * 7919 + 0x65F0_0000_0000
        self.oids = [f"{k:024x}" for k in key_ids.tolist()]
        self.pool = _ALPHABET[self.rng.integers(0, len(_ALPHABET), 1 << 20)].tobytes().decode()
        self.history: list[tuple] = []

    def take(self, n: int, cluster_us: int | None = None) -> pa.Table:
        """Next ``n`` events. ``cluster_us`` stamps every event with one
        cluster time (the live mode's due time); otherwise cluster times
        advance 1 ms per token from a fixed origin."""
        rng = self.rng
        weights = np.array(list(MIX["op_weights"].values()))
        pub = weights * (1 - MIX["noise_share"] - MIX["replay_share"])
        kinds = list(PUBLISHABLE) + list(NOISE) + ["replay"]
        p = np.concatenate(
            [pub, [MIX["noise_share"] / 2] * 2, [MIX["replay_share"]]]
        )
        kind = rng.choice(len(kinds), size=n, p=p / p.sum())
        rank = rng.choice(MIX["n_keys"], size=n, p=self.key_p)
        lengths = np.clip(
            rng.lognormal(np.log(MIX["message_median"]), MIX["message_sigma"], n),
            1, MIX["message_max"],
        ).astype(np.int64)
        offs = rng.integers(0, len(self.pool) - MIX["message_max"], n)
        pick = rng.random(n).tolist()
        kind, rank = kind.tolist(), rank.tolist()
        lengths, offs = lengths.tolist(), offs.tolist()
        oids, pool, history = self.oids, self.pool, self.history
        rows = []
        for i in range(n):
            k = kinds[kind[i]]
            if k == "replay" and history:
                rows.append(history[int(pick[i] * len(history))])
                continue
            if k == "replay":
                k = "insert"
            r = rank[i]
            oid = oids[r]
            seq = self.seq
            self.seq += 1
            ts = cluster_us if cluster_us is not None else _BACKLOG_T0_US + seq * 1000
            # the reference tests' document shape: {_id, message}
            before = after = None
            head = '{"_id":{"$oid":"' + oid + '"},"message":"'
            if k != "insert":
                off = offs[i]
                before = f'{head}{pool[off:off + lengths[i]]}"}}'
            if k != "delete":
                off = offs[i] + 1
                after = f'{head}{pool[off:off + lengths[i]]}"}}'
            row = (token(seq), k, ts, ts + 250 + seq % 1000, after, before, DB, self.coll, oid)
            rows.append(row)
            history.append(row)
        cols = list(zip(*rows))
        return pa.table(
            [pa.array(c, type=f.type) for c, f in zip(cols, SCHEMA)], schema=SCHEMA
        )


def write_backlog(path: str, seed: int, coll: str, n_files: int, events_per_file: int) -> list[pa.Table]:
    """Write ``n_files`` files under ``path`` with increasing mtimes, in the
    past so the whole backlog is present before the connector starts.
    Returns the tables written, in file order."""
    os.makedirs(path, exist_ok=True)
    src = EventSource(seed, coll)
    base = time.time() - 10 * n_files
    tables = []
    for f in range(n_files):
        t = src.take(events_per_file)
        name = os.path.join(path, f"part-{f:05d}.parquet")
        pq.write_table(t, name)
        os.utime(name, (base + 10 * f, base + 10 * f))
        tables.append(t)
    return tables


def read_backlog(path: str) -> list[pa.Table]:
    """The tables of a backlog written by ``write_backlog``, in file order."""
    names = sorted(f for f in os.listdir(path) if f.startswith("part-"))
    return [pq.read_table(os.path.join(path, f)) for f in names]


def run_live(spec: dict) -> dict:
    """Open-loop publisher: file ``k`` of every collection is due at
    ``t0 + k * period_s`` whatever the connector is doing. Each file is
    built before its due time and renamed into place at it."""
    sources = {c: EventSource(spec["seed"] + i, c) for i, c in enumerate(spec["colls"])}
    t0, period, n_files = spec["t0"], spec["period_s"], spec["n_files"]
    late_max = 0.0
    written = 0
    for k in range(n_files):
        due = t0 + k * period
        staged = []
        for c, src in sources.items():
            table = src.take(spec["events_per_file"], cluster_us=int(round(due * 1e6)))
            tmp = os.path.join(spec["root"], c, f".tmp-{k:05d}.parquet")
            pq.write_table(table, tmp)
            staged.append((tmp, os.path.join(spec["root"], c, f"part-{k:05d}.parquet")))
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        for tmp, final in staged:
            os.rename(tmp, final)
        late_max = max(late_max, time.time() - due)
        written += len(staged)
    return {"late_max_s": late_max, "files_written": written, "end": time.time()}


if __name__ == "__main__":
    if len(sys.argv) != 3 or sys.argv[1] != "live":
        sys.exit("usage: cdcfeed.py live '<json spec>'")
    print(json.dumps(run_live(json.loads(sys.argv[2]))), flush=True)
