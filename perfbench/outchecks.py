"""Output checks for the benchmark; they run after the measured region.

CDC: every publishable token of the feed must appear exactly once in the
consumer's deduped view, no drop/rename may be published, tokens must be in
order for the sink mode, ``subject`` must be ``<STREAM>.<op>``, and ``data``
must equal an independent Python relaxed-ExtJSON serialization of the
generated row. Batch: each query result must equal its DuckDB oracle under
an order-insensitive comparison.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa

from cdcfeed import PUBLISHABLE


def extjson_bodies(ev: pd.DataFrame) -> pd.Series:
    """Relaxed MongoDB Extended JSON of change events, written from the
    envelope's field order: ObjectIds as {"$oid"}, the BSON Timestamp
    clusterTime as {"$timestamp": {"t": seconds, "i": 1}}, wallTime as an
    ISO-8601 UTC {"$date"} with milliseconds, documents spliced verbatim.
    ``ev`` has the envelope columns, with times as integer microseconds in
    ``cluster_time_us`` and ``wall_time_us``."""
    secs = (ev["cluster_time_us"] // 1_000_000).astype(str)
    wall = pd.Series(np.datetime_as_string(
        (ev["wall_time_us"].to_numpy() // 1000).astype("datetime64[ms]"), unit="ms"),
        index=ev.index)
    return (
        '{"_id":{"_data":"' + ev["_id_data"] + '"},'
        + '"operationType":"' + ev["operation_type"] + '",'
        + '"clusterTime":{"$timestamp":{"t":' + secs + ',"i":1}},'
        + '"wallTime":{"$date":"' + wall + 'Z"},'
        + '"fullDocument":' + ev["full_document"].fillna("null") + ","
        + '"fullDocumentBeforeChange":' + ev["full_document_before_change"].fillna("null") + ","
        + '"ns":{"db":"' + ev["ns_db"] + '","coll":"' + ev["ns_coll"] + '"},'
        + '"documentKey":{"_id":{"$oid":"' + ev["document_key_id"] + '"}}}'
    )


def _us(col: pa.ChunkedArray) -> np.ndarray:
    return col.cast(pa.int64()).to_numpy()


class Expected:
    """What the sink must hold for a feed: one entry per publishable token
    (first delivery), plus the tokens that must never be published."""

    def __init__(self, tables: list[pa.Table], stream: str) -> None:
        t = pa.concat_tables(tables)
        df = pd.DataFrame({
            "_id_data": t.column("_id_data").to_numpy(zero_copy_only=False),
            "operation_type": t.column("operation_type").to_numpy(zero_copy_only=False),
            "cluster_time_us": _us(t.column("cluster_time")),
            "wall_time_us": _us(t.column("wall_time")),
            "full_document": t.column("full_document").to_numpy(zero_copy_only=False),
            "full_document_before_change":
                t.column("full_document_before_change").to_numpy(zero_copy_only=False),
            "ns_db": t.column("ns_db").to_numpy(zero_copy_only=False),
            "ns_coll": t.column("ns_coll").to_numpy(zero_copy_only=False),
            "document_key_id": t.column("document_key_id").to_numpy(zero_copy_only=False),
        })
        self.rows_offered = len(df)
        pub = df["operation_type"].isin(PUBLISHABLE).to_numpy()
        self.publishable_rows = int(pub.sum())
        self.noise_tokens = set(df.loc[~pub, "_id_data"])
        first = df[pub].drop_duplicates("_id_data")
        self.events = pd.DataFrame({
            "subject": stream + "." + first["operation_type"],
            "data": extjson_bodies(first),
            "document_key": first["document_key_id"],
            "cluster_time_us": first["cluster_time_us"],
        }).set_axis(first["_id_data"].to_numpy())

    @property
    def n(self) -> int:
        return len(self.events)


def check_view(view: pd.DataFrame, exp: Expected, keyed: bool,
               deduped: bool) -> tuple[int, dict]:
    """Check one sink's messages against ``exp``. ``view`` has msg_id,
    subject, data, epoch, seq_in_epoch (and document_key when ``keyed``).
    ``deduped=False`` applies the consumer's dedup (first delivery by
    (epoch, seq_in_epoch)) before checking. Returns (failed events, detail);
    an event fails at most once whatever is wrong with it."""
    v = view.sort_values(["epoch", "seq_in_epoch"], kind="stable")
    if not deduped:
        v = v.drop_duplicates("msg_id", keep="first")
    bad: set[str] = set()
    dup = v["msg_id"][v["msg_id"].duplicated()]
    bad.update(dup)
    noise = set(v["msg_id"]) & exp.noise_tokens
    bad.update(noise)
    seen = v.drop_duplicates("msg_id").set_index("msg_id")
    known = seen.index.intersection(exp.events.index)
    missing = exp.events.index.difference(seen.index)
    bad.update(missing)
    e = exp.events.loc[known]
    s = seen.loc[known]
    wrong_subject = known[(s["subject"] != e["subject"]).to_numpy()]
    wrong_body = known[(s["data"] != e["data"]).to_numpy()]
    bad.update(wrong_subject)
    bad.update(wrong_body)
    # order: tokens strictly increase along (epoch, seq) — per key if keyed
    ordered = v[v["msg_id"].isin(known)]
    if keyed:
        prev = ordered.groupby("document_key", sort=False)["msg_id"].shift()
    else:
        prev = ordered["msg_id"].shift()
    mis = ordered["msg_id"][prev.notna() & (ordered["msg_id"] <= prev)]
    bad.update(mis)
    detail = {
        "expected": exp.n, "missing": len(missing), "duplicated": len(dup),
        "noise_published": len(noise), "wrong_subject": len(wrong_subject),
        "wrong_body": len(wrong_body), "misordered": len(mis),
    }
    return len(bad), detail


# -- batch results ---------------------------------------------------------


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Lower-case, name-sorted columns; rows sorted by every column."""
    df = df.copy()
    df.columns = [c.lower() for c in df.columns]
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("Int64")
    return df.sort_values(by=list(df.columns), na_position="last").reset_index(drop=True)


def frames_match(mine: pd.DataFrame, oracle: pd.DataFrame) -> str | None:
    """None when equal; else a one-line reason. Floats compare with a
    relative tolerance of 1e-9, which absorbs summation-order differences
    between the engines and nothing larger."""
    mine, oracle = normalize(mine), normalize(oracle)
    if len(mine) != len(oracle):
        return f"row count {len(mine)} != oracle {len(oracle)}"
    if list(mine.columns) != list(oracle.columns):
        return f"columns {list(mine.columns)} != oracle {list(oracle.columns)}"
    for c in mine.columns:
        a, b = mine[c], oracle[c]
        if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
            af = a.astype("float64").to_numpy()
            bf = b.astype("float64").to_numpy()
            ok = np.isclose(af, bf, rtol=1e-9, atol=1e-9) | (np.isnan(af) & np.isnan(bf))
        else:
            ok = (a.eq(b) | (a.isna() & b.isna())).to_numpy(dtype=bool)
        if not ok.all():
            i = int(np.argmin(ok))
            return f"column {c}: {int((~ok).sum())} mismatches, first {a[i]!r} vs {b[i]!r}"
    return None
