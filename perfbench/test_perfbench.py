"""Tests of the benchmark itself: seeded inputs, output checks, span
arithmetic. Run with ``python3 -m pytest perfbench -q`` (no Spark needed)."""

from __future__ import annotations

import os

import pandas as pd
import pyarrow.parquet as pq
import pytest

import batchdata
import cdcfeed
import outchecks
import run
import spans


# -- seeded inputs ---------------------------------------------------------


def test_same_seed_gives_identical_backlog(tmp_path):
    a = cdcfeed.write_backlog(str(tmp_path / "a"), 7, "c", 2, 3000)
    b = cdcfeed.write_backlog(str(tmp_path / "b"), 7, "c", 2, 3000)
    assert all(x.equals(y) for x, y in zip(a, b))
    for name in os.listdir(tmp_path / "a"):
        assert pq.read_table(tmp_path / "a" / name).equals(pq.read_table(tmp_path / "b" / name))
    c = cdcfeed.write_backlog(str(tmp_path / "c"), 8, "c", 2, 3000)
    assert not a[0].equals(c[0])


def test_backlog_mtimes_follow_token_order(tmp_path):
    cdcfeed.write_backlog(str(tmp_path), 1, "c", 3, 500)
    files = sorted(os.listdir(tmp_path))
    mtimes = [os.path.getmtime(tmp_path / f) for f in files]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 3
    seen: set[str] = set()
    for f in files:
        tokens = pq.read_table(tmp_path / f).column("_id_data").to_pylist()
        new = [t for t in tokens if t not in seen]  # the rest are replays
        assert not seen or min(new) > max(seen)
        seen.update(tokens)


def test_live_stamps_due_time_and_mix_shares():
    src = cdcfeed.EventSource(3, "c")
    t = src.take(20_000, cluster_us=1_700_000_000_000_000)
    assert set(t.column("cluster_time").cast("int64").to_pylist()) == {1_700_000_000_000_000}
    ops = pd.Series(t.column("operation_type").to_pylist())
    noise = ops.isin(cdcfeed.NOISE).mean()
    assert 0.01 < noise < 0.03
    tokens = pd.Series(t.column("_id_data").to_pylist())
    assert 0.005 < tokens.duplicated().mean() < 0.02


def test_same_seed_gives_identical_tables():
    a = batchdata.make_tables(5, 0.001)
    b = batchdata.make_tables(5, 0.001)
    assert a.keys() == b.keys()
    assert all(a[k].equals(b[k]) for k in a)
    assert not a["lineitem"].equals(batchdata.make_tables(6, 0.001)["lineitem"])


# -- CDC output checks -----------------------------------------------------


@pytest.fixture(scope="module")
def expected():
    return outchecks.Expected([cdcfeed.EventSource(11, "coll").take(2000)], "COLL")


def perfect_view(exp: outchecks.Expected) -> pd.DataFrame:
    ev = exp.events.sort_index()
    return pd.DataFrame({
        "msg_id": ev.index, "subject": ev["subject"].to_numpy(),
        "data": ev["data"].to_numpy(), "document_key": ev["document_key"].to_numpy(),
        "epoch": [i // 500 for i in range(len(ev))],
        "seq_in_epoch": [i % 500 + 1 for i in range(len(ev))],
    })


def test_body_is_relaxed_extjson():
    t = cdcfeed.EventSource(2, "coll").take(50)
    exp = outchecks.Expected([t], "COLL")
    row = next(r for r in t.to_pylist() if r["operation_type"] in outchecks.PUBLISHABLE)
    body = exp.events.loc[row["_id_data"], "data"]
    assert body.startswith('{"_id":{"_data":"%s"},"operationType":"%s"'
                           % (row["_id_data"], row["operation_type"]))
    ms = row["wall_time"].microsecond // 1000
    assert '"wallTime":{"$date":"%s.%03dZ"}' % (row["wall_time"].strftime("%Y-%m-%dT%H:%M:%S"), ms) in body
    assert '"clusterTime":{"$timestamp":{"t":%d,"i":1}}' % int(row["cluster_time"].timestamp()) in body
    assert body.endswith('"documentKey":{"_id":{"$oid":"%s"}}}' % row["document_key_id"])


def test_clean_view_passes(expected):
    failed, detail = outchecks.check_view(perfect_view(expected), expected, False, True)
    assert failed == 0, detail
    failed, _ = outchecks.check_view(perfect_view(expected), expected, True, True)
    assert failed == 0


def test_checker_flags_missing_event(expected):
    view = perfect_view(expected).drop(index=10)
    failed, detail = outchecks.check_view(view, expected, False, True)
    assert failed == 1 and detail["missing"] == 1


def test_checker_flags_duplicated_event(expected):
    view = perfect_view(expected)
    view = pd.concat([view, view.iloc[[5]].assign(epoch=99)])
    failed, detail = outchecks.check_view(view, expected, False, True)
    assert failed == 1 and detail["duplicated"] == 1
    # the raw sink may hold replays: the consumer's dedup removes them
    failed, _ = outchecks.check_view(view, expected, False, False)
    assert failed == 0


def test_checker_flags_misordered_event(expected):
    view = perfect_view(expected)
    view.loc[[3, 4], "seq_in_epoch"] = view.loc[[4, 3], "seq_in_epoch"].to_numpy()
    failed, detail = outchecks.check_view(view, expected, False, True)
    assert failed == 1 and detail["misordered"] == 1


def test_checker_keyed_order_is_per_key(expected):
    view = perfect_view(expected)
    # reversing the order of two single-event keys is fine in keyed mode
    counts = view["document_key"].value_counts()
    single = view.index[view["document_key"].isin(counts.index[counts == 1])][:2]
    view.loc[single, "epoch"] = [50, -1]
    assert outchecks.check_view(view, expected, True, True)[0] == 0
    assert outchecks.check_view(view, expected, False, True)[0] >= 1
    # ...but not within one key
    rows = view.index[view["document_key"] == counts.index[0]][-2:]
    view.loc[rows, "epoch"] = [60, 59]
    failed, detail = outchecks.check_view(view, expected, True, True)
    assert failed == 1 and detail["misordered"] == 1


def test_checker_flags_corrupted_body_and_subject(expected):
    view = perfect_view(expected)
    view.loc[7, "data"] = view.loc[7, "data"].replace('"message":', '"message": ')
    view.loc[8, "subject"] = "COLL.drop"
    failed, detail = outchecks.check_view(view, expected, False, True)
    assert failed == 2 and detail["wrong_body"] == 1 and detail["wrong_subject"] == 1


def test_checker_flags_published_noise(expected):
    noise = sorted(expected.noise_tokens)[0]
    view = pd.concat([perfect_view(expected), pd.DataFrame({
        "msg_id": [noise], "subject": ["COLL.drop"], "data": ["{}"], "document_key": ["x"],
        "epoch": [100], "seq_in_epoch": [1]})], ignore_index=True)
    failed, detail = outchecks.check_view(view, expected, False, True)
    assert failed == 1 and detail["noise_published"] == 1


# -- batch comparison ------------------------------------------------------


def test_frames_match_is_order_insensitive_with_tight_tolerance():
    a = pd.DataFrame({"k": [2, 1], "v": [0.5, 1.0 + 1e-12]})
    b = pd.DataFrame({"V": [1.0, 0.5], "K": [1, 2]})
    assert outchecks.frames_match(a, b) is None
    assert "mismatches" in outchecks.frames_match(a.assign(v=[0.5, 1.001]), b)
    assert "row count" in outchecks.frames_match(a.iloc[:1], b)


def test_components_take_smallest_reachable_id():
    pairs = pd.DataFrame({"doc_a": [5, 1, 7], "doc_b": [3, 5, 8]})
    got = run.components(range(10), pairs).set_index("doc_id")
    assert got.loc[[1, 3, 5], "cluster_id"].tolist() == [1, 1, 1]
    assert got.loc[[7, 8], "cluster_id"].tolist() == [7, 7]
    assert got.loc[0, "is_canonical"] == 1 and got.loc[5, "is_canonical"] == 0


# -- spans -----------------------------------------------------------------


def test_self_time_on_synthetic_tree():
    S = spans.Span
    tree = [
        S(0, "root", 0.0, 10.0, None, "t"),
        S(1, "a", 1.0, 3.0, 0, "t"),
        S(2, "b", 2.0, 5.0, 0, "t"),    # overlaps a: the union counts once
        S(3, "c", 9.0, 12.0, 0, "t"),   # runs past root: clipped to it
        S(4, "b1", 3.0, 4.0, 2, "t"),
        S(5, "other", 0.0, 100.0, None, "u"),
    ]
    got = spans.self_times(tree)
    assert got == pytest.approx({0: 5.0, 1: 2.0, 2: 2.0, 3: 3.0, 4: 1.0, 5: 100.0})


def test_tracer_nests_and_disabled_records_nothing(tmp_path):
    tr = spans.Tracer(True)
    with tr.span("outer", "t"):
        with tr.span("inner", "t"):
            pass
    assert [s.parent for s in tr.spans] == [None, 0]
    tr.dump(str(tmp_path / "s.jsonl"))
    assert len((tmp_path / "s.jsonl").read_text().splitlines()) == 2
    off = spans.Tracer(False)
    with off.span("x", "t"):
        pass
    assert off.spans == []


def test_percentile_nearest_rank():
    v = list(range(1, 101))
    assert run.percentile(v, 50) == 50 and run.percentile(v, 99) == 99
    assert run.percentile([3.0], 99) == 3.0


def test_metric_names_come_from_benchmark_json():
    e2e, layer = run.metric_units()
    assert set(e2e) == {"setup_s", "throughput_per_s", "latency_p50_s", "peak_rss_mb"}
    assert 1 <= len(layer) <= 128 and not set(e2e) & set(layer)
    assert {f"traced.{n}" for n in e2e} <= set(layer)
