"""Registry mechanics: rotation of the driver's correctness window.

The external driver checks the FIRST 50 names in queries() order each round.
`all_queries()` therefore orders names without a green driver row first, by
reading past CORRECTNESS_r*.json artifacts — across rounds this converges to
full hard verification with no hand-maintained lists.
"""

from __future__ import annotations

import ast
import json
from pathlib import Path

import pytest

from mongodb_nats_connector_spark import registry


def test_driver_verified_parses_artifacts(tmp_path):
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({
        "green": {"hash_match": True, "rows_match": True, "err": None},
        "rows_only": {"hash_match": None, "err": "no_oracle"},
        "wrong": {"hash_match": False, "rows_match": True, "err": None},
    }))
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps({
        "late_green": {"hash_match": True, "err": None},
    }))
    (tmp_path / "CORRECTNESS_r03.json").write_text("not json {")  # ignored
    hash_verified, rows_only = registry._driver_verified(root=Path(tmp_path))
    assert hash_verified == {"green", "late_green"}
    assert rows_only == {"rows_only"}
    # a hash MISMATCH is not verified: it must rotate back into the window
    assert "wrong" not in hash_verified


def test_all_queries_orders_unverified_first():
    """With the repo's real CORRECTNESS_r01.json present, round-1-verified
    names (e.g. q1_pricing_summary) must sort after never-checked ones, and
    every name must appear exactly once."""
    names = list(registry.all_queries())
    assert len(names) == len(set(names))
    root = Path(registry.__file__).resolve().parent.parent
    if not list(root.glob("CORRECTNESS_r*.json")):
        pytest.skip("no driver artifacts in this checkout")
    hash_verified, rows_only = registry._driver_verified()
    digests = registry._verified_digests()
    qs = registry.all_queries()
    pos = {n: i for i, n in enumerate(names)}

    def current(n):
        return digests.get(n) == registry.query_digest(qs[n])

    # oracle-less queries already executed rows-only rank with the verified;
    # a green row only settles a name while its recorded digest is current
    settled = {n for n in hash_verified if n in qs and current(n)} | {
        n for n in names if qs[n].oracle is None and n in rows_only and current(n)
    }
    pending = [n for n in names if n not in settled]
    if pending and settled & set(names):
        assert max(pos[n] for n in pending) < min(
            pos[n] for n in (settled & set(names))
        ), "settled names must all sort after pending ones"


def test_stale_digest_demotes_verified_name(monkeypatch):
    """Editing a verified query's source or oracle must re-rank it into the
    driver's window: a green artifact row only counts while the recorded
    digest matches the current implementation (ADVICE r02, registry.py)."""
    registry._load_all()
    name = "q1_pricing_summary"
    q = registry._REGISTRY[name]
    real = registry.query_digest(q)
    hv, ros = registry._driver_verified()
    if name not in hv:
        pytest.skip("q1 not driver-verified in this checkout")

    # Model the steady state: every name verified and current, then q1's
    # implementation is edited (digest goes stale). Wiping the OTHER names'
    # digests instead would demote all 187 to rank 0 and q1 would sort at
    # its registration position, not the front.
    all_current = {
        n: registry.query_digest(q2) for n, q2 in registry._REGISTRY.items()
    }
    monkeypatch.setattr(registry, "_verified_digests", lambda: all_current)
    pos_current = list(registry.all_queries()).index(name)

    stale = dict(all_current, **{name: "0" * 16})
    monkeypatch.setattr(registry, "_verified_digests", lambda: stale)
    pos_stale = list(registry.all_queries()).index(name)
    assert pos_stale < pos_current, "stale digest must move the name forward"
    assert pos_stale < 50, "stale name must re-enter the driver's 50-row window"


def test_refresh_verified_digests_records_newest_greens(tmp_path, monkeypatch):
    registry._load_all()
    art = tmp_path / "CORRECTNESS_r99.json"
    art.write_text(json.dumps({
        "q1_pricing_summary": {"hash_match": True, "err": None},
        "agg_approx_quantile": {"hash_match": None, "err": "no_oracle"},
        "not_a_query": {"hash_match": True, "err": None},
        "q3_shipping_priority": {"hash_match": False, "err": None},
    }))
    out = tmp_path / "verified_digests.json"
    out.write_text(json.dumps({"q5_local_supplier_volume": "feedfeedfeedfeed"}))
    monkeypatch.setattr(registry, "_DIGESTS_FILE", out)
    digests = registry.refresh_verified_digests(art)
    assert digests["q1_pricing_summary"] == registry.query_digest(
        registry._REGISTRY["q1_pricing_summary"]
    )
    assert "agg_approx_quantile" in digests          # rows-only still recorded
    assert "not_a_query" not in digests              # unknown names skipped
    assert "q3_shipping_priority" not in digests     # red rows never recorded
    assert digests["q5_local_supplier_volume"] == "feedfeedfeedfeed"  # kept
    assert json.loads(out.read_text()) == digests    # persisted


def test_duplicate_registration_rejected():
    with pytest.raises(ValueError, match="duplicate"):
        @registry.register("q1_pricing_summary")
        def dup(spark, sf_dir):  # pragma: no cover
            raise AssertionError


def test_every_register_site_is_reachable():
    """``_load_all()`` is the only load path: a query registered in a module
    it does not import is dead code no entry point can reach."""
    ops = Path(registry.__file__).resolve().parent / "operators"
    sites = set()
    for path in ops.glob("*.py"):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.FunctionDef):
                sites.update(
                    deco.args[0].value
                    for deco in node.decorator_list
                    if isinstance(deco, ast.Call)
                    and isinstance(deco.func, ast.Name)
                    and deco.func.id == "register"
                )
    registry._load_all()
    assert set(registry._REGISTRY) == sites
