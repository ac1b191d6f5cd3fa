"""Adapter-surface guards: the driver consumes __spark_entry__.py's
queries()/oracle_sql() dicts and proves the FIRST 50 keys each round —
a misordered rotation or a missing oracle entry silently burns a
round's worth of driver budget, so lock the contract here."""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os
import subprocess
import sys

import pytest

from datapipeline_scripts_spark.registry import all_queries, query


_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _entry_module():
    path = os.path.join(_REPO, "__spark_entry__.py")
    spec = importlib.util.spec_from_file_location("spark_entry_under_test", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


# sha256 of the sorted registered keys joined by newlines. A change to
# the catalog's key set is a deliberate, reviewed edit of this constant.
_KEYSET_SHA256 = "ff20da377f89ad41ff611c93f82b220939705b894d62b7af0c8963bbfb426e79"


def test_registry_imports_every_package_module():
    """The registry finds its modules by walking the package, so no
    module can sit unimported (and its keys unregistered) because a
    hand-kept list forgot it. Checked in a fresh interpreter, where
    nothing but the registry has imported the package."""
    probe = (
        "import json, pkgutil, sys, datapipeline_scripts_spark as p\n"
        "from datapipeline_scripts_spark.registry import all_queries\n"
        "keys = sorted(all_queries())\n"
        "walked = [m.name for m in pkgutil.walk_packages(p.__path__, p.__name__ + '.')]\n"
        "print(json.dumps({'walked': walked, 'missing': [m for m in walked if m not in sys.modules], 'keys': keys}))"
    )
    out = subprocess.run([sys.executable, "-c", probe], cwd=_REPO, capture_output=True, text=True, check=True)
    got = json.loads(out.stdout.splitlines()[-1])
    assert len(got["walked"]) > 50
    assert got["missing"] == []
    assert len(got["keys"]) == 379
    assert hashlib.sha256("\n".join(got["keys"]).encode()).hexdigest() == _KEYSET_SHA256


def test_query_without_an_oracle_is_refused():
    """A key exists only beside its DuckDB twin: registering one without
    an oracle raises at declaration time and registers nothing."""
    with pytest.raises(ValueError, match="oracle"):
        query("no_oracle_key", None)
    with pytest.raises(ValueError, match="oracle"):
        query("no_oracle_key", "  ")
    assert "no_oracle_key" not in all_queries()


def test_proven_tail_ordered_stalest_evidence_first():
    """VERDICT r7 item 2 + r9 latest-round fix: with the backlog
    empty, the window's spare slots must refresh the STALEST driver
    evidence — the proven tail is sorted by LATEST-proven round,
    ascending. (Earliest-proven would pin the same keys in the window
    every round, since a re-proof never changes a key's earliest.)"""
    mod = _entry_module()
    proven = mod._driver_proven_keys()
    ordered = mod._ordered_keys()
    tail_rounds = [proven[k] for k in ordered if k in proven]
    assert tail_rounds == sorted(tail_rounds), (
        "proven tail is not oldest-evidence-first"
    )
    # the age map itself must be non-trivial: the stalest evidence
    # leads the tail
    if tail_rounds:
        assert tail_rounds[0] == min(proven.values())


def test_spare_window_slots_land_on_stalest_cohort():
    """The measurable point of the latest-first fix: the re-proof
    slots in the 50-key window (whatever remains after the unproven
    head) must all sit inside the stalest cohort — no slot may hold a
    key whose evidence is fresher than some key left outside the
    window."""
    mod = _entry_module()
    proven = mod._driver_proven_keys()
    ordered = mod._ordered_keys()
    window, outside = ordered[:50], ordered[50:]
    in_rounds = [proven[k] for k in window if k in proven]
    out_rounds = [proven[k] for k in outside if k in proven]
    if in_rounds and out_rounds:
        assert max(in_rounds) <= min(out_rounds), (
            "window re-proves fresher evidence than what it leaves out"
        )


def test_entry_exports_cover_registry():
    mod = _entry_module()
    q = mod.queries()
    o = mod.oracle_sql()
    specs = all_queries()
    assert set(q) == set(specs), "queries() must export the whole registry"
    assert set(o) == set(specs), "oracle_sql() must cover every exported key"
    # rotation sanity: first-50 window contains no already-proven key
    # unless everything is proven (late rounds)
    proven = mod._driver_proven_keys()
    head = list(q)[:50]
    unproven_total = len([k for k in specs if k not in proven])
    if unproven_total >= 50:
        overlap = [k for k in head if k in proven]
        assert not overlap, f"rotation wastes driver budget on proven keys: {overlap}"


def test_rotation_puts_every_unproven_key_first():
    """The end-game invariant the whole backlog drain rides on
    (VERDICT r05 item 7): NO proven key may be ordered before ANY
    unproven key, so the driver's 50-key window is spent entirely on
    the keys with the least evidence — including the <50-remaining
    tail round, which the window-overlap check above can't see."""
    mod = _entry_module()
    proven = mod._driver_proven_keys()
    ordered = mod._ordered_keys()
    first_proven_pos = next(
        (i for i, k in enumerate(ordered) if k in proven), len(ordered)
    )
    stragglers = [k for k in ordered[first_proven_pos:] if k not in proven]
    assert not stragglers, (
        f"unproven keys ordered BEHIND a proven key (driver budget wasted): {stragglers}"
    )
    # the same rule with a backlog: the ten freshest keys lose their
    # evidence and must move from the back to the front of the order
    unproven = set(ordered[-10:])
    mod._driver_proven_keys = lambda: {k: r for k, r in proven.items() if k not in unproven}
    assert set(mod._ordered_keys()[:10]) == unproven
    # and the parsed evidence itself must be non-trivial: the rotation
    # reads CORRECTNESS_r*.json at import, so an accidental rename/move
    # of those files would silently reset the whole rotation
    assert len(proven) >= 246, (
        f"driver-proven set shrank to {len(proven)} — CORRECTNESS_r*.json "
        "files missing or unreadable?"
    )
