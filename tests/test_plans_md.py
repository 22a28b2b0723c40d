"""PLANS.md is the 100×-scale audit surface — keep it honest.

Asserts (VERDICT r02 §What's-wrong #3 / next-round #5):
- every driver-query in REGISTRY has a row and every row is a query in
  REGISTRY (regenerate with `python tools/explain_plans.py` after registry
  changes);
- zero sort-merge joins and zero nested-loop/cartesian joins in any query,
  with no exceptions (every join in the system is broadcast or
  pre-bucketed — the invariant that used to live only in prose);
- `recombine_last` stays on the 1-shuffle single-window shape and the
  deliberate skew variant stays bounded.

Pure file parsing — no SparkSession.
"""

import os
import re

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _rows():
    with open(os.path.join(REPO, "PLANS.md")) as f:
        text = f.read()
    rows = {}
    for line in text.splitlines():
        m = re.match(r"\| (\S+) \| (\d+) \| (\d+) \| (\d+) \| (\d+) \| (\d+) \|", line)
        if m:
            rows[m.group(1)] = dict(
                broadcast=int(m.group(2)),
                sortmerge=int(m.group(3)),
                nestedloop=int(m.group(4)),
                shuffles=int(m.group(5)),
                py=int(m.group(6)),
            )
    return rows, text


def test_plans_covers_registry():
    from opentelemetry_collector_contrib_spark.driver_queries import REGISTRY

    rows, text = _rows()
    names = {q.name for q in REGISTRY}
    missing = names - set(rows)
    assert not missing, (
        f"PLANS.md missing rows for {sorted(missing)} — "
        f"run `python tools/explain_plans.py`"
    )
    stale = set(rows) - names
    assert not stale, (
        f"PLANS.md has rows for {sorted(stale)}, which are not in REGISTRY — "
        f"run `python tools/explain_plans.py`"
    )
    assert "ERR" not in text, "PLANS.md contains errored rows"


def test_no_sortmerge_or_nested_loop_joins():
    rows, _ = _rows()
    assert rows, "PLANS.md has no parseable rows"
    bad_smj = {n: r["sortmerge"] for n, r in rows.items() if r["sortmerge"]}
    bad_nlj = {n: r["nestedloop"] for n, r in rows.items() if r["nestedloop"]}
    assert not bad_smj, f"sort-merge joins crept in: {bad_smj}"
    assert not bad_nlj, f"nested-loop/cartesian joins crept in: {bad_nlj}"


def test_recombine_shuffle_budget():
    rows, _ = _rows()
    if "recombine_last" not in rows:
        pytest.skip("PLANS.md predates recombine rows")
    assert rows["recombine_last"]["shuffles"] <= 2, rows["recombine_last"]
    assert rows["recombine"]["shuffles"] <= 2, rows["recombine"]
    if "recombine_skew" in rows:
        # the two-level prefix sum buys skew-safety with two extra SMALL
        # exchanges (per-chunk counts + offsets); bound it so it can't grow
        assert rows["recombine_skew"]["shuffles"] <= 5, rows["recombine_skew"]

