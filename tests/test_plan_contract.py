"""The unpartitioned-window survivor CONTRACT (VERDICT r5 item 2).

tools/plan_audit.py lists survivors; this pins them. Three directions:

1. accuracy — every frozen survivor still HAS an unpartitioned window
   (no stale names rotting in the list) and its declared bound marker
   is present below the window (limit / dimension agg / size gate);
2. fail-closed on new entries — an injected data-grain global-window
   plan is detected and rejected (not in the list => violation);
3. fail-closed on bound removal — a listed name checked against an
   unbounded plan is a violation (membership is not a waiver).

Reference analogue: xova/apps/xova/chunking.py:287-289 — assert the
invariant, don't assume it.
"""

from __future__ import annotations

import inspect
import os

from pyspark.sql import Window
from pyspark.sql import functions as F

from xova_spark.plancontract import (
    WINDOW_SURVIVORS,
    has_unpartitioned_window,
    survivor_violations,
    unpartitioned_window_segments,
)

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_frozen_survivors_accurate_and_bounded(spark):
    import __spark_entry__ as em

    qs = em.queries()
    missing = sorted(set(WINDOW_SURVIVORS) - set(qs))
    assert not missing, f"frozen survivors not in registry: {missing}"
    for name in WINDOW_SURVIVORS:
        fn = qs[name]
        plan = _plan(fn(spark, SF))
        assert has_unpartitioned_window(plan), (
            f"{name} no longer has an unpartitioned window — remove it"
            " from the frozen list"
        )
        probs = survivor_violations(name, plan, inspect.getsource(fn))
        assert not probs, probs


def test_injected_unbounded_window_is_violation(spark):
    """A data-grain global rank — the exact shape the contract exists
    to keep out — must be flagged both by the detector and as a
    non-listed violation."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    bad = docs.select(
        "doc_id",
        F.row_number().over(Window.orderBy("doc_id")).alias("rnk"),
    )
    plan = _plan(bad)
    assert has_unpartitioned_window(plan)
    segs = unpartitioned_window_segments(plan)
    assert segs and "FileScan" in segs[0]  # window input is the raw scan
    probs = survivor_violations("some_new_entry", plan)
    assert probs and "not in the frozen survivor list" in probs[0]


def test_listed_name_with_vanished_bound_is_violation(spark):
    """Membership alone is not a waiver: t_zipf_slope's spec requires a
    TakeOrderedAndProject below the window; an unbounded plan under its
    name must still be red."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    bad = docs.select(
        "doc_id",
        F.row_number().over(Window.orderBy("doc_id")).alias("rnk"),
    )
    probs = survivor_violations("t_zipf_slope", _plan(bad))
    assert probs and "lost its declared bound" in probs[0]


def test_size_gate_source_route_is_checked():
    """The two gated ntile entries must keep routing through
    operators/ranking.global_ntile; a source that drops the call is a
    violation even if the (under-gate) plan looks the same."""
    import __spark_entry__ as em

    qs = em.queries()
    for name in ("ev_rfm_segments", "ev_user_concentration"):
        src = inspect.getsource(qs[name])
        assert "global_ntile" in src
    # simulate the gate route being removed: source without the call
    fake_plan = (
        "+- Window [ntile(4) windowspecdefinition(f#1 ASC NULLS FIRST,"
        " specifiedwindowframe(RowFrame, unboundedpreceding$(),"
        " currentrow$())) AS s#2], [f#1 ASC NULLS FIRST]\n"
        "   +- HashAggregate(keys=[user_id#3], functions=[count(1)])\n"
    )
    probs = survivor_violations(
        "ev_rfm_segments", fake_plan, "def ev_rfm_segments(...): pass"
    )
    assert any("size-gate route" in p for p in probs)


# ---- BNLJ survivor contract (VERDICT r6 item 3) ----------------------

from xova_spark.plancontract import (  # noqa: E402
    BNLJ_KIND_PATTERNS,
    BNLJ_SURVIVORS,
    bnlj_build_segments,
    bnlj_violations,
)


def test_bnlj_survivors_name_and_kind_hygiene():
    """Every listed entry exists in the registry, declares >= 1 known
    kind, and a positive segment ceiling."""
    import __spark_entry__ as em

    qs = em.queries()
    missing = sorted(set(BNLJ_SURVIVORS) - set(qs))
    assert not missing, f"frozen BNLJ survivors not in registry: {missing}"
    for name, spec in BNLJ_SURVIVORS.items():
        assert spec["kinds"], name
        unknown = set(spec["kinds"]) - set(BNLJ_KIND_PATTERNS)
        assert not unknown, f"{name}: unknown kinds {unknown}"
        assert spec["max_segments"] >= 1, name


def test_injected_unlisted_bnlj_is_violation(spark):
    """A cross join against a DATA-GRAIN frame under a new name must be
    flagged: not in the list => violation (fail-closed)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    lone = spark.read.parquet(f"{SF}/region.parquet")
    bad = docs.crossJoin(F.broadcast(lone))
    plan = _plan(bad)
    segs = bnlj_build_segments(plan)
    assert segs and "FileScan" in segs[0]
    probs = bnlj_violations("some_new_entry", plan)
    assert probs and "not in the frozen BNLJ survivor list" in probs[0]


def test_listed_bnlj_with_fat_build_side_is_violation(spark):
    """Membership is not a waiver: tpch_q22_antijoin declares a 1-row
    aggregate build side; a raw-table broadcast under its name is red."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    other = spark.read.parquet(f"{SF}/customer.parquet")
    bad = docs.crossJoin(F.broadcast(other))
    probs = bnlj_violations("tpch_q22_antijoin", _plan(bad))
    assert probs and "matches none of its declared bound kinds" in probs[0]


def test_listed_bnlj_over_ceiling_is_violation(spark):
    """A new BNLJ creeping into a LISTED entry trips the per-entry
    segment ceiling even when the new build side pattern-matches."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    one = docs.agg(F.count("*").alias("n"))
    two = docs.agg(F.max("doc_id").alias("m"))
    bad = docs.crossJoin(F.broadcast(one)).crossJoin(F.broadcast(two))
    probs = bnlj_violations("tpch_q22_antijoin", _plan(bad))
    assert probs and "declared ceiling" in probs[0]


def test_land_time_hook_catches_unlisted_bnlj(spark):
    """The check_oracle land-time hook (plan_contract_violations) sees
    the same violation from a live DataFrame — the VERDICT r6 item-2
    'injected unlisted survivor turns the gate red' acceptance."""
    from xova_spark.plancontract import plan_contract_violations

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    lone = spark.read.parquet(f"{SF}/region.parquet")
    bad = docs.crossJoin(F.broadcast(lone))
    probs = plan_contract_violations("some_new_entry", bad)
    assert probs and (
        "BNLJ" in probs[0] or "BroadcastNestedLoopJoin" in probs[0]
    )


def test_coverage_plan_contract_line_matches_allowlists():
    """COVERAGE.md's stamped 'Plan contract:' line must agree with the
    live plancontract allowlist sizes (VERDICT r7 item 7: ROADMAP
    hand-claimed '60 BNLJs' while the sweep observed 59 — counter
    claims now machine-stamp via `tools/plan_audit.py --stamp` on a
    full sweep, and this test reds any allowlist edit that ships
    without a restamp). Observed counts are measured artifacts of the
    stamping sweep and are NOT re-derived here; the allowlist sizes
    are the stampable, deterministic parts."""
    import re

    from xova_spark.plancontract import BNLJ_SURVIVORS, WINDOW_SURVIVORS

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "COVERAGE.md")) as f:
        text = f.read()
    m = re.search(
        r"Plan contract: \*\*Expand \d+, CartesianProduct (\d+), BNLJ in"
        r" \d+ plans \((\d+) allowlisted entries\), BatchEvalPython \d+,"
        r" unpartitioned-window survivors \d+ \((\d+) allowlisted\)\*\*",
        text,
    )
    assert m, (
        "COVERAGE.md has no stamped Plan contract line — run"
        " `python tools/plan_audit.py --stamp` (full sweep)"
    )
    n_cartesian, n_bnlj_allow, n_win_allow = map(int, m.groups())
    assert n_cartesian == 0
    assert n_bnlj_allow == len(BNLJ_SURVIVORS)
    assert n_win_allow == len(WINDOW_SURVIVORS)
