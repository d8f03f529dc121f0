"""Frozen plan contracts: unpartitioned-window survivors (VERDICT r5
#2) and BroadcastNestedLoopJoin survivors (VERDICT r6 #3), both
enforced at LAND TIME by tools/check_oracle.py (every gate run checks
every entry's executed plan — VERDICT r6 #2) and by the
tools/plan_audit.py sweep.

``tools/plan_audit.py`` detects Window operators with no PARTITION BY —
the WindowExec single-partition global sort that is a scale-killer when
its input is data-grain. Ten registry entries legitimately keep such a
window because their input is BOUNDED; this module freezes that list
and, for each survivor, a structural BOUND MARKER that must appear in
the plan subtree BELOW the window (its input): a TakeOrderedAndProject/
limit, a dimension-grain aggregate keyed by physical metadata, or — for
the size-gated ntile entries — the ``operators/ranking.global_ntile``
route in the entry's source (the plan shows a plain window only because
the audit SF sits under ``NTILE_WINDOW_MAX_ROWS``; above the gate the
plan switches to the distributed two-pass rank, both paths pinned in
tests/test_ranking.py).

The contract makes the survivor list FAIL-CLOSED in two directions
(tests/test_plan_contract.py; enforced by tools/plan_audit.py exit 2):

- a NEW entry whose plan carries an unpartitioned data-grain window is
  a violation (not in the frozen list) — it can no longer land as
  "survivor #11" silently;
- a LISTED entry whose bound disappears (someone removes the limit or
  the gate) is a violation — membership alone is not a waiver.

Reference analogue: xova/apps/xova/chunking.py:287-289 asserts row
monotonicity instead of assuming it; same discipline, applied to plan
shape.
"""

from __future__ import annotations

import re

# name -> bound spec. "marker" is matched against the plan text below
# each unpartitioned Window line; "source" against the entry function's
# source (inspect.getsource).
WINDOW_SURVIVORS: dict[str, dict[str, str]] = {
    # rank over an already-top-k'd frame: the top-k itself is the
    # distributed TakeOrderedAndProject, the window sees <= limit rows.
    "t_bm25_topk": {
        "kind": "limit",
        "marker": r"TakeOrderedAndProject\(limit=\d+",
    },
    "t_zipf_slope": {
        "kind": "limit",
        "marker": r"TakeOrderedAndProject\(limit=\d+",
    },
    "t_bigram_pmi_topk": {
        "kind": "limit",
        "marker": r"TakeOrderedAndProject\(limit=\d+",
    },
    # ntile over user-grain aggregates, size-gated through
    # operators/ranking.global_ntile (window path only under the gate).
    "ev_rfm_segments": {
        "kind": "size_gate",
        "marker": r"HashAggregate\(keys=\[user_id#\d+",
        "source": r"global_ntile",
    },
    "ev_user_concentration": {
        "kind": "size_gate",
        "marker": r"HashAggregate\(keys=\[user_id#\d+",
        "source": r"global_ntile",
    },
    # grand-total window over the flag x status contingency cells.
    "agg_contingency_chi2cells": {
        "kind": "dim_agg",
        "marker": r"HashAggregate\(keys=\[l_returnflag#\d+, l_linestatus#\d+",
    },
    # suffix max over the K 90-day block maxima (K ~ calendar span).
    "agg_skyline_pareto": {
        "kind": "dim_agg",
        "marker": r"HashAggregate\(keys=\[part#\d+",
    },
    # cumulative negatives at DISTINCT-SCORE grain, size-gated through
    # operators/ranking.global_cumsum (window path only under the gate;
    # above it the two-pass range-partitioned running sum runs — both
    # paths pinned in tests/test_ranking.py).
    "t_quality_auc": {
        "kind": "size_gate",
        "marker": r"HashAggregate\(keys=\[score#\d+",
        "source": r"global_cumsum",
    },
    # decile assignment over the doc-grain score/label join, size-gated
    # through operators/ranking.global_ntile (same route as
    # ev_rfm_segments; window path only under the 100k gate).
    "t_quality_calibration": {
        "kind": "size_gate",
        "marker": r"HashAggregate\(keys=\[doc_id#\d+",
        "source": r"global_ntile",
    },
    # threshold-sweep cumulative counts at distinct-score grain, both
    # riding one size-gated multi-column global_cumsum pass.
    "t_quality_pr_curve": {
        "kind": "size_gate",
        "marker": r"HashAggregate\(keys=\[score#\d+",
        "source": r"global_cumsum",
    },
    # every ranking window (lexical list, dense list, fused readout)
    # sits above its own TakeOrderedAndProject top-k.
    "ann_hybrid_rrf_topk": {
        "kind": "limit",
        "marker": r"TakeOrderedAndProject\(limit=\d+",
    },
    # rank_sem's row_number reads the dense top-20 frame (.limit(20)
    # over the corpus cosine scan) — same shape as ann_hybrid_rrf_topk.
    # Landed r6 AFTER the last contract update and shipped unlisted
    # (VERDICT r6 defect #1); allowlisted here with the bound its plan
    # already carried.
    "ann_rank_agreement": {
        "kind": "limit",
        "marker": r"TakeOrderedAndProject\(limit=\d+",
    },
    # Kaplan-Meier: suffix at-risk sum + prefix ln-lattice sum, both
    # over the DISTINCT-DURATION grain (bounded by the calendar span,
    # <= ~10^4 rows at any data scale) — the dur-keyed aggregate below
    # each window is the bound.
    "ev_kaplan_meier": {
        "kind": "dim_agg",
        "marker": r"HashAggregate\(keys=\[dur#\d+",
    },
    # KS / Mann-Whitney cumulative counts at DISTINCT-VALUE-BIN grain
    # (permille lattice bounds bins by the VALUE RANGE — ~5e5 for this
    # table at any row count), size-gated through global_cumsum: the
    # bounded window runs under 100k bins, the two-pass range-
    # partitioned running sum above (same route as t_quality_auc).
    "ev_ks_test": {
        "kind": "size_gate",
        "marker": r"HashAggregate\(keys=\[vm#\d+",
        "source": r"global_cumsum",
    },
    "ev_mann_whitney_u": {
        "kind": "size_gate",
        "marker": r"HashAggregate\(keys=\[vm#\d+",
        "source": r"global_cumsum",
    },
    # trimmed/winsorized mean rides the same distinct-value-bin cumsum
    "agg_trimmed_mean": {
        "kind": "size_gate",
        "marker": r"HashAggregate\(keys=\[vm#\d+",
        "source": r"global_cumsum",
    },
    # r9 sketch + referee: both cumsums ride the size-gated primitive
    # over value-bin / sketch-bin grains
    "agg_histogram_quantile_sketch": {
        "kind": "size_gate",
        "marker": r"HashAggregate\(keys=\[(vm|bin)#\d+",
        "source": r"global_cumsum",
    },
    # streaming twin: the converged-bins cumsum rides the same gate
    "stream_histogram_quantiles": {
        "kind": "size_gate",
        "marker": r"HashAggregate\(keys=\[bin#\d+",
        "source": r"global_cumsum",
    },
    # Nelson-Aalen: identical duration-grain windows to Kaplan-Meier
    "ev_nelson_aalen_hazard": {
        "kind": "dim_agg",
        "marker": r"HashAggregate\(keys=\[dur#\d+",
    },
    # log-rank: the same duration-grain suffix windows as KM/NA
    "ev_logrank_test": {
        "kind": "dim_agg",
        "marker": r"HashAggregate\(keys=\[dur#\d+",
    },
    # Poisson bootstrap: ranking window over the B=64 replicate rows
    # (the b-keyed aggregate below is the bound — B is a literal)
    "ev_poisson_bootstrap_ci": {
        "kind": "dim_agg",
        "marker": r"HashAggregate\(keys=\[b#\d+",
    },
    # Theil-Sen medians: cumulative-crossing windows over distinct-
    # slope / distinct-intercept bins, both bounded by the hour-pair
    # grain (calendar^2, never data grain) — the slope/intercept-keyed
    # aggregate below each window is the bound.
    "ev_theil_sen_trend": {
        "kind": "dim_agg",
        "marker": r"HashAggregate\(keys=\[(slope_micro|b0)#\d+",
    },
    # water-fill: exclusive prefix over the SOURCE dimension (bounded,
    # ~tens at any corpus size) — the source-keyed aggregate below is
    # the bound
    "t_mixture_waterfill": {
        "kind": "dim_agg",
        "marker": r"HashAggregate\(keys=\[source#\d+",
    },
    # coverage curve: ranking/cumsum windows over the ALREADY top-K'd
    # frame (<= 1000 rows by the literal) — t_bm25_topk class
    "t_ngram_coverage_curve": {
        "kind": "limit",
        "marker": r"TakeOrderedAndProject\(limit=\d+",
    },
    # PSI (r10): the fence cumsum now runs inside the eager
    # localCheckpoint of the (half, vm) lattice chain, so the final
    # plan no longer exposes an unpartitioned window — dropped from
    # the frozen list (same note as ev_kruskal_wallis below).
    # Kruskal-Wallis midranks use the same size-gated global_cumsum
    # prefix as ev_mann_whitney_u, but since r10 the window runs during
    # the eager localCheckpoint of the 5-row `grp` frame, so the final
    # plan no longer exposes it — dropped from the frozen list (the
    # contract test asserts list accuracy against observed plans).
    # BH ranking/count windows run over the ~120-cell contingency grain
    "ev_fdr_segment_residuals": {
        "kind": "dim_agg",
        "marker": r"HashAggregate\(keys=\[(event_type|hr)#\d+",
    },
    # r11: the whole contingency family now rides
    # _etype_hr_cells_margined — margins as window sums over the
    # ~120-cell grain (the BY r10 surgery family-wide); the grand-total
    # margin is an unpartitioned window whose input is the bounded
    # cell aggregate.
    "ev_chisq_independence": {
        "kind": "dim_agg",
        "marker": r"HashAggregate\(keys=\[(event_type|hr)#\d+",
    },
    "dq_mutual_information": {
        "kind": "dim_agg",
        "marker": r"HashAggregate\(keys=\[(event_type|hr)#\d+",
    },
    "ev_cramers_v": {
        "kind": "dim_agg",
        "marker": r"HashAggregate\(keys=\[(event_type|hr)#\d+",
    },
    "ev_gtest_independence": {
        "kind": "dim_agg",
        "marker": r"HashAggregate\(keys=\[(event_type|hr)#\d+",
    },
    # (ev_benjamini_yekutieli stays unlisted: its margin windows run
    # inside pp's eager localCheckpoint, so the final plan exposes no
    # unpartitioned window — the accuracy test pins list membership to
    # observed plans.)
    # Holm step-down: same contingency-grain ranking windows as BH
    "ev_holm_bonferroni": {
        "kind": "dim_agg",
        "marker": r"HashAggregate\(keys=\[(event_type|hr)#\d+",
    },
    # BY (r10): its triple-consumed ranked frame is localCheckpointed,
    # so the ranking windows run inside the eager checkpoint build and
    # the final plan no longer exposes unpartitioned windows — dropped
    # from the frozen list (same note as ev_kruskal_wallis above).
    # the composed eval gate inherits its components' bounded windows:
    # the KS distinct-value-bin cumsum and the FDR contingency ranking
    "pipeline_eval_gate_e2e": {
        "kind": "dim_agg",
        "marker": r"HashAggregate\(keys=\[(vm|event_type|hr)#\d+",
    },
    # r10 batch 4: Pettitt / runs-test windows all run at DAY grain
    # (n ~ calendar days) above the daily keyed aggregate (whose day
    # key is a grouping expression producing output column d).
    "ev_pettitt_changepoint": {
        "kind": "dim_agg",
        "marker": r"HashAggregate\(keys=\[_groupingexpression#\d+L?\],"
        r" functions=\[[^\n]*output=\[d#\d+",
    },
    "ev_runs_test": {
        "kind": "dim_agg",
        "marker": r"HashAggregate\(keys=\[_groupingexpression#\d+L?\],"
        r" functions=\[[^\n]*output=\[d#\d+",
    },
    # decile table: the event-grain ntile is size-gated through
    # operators/ranking.global_ntile (the ev_rfm_segments route); the
    # cumulative window runs at DECILE grain (10 rows).
    # the gated ntile window's subtree is the raw events frame (its
    # bound IS the global_ntile size gate); the decile-grain cumulative
    # windows additionally carry the decile aggregate below them.
    "ev_lift_gain_curve": {
        "kind": "size_gate",
        "marker": r"(HashAggregate\(keys=\[decile#\d+"
        r"|events\.parquet)",
        "source": r"global_ntile",
    },
    # r10 batch 7: Mood / Cliff / CvM ride the distinct-value-bin
    # cumsum through the size-gated primitive (ev_ks_test class)
    "ev_mood_median_test": {
        "kind": "size_gate",
        "marker": r"HashAggregate\(keys=\[vm#\d+",
        "source": r"global_cumsum",
    },
    "ev_cliff_delta": {
        "kind": "size_gate",
        "marker": r"HashAggregate\(keys=\[vm#\d+",
        "source": r"global_cumsum",
    },
    "ev_cramer_von_mises": {
        "kind": "size_gate",
        "marker": r"HashAggregate\(keys=\[vm#\d+",
        "source": r"global_cumsum",
    },
    # r10 batch 7: turning-points lag/lead and Bartels rank/lead
    # windows all run at HOUR grain above the hr-keyed aggregate
    # (calendar-bounded, the _trend_hours spine)
    "ev_turning_points_test": {
        "kind": "dim_agg",
        "marker": r"HashAggregate\(keys=\[hr#\d+",
    },
    "ev_bartels_rank_test": {
        "kind": "dim_agg",
        "marker": r"HashAggregate\(keys=\[hr#\d+",
    },
    # RMST: the KM duration-grain window class exactly (suffix risk,
    # prefix ln, at_zero carry-forward, lead interval)
    "ev_rmst": {
        "kind": "dim_agg",
        "marker": r"HashAggregate\(keys=\[dur#\d+",
    },
    # r10 batch 9: Mood dispersion rides the value-bin cumsum through
    # the size-gated primitive (ev_ks_test class)
    "ev_mood_dispersion_test": {
        "kind": "size_gate",
        "marker": r"HashAggregate\(keys=\[vm#\d+",
        "source": r"global_cumsum",
    },
    # Wilcoxon cumulative midranks at DIFFERENCE-MAGNITUDE bin grain
    # (bounded by the count range) above the ad-keyed aggregate
    "ev_wilcoxon_signed_rank": {
        "kind": "dim_agg",
        "marker": r"HashAggregate\(keys=\[ad#\d+",
    },
    # Cox-Stuart position rank + grand count at hour grain
    "ev_cox_stuart_trend": {
        "kind": "dim_agg",
        "marker": r"HashAggregate\(keys=\[hr#\d+",
    },
}


def has_unpartitioned_window(plan: str) -> bool:
    """True if any Window operator line lacks a partition-spec group.

    Plan text is ``Window [exprs], [partition], [order]``; either of
    the last two groups may be absent. Two-group lines are ambiguous —
    ``[exprs], [partition]`` (per-group total, fine) vs ``[exprs],
    [order]`` (global sort, the hazard) — disambiguated by the sort
    markers (``ASC``/``DESC``) only an order spec carries. One-group
    lines are global unordered windows (grand totals)."""
    return any(
        _line_is_unpartitioned_window(line) for line in plan.splitlines()
    )


def _line_is_unpartitioned_window(line: str) -> bool:
    idx = line.find("Window [")
    if idx < 0:
        return False
    depth = 0
    groups: list[str] = []
    start = None
    for i, ch in enumerate(line[idx + len("Window ") :]):
        if ch == "[":
            if depth == 0:
                start = i
            depth += 1
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append(line[idx + len("Window ") :][start : i + 1])
    if len(groups) >= 3:
        return False
    if len(groups) == 1:
        return True
    last = groups[-1]
    return " ASC" in last or " DESC" in last


def _art_pos(line: str) -> int:
    """Tree-art depth of a plan line: offset of its '+- '/':- ' marker
    (-1 for the root line, which has none)."""
    positions = [p for p in (line.find("+- "), line.find(":- ")) if p >= 0]
    return min(positions) if positions else -1


def split_stored_plans(plan: str) -> tuple[str, list[str]]:
    """Split a plan dump into its LIVE text and the DISTINCT stored
    build plans of ``InMemoryRelation`` nodes.

    A persisted shared frame's stored plan executes AT MOST ONCE per
    session (when the cache is first materialized); every
    ``InMemoryTableScan`` consumer merely re-prints it. Counting those
    re-prints per query ratcheted the BNLJ ceilings up across rounds
    (2→4, 4→7 in r10 — VERDICT r10 "what's wrong" #5 / next-round #9).
    This splitter lets the contract count each distinct stored subtree
    ONCE (deduplicated structurally, expression IDs normalized away)
    while still checking what's inside it, and count live segments at
    their true per-execution multiplicity. The ``InMemoryRelation``
    line itself stays in the live text (markers like
    ``pinned_artifact``/``key_filter`` match above the cache
    boundary)."""
    lines = plan.splitlines()
    live: list[str] = []
    stored: list[str] = []
    seen: set[str] = set()
    i = 0
    while i < len(lines):
        line = lines[i]
        if "InMemoryRelation" not in line:
            live.append(line)
            i += 1
            continue
        live.append(line)
        base = _art_pos(line)
        seg: list[str] = []
        j = i + 1
        while j < len(lines):
            pos = _art_pos(lines[j])
            if 0 <= pos <= base:
                break
            seg.append(lines[j])
            j += 1
        # Normalize per-print artifacts — leading tree-art indentation
        # (the same stored plan prints at whatever depth its consumer
        # sits), expression IDs, plan IDs, cached-RDD numbers — so
        # re-prints of the SAME stored plan under different consumers
        # dedupe; structural differences (operators, columns, literals)
        # still distinguish.
        key = re.sub(
            r"#\d+|plan_id=\d+|CachedRDD\[\d+\]|rdd \d+",
            "#",
            "\n".join(re.sub(r"^[\s:]*(\+- |:- )?", "", s) for s in seg),
        )
        if seg and key not in seen:
            seen.add(key)
            stored.append("\n".join(seg))
        i = j
    return "\n".join(live), stored


def _drop_initial_plans(plan: str) -> str:
    """Remove ``== Initial Plan ==`` sections from AQE-finalized
    AdaptiveSparkPlan dumps: the initial plan is the SAME query pre-AQE
    (printed for reference, never executed separately), so counting its
    operators doubles every segment once a plan finalizes — which made
    contract counts depend on session warm-up order."""
    lines = plan.splitlines()
    out: list[str] = []
    i = 0
    while i < len(lines):
        line = lines[i]
        if "== Initial Plan ==" in line:
            base = _art_pos(line)
            i += 1
            while i < len(lines):
                pos = _art_pos(lines[i])
                if 0 <= pos <= base:
                    break
                i += 1
            continue
        out.append(line)
        i += 1
    return "\n".join(out)


def _segments_once_per_stored(plan: str, collect) -> list[str]:
    """Run a segment collector over the live plan plus each DISTINCT
    stored build plan exactly once (recursing into caches-of-caches).
    AQE initial-plan echoes are dropped first (they never execute)."""
    live, stored = split_stored_plans(_drop_initial_plans(plan))
    out = collect(live)
    for sub in stored:
        out.extend(_segments_once_per_stored(sub, collect))
    return out


def unpartitioned_window_segments(plan: str) -> list[str]:
    """For each unpartitioned Window line, the plan text below it — its
    input subtree in the linearized tree (lines until tree-art depth
    returns to the window's level).

    Deliberately NOT routed through split_stored_plans: the window
    contract has no per-entry ceiling (re-printed stored-plan windows
    just repeat the same marker check, harmlessly), and a bound marker
    may legitimately live INSIDE a cached subtree below the window."""
    lines = plan.splitlines()
    out: list[str] = []
    for i, line in enumerate(lines):
        if not _line_is_unpartitioned_window(line):
            continue
        base = _art_pos(line)
        seg: list[str] = []
        for nxt in lines[i + 1 :]:
            pos = _art_pos(nxt)
            if 0 <= pos <= base:
                break
            seg.append(nxt)
        out.append("\n".join(seg))
    return out


# BroadcastNestedLoopJoin contract (VERDICT r6 item 3). A BNLJ is the
# non-equi/cross-join fallback whose broadcast side must be TINY — a
# 1-row global aggregate, a K-row model/dimension artifact, or a top-k
# frame. The count crept 47 -> 55 across rounds 5-6 with nothing
# pinning the tiny-side property, so survivor #56 with a data-grain
# build side could land silently. Same fail-closed recipe as
# WINDOW_SURVIVORS: every entry whose plan carries a BNLJ must be
# listed here with a marker that must match INSIDE each BNLJ's
# broadcast build segment (the BroadcastExchange subtree), proving the
# broadcast side is bounded.
#
# Each listed entry declares (a) the KINDS of bounded build side every
# one of its BNLJ segments must match, and (b) max_segments — today's
# BNLJ count, a ceiling: a refactor that ADDS a BNLJ to a listed entry
# is a violation even if the new segment pattern-matches, so the
# round-over-round creep VERDICT r6 flagged (47 -> 55) is now frozen
# per entry, not just per name list. Kinds (markers are structural
# corroboration; membership itself is the declaration — e.g. the
# emb_corpus verifiers broadcast the whole fixture embeddings table BY
# DESIGN, as documented brute-force recall oracles, and are tiny only
# because the fixture is):
BNLJ_KIND_PATTERNS: dict[str, str] = {
    # global aggregate — <= 1 broadcast row
    "one_row_agg": r"HashAggregate\(keys=\[\]",
    # top-k frame below the exchange
    "limit": r"(TakeOrderedAndProject\(limit=\d+|GlobalLimit)",
    # key-bounding predicate pushed into the broadcast scan
    # (centroid id < K, query vec_id = Q). ADVICE r7: restricted to the
    # KNOWN key columns — a data-grain broadcast carrying an unrelated
    # pushed comparison no longer passes for pushed_key entries.
    "pushed_key": (
        r"PushedFilters: \[[^\]\n]*(EqualTo|LessThan|GreaterThan|In)"
        r"\((cid|qid|vec_id|doc_id),"
    ),
    # same bound applied post-scan when a UDF blocks pushdown
    "key_filter": r"Filter [^\n]*\((doc_id|vec_id|qid)#\d+L? < \d+\)",
    # tiny generated spine (3x3 neighbor offsets, day grids)
    "range_spine": r"Range \(0, \d+, step",
    # K-grain dimension aggregate (event_type/day/cell), never data grain
    # (second alternative: the day key computed as a grouping
    # expression, visible only in the aggregate's output list)
    "dim_agg": r"HashAggregate\(keys=\[(event_type|d|day|hr|seg|bucket|cell|band|gx|gy)#"
    r"|HashAggregate\(keys=\[_groupingexpression#\d+L?\][^\n]*output=\[d#\d+",
    # constant-size frame pinned via sharedframes
    "pinned_artifact": r"InMemoryTableScan",
    # K-row driver-trained model artifact (k-means centroids, PQ LUTs,
    # zone-map probe keys) parallelized from the size-gated trainer
    "model_rdd": r"Scan ExistingRDD\[(cid|qid|k)#",
    "model_local": r"LocalTableScan",
    # DECLARED brute-force verifier: broadcasts the fixture embeddings
    # corpus itself (recall oracles; production twins are the IVF/PQ
    # entries)
    "emb_corpus": r"embeddings\.parquet",
}
BNLJ_SURVIVORS: dict[str, dict] = {
    "agg_sketch_accuracy": {"kinds": ("one_row_agg",), "max_segments": 1},
    "ann_cosine_topk": {"kinds": ("emb_corpus",), "max_segments": 1},
    # r8 mining pack: declared brute-force corpus broadcasts (the exact
    # oracles; production twins ride the IVF cell join)
    "ann_hard_negative_mining": {"kinds": ("emb_corpus",), "max_segments": 1},
    "ann_label_knn_accuracy": {"kinds": ("emb_corpus",), "max_segments": 1},
    "ann_hybrid_rrf_topk": {"kinds": ("one_row_agg", "pushed_key",), "max_segments": 3},
    # r11: the contract parser now counts each distinct persisted
    # stored plan ONCE (split_stored_plans), so the r10 ceiling raise
    # for `_ivf_cells_shared` InMemoryTableScan re-exposure is undone —
    # restored to the pre-r10 live-plan ceiling (VERDICT r10 #9).
    "ann_ivf_topk": {
        "kinds": ("pushed_key", "key_filter"),
        "max_segments": 2,
    },
    # balance audit: the same K-centroid broadcast (vec_id < K pushed
    # into the scan) as ann_ivf_topk's assignment pass
    "ann_ivf_cell_balance": {"kinds": ("pushed_key",), "max_segments": 1},
    # r9 production twin of the mining oracle: the only BNLJ is the
    # K=8 centroid broadcast of the assignment pass (vec_id < 8 pushed
    # into the scan, or post-scan when the frame is pinned); the
    # mining join itself is keyed on the cell id.
    # (r11: ceiling restored 4 → 2 — stored plans now counted once by
    # the parser; see ann_ivf_topk note.)
    "ann_hard_negative_mining_ivf": {
        "kinds": ("pushed_key", "key_filter"),
        "max_segments": 2,
    },
    # pushed_key OR key_filter: the same vec_id bound appears as a
    # parquet PushedFilter when the dyadic embedding frame is cold, or
    # as a post-scan Filter over InMemoryTableScan when another entry
    # in the session already pinned it (r8: the kmeans builder no
    # longer unpersists the shared frame).
    "ann_ivfadc_topk": {
        "kinds": ("pushed_key", "key_filter"),
        "max_segments": 1,
    },
    "ann_ivfkm_pq_topk": {"kinds": ("model_rdd",), "max_segments": 2},
    "ann_ivfkm_recall_at3": {"kinds": ("emb_corpus", "model_rdd",), "max_segments": 3},
    "ann_ivfkm_topk": {"kinds": ("model_rdd",), "max_segments": 2},
    "ann_ivfpq_recall_at5": {"kinds": ("emb_corpus", "pushed_key",), "max_segments": 3},
    "ann_ivfpq_topk": {
        "kinds": ("pushed_key", "key_filter"),
        "max_segments": 2,
    },
    # r8 plan surgery: the greedy walk localCheckpoints the <= K-row
    # selected frame per step, so the executed plan no longer exposes
    # the 3x-per-step lineage blowup (was max_segments=241). The two
    # persisted constant-size artifacts (pool, sim matrix) can still
    # re-expose their stored-plan BNLJ under AQE InMemoryTableScan.
    "ann_mmr_rerank": {"kinds": ("limit", "pushed_key",), "max_segments": 4},
    "ann_multiprobe_recall_at5": {"kinds": ("emb_corpus",), "max_segments": 1},
    # r9 tuning report: the K-centroid assignment BNLJ (pushed/filtered
    # vec_id bound), the declared brute-force exact-top-5 referee
    # (emb_corpus), and 1-row n_exact broadcast
    # (r11: ceiling restored 7 → 4 — stored plans now counted once by
    # the parser, and the report's rank-annotated single-frame rewrite
    # dropped the duplicate scored subtree; observed 2 live+stored.)
    "ann_nprobe_tuning_report": {
        "kinds": ("pushed_key", "key_filter", "emb_corpus", "one_row_agg"),
        "max_segments": 4,
    },
    "ann_pq_rerank_topk": {"kinds": ("model_rdd",), "max_segments": 1},
    "ann_pq_topk": {"kinds": ("model_rdd",), "max_segments": 1},
    "ann_quantized_recall_at5": {"kinds": ("emb_corpus",), "max_segments": 2},
    # r11: the merged lex/sem frame is shared with ann_hybrid_rrf_topk
    # (pinned_artifact build side for the pair self-join); observed 5
    # segments — 2 live (pairs rollup + the b broadcast over the cache)
    # + 3 inside the one distinct stored build plan (two bm25 stats
    # rollups, the vec_id=0 query-vector broadcast).
    "ann_rank_agreement": {
        "kinds": ("one_row_agg", "pushed_key", "pinned_artifact"),
        "max_segments": 5,
    },
    "ann_recall_at5": {"kinds": ("emb_corpus",), "max_segments": 1},
    "ann_truncated_recall_at5": {"kinds": ("emb_corpus",), "max_segments": 2},
    # r10: sign-bit recall gate — the exact referee + the declared
    # brute-force packed-word broadcast, both fixture-scale oracles
    "ann_signbit_recall_at5": {"kinds": ("emb_corpus",), "max_segments": 2},
    "basket_rules_lift": {"kinds": ("one_row_agg",), "max_segments": 1},
    # r10 batch 4: 1-row statistic broadcasts (Friedman's ssq/chi2
    # frame joined onto the k=3 rank-sum rows; Cochran's column-total
    # rollup joined onto the 1-row block stats)
    "ev_friedman_test": {"kinds": ("one_row_agg",), "max_segments": 2},
    "ev_cochran_q": {"kinds": ("one_row_agg",), "max_segments": 1},
    # runs test: the 1-row day-count broadcast (median pick + final
    # readout) and the 1-row 2x-median broadcast (kept-days filter)
    "ev_runs_test": {"kinds": ("one_row_agg",), "max_segments": 4},
    # Kendall tau-b: the day-grain pair enumeration self-join (theta
    # a.d < b.d over the DAY aggregate, calendar-bounded)
    "ev_kendall_tau_b": {"kinds": ("dim_agg",), "max_segments": 1},
    # capture-recapture: the 1-row window-midpoint broadcast
    "ev_capture_recapture": {"kinds": ("one_row_agg",), "max_segments": 1},
    # log-rank: the 1-row censoring-horizon broadcast (the KM shape)
    "ev_logrank_test": {"kinds": ("one_row_agg",), "max_segments": 1},
    # rich club: the K=4 literal threshold spine (a 4-row parallelized
    # RDD) broadcast into both theta joins — the degree/edge side
    # streams
    # burstiness: the 1-row corpus doc-count broadcast
    "t_burstiness_fano": {"kinds": ("one_row_agg",), "max_segments": 1},
    # corpus-health gate: six 1-row component rollups cross-joined
    # (+ the fano component's inner doc-count broadcast)
    "pipeline_corpus_health_gate": {
        "kinds": ("one_row_agg",),
        "max_segments": 6,
    },
    "dedup_embedding_cosine": {"kinds": ("emb_corpus",), "max_segments": 1},
    "dedup_embedding_lsh_recall": {"kinds": ("emb_corpus", "one_row_agg",), "max_segments": 5},
    "dedup_lsh_recall_vs_exact": {"kinds": ("one_row_agg",), "max_segments": 2},
    "dedup_semantic_prune": {"kinds": ("model_rdd",), "max_segments": 6},
    "dedup_semantic_rate_curve": {"kinds": ("model_rdd", "one_row_agg",), "max_segments": 7},
    "dq_benford": {"kinds": ("one_row_agg",), "max_segments": 1},
    # r9 stats pack batch 2: 1-row totals / k-group broadcasts
    "ev_anova_oneway": {"kinds": ("one_row_agg",), "max_segments": 1},
    # KW: the 1-row (n,k) totals and the 1-row tie sum broadcast back
    "ev_kruskal_wallis": {"kinds": ("one_row_agg",), "max_segments": 2},
    # Brown-Forsythe: the 1-row ANOVA totals broadcast (median join is
    # keyed on event_type)
    "ev_levene_brown_forsythe": {"kinds": ("one_row_agg",), "max_segments": 1},
    # r9 sort advisor: the min-depth and argmin-name 1-row broadcasts
    # (the second re-prints the first's lineage)
    "layout_sort_advisor": {"kinds": ("one_row_agg",), "max_segments": 3},
    "dq_freshness": {"kinds": ("one_row_agg",), "max_segments": 2},
    "dq_histogram_drift": {"kinds": ("one_row_agg",), "max_segments": 1},
    "emb_kmeans_assign": {"kinds": ("model_rdd",), "max_segments": 1},
    # r8: silhouette rides the same k-row trained-centroid broadcast
    # (one crossJoin in the shared all-dists frame; the pinned artifact
    # can re-expose it through InMemoryTableScan under AQE)
    "emb_silhouette_centroid": {
        "kinds": ("model_rdd", "pinned_artifact"),
        "max_segments": 2,
    },
    "emb_outlier_flags": {"kinds": ("model_rdd",), "max_segments": 4},
    "er_blocking_recall": {"kinds": ("one_row_agg",), "max_segments": 1},
    # r9 mix-shift audit: the two 1-row totals broadcasts
    "t_dedup_mix_shift": {"kinds": ("one_row_agg",), "max_segments": 2},
    # r9 merge-QA audit: the 1-row max-entity-size broadcast
    "er_cluster_conflict_rate": {
        "kinds": ("one_row_agg",),
        "max_segments": 1,
    },
    "ev_active_users_rolling": {"kinds": ("dim_agg",), "max_segments": 1},
    "ev_dtw_pairs": {"kinds": ("dim_agg",), "max_segments": 1},
    "ev_kaplan_meier": {"kinds": ("one_row_agg",), "max_segments": 2},
    # Nelson-Aalen: same 1-row horizon broadcast as Kaplan-Meier
    "ev_nelson_aalen_hazard": {"kinds": ("one_row_agg",), "max_segments": 2},
    "ev_gapfill_locf": {"kinds": ("dim_agg", "range_spine",), "max_segments": 2},
    "ev_hll_mergeable_rollup": {"kinds": ("one_row_agg",), "max_segments": 2},
    # r8 inequality siblings: user-grain rows x 1-row totals broadcast
    "ev_theil_index": {"kinds": ("one_row_agg",), "max_segments": 1},
    # r8 statistical-testing pack: every BNLJ is a 1-row totals /
    # margin-count broadcast onto a bounded-grain frame (distinct-value
    # bins, contingency cells, 32 jackknife blocks)
    "ev_ks_test": {"kinds": ("one_row_agg",), "max_segments": 1},
    "ev_mann_whitney_u": {"kinds": ("one_row_agg",), "max_segments": 1},
    "ev_chisq_independence": {"kinds": ("one_row_agg",), "max_segments": 3},
    # r10 batch 7: the same margin/median 1-row broadcasts onto
    # bounded grains (value bins, contingency cells, KM durations)
    "ev_mood_median_test": {"kinds": ("one_row_agg",), "max_segments": 7},
    "ev_cliff_delta": {"kinds": ("one_row_agg",), "max_segments": 1},
    "ev_cramer_von_mises": {"kinds": ("one_row_agg",), "max_segments": 1},
    "ev_gtest_independence": {"kinds": ("one_row_agg",), "max_segments": 3},
    # r10 batch 8: JT densifies the bin spine with the k=5 group
    # margin (dim_agg) plus 1-row margins; the drift entry broadcasts
    # the 1-row hour-bounds/margins back over the typed scan
    "ev_jonckheere_terpstra": {
        "kinds": ("dim_agg", "one_row_agg"),
        "max_segments": 4,
    },
    "dq_categorical_drift": {"kinds": ("one_row_agg",), "max_segments": 4},
    # r10 batch 9: 1-row margin/count broadcasts onto bounded grains
    "ev_mood_dispersion_test": {"kinds": ("one_row_agg",), "max_segments": 2},
    "ev_cox_stuart_trend": {"kinds": ("one_row_agg",), "max_segments": 2},
    "ev_kendall_w": {"kinds": ("one_row_agg",), "max_segments": 2},
    "pipeline_experiment_readout_e2e": {
        "kinds": ("one_row_agg",),
        "max_segments": 3,
    },
    "ev_rmst": {"kinds": ("one_row_agg",), "max_segments": 3},
    "ev_jackknife_ci": {"kinds": ("one_row_agg",), "max_segments": 1},
    "dq_mutual_information": {"kinds": ("one_row_agg",), "max_segments": 1},
    "ev_cramers_v": {"kinds": ("one_row_agg",), "max_segments": 3},
    # 3 segments: the 1-row totals broadcast appears in BOTH the main
    # branch and the kmax sub-branch's recomputed lineage, plus the
    # 1-row kmax broadcast itself — all one-row aggregates.
    "ev_fdr_segment_residuals": {
        "kinds": ("one_row_agg",),
        "max_segments": 3,
    },
    # Holm mirrors BH's margin/totals one-row broadcasts; the stop
    # rank rides a window on the same grain, not a broadcast
    "ev_holm_bonferroni": {
        "kinds": ("one_row_agg",),
        "max_segments": 1,
    },
    # BY: the 1-row grand-total broadcast (appearing under both the pp
    # and kmax lineages), the 1-row harmonic-sum, and the 1-row kmax
    "ev_benjamini_yekutieli": {"kinds": ("one_row_agg",), "max_segments": 5},
    # McNemar: the 1-row window-midpoint bounds broadcast
    "ev_mcnemar_paired": {"kinds": ("one_row_agg",), "max_segments": 1},
    # Poisson bootstrap: the 1-row CI frame broadcast onto the 1-row
    # point estimate
    "ev_poisson_bootstrap_ci": {"kinds": ("one_row_agg",), "max_segments": 1},
    # water-fill: the 1-row budget broadcast
    "t_mixture_waterfill": {"kinds": ("one_row_agg",), "max_segments": 1},
    # JS divergence: the 1-row (n1, n2) totals broadcast
    "ev_js_divergence": {"kinds": ("one_row_agg",), "max_segments": 1},
    # KL vocab divergence: the 1-row corpus-total broadcast (token and
    # source joins are keyed)
    "t_kl_vocab_divergence": {"kinds": ("one_row_agg",), "max_segments": 1},
    # PSI: every segment is a 1-row broadcast (window bounds, the
    # 9-fence tuple, the (n1,n2) totals); the count is lineage
    # repetition — the bounds broadcast recurs under the fence, the
    # binning scan, and the totals rollup (events is scanned three
    # times by design, exactly like the oracle's CTE expansion)
    "ev_psi_drift": {
        "kinds": ("one_row_agg",),
        "max_segments": 11,
    },
    # lagged xcorr: the 13-row lag spine broadcast (the hour alignment
    # itself is a keyed equi-join, not a nested loop)
    "ev_lagged_cross_correlation": {
        "kinds": ("range_spine",),
        "max_segments": 1,
    },
    # coverage curve: the 3-row checkpoint spine (spark.range) and the
    # 1-row totals broadcast
    "t_ngram_coverage_curve": {
        "kinds": ("range_spine", "one_row_agg"),
        "max_segments": 2,
    },
    # trend pair: the hour-pair theta join broadcasts the hour-grain
    # aggregate (calendar-bounded dimension), plus 1-row stat broadcasts
    "ev_theil_sen_trend": {
        "kinds": ("dim_agg", "one_row_agg"),
        "max_segments": 4,
    },
    "ev_mann_kendall_trend": {
        "kinds": ("dim_agg", "one_row_agg"),
        "max_segments": 4,
    },
    "agg_trimmed_mean": {"kinds": ("one_row_agg",), "max_segments": 1},
    # r9 sketch: 1-row totals + 3-row quantile spine broadcasts, on
    # both the exact and sketch branches
    "agg_histogram_quantile_sketch": {
        "kinds": ("one_row_agg", "range_spine"),
        "max_segments": 4,
    },
    "stream_histogram_quantiles": {
        "kinds": ("one_row_agg", "range_spine"),
        "max_segments": 2,
    },
    "layout_partition_skew_audit": {
        "kinds": ("one_row_agg",),
        "max_segments": 1,
    },
    # composed eval gate: the union of its five components' 1-row
    # broadcasts plus four composition joins of 1-row frames — every
    # segment a one-row aggregate by construction
    "pipeline_eval_gate_e2e": {
        "kinds": ("one_row_agg",),
        "max_segments": 12,
    },
    "ev_hoover_index": {"kinds": ("one_row_agg",), "max_segments": 1},
    "ev_hourly_rollup_gapfill": {"kinds": ("dim_agg",), "max_segments": 1},
    "ev_seasonal_decompose": {"kinds": ("one_row_agg",), "max_segments": 1},
    "ev_user_concentration": {"kinds": ("one_row_agg",), "max_segments": 1},
    "geo_cell_density_guard": {"kinds": ("one_row_agg", "range_spine",), "max_segments": 2},
    "geo_knn_cell": {"kinds": ("range_spine",), "max_segments": 1},
    "geo_radius_pairs": {"kinds": ("range_spine",), "max_segments": 1},
    # DBSCAN census: the same 3x3 offset spine as geo_radius_pairs,
    # appearing under each of the three consumers of the neighbor list
    # (counts, border semi-join, census) — every segment is the
    # literal 9-row offset spine
    "geo_dbscan_core_points": {"kinds": ("range_spine",), "max_segments": 3},
    "geo_radius_pairs_adaptive": {"kinds": ("range_spine",), "max_segments": 1},
    "geo_radius_pairs_fine": {"kinds": ("range_spine",), "max_segments": 1},
    "graph_clustering_coefficient": {"kinds": ("one_row_agg",), "max_segments": 1},
    "graph_ktruss_edges": {"kinds": ("one_row_agg",), "max_segments": 2},
    "graph_hits_scores": {"kinds": ("one_row_agg",), "max_segments": 22},
    "layout_zonemap_prune_audit": {"kinds": ("model_rdd",), "max_segments": 1},
    "layout_zorder_cells": {"kinds": ("one_row_agg",), "max_segments": 1},
    "layout_bloom_skip_audit": {"kinds": ("model_rdd",), "max_segments": 1},
    "mm_phash_hamming_topk": {"kinds": ("key_filter",), "max_segments": 1},
    "pipeline_embedding_e2e": {"kinds": ("model_rdd",), "max_segments": 4},
    "t_bigram_pmi_topk": {"kinds": ("one_row_agg",), "max_segments": 1},
    "t_bm25_topk": {"kinds": ("one_row_agg",), "max_segments": 2},
    "t_cluster_topterms": {"kinds": ("model_rdd",), "max_segments": 2},
    "t_heaps_law_fit": {"kinds": ("one_row_agg",), "max_segments": 1},
    "t_importance_weights": {"kinds": ("one_row_agg",), "max_segments": 2},
    "t_quality_pr_curve": {"kinds": ("one_row_agg",), "max_segments": 1},
    "t_trigram_backoff_score": {"kinds": ("one_row_agg",), "max_segments": 1},
    "tpch_q11_important": {"kinds": ("one_row_agg",), "max_segments": 1},
    "tpch_q22_antijoin": {"kinds": ("one_row_agg",), "max_segments": 1},
}


def bnlj_build_segments(plan: str) -> list[str]:
    """BNLJ build segments that can EXECUTE: live plan segments at full
    multiplicity, plus each DISTINCT persisted stored plan's segments
    counted once (a cache materializes once per session no matter how
    many InMemoryTableScan consumers re-print its lineage)."""
    return _segments_once_per_stored(plan, _bnlj_build_segments_raw)


def _bnlj_build_segments_raw(plan: str) -> list[str]:
    """For each BroadcastNestedLoopJoin line, the text of its broadcast
    build segment: the BroadcastExchange subtree inside the BNLJ's own
    subtree (line inclusive). A ReusedExchange build side has no
    subtree here — its segment is just the ReusedExchange line (markers
    must then match the exchange's output columns)."""
    lines = plan.splitlines()
    out: list[str] = []
    for i, line in enumerate(lines):
        if "BroadcastNestedLoopJoin" not in line:
            continue
        base = _art_pos(line)
        # subtree of this BNLJ
        sub: list[tuple[int, str]] = []
        for nxt in lines[i + 1 :]:
            pos = _art_pos(nxt)
            if 0 <= pos <= base:
                break
            sub.append((pos, nxt))
        # the build side: first (Reused|Broadcast)Exchange — or, in an
        # AQE-finalized plan, the BroadcastQueryStage wrapping it — AT
        # THE IMMEDIATE CHILD DEPTH of this BNLJ (deeper exchanges
        # belong to nested joins on the streamed side)
        child_depths = [p for p, _ in sub if p >= 0]
        child_depth = min(child_depths) if child_depths else -1
        seg: list[str] = []
        taking = False
        take_depth = -1
        for pos, nxt in sub:
            if taking:
                if 0 <= pos <= take_depth:
                    break
                seg.append(nxt)
            elif pos == child_depth and (
                "BroadcastExchange" in nxt
                or "ReusedExchange" in nxt
                or "BroadcastQueryStage" in nxt
            ):
                taking = True
                take_depth = pos
                seg.append(nxt)
        out.append("\n".join(seg))
    return out


def bnlj_violations(name: str, plan: str) -> list[str]:
    """Fail-closed BNLJ contract check. Empty list = OK."""
    segs = bnlj_build_segments(plan)
    if not segs:
        return []
    spec = BNLJ_SURVIVORS.get(name)
    if spec is None:
        return [
            f"{name}: BroadcastNestedLoopJoin but not in the frozen BNLJ"
            " survivor list — key the join, or if the broadcast side is"
            " genuinely a 1-row/K-row artifact, extend BNLJ_SURVIVORS"
            " with the marker proving it"
        ]
    problems = []
    if len(segs) > spec["max_segments"]:
        problems.append(
            f"{name}: {len(segs)} BNLJs vs declared ceiling"
            f" {spec['max_segments']} — a new nested-loop join crept in;"
            " key it, or consciously raise the ceiling with its bound"
        )
    pats = [BNLJ_KIND_PATTERNS[k] for k in spec["kinds"]]
    # Marker corroboration runs over the UNSPLIT plan (AQE initial-plan
    # echoes still dropped): a PERSISTED build side prints as an
    # InMemoryTableScan whose evidence (the parquet path for
    # emb_corpus, the pushed key bound) lives in the stored plan BELOW
    # the InMemoryRelation line — which split_stored_plans moves out of
    # the counted live segment (r11; ann_ivfpq_recall_at5's exact
    # referee surfaced this the day the dyadic corpus frame became
    # shared). The raw build subtree still CONFINES the match to this
    # BNLJ's broadcast side; duplicate stored re-prints only repeat the
    # same check. Counting above stays deduped via split_stored_plans.
    for j, seg in enumerate(
        _bnlj_build_segments_raw(_drop_initial_plans(plan))
    ):
        if not any(re.search(p, seg) for p in pats):
            problems.append(
                f"{name}: BNLJ #{j} broadcast side matches none of its"
                f" declared bound kinds {spec['kinds']}"
            )
    return problems


def plan_contract_violations(name, df, fn=None) -> list[str]:
    """Land-time contract check over one entry's executed plan (VERDICT
    r6 item 2) — called by tools/check_oracle.py for every entry on
    every gate run, so a new entry can't ship past the close without
    its plan being checked against the frozen window + BNLJ contracts.

    Takes the entry's DataFrame (plan already built for the gate's
    toPandas) and optionally the entry function (for size-gate source
    routes). Empty list = OK."""
    import inspect

    plan = df._jdf.queryExecution().executedPlan().toString()
    source = ""
    if fn is not None:
        try:
            source = inspect.getsource(inspect.unwrap(fn))
        except (OSError, TypeError):
            source = ""
    return survivor_violations(name, plan, source) + bnlj_violations(
        name, plan
    )


def survivor_violations(name: str, plan: str, source: str = "") -> list[str]:
    """Contract check for one entry's executed plan. Empty list = OK.

    Violations: an unpartitioned window in a non-listed entry, or a
    listed entry whose declared bound marker is missing below any of
    its unpartitioned windows (or whose size-gate route left its
    source)."""
    segs = unpartitioned_window_segments(plan)
    if not segs:
        return []
    spec = WINDOW_SURVIVORS.get(name)
    if spec is None:
        return [
            f"{name}: unpartitioned window but not in the frozen survivor"
            " list — bound its input (limit / dimension agg / size gate)"
            " or, if genuinely bounded, extend WINDOW_SURVIVORS with the"
            " marker proving it"
        ]
    problems = []
    for j, seg in enumerate(segs):
        if not re.search(spec["marker"], seg):
            problems.append(
                f"{name}: window #{j} input lost its declared bound"
                f" ({spec['kind']}: /{spec['marker']}/ not found below"
                " the window)"
            )
    if "source" in spec and not re.search(spec["source"], source):
        problems.append(
            f"{name}: declared size-gate route /{spec['source']}/ no"
            " longer referenced in the entry source"
        )
    return problems
