"""Sampled sf1 oracle gate — scale-dependent-divergence watch.

VERDICT r7 item 2: correctness had only ever been PROVEN at
sf0.01/sf0.001 (the sf1 tier under ``.cache/sf1`` was bench-only), yet
the failure classes that matter at 100 TB — integer overflow (the
ev_gini_coefficient dividend), regex catastrophic cases, plan-size
blowups (the k-truss persist OOM) — only manifest as the data grows.
This gate runs ``tools/check_oracle.py`` (the driver-identical
Spark-vs-DuckDB hash compare) against the sf1 tier for a rotating
~20-entry sample each round, weighted toward integer-lattice and
iterative entries, and writes the committed ``GATE_SF1.md`` log.

Round-close ritual: regenerate the tier if absent
(``python tools/gen_sf1.py``), then ``python tools/gate_sf1.py``;
commit GATE_SF1.md. All sampled entries must be EXACT. Rotate
``SF1_SAMPLE`` each round alongside the driver-slot rotation and
record the round in the log header.

Usage: python tools/gate_sf1.py [sf1_dir] [name ...]
       (defaults: <checkout>/.cache/sf1 and the pinned SF1_SAMPLE)
"""

from __future__ import annotations

import datetime
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Round-11 sample: rotate toward every entry THIS optimization round
# rewired — the shared capped-wedge aggregate, the JVM-only scene
# family, the one-pass Good-Turing, the pushed-probe layout audits,
# and the earlier-r11-session changes (bm25 sharedframes + its
# consumers, the window-margined contingency family, the single-frame
# nprobe report, the no-idle-microbatch streams) — plus
# join_levenshtein_blocked re-proven on the REGENERATED tier (p_name
# replica tags, the r11 duplicate-block fix). The 26 round-10-proven
# names rotate out (GATE_SF1.md history keeps their EXACT rows).
SF1_SAMPLE: tuple[str, ...] = (
    "graph_node_jaccard_capped",
    "graph_adamic_adar",
    "graph_link_prediction_scores",
    "mm_keyframe_select",
    "mm_scene_segments",
    "mm_scene_dedup",
    "t_good_turing_counts",
    "pipeline_corpus_health_gate",
    "layout_zonemap_prune_audit",
    "layout_bloom_skip_audit",
    "t_bm25_topk",
    "ann_rank_agreement",
    "ann_hybrid_rrf_topk",
    "ann_nprobe_tuning_report",
    "ev_chisq_independence",
    "ev_cramers_v",
    "ev_gtest_independence",
    "ev_holm_bonferroni",
    "ev_fdr_segment_residuals",
    "dq_mutual_information",
    "ev_benjamini_yekutieli",
    "pipeline_eval_gate_e2e",
    "stream_funnel_conversion",
    "stream_click_attribution",
    "join_levenshtein_blocked",
)


def main() -> int:
    sf1 = sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, ".cache", "sf1")
    names = sys.argv[2:] or list(SF1_SAMPLE)
    if not os.path.isdir(sf1):
        print(f"sf1 tier missing at {sf1} — run: python tools/gen_sf1.py")
        return 2
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "tools", "check_oracle.py"),
            sf1,
            *names,
        ],
        capture_output=True,
        text=True,
    )
    lines = [
        ln
        for ln in proc.stdout.splitlines()
        if ln.startswith(("EXACT", "CLOSE", "FAIL", "NOOR", "=="))
    ]
    summary = next((ln for ln in lines if ln.startswith("==")), "== (no summary)")
    stamp = datetime.datetime.now(datetime.timezone.utc).strftime(
        "%Y-%m-%d %H:%M UTC"
    )
    with open(os.path.join(REPO, "GATE_SF1.md"), "w") as f:
        f.write(
            f"# Sampled sf1 oracle gate — {stamp}, sf1_dir={sf1}\n\n"
            "Driver-identical Spark-vs-DuckDB hash compare at the 10x\n"
            "bench tier (VERDICT r7 item 2): scale-dependent divergence\n"
            "— overflow, regex blowup, plan-size growth — surfaces here\n"
            "a round before it could bite bigger. Sample rotates each\n"
            "round (see tools/gate_sf1.py SF1_SAMPLE).\n\n"
            f"Summary: `{summary.lstrip('= ')}`\n\n```\n"
            + "\n".join(lines)
            + "\n```\n"
        )
    print(summary)
    for ln in lines:
        if ln.startswith(("FAIL", "CLOSE")):
            print(ln)
    return 1 if proc.returncode else 0


if __name__ == "__main__":
    raise SystemExit(main())
