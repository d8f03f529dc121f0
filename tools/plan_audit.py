"""Full-registry executed-plan audit — the anti-pattern sweep.

Builds every ``__spark_entry__.queries()`` entry's physical plan at
sf0.001 and reports queries whose plans contain scale anti-patterns.
Mostly plan-build only, but NOT side-effect free: entries whose query
function trains driver-side models (the PQ/IVF family runs counts and a
size-gated training collect while constructing the plan) and the
streaming entries (which run their availableNow trigger to a memory
sink) do execute real Spark jobs during the sweep.

- ``Expand``             multi-distinct / grouping-set row multiplication
- ``CartesianProduct``   unkeyed all-pairs join
- ``BroadcastNestedLoopJoin``  non-equi or OR-keyed join fallback
- ``BatchEvalPython``    row-at-a-time (non-Arrow) Python evaluation
- unpartitioned ``Window``  global-sort single-partition window (the
  WindowExec "No Partition Defined" hazard) — detected structurally: a
  Window operator line whose spec has no partition bracket group.
  Survivors must operate on BOUNDED-row inputs (top-K-limited frames,
  decile/SPW-grain aggregates), never a data-grain table; the
  user/vocab-grain sites were rewritten round 5 onto orderBy+limit
  (TakeOrderedAndProject) or operators/ranking.global_ntile.

Round-4 findings (both fixed): mm_phash_neardup_pairs' OR-band join
planned as an all-pairs BNLJ; ev_active_users_rolling's three mixed
countDistincts planned an Expand over the 30x-replicated user-day rows.

DECLARED survivors (legitimate, do not "fix"):
- Expand in agg_rollup/agg_cube/agg_grouping_sets (inherent to the op)
  and agg_count_distinct (the named multi-distinct demonstration).
- BNLJ rows that are broadcast cross joins against 1-row aggregates or
  K-row model dims, plus the declared brute-force recall oracles
  (ann_cosine_topk et al.).
- BatchEvalPython in udtf_word_bigrams (the declared Python-UDTF
  surface).
- UnpartitionedWindow survivors: the FROZEN allowlist now lives in
  ``xova_spark/plancontract.py`` (round-6, VERDICT r5 item 2) with a
  per-name bound marker that must appear below each window — limit
  (TakeOrderedAndProject), dimension-grain aggregate, or the
  global_ntile size-gate route. This audit enforces the contract:
  any unpartitioned window outside the list, or a listed entry whose
  bound marker vanished, prints SURVIVOR CONTRACT VIOLATIONS and
  exits 2. The list and each bound are also pinned directly by
  tests/test_plan_contract.py (including a red-path injection test).

Usage: python tools/plan_audit.py [sf_dir] [--only NAME ...] [--since GITREF]
(put sf_dir BEFORE --only; a path-shaped --only value errors loudly)

Fast paths (VERDICT r6 item 7 — the full sweep is ~25 min at 348
entries, which is why a late-landing entry once shipped unchecked):

- ``--only NAME ...``   audit just the named entries (land-time check
  for a new entry: ``python tools/plan_audit.py --only my_entry``).
- ``--since GITREF``    audit only entries whose defining source file
  changed since GITREF (``git diff --name-only``), e.g.
  ``--since HEAD~5``. A change to a shared helper module
  (operators/, functions/, plancontract, sharedframes, session)
  widens the selection to ALL entries — shared-code edits can move
  any plan. Keep the full sweep for round close.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

PATTERNS = (
    "Expand",
    "CartesianProduct",
    "BroadcastNestedLoopJoin",
    "BatchEvalPython",
)

UNPARTITIONED_WINDOW = "UnpartitionedWindow"

# Parser + frozen survivor contract live in the package so tests and
# the audit share one implementation (re-exported here for back-compat).
from xova_spark.plancontract import (  # noqa: E402
    has_unpartitioned_window as _has_unpartitioned_window,
)
from xova_spark.plancontract import (  # noqa: E402
    bnlj_violations,
    survivor_violations,
)


SHARED_PREFIXES = (
    "xova_spark/operators/",
    "xova_spark/functions/",
    "xova_spark/plancontract.py",
    "xova_spark/sharedframes.py",
    "xova_spark/session.py",
    "__spark_entry__.py",
)


def parse_args(argv: list[str]):
    """argparse-based CLI (ADVICE r7: the old hand parser collected ALL
    args after --since/--only into flag values, silently dropping a
    positional sf_dir that followed a flag and auditing the default
    tier instead). --only is greedy, so an sf_dir must come FIRST when
    combined with it — a path-shaped name is rejected loudly rather
    than mis-audited."""
    import argparse

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.001")
    p.add_argument("--only", nargs="+", metavar="NAME")
    p.add_argument("--since", metavar="GITREF")
    p.add_argument(
        "--stamp",
        action="store_true",
        help="after a FULL sweep, rewrite COVERAGE.md's 'Plan contract:'"
        " counter line (VERDICT r7 item 7: hand-written counter claims"
        " drifted from measured output; refused for --only/--since runs)",
    )
    args = p.parse_args(argv)
    for n in args.only or ():
        if "/" in n:
            p.error(
                f"--only consumed path-like arg {n!r}; put the sf_dir "
                "BEFORE --only (e.g. plan_audit.py SF_DIR --only a b)"
            )
    return args


def _select_entries(qs: dict, args) -> dict:
    """Apply --only / --since selection; returns the entries to audit."""
    import inspect
    import os
    import subprocess

    if args.only:
        names = set(args.only)
        unknown = names - set(qs)
        if unknown:
            raise SystemExit(f"--only: unknown entries {sorted(unknown)}")
        return {n: f for n, f in qs.items() if n in names}
    if args.since:
        ref = args.since
        changed = subprocess.run(
            ["git", "diff", "--name-only", ref, "--", "."],
            capture_output=True,
            text=True,
            cwd=ROOT,
            check=True,
        ).stdout.split()
        if any(
            c == p or c.startswith(p) for c in changed for p in SHARED_PREFIXES
        ):
            print(f"--since {ref}: shared module changed -> full sweep")
            return qs
        changed_abs = {os.path.join(ROOT, c) for c in changed}
        sel = {}
        for n, f in qs.items():
            try:
                src = inspect.getsourcefile(inspect.unwrap(f))
            except TypeError:
                src = None
            if src in changed_abs:
                sel[n] = f
        print(f"--since {ref}: {len(sel)}/{len(qs)} entries selected")
        return sel
    return qs


def _stamp_coverage_plan_line(hits: dict, sf_dir: str) -> None:
    """Rewrite COVERAGE.md's canonical 'Plan contract:' counter line from
    a fresh FULL sweep (VERDICT r7 item 7 / What's-wrong #2: ROADMAP
    hand-claimed '60 BNLJs' while the sweep observed 59 — the same
    staleness class as the round-5 registry-count drift, closed the same
    way: machine-stamp, then contract-test the stampable parts).

    Observed counts come from the sweep; allowlist sizes come from the
    live plancontract module, and tests/test_plan_contract.py pins the
    stamped allowlist sizes against the module so any edit without a
    restamp goes red. The checkpoint caveat is recorded in the line
    itself: a localCheckpoint-truncated plan hides upstream BNLJs from
    the rendered plan text, so observed may trail the allowlist."""
    import datetime
    import os
    import re

    from xova_spark.plancontract import BNLJ_SURVIVORS, WINDOW_SURVIVORS

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    stamp = datetime.datetime.now(datetime.timezone.utc).strftime(
        "%Y-%m-%d %H:%M UTC"
    )
    new_line = (
        "Plan contract: **Expand {e}, CartesianProduct {c}, BNLJ in {b}"
        " plans ({ba} allowlisted entries), BatchEvalPython {p},"
        " unpartitioned-window survivors {w} ({wa} allowlisted)**"
        " (stamped by `tools/plan_audit.py --stamp` full sweep,"
        " {stamp}, sf_dir={sf}; checkpoint-truncated plans hide upstream"
        " BNLJs from plan text, so BNLJ observed may trail the allowlist"
        " — do not edit by hand).".format(
            e=len(hits.get("Expand", [])),
            c=len(hits.get("CartesianProduct", [])),
            b=len(hits.get("BroadcastNestedLoopJoin", [])),
            ba=len(BNLJ_SURVIVORS),
            p=len(hits.get("BatchEvalPython", [])),
            w=len(hits.get(UNPARTITIONED_WINDOW, [])),
            wa=len(WINDOW_SURVIVORS),
            stamp=stamp,
            sf=sf_dir,
        )
    )
    path = os.path.join(repo, "COVERAGE.md")
    with open(path) as f:
        text = f.read()
    stamped, n_sub = re.subn(
        r"Plan contract: \*\*.*?\*\*[^\n]*", new_line, text, count=1
    )
    if not n_sub:
        # first stamp: insert directly under the Registry line
        stamped, n_sub = re.subn(
            r"(Registry: \*\*.*?\*\*[^\n]*\n)",
            r"\1\n" + new_line.replace("\\", "\\\\") + "\n",
            text,
            count=1,
        )
    if n_sub:
        with open(path, "w") as f:
            f.write(stamped)
        print("stamped COVERAGE.md plan-contract counters")
    else:
        print("WARNING: could not stamp COVERAGE.md (anchor line missing)")


def main() -> int:
    from xova_spark.session import get_spark

    import __spark_entry__ as entrymod

    import inspect

    args = parse_args(sys.argv[1:])
    sf_dir = args.sf_dir
    entries = _select_entries(entrymod.queries(), args)
    spark = get_spark("plan-audit")
    hits: dict[str, list[str]] = {p: [] for p in PATTERNS}
    errors: list[tuple[str, str]] = []
    violations: list[str] = []
    for name, fn in entries.items():
        try:
            plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001 — report, keep sweeping
            errors.append((name, f"{type(e).__name__}: {e}"))
            continue
        for pat in PATTERNS:
            if pat in plan:
                hits[pat].append(name)
        if "BroadcastNestedLoopJoin" in plan:
            violations.extend(bnlj_violations(name, plan))
        if _has_unpartitioned_window(plan):
            hits.setdefault(UNPARTITIONED_WINDOW, []).append(name)
            try:
                src = inspect.getsource(fn)
            except (OSError, TypeError):
                src = ""
            violations.extend(survivor_violations(name, plan, src))
    for pat in (*PATTERNS, UNPARTITIONED_WINDOW):
        print(f"{pat}: {len(hits.get(pat, []))}")
        for n in hits.get(pat, []):
            print(f"  {n}")
    if args.stamp:
        if args.only or args.since:
            print("--stamp: refused — counters stamp only from a FULL sweep")
        else:
            _stamp_coverage_plan_line(hits, sf_dir)
    if violations:
        print(f"SURVIVOR CONTRACT VIOLATIONS: {len(violations)}")
        for v in violations:
            print(f"  {v}")
    if errors:
        print(f"plan errors: {len(errors)}")
        for n, e in errors[:20]:
            print(f"  {n}: {e}")
    from xova_spark.sharedframes import clear_shared

    clear_shared()
    if violations:
        return 2
    return 1 if errors else 0


if __name__ == "__main__":
    raise SystemExit(main())
