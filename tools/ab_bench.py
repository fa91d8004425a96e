"""Interleaved same-host A/B bench: adjudicate whether a flagged
round-over-round bench delta is code or environment.

The per-round driver record confounds code changes with host drift
(thermal throttle, co-tenant load) and list position (in-run sustained
throttle: measured thirds of one r9 run at 0.87x/1.03x/1.34x). The
only measurement that cleanly attributes a delta to CODE is an
interleaved run on ONE host timeline: old, new, old, new, ... so any
drift hits both sides equally and min-of-N discards the slow samples.

Usage:
    python tools/ab_bench.py --old 1ce05cc \
        --queries weighted_jaccard,curate_increment [--iters 6]

Protocol (the r10 ROUND10_NOTES Section 17 methodology, now a tool):
  - `git worktree add` the old commit at /tmp/ab_old_<commit>, created
    fresh on every run and removed (`git worktree remove --force`) when
    the run ends, also when a child fails.
  - Each iteration times each side in its own fresh session
    (`tools/timing.py` `time_in_child`: its warmup, then best-of-2 per
    query), alternating old-first/new-first per iteration so
    session-order bias cancels too.
  - The final per-query number is the MIN across iterations — the
    bench.py min-of-N noise model, with N = --iters.

Output: a table of old/new/ratio plus one JSON line for the round
notes. Ratio > ~1.2 on min-of-6 interleaved samples is
code-attributable; anything inside that band is host noise. The band is
not calibrated below 6 iterations (an A/B with identical engine code on
both sides read 1.214 at --iters 2), and the tool says so on stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

from timing import time_in_child

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--old", required=True, help="git ref of the OLD side")
    ap.add_argument("--queries", required=True, help="comma-separated query names")
    ap.add_argument("--iters", type=int, default=6)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    queries = [q.strip() for q in args.queries.split(",") if q.strip()]
    commit = subprocess.check_output(
        ["git", "-C", REPO, "rev-parse", "--short", args.old], text=True
    ).strip()
    if args.iters < 6:
        sys.stderr.write("warning: the ~1.2 code-attributable band was set at min-of-6; "
                         f"it is not calibrated at --iters {args.iters}\n")
    old_tree = f"/tmp/ab_old_{commit}"
    worktree = ["git", "-C", REPO, "worktree"]
    # a leftover from a run killed before its cleanup is replaced, not reused
    subprocess.run([*worktree, "remove", "--force", old_tree], capture_output=True)
    subprocess.run([*worktree, "add", "--detach", old_tree, commit], check=True)

    mins: dict[str, dict[str, float]] = {"old": {}, "new": {}}
    try:
        for it in range(args.iters):
            # alternate which side goes first so session-order bias cancels
            sides = [("old", old_tree), ("new", REPO)]
            if it % 2 == 1:
                sides.reverse()
            for label, tree in sides:
                res = time_in_child(tree, args.sf_dir, queries, timeout=1800)
                for q, t in res.items():
                    cur = mins[label].get(q)
                    mins[label][q] = t if cur is None else min(cur, t)
                sys.stderr.write(f"iter {it + 1}/{args.iters} {label}: {res}\n")
    finally:
        subprocess.run([*worktree, "remove", "--force", old_tree], check=False)

    rows = []
    for q in queries:
        o, n = mins["old"].get(q), mins["new"].get(q)
        ratio = round(n / o, 3) if o else None
        rows.append({"query": q, "old": o, "new": n, "ratio": ratio})
    width = max(len(q) for q in queries)
    print(f"{'query':<{width}}  {'old':>8}  {'new':>8}  {'ratio':>6}")
    for r in rows:
        print(f"{r['query']:<{width}}  {r['old']:>8.3f}  {r['new']:>8.3f}  {r['ratio']:>6.3f}")
    print(json.dumps({"ab": rows, "old_commit": commit, "iters": args.iters, "sf_dir": args.sf_dir}))


if __name__ == "__main__":
    main()
