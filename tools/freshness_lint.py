"""Driver-evidence freshness lint.

The driver's correctness gate checks only the FIRST ~50 entries of
``__spark_entry__.queries()`` each round. Since round 7 that order is
COMPUTED (``_evidence_order``: code-changed head, then evidence-less
strays, then stalest-first), so a newly registered name sorts into the
head automatically. Failure classes this lint catches before the
driver runs:

1. FAIL — a query with NO driver evidence sitting OUTSIDE the window:
   under the computed ordering this can only mean more strays +
   pinned code-changed names than the window holds — the overflow
   would stay evidence-less another full round (register fewer new
   contracts per round, or prune drained _CODE_CHANGED names).
2. warn — queries whose newest evidence is ≥2 rounds stale and still
   outside the window (the stale tail is draining slower than it
   grows).
3. warn — a non-empty ``_NEXT_ROUND_QUEUE``: the computed ordering
   made the hand-maintained queue unnecessary (strays auto-head), so
   a surviving declaration is stale and should be pruned. A queued
   name at the head is not an error: the computed ordering puts every
   queued stray there at once (ROUND10_NOTES.md).

Usage: python tools/freshness_lint.py   (exit 1 on class-1 violations)
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

def main() -> int:
    import __spark_entry__ as e

    # the ONE green predicate + window size + record parse, shared with
    # the driver ordering (__spark_entry__._is_green /
    # _newest_green_rounds / EVIDENCE_WINDOW), so copies cannot drift
    # (ROUND7_NOTES.md)
    window = e.EVIDENCE_WINDOW
    evidence = e._newest_green_rounds()
    order = list(e.queries())
    latest_round = e._latest_record_round()
    head, tail = order[:window], order[window:]

    queue = list(getattr(e, "_NEXT_ROUND_QUEUE", []))
    never = [q for q in tail if q not in evidence]
    stale = [
        (q, evidence[q])
        for q in tail
        if q in evidence and evidence[q] <= latest_round - 2
    ]

    print(f"registered: {len(order)}; window: {window}; "
          f"prior evidence for {len(evidence)} names "
          f"(latest round r{latest_round:02d})")
    if never:
        print("FAIL — no driver evidence AND outside the window "
              "(head overflow: fewer new contracts per round, or prune "
              "drained _CODE_CHANGED names):")
        for q in never:
            print(f"  {q}")
    if stale:
        print("warn — evidence ≥2 rounds stale and outside the window:")
        for q, r in stale:
            print(f"  {q}  (newest green r{r:02d})")
    if queue:
        print("warn — _NEXT_ROUND_QUEUE is non-empty; the computed "
              "ordering auto-heads strays, so the queue is a stale "
              f"declaration: {', '.join(queue)}")
    if not never and not stale and not queue:
        print("ok — every unevidenced/stale query sits inside the window")
    return 1 if never else 0


if __name__ == "__main__":
    raise SystemExit(main())
