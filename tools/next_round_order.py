"""Report the first-WINDOW head of the driver-evidence registration
order. Since round 7 the order is COMPUTED inside
``__spark_entry__._evidence_order`` (code-changed head, then strays,
then stalest newest-green first) — this tool just prints what the
driver will see, with the evidence vintage per name. Pure report.

Usage: python tools/next_round_order.py
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))




def main() -> int:
    import __spark_entry__ as e

    # the ONE green predicate — shared with the driver ordering
    evidence = e._newest_green_rounds()

    order = list(e.queries())
    # replicate _evidence_order's SELF-DRAIN predicate exactly: a
    # _CODE_CHANGED name the driver re-greened at/after
    # _CODE_CHANGED_ROUND is no longer pinned (ROUND10_NOTES.md):
    ccr = getattr(e, "_CODE_CHANGED_ROUND", None)
    changed = [
        q
        for q in getattr(e, "_CODE_CHANGED", [])
        if q in order and (ccr is None or evidence.get(q, -1) < ccr)
    ]
    head = order[:e.EVIDENCE_WINDOW]
    print(f"# evidence-window head ({len(head)} of window "
          f"{e.EVIDENCE_WINDOW}, computed):")
    print(f"#   code-changed {len(changed)} | "
          f"strays {sum(1 for q in head if q not in evidence and q not in changed)} | "
          f"stalest refresh fills the rest")
    for q in head:
        tag = (
            "CODE CHANGED" if q in changed
            else "NO EVIDENCE" if q not in evidence
            else f"r{evidence[q]:02d}"
        )
        print(f'    "{q}",  # {tag}')
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
