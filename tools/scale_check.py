"""Above-bench scale spot-check (r7 verdict item 5): run the named
contracts at two SF dirs, one fresh session per scale
(``tools/timing.py`` ``time_in_child``: its warmup, then min-of-two per
query — the SCALING.md protocol), and print the per-query ratio table.

Usage:
    python tools/make_sf1.py                      # once
    python tools/scale_check.py [q1 q2 ...]       # default: the >2s set
    python tools/scale_check.py --panel           # pinned r13 panel

``--panel`` (r12 verdict item 4) runs the FIXED cross-scale regression
panel — the SCALING.md worst slopes plus their flat production twins —
records the result as ``SCALE_PANEL_r{N}.json`` next to the repo's
bench artifacts, and, when a previous round's panel record exists,
prints the round-over-round sf1 ratio per query. Run it SOLO (quiet
host) once per round: drift detection otherwise exists only at sf0.1,
so a slope regression surfaces only when a judge asks for an ad-hoc
re-measurement. Flags follow the repo's A/B rule: a >1.5x sf1 ratio on
unchanged code is adjudicated with an interleaved tools/ab_bench.py
run (SPARK_GRAFT_SF_DIR=testdata_sf1), not hand-waved.

The embeddings/documents-only contracts work against testdata_sf1;
contracts touching other tables are rejected up front.
"""

from __future__ import annotations

import json
import os
import sys

from timing import time_in_child

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the 16 contracts over 2 s in BENCH_DETAIL (r7) — all touch only
# documents and/or embeddings, so the synthetic sf1 pair covers them
DEFAULT = [
    "dedup_clusters_lsh",
    "dedup_cluster_sizes",
    "curate_increment",
    "weighted_jaccard",
    "knn_ivfpq_vec0",
    "knn_recall_ivfpq_vec0",
    "minhash_jaccard_est",
    "pq_error_vec0",
    "dedup_incremental_fuzzy",
    "knn_recall_ivfpq_res_vec0",
    "knn_pq_rerank_vec0",
    "knn_text_vec0",
    "knn_ivfpq_res_vec0",
    "knn_pq_label_vec0",
    "emb_near_dup_lsh",
    "dedup_ngram_jaccard",
    # r8 scale forms — these must stay FLAT while their exact twins
    # above track output size
    "posting_pair_stats",
    "weighted_jaccard_capped",
    # r9 additions: the leakage-safe split composition (banding + CC +
    # join — must track dedup_clusters_lsh, its cost driver), the
    # blocked k-center (one corpus pass — near-flat), the per-group cap
    # (one exchange + group-limit — near-flat), and the cap-sizing
    # read-off (one profile pass)
    "leakage_safe_splits_docs",
    "leakage_safe_splits_incr",
    "emb_kcenter_scalable",
    "cap_per_source",
    "max_df_for_budget",
    # r10: the banded-join pricing audit — one band pass per side + the
    # occupancy-histogram read-off; must stay near-linear in corpus
    # (band rows), never in candidate pairs
    "stop_band_cap",
]

# The pinned cross-scale regression panel (r12 verdict item 4): the
# slope table's historical worst rows (output-driven pair generators,
# the CC/banding compositions, the cost-ladder increment) plus the flat
# production forms that must STAY flat (capped jaccard, priced banding).
# Fixed on purpose — round-over-round sf1 ratios are only comparable on
# a stable set. Add new members rather than replacing, and record the
# change in SCALING.md.
PANEL = [
    "weighted_jaccard",
    "weighted_jaccard_capped",
    "emb_near_dup_lsh",
    "curate_increment",
    "dedup_minhash_lsh",
    "stop_band_cap",
    "leakage_safe_splits_incr",
    "dedup_clusters_lsh",
    "dedup_ngram_jaccard",
    "knn_recall_ivfpq_vec0",
]

def _panel_round() -> int:
    """Next round number — bench.py's artifact-based inference, ONE
    definition (no env override: SPARK_GRAFT_BENCH_SEED pins A/B
    reproduction seeds and must not relabel panel records). NOTE: if
    the driver has already landed THIS round's BENCH_r{N}.json, the
    inference points one round ahead — pass --round explicitly when
    re-running a panel late in a round."""
    sys.path.insert(0, ROOT)
    from bench import next_round_from_artifacts

    return next_round_from_artifacts()


def _prev_panel(rnd: int) -> tuple[int, dict] | None:
    for r in range(rnd - 1, 0, -1):
        p = os.path.join(ROOT, f"SCALE_PANEL_r{r}.json")
        if os.path.exists(p):
            with open(p) as f:
                return r, json.load(f)
    return None


def main() -> None:
    # argparse rejects mistyped flags: an ignored --pannel would fall
    # back to the ad-hoc DEFAULT list with no panel record at all.
    import argparse

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("names", nargs="*", help="explicit contract names (ad-hoc)")
    ap.add_argument(
        "--panel",
        action="store_true",
        help="run the pinned panel and record SCALE_PANEL_r{N}.json",
    )
    ap.add_argument(
        "--round",
        type=int,
        default=None,
        help="round number for the panel record (default: inferred from "
        "the newest BENCH_r{N}.json — pass explicitly when re-running "
        "after the driver already landed this round's record)",
    )
    args = ap.parse_args()
    panel = args.panel
    if panel and args.names:
        # a partial "panel" record would permanently degrade the
        # round-over-round comparison: next round's full run would see
        # the missing names as (new in panel) and their slopes unflagged
        raise SystemExit(
            "--panel runs the FIXED panel list; drop the explicit names "
            "(use an ad-hoc run without --panel for a subset)"
        )
    names = PANEL if panel else (args.names or DEFAULT)
    sf1 = os.path.join(ROOT, "testdata_sf1")
    if not os.path.isdir(sf1):
        raise SystemExit("run `python tools/make_sf1.py` first")
    lo = time_in_child(ROOT, "/root/testdata/sf0.1", names)
    hi = time_in_child(ROOT, sf1, names)
    print(f"| query | sf0.1 s | sf1 s | ratio |")
    print(f"|---|---|---|---|")
    worst = 0.0
    for n in names:
        r = hi[n] / max(lo[n], 1e-9)
        worst = max(worst, r)
        print(f"| {n} | {lo[n]:.2f} | {hi[n]:.2f} | {r:.2f} |")
    print(f"worst ratio for 10x data: {worst:.2f}")
    if not panel:
        return
    rnd = args.round if args.round is not None else _panel_round()
    # Mislabeled-round guard (ROUND13_NOTES.md): _panel_round infers "newest
    # BENCH_r{N}.json + 1", so a panel run LATE in a round — after the
    # driver lands this round's bench record — silently writes
    # SCALE_PANEL_r{N+1}.json and every future _prev_panel diff
    # compares against a mislabeled baseline. The skip is detectable:
    # an inferred round that is >= 2 ahead of the newest existing panel
    # record would leave a gap (the normal cadence is one panel per
    # round). Refuse and demand an explicit --round instead of relying
    # on the operator remembering the hazard comment.
    if args.round is None:
        prev_guess = _prev_panel(rnd)
        if prev_guess is not None and rnd - prev_guess[0] >= 2:
            raise SystemExit(
                f"inferred panel round r{rnd} would skip r{rnd - 1} "
                f"(newest panel record is r{prev_guess[0]}) — if the "
                f"driver already landed this round's BENCH record, the "
                f"inference is one round ahead; pass --round explicitly"
            )
    rec = {
        "round": rnd,
        "protocol": "solo; isolated session per scale; min-of-2; "
        "warm=tools/timing.warm (sf0.1: payments_balances+repetition_stats; "
        "sf1: minhash_jaccard_est+repetition_stats)",
        "sf01": lo,
        "sf1": hi,
    }
    out = os.path.join(ROOT, f"SCALE_PANEL_r{rnd}.json")
    with open(out, "w") as f:
        json.dump(rec, f, indent=1, sort_keys=True)
    print(f"panel record written: {os.path.basename(out)}")
    prev = _prev_panel(rnd)
    if prev is None:
        print("no previous panel record — this round is the baseline")
        return
    prnd, pdata = prev
    print(f"\nround-over-round sf1 vs r{prnd} (A/B-adjudicate >1.5x):")
    if pdata.get("protocol") != rec["protocol"]:
        print(
            f"  r{prnd} was measured with a different protocol/warmup "
            f"({pdata.get('protocol')!r}): its ratios show the method "
            f"change as well as the code; re-baseline before adjudicating"
        )
    flagged = 0
    for n in names:
        if n not in pdata.get("sf1", {}):
            print(f"  {n:32s} (new in panel)")
            continue
        rr = hi[n] / max(pdata["sf1"][n], 1e-9)
        mark = ""
        if rr > 1.5:
            flagged += 1
            mark = "  << FLAG: adjudicate with tools/ab_bench.py"
        print(f"  {n:32s} {pdata['sf1'][n]:8.2f} -> {hi[n]:8.2f}  {rr:5.2f}x{mark}")
    if flagged:
        print(f"{flagged} flagged — record the A/B verdicts in SCALING.md")


if __name__ == "__main__":
    main()
