"""Per-query bench regression gate: diff two bench JSON lines
(`bench.py` output / driver `BENCH_r{N}.json`) and flag regressions.

Usage:
    python tools/bench_diff.py OLD.json NEW.json [--threshold 1.5]
                               [--allow-suspect NAME ...]
                               [--allow-suspects]

Exit codes (new queries and removed queries are reported but never
fail the gate):
  0 — no flags, or every current suspect waived (per-name
      --allow-suspect, or the blanket --allow-suspects which loudly
      lists what it waived)
  1 — at least one HARD regression over the threshold
  2 — no hard regressions, but unwaived suspects exist (noise-window /
      low-sample / start-band / end-band / anchor-mismatch flags).
      Suspects are not amnesty: they are unadjudicated measurements
      that need an interleaved tools/ab_bench.py run. An exit 0 would
      make the A/B optional, and a real regression inside a noise
      window could pass with only a printed note (ROUND13_NOTES.md).

Host-drift normalization: when BOTH records carry ``calibration_sec``
(bench.py's pinned pure-JVM anchor — no parquet, no Python, no engine
code), every per-query ratio is divided by the calibration ratio and
the gate fires on the NORMALIZED value, so a uniform host throttle is
one division, not a regression (ROUND9_NOTES.md). Records without the
anchor diff on raw ratios.
"""

from __future__ import annotations

import argparse
import json
import sys


def load(path: str) -> dict:
    with open(path) as f:
        data = json.load(f)
    # driver BENCH_r{N}.json wraps bench.py's line under "parsed".
    # A present-but-null "parsed" means the driver's capture truncated
    # the bench line — diffing {} would print an empty comparison with
    # exit 0, hiding exactly the failure this gate exists to catch.
    if "parsed" in data:
        if data["parsed"] is None:
            raise SystemExit(
                f"{path}: 'parsed' is null (truncated bench capture) — "
                "cannot diff this round's record"
            )
        data = data["parsed"]
    # compact headline: stdout carries only the top-5 slowest; the full
    # per-query map lives in a sibling detail artifact. The fixed-name
    # BENCH_DETAIL.json is overwritten by every run, so the round-stamped
    # BENCH_DETAIL_r{N}.json matching this record's filename is tried
    # first, then the generic pointer; each candidate must value-match
    # the record, or that side would collapse to its top-5 subset
    # (ROUND10_NOTES.md).
    import os
    import re

    here = os.path.dirname(os.path.abspath(path))
    candidates = []
    m = re.search(r"BENCH_r(\d+)\.json$", path)
    if m:
        candidates.append(f"BENCH_DETAIL_r{int(m.group(1))}.json")
    if data.get("detail"):
        candidates.append(data["detail"])
    for name in candidates:
        cand = os.path.join(here, name)
        if os.path.exists(cand):
            with open(cand) as f:
                detail = json.load(f)
            if detail.get("value") == data.get("value"):
                return detail
    if candidates and "queries" in data:
        print(
            f"note: {path}: no detail artifact value-matches — diffing "
            f"the compact top-{len(data.get('queries', {}))} subset only"
        )
    return data


def cal_of(rec):
    """Geometric mean of the start/end anchors: in-run throttle makes
    a start-only anchor under-report, and the pair brackets the run.
    Falls back to the start anchor for records without an end."""
    start, end = rec.get("calibration_sec"), rec.get("calibration_end_sec")
    if start and end:
        return (start * end) ** 0.5
    return start


def anchors_of(rec):
    """[(position, sec), ...] drift profile for a record: the start
    anchor at position 0, any mid-run ``calibration_probes`` (re-timed
    every ~25 positions) at their recorded positions, and the end
    anchor after the last query. Older records have just the bracket
    pair, or just the start."""
    order = rec.get("order") or []
    start, end = rec.get("calibration_sec"), rec.get("calibration_end_sec")
    pts = []
    if start:
        pts.append((0.0, start))
    for pos, sec in rec.get("calibration_probes") or []:
        pts.append((float(pos), sec))
    if end and order:
        pts.append((float(max(len(order) - 1, 1)), end))
    return sorted(pts)


def cal_at(rec, name):
    """Per-query anchor: piecewise-linear interpolation over the
    record's anchor profile at the query's position in the timed
    order — in-run throttle and transient host-noise windows are
    position-correlated, and a start/end bracket cannot see a block
    inflated mid-run (ROUND9_NOTES.md, ROUND12_NOTES.md), so each
    query normalizes against the anchors that bracket ITS position.
    Falls back to the record-level anchor when order/anchors are
    absent."""
    order = rec.get("order")
    pts = anchors_of(rec)
    if len(pts) >= 2 and order and name in order:
        x = float(order.index(name))
        for (x0, y0), (x1, y1) in zip(pts, pts[1:]):
            if x <= x1:
                if x <= x0:
                    return y0
                return y0 + (y1 - y0) * (x - x0) / (x1 - x0)
        return pts[-1][1]
    return cal_of(rec)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("--threshold", type=float, default=1.5)
    ap.add_argument(
        "--allow-suspects",
        action="store_true",
        help="exit 0 even when suspects exist (use AFTER adjudicating "
        "them with tools/ab_bench.py, not instead of it). Blanket "
        "waiver: prefer --allow-suspect NAME, which ties each waiver "
        "to a specific adjudicated flag",
    )
    ap.add_argument(
        "--allow-suspect",
        action="append",
        default=[],
        metavar="NAME",
        help="waive ONE suspect by name after recording its ab_bench "
        "verdict (repeatable; comma lists accepted). Unlike "
        "--allow-suspects this cannot silently waive a flag that was "
        "never A/B'd: any suspect NOT on the list still exits 2 "
        "(the blanket flag, re-run after adjudicating one set of "
        "suspects, also waives any new suspect on the second pass; "
        "ROUND14_NOTES.md)",
    )
    args = ap.parse_args()

    old, new = load(args.old), load(args.new)
    # Refuse to diff records measured at different scale factors: every
    # ratio would be scale noise, and in the new-is-smaller direction
    # everything reads "improved" and masks real regressions
    # (ROUND10_NOTES.md).
    osf, nsf = old.get("sf"), new.get("sf")
    if osf is not None and nsf is not None and osf != nsf:
        raise SystemExit(
            f"scale-factor mismatch: old sf={osf} vs new sf={nsf} — "
            f"these records are not comparable"
        )
    oq, nq = old.get("queries", {}), new.get("queries", {})
    osamp, nsamp = old.get("samples", {}), new.get("samples", {})

    ocal, ncal = cal_of(old), cal_of(new)
    cal_ratio = None
    inrun_drift = False
    if ocal and ncal:
        cal_ratio = ncal / ocal
        print(
            f"calibration (geo-mean of start/end where present): "
            f"old={ocal:.3f}s new={ncal:.3f}s host-drift "
            f"{cal_ratio:.2f}x — gating on NORMALIZED ratios"
        )
        for rec, tag in ((old, "old"), (new, "new")):
            s, e = rec.get("calibration_sec"), rec.get("calibration_end_sec")
            if s and e and max(e / s, s / e) > 1.15:
                inrun_drift = True
                print(
                    f"  note: {tag} record drifted IN-RUN "
                    f"(start {s}s -> end {e}s, {e / s:.2f}x) — late-list "
                    f"queries carry more of it than the mean removes"
                )

    # First pass: compute every pair's raw + anchor-normalized ratio.
    rows: dict[str, tuple[float, float]] = {}  # name -> (ratio, gate)
    for name in sorted(set(oq) & set(nq)):
        # floor the denominator: sub-50ms timings are noise-dominated
        ratio = nq[name] / max(oq[name], 0.05)
        if cal_ratio:
            gate = ratio / (cal_at(new, name) / cal_at(old, name))
        else:
            gate = ratio
        rows[name] = (ratio, gate)

    # Noise-window detection: a transient host slowdown inflates a
    # CONTIGUOUS block of run positions uniformly (ROUND12_NOTES.md).
    # If a position bucket's median normalized ratio is well above the
    # suite's overall median, the block is environment, not code: its
    # flags are downgraded to window-suspects (adjudicate any that
    # matter with tools/ab_bench.py — an interleaved A/B is immune to
    # windows by construction).
    def median(xs):
        xs = sorted(xs)
        n = len(xs)
        return (xs[n // 2] + xs[(n - 1) // 2]) / 2 if xs else None

    WIN, STEP = 20, 5
    window_positions: set[int] = set()  # individual new-record positions
    norder = new.get("order") or []
    if norder and len(rows) >= 3 * WIN:
        overall = median([g for _, g in rows.values()])
        by_pos = {
            norder.index(name): gate
            for name, (_, gate) in rows.items()
            if name in norder
        }
        n = len(norder)
        hot: set[int] = set()
        for lo in range(0, max(n - WIN + 1, 1), STEP):
            gates = [by_pos[p] for p in range(lo, min(lo + WIN, n)) if p in by_pos]
            wm = median(gates)
            if len(gates) >= 5 and wm is not None and wm > max(1.25, overall * 1.25):
                hot.update(range(lo, min(lo + WIN, n)))
        # Micro-window pass: a spike a few positions wide is too narrow
        # for the 20-position median above (ROUND13_NOTES.md). The timed
        # order is a SEEDED RANDOM PERMUTATION, so adjacent positions
        # share no code path — >=3 contiguous flagged positions whose
        # local median is well above the suite (>max(1.75, 1.5x suite
        # median)) is near-certain host spike, not three independent
        # same-instant regressions. Downgraded flags remain suspects
        # (exit 2, A/B forced), never silent passes — so the looser
        # local bar adds no amnesty, only routes the cluster to the
        # position-free A/B instead of a hard fail.
        MICRO_WIN = 5
        for lo in range(0, max(n - MICRO_WIN + 1, 1)):
            span_pos = [p for p in range(lo, min(lo + MICRO_WIN, n)) if p in by_pos]
            gates = [by_pos[p] for p in span_pos]
            flagged = [p for p in span_pos if by_pos[p] > args.threshold]
            contiguous = (
                len(flagged) >= 3
                and flagged == list(range(flagged[0], flagged[-1] + 1))
            )
            wm = median(gates)
            if contiguous and wm is not None and wm > max(1.75, overall * 1.5):
                hot.update(flagged)
        if hot:
            window_positions = hot
            span = sorted(hot)
            print(
                f"note: NOISE WINDOW at new-record positions "
                f"{span[0]}-{span[-1]} ({len(hot)} positions; sliding "
                f"median > max(1.25, 1.25x suite median {overall:.2f}x), "
                f"or a >=3-contiguous-flag micro-window with local median "
                f"> max(1.75, 1.5x suite median)) "
                f"— flags inside are downgraded to window-suspects"
            )

    regressed: list[tuple[str, float, float, float]] = []
    suspect: list[tuple[str, float, float, float]] = []
    improved: list[tuple[str, float, float, float]] = []
    norm_hdr = f" {'norm':>7s}" if cal_ratio else ""
    print(f"{'query':34s} {'old_s':>8s} {'new_s':>8s} {'ratio':>7s}{norm_hdr}")
    for name in sorted(set(oq) | set(nq)):
        if name not in oq:
            print(f"{name:34s} {'-':>8s} {nq[name]:8.3f}     new")
            continue
        if name not in nq:
            print(f"{name:34s} {oq[name]:8.3f} {'-':>8s} removed")
            continue
        ratio, gate = rows[name]
        # Sample-count weighting (ROUND11_NOTES.md): min-of-N only
        # rejects scheduler noise with enough N. A flagged ratio where
        # EITHER side recorded < 3 samples is statistically weak — one
        # slow sample pollutes a min-of-2 record — so it must clear a
        # 25% stiffer bar to hard-fail the gate; otherwise it's
        # reported as suspect (adjudicate with tools/ab_bench.py).
        n_min = min(osamp.get(name, 2), nsamp.get(name, 2))
        hard_threshold = args.threshold if n_min >= 3 else args.threshold * 1.25
        in_window = name in norder and norder.index(name) in window_positions
        # Start-band uncertainty: the first positions are a recurring
        # cold-start artifact class, not code (ROUND13_NOTES.md). A flag
        # in the first few positions of EITHER record is therefore
        # downgraded to a suspect (adjudicate with tools/ab_bench.py,
        # which is position-free by construction).
        START_BAND = 5
        in_start = any(
            name in (rec.get("order") or [])[:START_BAND] for rec in (old, new)
        )
        # End-band uncertainty (symmetric to the start band): positions
        # after a record's LAST mid-run probe are normalized against
        # the single end anchor, so drift developing after that probe
        # rides one point (ROUND14_NOTES.md). A flag whose position in
        # EITHER record falls after that record's last probe is
        # downgraded to a suspect (adjudicate with tools/ab_bench.py,
        # position-free by construction). Only applies to records that
        # carry probes at all — without them there is no "last probe"
        # and the whole run would qualify.
        def _in_end_band(rec):
            probes = rec.get("calibration_probes") or []
            order = rec.get("order") or []
            if not probes or name not in order:
                return False
            return order.index(name) > max(p for p, _ in probes)

        in_end = _in_end_band(old) or _in_end_band(new)
        flag = ""
        if gate > args.threshold and in_window:
            suspect.append((name, oq[name], nq[name], gate))
            flag = "  << suspect (noise window)"
        elif gate > args.threshold and in_start:
            suspect.append((name, oq[name], nq[name], gate))
            flag = "  << suspect (start band, pos<5)"
        elif gate > args.threshold and in_end:
            suspect.append((name, oq[name], nq[name], gate))
            flag = "  << suspect (end band, past last probe)"
        # Anchor-mismatch downgrade: a normalized flag whose RAW ratio
        # is ~1.0 means the query held still while the anchor moved —
        # the pure-JVM anchor recovers from (or succumbs to) host
        # throttle faster than Arrow/Python-bound queries, so a
        # drifting-host pair yields norm-only flags in bulk
        # (ROUND14_NOTES.md). The triage rule ("norm flag with raw ~1.0
        # = anchor mismatch; A/B only big raw movers") is applied here:
        # still exit 2, still A/B-forced — no amnesty, just no bulk
        # hard fails. Base raw cutoff 1.2x; when the tool ITSELF
        # detected >1.15x in-run anchor drift in either record (the
        # precondition for the mismatch mechanism), the cutoff widens
        # to the observed 1.35x envelope.
        elif gate > args.threshold and ratio < (1.35 if inrun_drift else 1.2):
            suspect.append((name, oq[name], nq[name], gate))
            flag = f"  << suspect (anchor-mismatch, raw {ratio:.2f}x)"
        elif gate > hard_threshold:
            regressed.append((name, oq[name], nq[name], gate))
            flag = "  << REGRESSION"
        elif gate > args.threshold:
            suspect.append((name, oq[name], nq[name], gate))
            flag = f"  << suspect (min-of-{n_min}, low power)"
        elif gate < 1 / args.threshold:
            improved.append((name, oq[name], nq[name], gate))
            flag = "  improved"
        # min-of-N protocol changed for this query: the delta conflates
        # sample count with performance — annotate.
        if name in osamp and name in nsamp and osamp[name] != nsamp[name]:
            flag += f"  [samples {osamp[name]}->{nsamp[name]}]"
        norm_col = f" {gate:6.2f}x" if cal_ratio else ""
        print(
            f"{name:34s} {oq[name]:8.3f} {nq[name]:8.3f} "
            f"{ratio:6.2f}x{norm_col}{flag}"
        )

    gate_kind = "normalized" if cal_ratio else "raw"
    print(
        f"\ntotal: old={old.get('value')}s new={new.get('value')}s  "
        f"regressed>{args.threshold}x ({gate_kind}): {len(regressed)}  "
        f"suspect (low-sample/window/start-band/end-band/"
        f"anchor-mismatch): {len(suspect)}  "
        f"improved: {len(improved)}"
    )
    if regressed:
        return 1
    if suspect:
        waived = {
            part
            for item in args.allow_suspect
            for part in item.split(",")
            if part
        }
        suspect_names = {name for name, *_ in suspect}
        stale = sorted(waived - suspect_names)
        if stale:
            print(
                f"note: waived names not in the current suspect set "
                f"(stale waiver or typo): {', '.join(stale)}"
            )
        unwaived = sorted(suspect_names - waived)
        if args.allow_suspects:
            # Blanket waiver: loudly list exactly what it waived so an
            # unadjudicated flag cannot slip through unmentioned.
            print(
                f"--allow-suspects waived ALL {len(suspect_names)} "
                f"suspects: {', '.join(sorted(suspect_names))} — each "
                f"must have a recorded ab_bench verdict (prefer "
                f"--allow-suspect NAME to tie waivers to verdicts)"
            )
            return 0
        if not unwaived:
            print(
                f"all {len(suspect_names)} suspects individually "
                f"waived via --allow-suspect"
            )
            return 0
        print(
            f"exit 2: {len(unwaived)} suspect(s) need adjudication — "
            f"run tools/ab_bench.py on them, then re-run with "
            f"--allow-suspect NAME per adjudicated flag: "
            f"{', '.join(unwaived)}"
        )
        return 2
    return 0


if __name__ == "__main__":
    sys.exit(main())
