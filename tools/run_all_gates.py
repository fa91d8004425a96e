"""Run every local gate in order and print one verdict line per gate:

    freshness lint -> fuzz-ring lint -> oracle sweep (sf0.01) ->
    pytest -> perfbench's own tests -> bench (sf0.1) ->
    bench-diff vs the newest BENCH_r{N}

Usage: python tools/run_all_gates.py [--skip-bench] [--skip-tests]
Exit code: 0 iff every gate that ran passed.
"""

from __future__ import annotations

import argparse
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

# generous per-gate ceilings: a wedged Spark session used to block the
# runner forever with all output captured and nothing visible — a
# timeout converts the hang into a FAIL line (r10 review fix)
_TIMEOUTS = {
    "pytest": 3600,
    "bench": 2400,
    "oracle-sweep": 1800,
}


def run(name: str, cmd: list[str]) -> bool:
    t0 = time.perf_counter()
    try:
        proc = subprocess.run(
            cmd,
            cwd=ROOT,
            capture_output=True,
            text=True,
            check=False,
            timeout=_TIMEOUTS.get(name, 600),
        )
    except subprocess.TimeoutExpired as e:
        dt = time.perf_counter() - t0
        print(f"[FAIL] {name:14s} {dt:7.1f}s  TIMEOUT after {e.timeout}s")
        for part in (e.stdout, e.stderr):
            if part:
                text = part.decode() if isinstance(part, bytes) else part
                print("\n".join(text.splitlines()[-20:]))
        return False
    dt = time.perf_counter() - t0
    ok = proc.returncode == 0
    # show BOTH streams on failure: a gate that printed progress to
    # stdout and crashed with the traceback on stderr previously hid
    # the exception entirely (r7 review wave 6)
    combined = "\n".join(
        part.strip() for part in (proc.stdout, proc.stderr) if part and part.strip()
    )
    tail = combined.splitlines()
    last = tail[-1] if tail else ""
    # bench_diff exit 2 = suspects pending adjudication (r13): still a
    # gate failure, but labeled distinctly so the operator runs
    # tools/ab_bench.py instead of hunting a hard regression.
    verdict = "PASS" if ok else ("SUSP" if proc.returncode == 2 else "FAIL")
    print(f"[{verdict}] {name:14s} {dt:7.1f}s  {last}")
    if not ok:
        print("\n".join(tail[-40:]))
    return ok


def main() -> int:
    # argparse rejects mistyped flags instead of silently ignoring them
    # (a silently-ignored --skip-benchmark used to run the 150 s bench
    # the caller believed was skipped — r10 review fix)
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--skip-bench", action="store_true")
    ap.add_argument("--skip-tests", action="store_true")
    ap.add_argument(
        "--allow-suspects",
        action="store_true",
        help="pass --allow-suspects to the bench-diff gate — use only "
        "AFTER adjudicating the suspects with tools/ab_bench.py "
        "(prefer per-name --allow-suspect)",
    )
    ap.add_argument(
        "--allow-suspect",
        action="append",
        default=[],
        metavar="NAME",
        help="pass a per-name suspect waiver through to the bench-diff "
        "gate (repeatable; ties each waiver to a recorded ab_bench "
        "verdict instead of blanket-waiving)",
    )
    args = ap.parse_args()

    ok = run("freshness-lint", [sys.executable, "tools/freshness_lint.py"])
    ok &= run("fuzz-ring-lint", [sys.executable, "tools/fuzz_ring_lint.py"])
    ok &= run("oracle-sweep", [sys.executable, "tools/check_oracle.py"])
    if not args.skip_tests:
        ok &= run("pytest", [sys.executable, "-m", "pytest", "tests/", "-q"])
        ok &= run(
            "perfbench-tests",
            [sys.executable, "-m", "pytest", "perfbench/tests", "-q"],
        )
    if not args.skip_bench:
        ok &= run("bench", [sys.executable, "bench.py"])
        # bench.py exits 0 regardless of speed; the REGRESSION gate is
        # tools/bench_diff.py, previously wired to nothing here (r10
        # review fix): diff the newest driver record against the fresh
        # full detail the bench just wrote.
        import re

        rounds = sorted(
            (
                (int(m.group(1)), p.name)
                for p in ROOT.glob("BENCH_r*.json")
                if (m := re.search(r"BENCH_r(\d+)\.json$", p.name))
            ),
        )
        if rounds and (ROOT / "BENCH_DETAIL.json").exists():
            # keep the glob's own filename — round files are
            # zero-padded (BENCH_r09.json), reformatting the int lost
            # the padding and the diff gate failed on a missing file
            ok &= run(
                "bench-diff",
                [
                    sys.executable,
                    "tools/bench_diff.py",
                    rounds[-1][1],
                    "BENCH_DETAIL.json",
                ]
                + (["--allow-suspects"] if args.allow_suspects else [])
                + [
                    arg
                    for name in args.allow_suspect
                    for arg in ("--allow-suspect", name)
                ],
            )
    print("ALL GATES PASS" if ok else "GATE FAILURE")
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
