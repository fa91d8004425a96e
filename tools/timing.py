"""The timed-run protocol, in one place. ``bench.py``,
``tools/ab_bench.py``, ``tools/profile_query.py`` and
``tools/scale_check.py`` all time a query through it.

- ``timed``: ``clearCache()``, build the DataFrame, write it to the
  ``noop`` sink; the wall seconds of build + write. The clean cache
  keeps blocks a previous query persisted from shrinking execution
  memory for the next one (measured +3-6 s on the MinHash query).
  Construction-time driver jobs are inside the timed region.
- ``best_of``: the min of ``n`` back-to-back ``timed`` runs.
- ``warm``: the session warmup, so that no timed query pays one-time
  JVM/codegen/parquet-footer cost or Python-worker pool startup.
  ``payments_balances`` when the data dir has ``events.parquet``,
  ``minhash_jaccard_est`` (documents only, like the sf1 scale data)
  when it does not; then ``repetition_stats`` for the Arrow pool.
- ``time_in_child``: one fresh session in a subprocess on another
  tree (an A/B side, one scale of the sf panel): warm, then
  best-of-``_CHILD_SAMPLES`` per query.

Run as a script, this file is that child:
``python tools/timing.py REPO SF_DIR QUERY [QUERY ...]``. ``REPO``
goes first on ``sys.path``, so the child loads that tree's engine and
contracts and this file's protocol. It prints one line,
``TIMING_JSON {"<query>": <best-of-2 seconds>, ...}``.

The engine is imported only in the child and in the callers.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

_MARK = "TIMING_JSON "
_CHILD_SAMPLES = 2


def timed(spark, build) -> float:
    spark.catalog.clearCache()
    t0 = time.perf_counter()
    build().write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def best_of(spark, build, n: int) -> float:
    return min(timed(spark, build) for _ in range(n))


def _best_of_query(spark, qs, name: str, sf_dir: str, n: int) -> float:
    """``best_of`` on a registered query; a failure names the query."""
    try:
        return best_of(spark, lambda: qs[name](spark, sf_dir), n)
    except Exception as exc:
        exc.add_note(f"while timing query {name!r} at {sf_dir}")
        raise


def warm(spark, qs, sf_dir: str) -> None:
    has_events = os.path.exists(os.path.join(sf_dir, "events.parquet"))
    first = "payments_balances" if has_events else "minhash_jaccard_est"
    for name in (first, "repetition_stats"):
        _best_of_query(spark, qs, name, sf_dir, 1)


def time_in_child(
    repo: str, sf_dir: str, names: list[str], timeout: float | None = None
) -> dict[str, float]:
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), repo, sf_dir, *names],
        capture_output=True,
        text=True,
        timeout=timeout,
    )
    for line in proc.stdout.splitlines():
        if line.startswith(_MARK):
            return json.loads(line[len(_MARK):])
    raise SystemExit(
        f"timed run in {repo} at {sf_dir} failed:\n"
        f"{proc.stdout[-2000:]}\n{proc.stderr[-4000:]}"
    )


def _child(repo: str, sf_dir: str, names: list[str]) -> None:
    sys.path.insert(0, repo)
    os.chdir(repo)
    import __spark_entry__ as e
    from kafka_streams_spark import get_spark

    spark = get_spark(app_name="timed-run")
    qs = e.queries()
    warm(spark, qs, sf_dir)
    out = {
        name: round(_best_of_query(spark, qs, name, sf_dir, _CHILD_SAMPLES), 3)
        for name in names
    }
    print(_MARK + json.dumps(out))


if __name__ == "__main__":
    _child(sys.argv[1], sys.argv[2], sys.argv[3:])
