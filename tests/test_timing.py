"""The shared timed-run protocol (``tools/timing.py``) on the session
fixture: what ``timed`` clears and runs, and which queries ``warm``
picks for a data dir. No child session is started."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tools.timing import timed, warm  # noqa: E402


def test_timed_clears_cache_before_one_build(spark):
    spark.range(10).createOrReplaceTempView("timing_cached")
    spark.catalog.cacheTable("timing_cached")
    assert spark.catalog.isCached("timing_cached")
    cached_during_build = []

    def build():
        cached_during_build.append(spark.catalog.isCached("timing_cached"))
        return spark.range(5)

    try:
        secs = timed(spark, build)
        assert cached_during_build == [False]
        assert not spark.catalog.isCached("timing_cached")
        assert secs > 0
    finally:
        spark.catalog.dropTempView("timing_cached")


class _RecordingQueries:
    """A stand-in for ``__spark_entry__.queries()`` that records which
    names were built and with which data dir."""

    def __init__(self):
        self.built = []

    def __getitem__(self, name):
        def build(spark, sf_dir):
            self.built.append((name, sf_dir))
            return spark.range(1)

        return build


def test_warm_follows_the_data_dir(spark, tmp_path):
    full, docs_only = tmp_path / "full", tmp_path / "docs_only"
    full.mkdir()
    docs_only.mkdir()
    (full / "events.parquet").mkdir()

    qs = _RecordingQueries()
    warm(spark, qs, str(full))
    assert qs.built == [
        ("payments_balances", str(full)),
        ("repetition_stats", str(full)),
    ]

    qs = _RecordingQueries()
    warm(spark, qs, str(docs_only))
    assert qs.built == [
        ("minhash_jaccard_est", str(docs_only)),
        ("repetition_stats", str(docs_only)),
    ]
