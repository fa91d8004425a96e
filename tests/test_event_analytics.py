"""Semantic pins for funnel and cohort-retention: the strict-ordering
and first-seen-bucketing behaviors the value-oracle can't distinguish
from plausible-but-wrong unordered formulations."""

from __future__ import annotations

from pyspark.sql import functions as F


def _funnel_core(e):
    """The funnel's stacked-aggregation core over a (user_id,
    event_type, ts) frame — mirrors analytics.funnel_conversions."""
    t1 = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t1")
    )
    t2 = (
        e.join(t1, "user_id")
        .groupBy("user_id", "t1")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("ts") > F.col("t1")),
                    F.col("ts"),
                )
            ).alias("t2")
        )
    )
    t3 = (
        e.join(t2, "user_id")
        .groupBy("user_id", "t1", "t2")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t2")),
                    F.col("ts"),
                )
            ).alias("t3")
        )
    )
    return t3.agg(
        F.count("t1").alias("n_step1"),
        F.count("t2").alias("n_step2"),
        F.count("t3").alias("n_step3"),
    )


def test_funnel_requires_strict_order(spark):
    """User A: view→click→purchase (full conversion). User B:
    purchase→view→click (purchase precedes the funnel → stops at
    click). User C: click only (never enters). An unordered conditional
    count would report B as converted."""
    rows = [
        (1, "view", 100), (1, "click", 200), (1, "purchase", 300),
        (2, "purchase", 50), (2, "view", 100), (2, "click", 200),
        (3, "click", 100),
    ]
    e = spark.createDataFrame(rows, ["user_id", "event_type", "ts"])
    got = _funnel_core(e).head()
    assert (got["n_step1"], got["n_step2"], got["n_step3"]) == (2, 2, 1)


def test_funnel_uses_earliest_qualifying_event(spark):
    """The stage-2 timestamp is the EARLIEST click after the first
    view — a later purchase between two clicks still converts."""
    rows = [
        (1, "view", 100), (1, "click", 150), (1, "purchase", 175), (1, "click", 200),
    ]
    e = spark.createDataFrame(rows, ["user_id", "event_type", "ts"])
    got = _funnel_core(e).head()
    assert (got["n_step1"], got["n_step2"], got["n_step3"]) == (1, 1, 1)


def test_cohort_retention_offsets(spark, sf_dir):
    """Every offset is ≥0 (nobody is active before their first-seen
    week) and each cohort's offset-0 cell equals its member count."""
    from kafka_streams_spark.operators.analytics import cohort_retention
    from kafka_streams_spark.sources.testdata import load_table

    ret = cohort_retention(spark, sf_dir).collect()
    assert all(r["week_offset"] >= 0 for r in ret)
    week0 = {r["cohort_week"]: r["n_users"] for r in ret if r["week_offset"] == 0}
    e = load_table(spark, sf_dir, "events")
    cohort_sizes = {
        r["cohort_week"]: r["n"]
        for r in e.groupBy("user_id")
        .agg(F.expr(f"min(ts) div {7*24*3600*10**9}").alias("cohort_week"))
        .groupBy("cohort_week")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    # offset-0 always exists per cohort: the first-seen event itself
    assert week0 == cohort_sizes


# ---------------------------------------------------------------------------
# event_transitions / rfm_scores (round-5 queue)
# ---------------------------------------------------------------------------


def test_event_transitions_probs(spark, sf_dir):
    from kafka_streams_spark.operators.analytics import event_transitions

    rows = event_transitions(spark, sf_dir).collect()
    assert rows, "testdata has multi-event users"
    from collections import defaultdict

    by_src = defaultdict(float)
    for r in rows:
        assert r["prob"] > 0
        by_src[r["event_type"]] += r["prob"]
    for src, total in by_src.items():
        assert abs(total - 1.0) < 1e-12, src


def test_event_transitions_crafted_sequence(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    # Model check on a crafted frame via the same lead-window shape:
    # user 1: a->b->a ; user 2: a->b  ==> a->b twice, b->a once.
    e = spark.createDataFrame(
        [(1, 1, 10, "a"), (2, 1, 20, "b"), (3, 1, 30, "a"), (4, 2, 5, "a"), (5, 2, 6, "b")],
        "event_id bigint, user_id bigint, ts bigint, event_type string",
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lead("event_type").over(w).alias("nxt")
    ).filter(F.col("nxt").isNotNull())
    got = {
        (r["event_type"], r["nxt"]): r["n"]
        for r in seq.groupBy("event_type", "nxt").agg(F.count("*").alias("n")).collect()
    }
    assert got == {("a", "b"): 2, ("b", "a"): 1}


def test_rfm_scores_shape(spark, sf_dir):
    from kafka_streams_spark.operators.analytics import rfm_scores

    rows = rfm_scores(spark, sf_dir).collect()
    users = [r["user_id"] for r in rows]
    assert len(users) == len(set(users))
    for col in ("r_score", "f_score", "m_score"):
        vals = [r[col] for r in rows]
        assert set(vals) <= {1, 2, 3, 4, 5}
        # ntile: bucket sizes differ by at most 1
        from collections import Counter

        sizes = Counter(vals).values()
        assert max(sizes) - min(sizes) <= 1
    # monotone: sorting by the metric never decreases the score
    by_freq = sorted(rows, key=lambda r: (r["frequency"], r["user_id"]))
    scores = [r["f_score"] for r in by_freq]
    assert scores == sorted(scores)


def test_rfm_scores_no_global_sort_window(spark, sf_dir):
    """Round-4 verdict "What's wrong #2": no literal ntile windows (each
    one plans a single-partition sort of |users| rows). The rank windows
    must be partitioned by the quantile bucket."""
    from kafka_streams_spark.operators.analytics import rfm_scores
    from kafka_streams_spark.plans.audit import audit

    a = audit(rfm_scores(spark, sf_dir))
    assert "ntile(" not in a.plan, a.plan
    assert "hashpartitioning(_bkt" in a.plan, a.plan


def test_rfm_scores_matches_exact_ntile_twin(spark, sf_dir):
    """The bucketed rank + ntile_from_rank must be bit-identical to the
    SQL ntile(5) OVER (ORDER BY dim, user_id) the oracle runs."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from kafka_streams_spark.operators.analytics import _cents, rfm_scores
    from kafka_streams_spark.sources.testdata import load_table

    e = load_table(spark, sf_dir, "events")
    pu = e.groupBy("user_id").agg(
        F.max("ts").cast("bigint").alias("recency_ns"),
        F.count("*").cast("bigint").alias("frequency"),
        F.sum(_cents("value")).cast("bigint").alias("monetary_cents"),
    )
    twin = (
        pu.withColumn(
            "r_score", F.ntile(5).over(Window.orderBy("recency_ns", "user_id"))
        )
        .withColumn(
            "f_score", F.ntile(5).over(Window.orderBy("frequency", "user_id"))
        )
        .withColumn(
            "m_score",
            F.ntile(5).over(Window.orderBy("monetary_cents", "user_id")),
        )
    )
    got = [r.asDict() for r in rfm_scores(spark, sf_dir).orderBy("user_id").collect()]
    want = [r.asDict() for r in twin.orderBy("user_id").collect()]
    assert got == want


def test_rfm_scores_rank_in_bigint(spark, sf_dir):
    """Each dimension's rank adds its bucket offset to row_number() in
    bigint (an int sum overflows past 2^31 users under ANSI mode): the
    analyzed plan widens every row_number() operand of an add."""
    import re

    from kafka_streams_spark.operators.analytics import rfm_scores

    plan = rfm_scores(spark, sf_dir)._jdf.queryExecution().analyzed().toString()
    assert not re.findall(r"\+ _we\d+#\d+\)", plan)
    assert len(re.findall(r"\+ cast\(_we\d+#\d+ as bigint\)\)", plan)) >= 3


def test_ntile_from_rank_matches_sql_ntile(spark):
    """ntile_from_rank == the ntile window function for every n in
    1..23 and tiles in (2, 5, 7) — including n < tiles."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from kafka_streams_spark.functions.partitioning import ntile_from_rank

    for tiles in (2, 5, 7):
        rows = [(n, r) for n in range(1, 24) for r in range(1, n + 1)]
        df = spark.createDataFrame(rows, "n bigint, r bigint")
        w = Window.partitionBy("n").orderBy("r")
        cmp = df.select(
            "n",
            "r",
            ntile_from_rank(F.col("r"), F.col("n"), tiles).alias("got"),
            F.ntile(tiles).over(w).alias("want"),
        )
        bad = cmp.filter(F.col("got") != F.col("want")).collect()
        assert not bad, (tiles, bad[:5])


def test_events_props_profile_counts_malformed_as_null(spark):
    """from_json with an explicit schema quarantines malformed/missing
    payloads as NULL extractions — counted, never dropped."""
    from pyspark.sql import functions as F

    e = spark.createDataFrame(
        [
            (1, "click", '{"k": 5}'),
            (2, "click", "not json"),
            (3, "click", None),
            (4, "view", '{"other": 1}'),
            (5, "view", '{"k": 7}'),
        ],
        "event_id bigint, event_type string, props string",
    )
    k = F.from_json(F.col("props"), "struct<k: bigint>")["k"]
    got = {
        r["event_type"]: (r["n_null"], r["sum_k"])
        for r in e.select("event_type", k.alias("_k"))
        .groupBy("event_type")
        .agg(
            F.sum(F.col("_k").isNull().cast("bigint")).alias("n_null"),
            F.coalesce(F.sum("_k"), F.lit(0)).alias("sum_k"),
        )
        .collect()
    }
    assert got == {"click": (2, 5), "view": (1, 7)}


def test_events_props_profile_shape(spark, sf_dir):
    from kafka_streams_spark.operators.analytics import events_props_profile
    from kafka_streams_spark.plans.audit import audit

    df = events_props_profile(spark, sf_dir)
    a = audit(df)
    assert a.has_partial_aggregation, a.plan
    assert "BatchEvalPython" not in a.plan and "ArrowEvalPython" not in a.plan
    rows = df.collect()
    assert rows and all(r["n_null_props"] == 0 for r in rows)


def test_session_native_agrees_with_lag_form(spark, sf_dir):
    """The native F.session_window contract and the lag+cumsum
    sessionizer must induce the SAME session partition of events:
    per user, identical session count and identical (n_events,
    first_event) multisets. (Both use the boundary-inclusive merge —
    diff <= gap stays in-session.)"""
    from collections import Counter

    from kafka_streams_spark.operators.analytics import (
        events_session_native,
        sessionize_events,
    )

    native = events_session_native(spark, sf_dir)
    lagf = sessionize_events(spark, sf_dir)

    n_native = {
        (r["user_id"]): r["n"]
        for r in native.groupBy("user_id").count().withColumnRenamed("count", "n").collect()
    }
    n_lag = {
        (r["user_id"]): r["n"]
        for r in lagf.groupBy("user_id").count().withColumnRenamed("count", "n").collect()
    }
    assert n_native == n_lag

    m_native = Counter(
        (r["user_id"], r["n_events"], r["first_event"]) for r in native.collect()
    )
    m_lag = Counter(
        (r["user_id"], r["n_events"], r["first_event"]) for r in lagf.collect()
    )
    assert m_native == m_lag


def test_session_native_boundary_inclusive(spark, tmp_path):
    """An event exactly gap after the previous one MERGES (Spark's
    session_window close rule is exclusive of the instant end); one
    microsecond later starts a new session. End = last event + gap."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    gap_us = 30 * 60 * 1_000_000
    base = 1_700_000_000_000_000_000  # ns
    rows = pd.DataFrame(
        {
            "event_id": [1, 2, 3],
            "ts": [
                base,
                base + gap_us * 1000,              # exactly gap later -> merges
                base + (2 * gap_us + 1) * 1000,    # 1 us past gap -> new session
            ],
            "user_id": [42, 42, 42],
            "event_type": ["view"] * 3,
            "value": [1.0] * 3,
            "props": [None] * 3,
        }
    )
    tbl = pa.Table.from_pandas(rows)
    tbl = tbl.set_column(
        tbl.schema.get_field_index("ts"),
        pa.field("ts", pa.timestamp("ns")),
        tbl["ts"].cast(pa.timestamp("ns")),
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"))

    from kafka_streams_spark.operators.analytics import events_session_native

    got = sorted(
        (r["session_start_us"], r["session_end_us"], r["n_events"])
        for r in events_session_native(spark, str(tmp_path)).collect()
    )
    b_us = base // 1000
    assert got == [
        (b_us, b_us + 2 * gap_us, 2),
        (b_us + 2 * gap_us + 1, b_us + 3 * gap_us + 1, 1),
    ]


def test_events_rate_anomaly_flags_burst_hour(spark, tmp_path):
    """A 50x burst hour is flagged; steady hours are not."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    hour_ns = 3_600_000_000_000
    base = 1_700_000_000_000_000_000
    base_hour = base // hour_ns
    rows = []
    eid = 0
    for h in range(9):          # steady: 2 events/hour
        for i in range(2):
            rows.append((eid, base + h * hour_ns + i, 1, "view", 1.0, None))
            eid += 1
    for i in range(100):        # burst hour
        rows.append((eid, base + 9 * hour_ns + i, 1, "view", 1.0, None))
        eid += 1
    df = pd.DataFrame(rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"])
    tbl = pa.Table.from_pandas(df)
    tbl = tbl.set_column(
        tbl.schema.get_field_index("ts"),
        pa.field("ts", pa.timestamp("ns")),
        tbl["ts"].cast(pa.timestamp("ns")),
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"))

    from kafka_streams_spark.operators.analytics import events_rate_anomaly

    got = events_rate_anomaly(spark, str(tmp_path)).collect()
    assert [(r["event_type"], r["epoch_hour"], r["n_events"]) for r in got] == [
        ("view", base_hour + 9, 100)
    ]


def test_events_dead_hours_finds_gap(spark, tmp_path):
    """A silent hour inside the active range is reported; hours outside
    the range are not."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    hour_ns = 3_600_000_000_000
    base = 1_700_000_000_000_000_000
    base_hour = base // hour_ns
    # events in hours 0,1,3,4 -> hour 2 is dead air
    rows = [
        (i, base + h * hour_ns, 1, "view", 1.0, None)
        for i, h in enumerate([0, 1, 3, 4])
    ]
    df = pd.DataFrame(rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"])
    tbl = pa.Table.from_pandas(df)
    tbl = tbl.set_column(
        tbl.schema.get_field_index("ts"),
        pa.field("ts", pa.timestamp("ns")),
        tbl["ts"].cast(pa.timestamp("ns")),
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"))

    from kafka_streams_spark.operators.analytics import events_dead_hours

    got = [(r["event_type"], r["epoch_hour"]) for r in events_dead_hours(spark, str(tmp_path)).collect()]
    assert got == [("view", base_hour + 2)]


def test_time_bucket_null_and_negative_semantics(spark):
    """r10 twin-blind review pins for the event-analytics family:

    - time buckets FLOOR (the pmod idiom) instead of truncating, so
      pre-epoch timestamps bucket correctly and hour 0 is not
      double-width;
    - events_hopping excludes NULL-ts events (each used to fan out x4
      into one NULL window);
    - q12 routes NULL ship delays to 'unknown' instead of the fastest
      bucket;
    - rfm scores all-NULL spend as 0 and skips users with no recency."""
    from kafka_streams_spark.operators.analytics import (
        events_hopping,
        events_hourly,
        q12_ship_delay,
    )

    sf = str  # signature compat: these take (spark, sf_dir)
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        # values are us-aligned: load_table normalizes long ts to
        # microsecond precision before any bucketing
        rows = [
            (1, -1_000, 1, "click", 1.0, None),      # pre-epoch: hour -1
            (2, 1_000, 1, "click", 1.0, None),       # hour 0
            (3, None, 1, "click", 1.0, None),        # NULL ts
            (4, 3_600_000_000_000, 1, "click", 1.0, None),  # hour 1
        ]
        spark.createDataFrame(
            rows,
            "event_id bigint, ts bigint, user_id bigint, event_type string,"
            " value double, props string",
        ).write.parquet(os.path.join(d, "events.parquet"))

        hours = {
            r["epoch_hour"]: r["n_events"]
            for r in events_hourly(spark, d).collect()
        }
        # floor: ts=-1 is hour -1, not hour 0 (div truncation merged them)
        assert hours[-1] == 1 and hours[0] == 1 and hours[1] == 1
        assert hours[None] == 1

        hop = events_hopping(spark, d).collect()
        assert all(r["win_start_ns"] is not None for r in hop)
        assert sum(r["n_events"] for r in hop) == 3 * 4  # 3 timed events x4

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            [(1, None), (2, "1995-01-05")],
            "l_orderkey bigint, d string",
        ).select(
            "l_orderkey", F.to_timestamp("d").alias("l_shipdate")
        ).write.parquet(os.path.join(d, "lineitem.parquet"))
        spark.createDataFrame(
            [(1, "1995-01-01", "1-URGENT"), (2, "1995-01-01", "5-LOW")],
            "o_orderkey bigint, od string, o_orderpriority string",
        ).select(
            "o_orderkey",
            F.to_timestamp("od").alias("o_orderdate"),
            "o_orderpriority",
        ).write.parquet(os.path.join(d, "orders.parquet"))
        buckets = {
            r["delay_bucket"]: (r["high_line_count"], r["low_line_count"])
            for r in q12_ship_delay(spark, d).collect()
        }
        assert buckets == {"unknown": (1, 0), "0-30": (0, 1)}
