"""Skew-mitigation utilities: salted aggregation and salted join must be
result-identical to their direct forms, with the salted plan shapes."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from kafka_streams_spark.functions.partitioning import salted_aggregate, salted_join
from kafka_streams_spark.plans import audit


def _skewed(spark):
    # one hot key (90% of rows) + a long tail
    hot = spark.range(9000).select(
        F.lit("HOT").alias("k"), (F.col("id") % 97).alias("v")
    )
    tail = spark.range(1000).select(
        F.concat(F.lit("t"), (F.col("id") % 50).cast("string")).alias("k"),
        (F.col("id") % 31).alias("v"),
    )
    return hot.unionByName(tail)


def test_salted_aggregate_matches_direct(spark):
    df = _skewed(spark)
    direct = {
        r["k"]: (r["s"], r["c"], r["mn"], r["mx"])
        for r in df.groupBy("k")
        .agg(
            F.sum("v").alias("s"),
            F.count("*").alias("c"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
        )
        .collect()
    }
    salted = {
        r["k"]: (r["s"], r["c"], r["mn"], r["mx"])
        for r in salted_aggregate(
            df,
            ["k"],
            [("v", "sum", "s"), ("v", "count", "c"), ("v", "min", "mn"), ("v", "max", "mx")],
            salt_buckets=8,
        ).collect()
    }
    assert salted == direct


def test_salted_aggregate_two_stage_plan(spark):
    df = _skewed(spark)
    a = audit(salted_aggregate(df, ["k"], [("v", "sum", "s")], salt_buckets=8))
    # stage-1 (keys+salt) exchange and stage-2 (keys) exchange
    assert a.num_exchanges == 2, a.plan
    assert a.has_partial_aggregation


def test_salted_aggregate_rejects_non_decomposable(spark):
    df = _skewed(spark)
    import pytest

    with pytest.raises(ValueError):
        salted_aggregate(df, ["k"], [("v", "avg", "a")])


def test_salted_join_matches_direct(spark):
    big = _skewed(spark)
    small = spark.createDataFrame(
        [("HOT", "hot-meta")] + [(f"t{i}", f"m{i}") for i in range(50)],
        ["k", "meta"],
    )
    direct = sorted(
        (r["k"], r["v"], r["meta"]) for r in big.join(small, "k").collect()
    )
    salted = sorted(
        (r["k"], r["v"], r["meta"])
        for r in salted_join(big, small, ["k"], salt_buckets=4).collect()
    )
    assert salted == direct

def test_salted_join_rejects_right_and_full_outer():
    """The replicated small side would emit unmatched small-side rows
    once per salt bucket under right/full outer — refuse them."""
    import pytest

    with pytest.raises(ValueError, match="salted_join supports"):
        salted_join(None, None, ["k"], how="right")
    with pytest.raises(ValueError, match="salted_join supports"):
        salted_join(None, None, ["k"], how="full_outer")


def test_spread_does_not_materialize_grouped_pandas(spark):
    """r10 review fix: FlatMapGroupsInPandas plans carry a pending
    exchange but matched none of spread()'s shuffle tokens, so the
    .rdd partition-count probe executed the full grouped-pandas stage
    at construction time (and the real action ran it again)."""
    from pyspark.sql import functions as F

    from kafka_streams_spark.functions.partitioning import spread
    from kafka_streams_spark.plans.audit import jobs_run_during

    df = spark.createDataFrame([(1, 2.0), (1, 3.0)], "k bigint, v double")

    def fn(pdf):
        return pdf

    grouped = df.groupBy("k").applyInPandas(fn, "k bigint, v double")
    out, jobs = jobs_run_during(spark, lambda: spread(grouped))
    assert jobs == 0  # construction must not execute the pipeline
    assert out.count() == 2  # and the result still runs correctly


def test_spread_guards_bare_python_stages(spark):
    """r14 verdict item 4: the probe guard covered only the GROUPED
    pandas nodes — a frame whose optimized plan carries a bare
    MapInPandas / MapInArrow / extracted scalar-UDF stage must also be
    returned untouched (no .rdd probe, no repartition, zero jobs): the
    parallelism floor belongs on the Python stage's INPUT, never its
    output."""
    from pyspark.sql import functions as F

    from kafka_streams_spark.functions.partitioning import spread
    from kafka_streams_spark.plans.audit import jobs_run_during

    df = spark.createDataFrame([(1, 2.0), (2, 3.0)], "k bigint, v double")

    def fn(it):
        for pdf in it:
            yield pdf

    for frame in (
        df.mapInPandas(fn, "k bigint, v double"),
        df.mapInArrow(fn, "k bigint, v double"),
        df.select(F.udf(lambda x: x + 1, "bigint")("k").alias("k2")),
    ):
        out, jobs = jobs_run_during(spark, lambda f=frame: spread(f))
        assert jobs == 0, "construction must not execute the Python stage"
        assert out is frame, "spread must be a no-op on a Python-stage frame"


def test_floor_width_takes_max_of_cores_and_shuffle_partitions(spark, sf_dir):
    """r14 verdict item 5: on a real cluster spark.sql.shuffle.partitions
    is tuned >> cores; the parallelism floor must never LOWER the width
    the cluster would have chosen. floor_width = max(defaultParallelism,
    shuffle.partitions), and spread() repartitions to it."""
    from kafka_streams_spark.functions.partitioning import floor_width, spread

    dp = spark.sparkContext.defaultParallelism
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(dp * 4))
        assert floor_width(spark) == dp * 4
        widened = spread(spark.read.parquet(
            f"{sf_dir}/documents.parquet"
        ).select("doc_id"))
        assert widened.rdd.getNumPartitions() == dp * 4
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_grouped_exact_percentiles_matches_holistic(spark, sf_dir):
    """The rank-based grouped percentile must be BIT-identical to the
    holistic SQL `percentile` aggregate it replaced (r15 verdict item
    7) — interpolation arithmetic included."""
    from kafka_streams_spark.functions.partitioning import (
        grouped_exact_percentiles,
    )

    l = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    ps = [0.25, 0.5, 0.75, 0.95]
    old = {
        r["l_returnflag"]: [r["_q"][i] for i in range(4)]
        for r in l.groupBy("l_returnflag")
        .agg(
            F.expr(
                "percentile(l_extendedprice, array(0.25D, 0.5D, 0.75D, 0.95D))"
            ).alias("_q")
        )
        .collect()
    }
    new = {
        r["l_returnflag"]: [r[f"q{i}"] for i in range(4)]
        for r in grouped_exact_percentiles(
            l, "l_returnflag", "l_extendedprice", ps
        ).collect()
    }
    assert old == new  # exact equality, no tolerance


def test_grouped_exact_percentiles_degenerate_groups(spark):
    """Constant-valued groups, single-row groups, duplicate values at
    the rank boundary, and NULLs must all reproduce `percentile`."""
    from kafka_streams_spark.functions.partitioning import (
        grouped_exact_percentiles,
    )

    rows = (
        [("const", 7.0)] * 50
        + [("single", 3.25)]
        + [("ties", float(v)) for v in [1, 1, 1, 2, 2, 3, 3, 3, 3, 4]]
        + [("nulls", None), ("nulls", 1.0), ("nulls", 2.0), ("nulls", None)]
        + [("all_null", None), ("all_null", None)]
    )
    df = spark.createDataFrame(rows, "g string, v double")
    ps = [0.1, 0.5, 0.9]
    old = {
        r["g"]: ([None] * 3 if r["_q"] is None else [r["_q"][i] for i in range(3)])
        for r in df.groupBy("g")
        .agg(F.expr("percentile(v, array(0.1D, 0.5D, 0.9D))").alias("_q"))
        .collect()
    }
    new = {
        r["g"]: [r[f"q{i}"] for i in range(3)]
        for r in grouped_exact_percentiles(df, "g", "v", ps).collect()
    }
    assert old == new


def test_grouped_exact_percentiles_null_group_key(spark):
    """A NULL group key is a group of its own, as in the holistic
    `percentile` aggregate — including a NULL-keyed group whose values
    are all NULL."""
    from kafka_streams_spark.functions.partitioning import (
        grouped_exact_percentiles,
    )

    rows = (
        [(None, float(v)) for v in [5, 1, 4, 2, 3, 9]]
        + [("a", float(v)) for v in [10, 20, 30]]
        + [("b", None), ("b", 7.0)]
    )
    df = spark.createDataFrame(rows, "g string, v double")
    ps = [0.1, 0.5, 0.9]
    holistic = {
        r["g"]: [r["_q"][i] for i in range(3)]
        for r in df.groupBy("g")
        .agg(F.expr("percentile(v, array(0.1D, 0.5D, 0.9D))").alias("_q"))
        .collect()
    }
    got = {
        r["g"]: [r[f"q{i}"] for i in range(3)]
        for r in grouped_exact_percentiles(df, "g", "v", ps).collect()
    }
    assert None in got
    assert got == holistic

    all_null = spark.createDataFrame(
        [(None, None), (None, None), ("a", 1.0)], "g string, v double"
    )
    got = {
        r["g"]: r["q0"]
        for r in grouped_exact_percentiles(all_null, "g", "v", [0.5]).collect()
    }
    assert got == {None: None, "a": 1.0}


def test_offset_row_number_is_bigint_past_2_31(spark):
    """A bucket offset near 2^31 plus the local row_number() stays exact
    under ANSI mode: the sum is bigint, so it cannot overflow int."""
    from pyspark.sql import Window

    from kafka_streams_spark.functions.partitioning import offset_row_number

    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        df = spark.createDataFrame([("a", i) for i in range(3)], "b string, v int")
        rk = offset_row_number(
            F.lit(2**31 - 2), Window.partitionBy("b").orderBy("v")
        )
        out = df.select("v", rk.alias("rk"))
        assert dict(out.dtypes)["rk"] == "bigint"
        assert sorted((r["v"], r["rk"]) for r in out.collect()) == [
            (0, 2**31 - 1),
            (1, 2**31),
            (2, 2**31 + 1),
        ]
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_grouped_exact_percentiles_rank_in_bigint(spark):
    """The per-bucket rank adds its offset to row_number() in bigint:
    the analyzed plan widens every row_number() operand of an add."""
    from kafka_streams_spark.functions.partitioning import (
        grouped_exact_percentiles,
    )

    df = spark.createDataFrame(
        [(g, float(v)) for g in ("a", "b") for v in range(50)], "g string, v double"
    )
    plan = (
        grouped_exact_percentiles(df, "g", "v", [0.5, 0.9])
        ._jdf.queryExecution()
        .analyzed()
        .toString()
    )
    assert not re.findall(r"\+ _we\d+#\d+\)", plan), plan
    assert re.findall(r"\+ cast\(_we\d+#\d+ as bigint\)\)", plan), plan


def test_grouped_exact_percentiles_no_holistic_sort(spark, sf_dir):
    """The plan must contain no `percentile` aggregate (holistic buffer
    = the group's full multiset) and no unpartitioned sort; the only
    windows are partitioned by (group, bucket)."""
    from kafka_streams_spark.functions.partitioning import (
        grouped_exact_percentiles,
    )

    l = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    out = grouped_exact_percentiles(
        l, "l_returnflag", "l_extendedprice", [0.25, 0.5]
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "percentile(" not in plan, plan[:2000]
    # Window [exprs], [partitionSpec], [orderSpec]: every window is
    # partitioned, and by the group column first — never global
    specs = re.findall(
        r"\bWindow \[.*\], \[([^\[\]]*)\], \[[^\[\]]*\]\s*$", plan, re.M
    )
    assert specs, plan[:2000]
    assert all(re.match(r"l_returnflag#\d+, ", spec) for spec in specs), specs


def test_price_quantiles_dispatch(spark, sf_dir, monkeypatch):
    """The contract dispatches physical forms on scan row count (no
    job): holistic `percentile` below the threshold, the rank-based
    form above — output value-identical either way."""
    from kafka_streams_spark.operators import analytics as A

    small = A.price_quantiles(spark, sf_dir)
    plan_small = small._jdf.queryExecution().executedPlan().toString()
    assert "percentile(" in plan_small  # below threshold: holistic

    monkeypatch.setattr(A, "PERCENTILE_HOLISTIC_MAX_ROWS", 0)
    big = A.price_quantiles(spark, sf_dir)
    plan_big = big._jdf.queryExecution().executedPlan().toString()
    assert "percentile(" not in plan_big  # above threshold: rank form

    key = lambda rows: {
        r["l_returnflag"]: (r["p25"], r["p50"], r["p75"], r["p95"]) for r in rows
    }
    assert key(small.collect()) == key(big.collect())  # exact equality
