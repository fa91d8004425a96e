"""Partition-shape helpers: parallelism floors and skew mitigation.

Skew policy, in order of preference:
1. AQE skew-join splitting (`spark.sql.adaptive.skewJoin.enabled`, on by
   default in session.get_spark) — zero code, handles join-side skew by
   splitting oversized partitions at runtime.
2. `salted_aggregate` — for aggregation skew AQE can't split (a single
   reduce key with a billion rows lands on one task no matter how
   partitions are drawn): two-stage agg over a synthetic salt.
3. `salted_join` — for join skew where AQE's split heuristics don't
   trigger (e.g. one hot key dominating, non-sort-merge plans):
   replicate the small side per salt bucket, spread the big side's hot
   rows across buckets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, WindowSpec
from pyspark.sql import functions as F

# Self-decomposable aggregates: stage-2 recombiner for each stage-1 agg.
_RECOMBINE = {
    "sum": F.sum,
    "count": F.sum,  # counts recombine by summing partial counts
    "min": F.min,
    "max": F.max,
}


def salted_aggregate(
    df: DataFrame,
    keys: list[str],
    aggs: list[tuple[str, str, str]],
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-stage aggregation for skewed grouping keys.

    ``aggs`` is ``[(col, fn, alias)]`` with fn ∈ {sum, count, min, max}
    (the self-decomposable aggregates; express avg as sum+count and
    divide). Stage 1 groups by (keys + random salt) — the hot key's rows
    split across ``salt_buckets`` tasks; stage 2 groups the tiny partial
    table by the real keys and recombines.

    Shape: shuffle 1 carries (keys, salt)-partials (map-side combine
    still applies), shuffle 2 carries ≤ salt_buckets rows per key. Same
    result as a direct groupBy for any input — salting is safe always,
    just pointless without skew.
    """
    for _, fn, _ in aggs:
        if fn not in _RECOMBINE:
            raise ValueError(f"{fn} is not self-decomposable; use sum/count/min/max")
    salt = (F.rand(seed=7) * salt_buckets).cast("int").alias("_salt")
    # count MUST count the NAMED column (SQL count(col) skips NULLs);
    # count(*) here silently inflated nullable-column counts vs the
    # direct groupBy the docstring promises to match (r7 review wave 5)
    stage1 = df.withColumn("_salt", salt).groupBy(*keys, "_salt").agg(
        *[
            getattr(F, fn)(c).alias(f"_p_{alias}")
            for c, fn, alias in aggs
        ]
    )
    return stage1.groupBy(*keys).agg(
        *[
            _RECOMBINE[fn](f"_p_{alias}").alias(alias)
            for _, fn, alias in aggs
        ]
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: list[str],
    salt_buckets: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with hot-key salting: the big side gets a random salt in
    [0, salt_buckets); the small side is replicated once per salt value
    (explode of a literal range — ``salt_buckets × |small|`` rows, so
    keep the small side genuinely small). The join key becomes
    (on..., salt), spreading any hot key over ``salt_buckets`` tasks.

    Prefer plain ``broadcast(small)`` when the small side fits in memory
    — salting only beats it when the small side is too big to broadcast
    AND a hot key breaks the shuffled join.

    ``how`` is restricted to joins where only the big side's rows can
    appear unmatched: the small side is replicated per salt bucket, so
    right/full outer would emit each unmatched small-side row
    ``salt_buckets`` times."""
    allowed = {"inner", "left", "left_outer", "left_semi", "left_anti"}
    if how not in allowed:
        raise ValueError(
            f"salted_join supports {sorted(allowed)}; got {how!r} — the "
            "replicated small side would duplicate unmatched rows under "
            "right/full outer joins"
        )
    salted_big = big.withColumn("_salt", (F.rand(seed=11) * salt_buckets).cast("int"))
    salted_small = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    )
    out = salted_big.join(salted_small, [*on, "_salt"], how)
    return out.drop("_salt")


def floor_width(spark) -> int:
    """Scale-safe parallelism floor: ``max(defaultParallelism,
    spark.sql.shuffle.partitions)`` (r14 verdict item 5 / ADVICE).

    ``defaultParallelism`` alone is total CORES — on a real cluster a
    tuned ``spark.sql.shuffle.partitions`` is typically ≫ cores exactly
    because large shuffles need more, smaller partitions (guide §5
    spill); a floor pinned to cores would *lower* the width the cluster
    would otherwise have chosen for e.g. the exploded-shingle shuffle
    (~10× corpus bytes at 100 TB → multi-GB partitions and spill).
    Taking the max can only ever RAISE a width. Dynamic-allocation
    caveat: defaultParallelism is computed from the executors present
    at context start, another reason not to trust it as an upper bound.
    At local[N] both values are N (session.get_spark sets
    shuffle.partitions = cpus), so local plans are unchanged.
    Non-numeric values of the conf (e.g. "auto" on some platforms) fall
    back to defaultParallelism alone."""
    try:
        sp = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        sp = 0
    return max(spark.sparkContext.defaultParallelism, sp)


def spread(df: DataFrame, by: str | None = None) -> DataFrame:
    """Ensure at least :func:`floor_width` parallelism — max(default
    parallelism, shuffle partitions) — before a CPU-heavy stage
    (explode, pair join, signature computation).

    Small inputs (one parquet file → one partition) otherwise serialize
    the whole downstream pipeline onto a single task. The repartition is
    applied only when the plan's current partitioning is below the
    default parallelism, so at real scale — where scans already produce
    thousands of splits — this is a no-op and costs no shuffle.

    The partition-count probe (`.rdd.getNumPartitions`) runs ONLY on
    shuffle-free plans: under AQE, converting a plan with pending
    exchanges to an RDD MATERIALIZES those stages at construction time
    — the probe itself would run the query once before the real action
    runs it again (r7 review wave 5, verified). A frame downstream of
    any shuffle already has AQE-managed parallelism, so spread is a
    no-op there by design, not just by guard.
    """
    target = floor_width(df.sparkSession)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    shuffling = (
        "Aggregate",
        "Join",
        "Window",
        "Repartition",
        "Deduplicate",
        "Sort",
        "GlobalLimit",
        # grouped/cogrouped pandas and offset plans exchange too — with
        # none of the tokens above, the .rdd probe below would
        # materialize (and so execute) the pending stage at construction
        # time, the exact double-execution this guard exists to prevent
        # (r10 review fix)
        "FlatMapGroupsInPandas",
        "FlatMapCoGroupsInPandas",
        "Offset",
        # bare Python stages (r14 verdict item 4: the guard above
        # covered only the GROUPED pandas nodes): a map-side
        # MapInPandas/MapInArrow or an extracted scalar/pandas UDF
        # (BatchEvalPython/ArrowEvalPython below a pythonUDF Project in
        # the optimized plan — Spark 4 extracts them before physical
        # planning) must never be probed with .rdd either; a floor on
        # such a frame is wrong anyway — the floor belongs on the
        # Python stage's INPUT, which is where every call site puts it.
        "MapInPandas",
        "MapInArrow",
        "BatchEvalPython",
        "ArrowEvalPython",
        "pythonUDF",
    )
    if any(tok in plan for tok in shuffling):
        return df
    if df.rdd.getNumPartitions() >= target:
        return df
    if by is not None:
        return df.repartition(target, F.col(by))
    return df.repartition(target)


def materialize_shared(df: DataFrame) -> DataFrame:
    """Lazy local checkpoint for a subtree consumed by MULTIPLE
    downstream branches. Spark re-executes such a subtree once per
    consumer: exchange reuse cannot prove canonical equality for
    subtrees containing an Arrow/Python stage, and usually not even for
    pure-expression subtrees (each consumer prunes different columns
    below the exchange) — measured per call site, see the operators'
    docstrings and ROUND4_NOTES §19.

    eager=False: no job runs at construction; the first action
    materializes once and every consumer reads it. Caveat at cluster
    scale: the lineage cut means a lost executor fails the job instead
    of recomputing — recurring 100 TB runs should write the shared
    table (bucketed postings / signature index) instead.

    Set ``SPARK_GRAFT_NO_CKPT=1`` to disable (tools/dump_plans.py does:
    the checkpoint otherwise collapses the audited plan to an opaque
    RDD scan, hiding the logical shape PLANS.md exists to show).
    """
    import os

    if os.environ.get("SPARK_GRAFT_NO_CKPT") == "1":
        return df
    return df.localCheckpoint(eager=False)


def offset_row_number(offset: Column, window: WindowSpec) -> Column:
    """Exact 1-based global rank from a bucket's row offset plus the local
    ``row_number()`` over ``window`` (partitioned by bucket). The sum is
    taken in bigint: ``row_number()`` is int, and an int offset plus it
    overflows past 2^31 rows (ARITHMETIC_OVERFLOW under ANSI mode)."""
    return offset.cast("bigint") + F.row_number().over(window)


def ntile_from_rank(rank: Column, n: Column, tiles: int) -> Column:
    """SQL ``ntile(tiles)`` bucket from an exact 1-based rank and the
    total row count — bit-identical to the window function: the first
    ``n mod tiles`` buckets take ``n div tiles + 1`` rows, the rest
    ``n div tiles``. Lets a bucketed rank (:func:`offset_row_number`)
    replace an unpartitioned ``ntile`` window without changing a single
    output value. Float division is exact here for any n < 2^53.
    """
    q = F.floor(n / tiles).cast("bigint")  # base bucket size
    m = (n % tiles).cast("bigint")  # buckets holding q+1 rows
    big = q + F.lit(1)
    in_big = rank <= big * m
    # greatest(q, 1): the otherwise-branch is only reachable when q > 0,
    # but keep the denominator nonzero so ANSI mode can never trip.
    q_safe = F.greatest(q, F.lit(1))
    return (
        F.when(in_big, F.ceil(rank / big))
        .otherwise(m + F.ceil((rank - big * m) / q_safe))
        .cast("int")
    )



def grouped_exact_percentiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    percentages: list[float],
    buckets: int = 256,
) -> DataFrame:
    """EXACT interpolated percentiles per group — bit-identical to
    ``percentile(value, array(...))`` / DuckDB ``quantile_cont`` —
    without the holistic per-group aggregate (r14 verdict item 7).

    SQL ``percentile`` is a holistic aggregate: every partial buffer
    carries the partition's full value multiset and the final merge +
    sort runs on ≤ |groups| tasks (r15 stage profile of
    price_quantiles: 3 tasks, ~1.7 s of CPU, 5 MB buffers at sf0.1 —
    at 100 TB that buffer is the corpus). The interpolated percentile
    only needs TWO order statistics per requested p: with
    position = p·(n−1), the values at 1-based ranks ⌊position⌋+1 and
    ⌈position⌉+1. So compute order statistics instead of sorting:

    1. One codegen agg per group: (count, min, max) — collected
       (|groups| rows; the "stats pick the plan" exception class).
    2. Equi-width bucket per row from the collected min/max (placement
       only — balance, never correctness), then per-(group, bucket)
       counts — map-side partials, ≤ groups·buckets rows collected.
    3. Driver side: cumulative offsets locate the ≤ 2·|p| buckets per
       group that contain a needed rank.
    4. One final pass filters to those buckets (≈ 2|p|/buckets of the
       data), row_numbers WITHIN each (group, bucket) — parallel,
       bounded windows — and a conditional aggregation interpolates
       with Spark's own formula ((higher−pos)·v_lo + (pos−lower)·v_hi,
       weights computed as driver doubles).

    Three linear scans with tiny outputs replace one scan with
    corpus-sized aggregate state; no stage holds more than ~n/buckets
    rows. Degenerate min==max groups collapse to one bucket (a bounded
    sort only if that group is itself huge AND constant — then any
    exact percentile is that constant anyway, which step 1 could have
    short-circuited; left simple). NaN values bucket last, matching the
    sort order (Spark ranks NaN greatest). NULLs are ignored, like the
    aggregate; a group whose values are ALL NULL emits a NULL-valued
    row, also like the aggregate. Returns one row per group:
    (group_col, q0..q{k-1}).
    """
    import math

    from pyspark.sql import Window

    # one parquet scan total: the three passes below all read this
    # checkpointed 2-column projection (multi-consumer subtree —
    # materialize_shared's documented case; without it the A/B read
    # 1.67× vs the holistic form purely from re-scanning the input
    # once per pass)
    base = materialize_shared(
        spread(
            df.select(
                F.col(group_col), F.col(value_col).cast("double").alias(value_col)
            )
        )
    )
    vals = base.filter(F.col(value_col).isNotNull())

    # counted over base, not vals: a group whose values are ALL NULL
    # still emits a row (with NULL percentiles) from the holistic
    # aggregate — n counts the named column, so such groups show up
    # with n == 0
    all_stats = {
        r["g"]: (r["n"], r["lo"], r["hi"])
        for r in base.groupBy(F.col(group_col).alias("g"))
        .agg(
            F.count(F.col(value_col)).alias("n"),
            F.min(F.col(value_col)).alias("lo"),
            F.max(F.col(value_col)).alias("hi"),
        )
        .collect()
    }
    null_groups = [g for g, (n, _, _) in all_stats.items() if not n]
    stats = {g: s for g, s in all_stats.items() if s[0]}
    if not stats and not null_groups:
        # empty input: the holistic form on zero rows is free and keeps
        # the output schema/values identical (one NULL row per nothing)
        agg = vals.groupBy(group_col).agg(
            F.expr(
                f"percentile({value_col}, array("
                + ", ".join(f"{p!r}D" for p in percentages)
                + "))"
            ).alias("_q")
        )
        return agg.select(
            group_col,
            *[F.col("_q")[i].alias(f"q{i}") for i in range(len(percentages))],
        )

    def _null_rows():
        # literal (g, NULL…) rows for all-NULL groups, matching the
        # holistic aggregate's output for them
        spark = df.sparkSession
        g_type = dict(df.dtypes)[group_col]
        schema = f"{group_col} {g_type}, " + ", ".join(
            f"q{i} double" for i in range(len(percentages))
        )
        return spark.createDataFrame(
            [(g, *([None] * len(percentages))) for g in null_groups], schema
        )

    if not stats:
        return _null_rows()

    def _is(g):
        # NULL-safe: a NULL key is a group, as in the holistic aggregate
        return F.col(group_col).eqNullSafe(F.lit(g))

    def _when_chain(mapping, otherwise):
        e = None
        for g, v in mapping.items():
            c = _is(g)
            e = F.when(c, v) if e is None else e.when(c, v)
        return e.otherwise(otherwise)

    bkt_map = {}
    for g, (n, lo, hi) in stats.items():
        if hi > lo:
            width = (hi - lo) / buckets
            b = F.least(
                F.lit(buckets - 1),
                F.floor((F.col(value_col) - F.lit(lo)) / F.lit(width)).cast("int"),
            )
            # NaN: (NaN-lo)/w floors to NULL through the int cast; rank
            # greatest like the sort order instead
            b = F.when(F.isnan(F.col(value_col)), F.lit(buckets - 1)).otherwise(b)
        else:
            b = F.lit(0)
        bkt_map[g] = b
    b = vals.withColumn("_bkt", _when_chain(bkt_map, F.lit(0)))

    counts: dict = {}
    for r in b.groupBy(group_col, "_bkt").agg(F.count("*").alias("c")).collect():
        counts.setdefault(r[group_col], {})[r["_bkt"]] = r["c"]

    targets = {}  # g -> [(pos, rk_lo, rk_hi)]
    need = {}  # g -> {rk}
    for g, (n, _, _) in stats.items():
        ts = []
        for p in percentages:
            pos = p * (n - 1)
            rk_lo, rk_hi = math.floor(pos) + 1, math.ceil(pos) + 1
            ts.append((pos, rk_lo, rk_hi))
            need.setdefault(g, set()).update((rk_lo, rk_hi))
        targets[g] = ts
    need_buckets = {}  # g -> {bkt: offset}
    for g, per_bkt in counts.items():
        off = 0
        for bk in sorted(per_bkt):
            c = per_bkt[bk]
            if any(off < rk <= off + c for rk in need[g]):
                need_buckets.setdefault(g, {})[bk] = off
            off += c

    filt, off_map = None, {}
    for g, bks in need_buckets.items():
        ge = None
        for bk, off in bks.items():
            c = _is(g) & (F.col("_bkt") == bk)
            filt = c if filt is None else (filt | c)
            ge = (
                F.when(F.col("_bkt") == bk, F.lit(off))
                if ge is None
                else ge.when(F.col("_bkt") == bk, F.lit(off))
            )
        off_map[g] = ge.otherwise(F.lit(0))
    local = Window.partitionBy(group_col, "_bkt").orderBy(value_col)
    ranked = b.filter(filt).withColumn(
        "_rk", offset_row_number(_when_chain(off_map, F.lit(0)), local)
    )
    want = None
    for g, rks in need.items():
        c = _is(g) & F.col("_rk").isin(*sorted(rks))
        want = c if want is None else (want | c)
    ostats = ranked.filter(want)

    agg_cols = []
    for i in range(len(percentages)):
        rk_lo_e = _when_chain(
            {g: F.lit(ts[i][1]) for g, ts in targets.items()}, F.lit(-1)
        )
        rk_hi_e = _when_chain(
            {g: F.lit(ts[i][2]) for g, ts in targets.items()}, F.lit(-1)
        )
        w_lo_e = _when_chain(
            {
                g: F.lit(float(math.ceil(ts[i][0]) - ts[i][0]))
                for g, ts in targets.items()
            },
            F.lit(0.0),
        )
        w_hi_e = _when_chain(
            {
                g: F.lit(float(ts[i][0] - math.floor(ts[i][0])))
                for g, ts in targets.items()
            },
            F.lit(0.0),
        )
        v_lo = F.max(F.when(F.col("_rk") == rk_lo_e, F.col(value_col)))
        v_hi = F.max(F.when(F.col("_rk") == rk_hi_e, F.col(value_col)))
        q = F.when(rk_lo_e == rk_hi_e, v_lo).otherwise(w_lo_e * v_lo + w_hi_e * v_hi)
        agg_cols.append(q.alias(f"q{i}"))
    res = ostats.groupBy(group_col).agg(*agg_cols)
    if null_groups:
        res = res.unionByName(_null_rows())
    return res
