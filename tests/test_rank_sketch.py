"""Bottom-k rank sketch (round-6 verdict item 5): mergeable
bounded-state quantile sketch for unbounded value ranges. Deterministic
by construction (md5-selected sample), so unlike KLL the streamed twin
must equal the batch sketch BIT-FOR-BIT and a NumPy/hashlib model must
reproduce it exactly."""

from __future__ import annotations

import hashlib
import json
import os

from kafka_streams_spark.operators.profiling import (
    rank_sketch,
    rank_sketch_merge,
    rank_sketch_quantiles,
)

K = 32


def _df(spark, rows):
    return spark.createDataFrame(rows, "id bigint, value double")


def _key(t):
    return (t[0] is None, t[0] or 0, t[1] or 0.0, t[2] or 0)


def _rows(sketch):
    return sorted(
        ((r["h"], r["value"], r["n"]) for r in sketch.collect()), key=_key
    )


def _model(rows, k=K):
    """NumPy-free reference model: the same bottom-k-by-md5 selection
    in plain Python — the pin that the distributed plan computes the
    published definition, not an artifact of Spark internals."""
    vals = [(int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16), float(v))
            for i, v in rows if v is not None]
    sample = sorted(vals)[:k]
    out = [(h, v, None) for h, v in sample]
    out.append((None, None, len(vals)))
    return out


def test_sketch_matches_reference_model(spark):
    rows = [(i, float((i * 37) % 101) - 17.5) for i in range(200)]
    rows += [(900, None), (901, None)]  # NULLs excluded from sample+count
    got = _rows(rank_sketch(_df(spark, rows), "value", "id", k=K))
    want = sorted(_model(rows), key=_key)
    assert got == want


def test_merge_equals_sketch_of_union(spark):
    """min-k selection and addition are associative and
    order-independent: merge(sketch(A), sketch(B)) == sketch(A u B),
    exactly — the property that makes per-shard/per-day sketches safe
    to fold in any shape."""
    a = [(i, float(i % 53)) for i in range(150)]
    b = [(1000 + i, float((i * 7) % 91) - 30.0) for i in range(170)]
    sa = rank_sketch(_df(spark, a), "value", "id", k=K)
    sb = rank_sketch(_df(spark, b), "value", "id", k=K)
    merged = rank_sketch_merge(sa.unionAll(sb), k=K)
    direct = rank_sketch(_df(spark, a + b), "value", "id", k=K)
    assert _rows(merged) == _rows(direct)


def test_quantiles_within_sampling_error(spark):
    import math

    n = 2000
    rows = [(i, float(i)) for i in range(n)]  # uniform 0..1999
    s = rank_sketch(_df(spark, rows), "value", "id", k=256)
    est = {r["q"]: r["est"] for r in rank_sketch_quantiles(s, [0.25, 0.5, 0.9]).collect()}
    for q, e in est.items():
        exact = q * (n - 1)
        # 4-sigma sampling bound for a k-sample quantile estimate
        tol = 4 * n * math.sqrt(q * (1 - q) / 256)
        assert abs(e - exact) <= tol, (q, e, exact, tol)


def test_stream_equals_batch_sketch_exactly(spark, tmp_path):
    """The streamed deltas merge to the IDENTICAL sketch the one-shot
    batch computes over everything ingested — the determinism KLL's
    randomized compaction cannot give (the reason this design shipped;
    see rank_sketch's docstring)."""
    from kafka_streams_spark.streaming.sketch_stream import (
        compact_rank_sketch,
        read_rank_sketch,
        run_rank_sketch_stream,
    )

    src = str(tmp_path / "src")
    sk = str(tmp_path / "sketch")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    docs_a = [{"doc_id": i, "source": "s", "text": "x" * (10 + i % 40)} for i in range(30)]
    docs_b = [{"doc_id": 100 + i, "source": "s", "text": "y" * (5 + i % 60)} for i in range(25)]
    with open(f"{src}/a.json", "w") as f:
        f.write("\n".join(json.dumps(d) for d in docs_a))
    q = run_rank_sketch_stream(spark, src, sk, ckpt, k=K)
    try:
        q.processAllAvailable()
        with open(f"{src}/b.json", "w") as f:
            f.write("\n".join(json.dumps(d) for d in docs_b))
        q.processAllAvailable()
    finally:
        q.stop()

    batch = rank_sketch(
        spark.createDataFrame(
            [(d["doc_id"], float(len(d["text"]))) for d in docs_a + docs_b],
            "doc_id bigint, n_chars double",
        ),
        "n_chars",
        "doc_id",
        k=K,
    )
    assert _rows(read_rank_sketch(spark, sk, k=K)) == _rows(batch)

    # compaction folds the closed partials into the base without
    # changing the merge
    compact_rank_sketch(spark, sk, k=K)
    assert _rows(read_rank_sketch(spark, sk, k=K)) == _rows(batch)
    parts = {r[0] for r in spark.read.parquet(sk).select("ingest_batch").distinct().collect()}
    assert parts == {1}  # the newest delta; batch 0 is in the base
    assert os.listdir(f"{sk}/_base") == ["hwm=0"]

def test_grouped_sketch_matches_reference_model(spark):
    """Stratified form: per-group bottom-k + per-group exact count,
    strata of unequal size straddling k (one exact, one truncated),
    NULL values dropped."""
    from kafka_streams_spark.operators.profiling import rank_sketch_grouped

    k = 8
    rows = (
        [("small", i, float(i)) for i in range(5)]
        + [("small", 90, None)]
        + [("big", 100 + i, float(i % 13)) for i in range(40)]
    )
    df = spark.createDataFrame(rows, "g string, id bigint, value double")
    got = sorted(
        ((r["g"],) + tuple((r["h"], r["value"], r["n"]))
         for r in rank_sketch_grouped(df, "value", "id", ["g"], k=k).collect()),
        key=lambda t: (t[0],) + _key(t[1:][0:3]),
    )
    want = []
    for g in ("big", "small"):
        for h, v, n in _model([(i, v) for gg, i, v in rows if gg == g], k):
            want.append((g, h, v, n))
    want.sort(key=lambda t: (t[0],) + _key(t[1:4]))
    assert got == want


def test_grouped_merge_equals_sketch_of_union(spark):
    from kafka_streams_spark.operators.profiling import (
        rank_sketch_grouped,
        rank_sketch_grouped_merge,
    )

    k = 8
    a = spark.createDataFrame(
        [("g%d" % (i % 2), i, float(i % 7)) for i in range(30)],
        "g string, id bigint, value double",
    )
    b = spark.createDataFrame(
        [("g%d" % (i % 2), 100 + i, float(i % 5)) for i in range(25)],
        "g string, id bigint, value double",
    )
    merged = rank_sketch_grouped_merge(
        rank_sketch_grouped(a, "value", "id", ["g"], k).unionAll(
            rank_sketch_grouped(b, "value", "id", ["g"], k)
        ),
        ["g"],
        k,
    )
    whole = rank_sketch_grouped(
        a.unionAll(b), "value", "id", ["g"], k
    )
    key = lambda r: (r["g"],) + _key((r["h"], r["value"], r["n"]))
    assert sorted(map(key, merged.collect())) == sorted(
        map(key, whole.collect())
    )


def test_grouped_sketch_plan_uses_window_group_limit(spark):
    """The per-group bottom-k must compile to WindowGroupLimit
    (pre-exchange per-partition heaps), same property as distinct_kmv —
    the reason the stratified sketch never globally sorts a stratum."""
    from kafka_streams_spark.operators.profiling import rank_sketch_grouped

    df = spark.createDataFrame(
        [("g%d" % (i % 4), i, float(i)) for i in range(200)],
        "g string, id bigint, value double",
    )
    plan = (
        rank_sketch_grouped(df, "value", "id", ["g"], k=8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in plan, plan

def test_null_hash_key_rows_excluded(spark):
    """A NULL hash-key row must not enter the sample: md5(NULL) is NULL,
    which would collide with the count-row sentinel (h NULL) and sort
    NULLS FIRST in Spark vs NULLS LAST in DuckDB. Both the global and
    grouped forms drop it; the count row counts only sampled-eligible
    rows (mirrored in the oracles)."""
    from kafka_streams_spark.operators.profiling import rank_sketch_grouped

    df = spark.createDataFrame(
        [(1, 10.0), (None, 99.0), (2, 20.0)], "id bigint, value double"
    )
    rows = _rows(rank_sketch(df, "value", "id", k=K))
    assert all(r[1] != 99.0 for r in rows if r[0] is not None)
    assert rows[-1][2] == 2  # count row: NULL-key row not counted
    gdf = spark.createDataFrame(
        [("g", 1, 10.0), ("g", None, 99.0)], "g string, id bigint, value double"
    )
    grows = rank_sketch_grouped(gdf, "value", "id", ["g"], k=K).collect()
    assert sorted(
        (r["h"] is None, r["value"], r["n"]) for r in grows
    ) == [(False, 10.0, None), (True, None, 1)]
