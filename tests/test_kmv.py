"""KMV (k-minimum-values) distinct / set-overlap estimators
(round-7 wave): the oracle-CHECKABLE companions to the rows-only HLL++
contracts. Deterministic by construction (md5 bottom-k), so a plain
hashlib model must reproduce them exactly — including the ESTIMATE
branch, whose float arithmetic is pinned to engine semantics
(double(h) rounding, mult-then-divide order).
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import functions as F

from kafka_streams_spark.operators.profiling import (
    corpus_overlap_kmv,
    distinct_kmv,
    kmv_overlap,
    kmv_set_sketch,
)

K60 = 1 << 60


def _h(x) -> int:
    return int(hashlib.md5(str(x).encode()).hexdigest()[:15], 16)


def _est(bot: list[int], k: int) -> int:
    if len(bot) < k:
        return len(bot)
    # engine semantics: h rounds to double BEFORE the divide
    return math.floor(float((k - 1) * K60) / float(bot[-1]))


def _model_distinct(keys, k: int) -> tuple[int, int]:
    bot = sorted({_h(x) for x in keys if x is not None})[:k]
    return _est(bot, k), len(bot)


def _model_overlap(a_keys, b_keys, k: int):
    ha = sorted({_h(x) for x in a_keys if x is not None})[:k]
    hb = sorted({_h(x) for x in b_keys if x is not None})[:k]
    flags: dict[int, list[bool]] = {}
    for h in ha:
        flags.setdefault(h, [False, False])[0] = True
    for h in hb:
        flags.setdefault(h, [False, False])[1] = True
    s = sorted(flags)[:k]
    kk = len(s)
    n_both = sum(1 for h in s if flags[h][0] and flags[h][1])
    union_est = _est(s, k)
    jacc = 1.0 if kk == 0 else float(n_both) / float(kk)
    shared = (
        0 if kk == 0 else math.floor(float(n_both) * float(union_est) / float(kk))
    )
    return union_est, shared, jacc, kk


def test_distinct_kmv_matches_model_grouped(spark):
    """Grouped estimator vs the hashlib model, with NULL keys (dropped)
    and duplicate keys (counted once) in every group; one group below k
    (exact branch) and one above (estimate branch) in the same query."""
    k = 16
    rows = (
        [("small", i) for i in range(10)]
        + [("small", i) for i in range(5)]  # dups
        + [("small", None)]
        + [("big", i) for i in range(300)]
        + [("big", None), ("big", 7)]
    )
    df = spark.createDataFrame(rows, "g string, key bigint")
    got = {
        r["g"]: (r["n_distinct_est"], r["sample_k"])
        for r in distinct_kmv(df, "key", ["g"], k=k).collect()
    }
    want = {
        g: _model_distinct([key for gg, key in rows if gg == g], k)
        for g in ("small", "big")
    }
    assert got == want
    assert got["small"] == (10, 10)  # exact branch: below-k is exact


def test_distinct_kmv_estimate_within_sampling_bound(spark):
    n, k = 5000, 256
    df = spark.createDataFrame([(i,) for i in range(n)], "key bigint")
    est = distinct_kmv(df, "key", k=k).collect()[0]["n_distinct_est"]
    # KMV relative error ~1/sqrt(k-2); 4-sigma bound
    assert abs(est - n) / n <= 4 / math.sqrt(k - 2), est


def test_distinct_kmv_all_null_group_absent(spark):
    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", None)], "g string, key bigint"
    )
    got = distinct_kmv(df, "key", ["g"], k=8).collect()
    assert {r["g"] for r in got} == {"a"}  # COUNT DISTINCT over nothing


def test_kmv_overlap_matches_model(spark):
    k = 64
    a_keys = [f"tok{i}" for i in range(200)]
    b_keys = [f"tok{i}" for i in range(120, 350)]
    a = spark.createDataFrame([(x,) for x in a_keys], "key string")
    b = spark.createDataFrame([(x,) for x in b_keys], "key string")
    row = kmv_overlap(
        kmv_set_sketch(a, "key", k), kmv_set_sketch(b, "key", k), k
    ).collect()[0]
    want = _model_overlap(a_keys, b_keys, k)
    got = (
        row["n_union_est"],
        row["n_shared_est"],
        row["jaccard_est"],
        row["sample_k"],
    )
    assert got == want


def test_kmv_overlap_estimates_near_truth(spark):
    """A=0..999, B=500..1499: |A∪B|=1500, J=1/3 — estimates inside the
    4-sigma sampling bounds at k=256."""
    k = 256
    a = spark.createDataFrame([(i,) for i in range(1000)], "key bigint")
    b = spark.createDataFrame([(i,) for i in range(500, 1500)], "key bigint")
    row = kmv_overlap(
        kmv_set_sketch(a, "key", k), kmv_set_sketch(b, "key", k), k
    ).collect()[0]
    j = 1.0 / 3.0
    assert abs(row["jaccard_est"] - j) <= 4 * math.sqrt(j * (1 - j) / k)
    assert abs(row["n_union_est"] - 1500) / 1500 <= 4 / math.sqrt(k - 2)


def test_kmv_overlap_empty_convention(spark):
    """Empty ∪ empty follows the corpus_overlap convention: Jaccard
    1.0, sizes 0."""
    e = spark.createDataFrame([], "key string")
    row = kmv_overlap(
        kmv_set_sketch(e, "key", 8), kmv_set_sketch(e, "key", 8), 8
    ).collect()[0]
    assert (
        row["n_union_est"],
        row["n_shared_est"],
        row["jaccard_est"],
        row["sample_k"],
    ) == (0, 0, 1.0, 0)


def test_corpus_overlap_kmv_exact_below_k(spark, sf_dir):
    """On the test corpus the unigram vocabulary (31 tokens) sits below
    k, so the sketch read-off must equal the EXACT corpus_overlap
    contract bit-for-bit — the below-k degenerate case doubles as a
    cross-operator consistency pin."""
    from kafka_streams_spark.operators.text import corpus_overlap
    from kafka_streams_spark.sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    a, b = docs.filter(bucket < "80"), docs.filter(bucket >= "80")
    exact = corpus_overlap(a, b, n=1).collect()[0]
    est = corpus_overlap_kmv(a, b, n=1, k=256).collect()[0]
    n_union = exact["n_grams_a"] + exact["n_grams_b"] - exact["n_shared"]
    assert est["n_union_est"] == n_union
    assert est["n_shared_est"] == exact["n_shared"]
    assert est["jaccard_est"] == exact["overlap_jaccard"]


def test_distinct_kmv_plan_uses_window_group_limit(spark):
    """The per-group bottom-k must compile to Spark's WindowGroupLimit
    pushdown (per-partition k-row heaps BEFORE the exchange) — the
    property that keeps the sketch build from shuffling every distinct
    hash of a 100 TB key column to one partition per group."""
    df = spark.createDataFrame(
        [("g%d" % (i % 4), i) for i in range(100)], "g string, key bigint"
    )
    plan = (
        distinct_kmv(df, "key", ["g"], k=8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in plan, plan

def test_kmv_state_merge_equals_state_of_union(spark):
    """merge(state(A) ∪ state(B)) == state(A ∪ B) bit-for-bit, per
    group — the associativity that makes the streamed twin exact."""
    from kafka_streams_spark.operators.profiling import (
        kmv_state,
        kmv_state_merge,
    )

    k = 16
    a = spark.createDataFrame(
        [("g%d" % (i % 3), i) for i in range(120)], "g string, key bigint"
    )
    b = spark.createDataFrame(
        [("g%d" % (i % 3), i) for i in range(80, 260)], "g string, key bigint"
    )
    merged = kmv_state_merge(
        kmv_state(a, "key", ["g"], k).unionAll(kmv_state(b, "key", ["g"], k)),
        ["g"],
        k,
    )
    whole = kmv_state(a.unionAll(b), "key", ["g"], k)
    key = lambda r: (r["g"], r["h"])
    assert sorted(map(key, merged.collect())) == sorted(
        map(key, whole.collect())
    )


def test_kmv_stream_equals_batch_exactly(spark, tmp_path):
    """The streamed per-source distinct-token sketch equals the batch
    distinct_kmv of everything ingested, BIT-FOR-BIT, across two
    micro-batch waves; compaction folds the closed partials into the
    base without changing the read-off."""
    import json
    import os

    from kafka_streams_spark.operators.dedup import tokens
    from kafka_streams_spark.operators.profiling import distinct_kmv
    from kafka_streams_spark.streaming.sketch_stream import (
        compact_kmv,
        read_kmv,
        run_kmv_stream,
    )

    K = 8  # tiny k so the estimation branch fires on a toy vocabulary
    src = str(tmp_path / "src")
    sk = str(tmp_path / "sketch")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    docs_a = [
        {"doc_id": i, "source": "s%d" % (i % 2), "text": "w%d w%d x" % (i, i + 1)}
        for i in range(30)
    ]
    docs_b = [
        {"doc_id": 100 + i, "source": "s%d" % (i % 2), "text": "w%d y z" % (i * 3)}
        for i in range(25)
    ]
    with open(f"{src}/a.json", "w") as f:
        f.write("\n".join(json.dumps(d) for d in docs_a))
    q = run_kmv_stream(spark, src, sk, ckpt, k=K)
    try:
        q.processAllAvailable()
        with open(f"{src}/b.json", "w") as f:
            f.write("\n".join(json.dumps(d) for d in docs_b))
        q.processAllAvailable()
    finally:
        q.stop()

    all_docs = spark.createDataFrame(
        [(d["source"], d["text"]) for d in docs_a + docs_b],
        "source string, text string",
    )
    batch = distinct_kmv(
        all_docs.select("source", F.explode(tokens(F.col("text"))).alias("t")),
        "t",
        ["source"],
        k=K,
    )
    key = lambda r: (r["source"], r["n_distinct_est"], r["sample_k"])
    want = sorted(map(key, batch.collect()))
    assert sorted(map(key, read_kmv(spark, sk, k=K).collect())) == want
    assert want[0][2] == K  # the estimation branch actually fired

    compact_kmv(spark, sk, k=K)
    assert sorted(map(key, read_kmv(spark, sk, k=K).collect())) == want
    parts = {
        r[0]
        for r in spark.read.parquet(sk).select("ingest_batch").distinct().collect()
    }
    assert parts == {1}  # the newest delta; batch 0 is in the base
    assert os.listdir(f"{sk}/_base") == ["hwm=0"]

def test_sketch_store_k_gate(spark, tmp_path):
    """A KMV store stamped with k=8 must refuse a read or compaction
    with a different k — a silent k mismatch would truncate the state
    (compact) or mis-read the exact-branch cutoff (read). Unstamped
    legacy stores still read."""
    import json
    import os

    import pytest

    from kafka_streams_spark.streaming.sketch_stream import (
        compact_kmv,
        read_kmv,
        run_kmv_stream,
    )

    src = str(tmp_path / "src")
    sk = str(tmp_path / "sketch")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    with open(f"{src}/a.json", "w") as f:
        f.write(json.dumps({"doc_id": 1, "source": "s", "text": "a b c"}))
    q = run_kmv_stream(spark, src, sk, ckpt, k=8)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert read_kmv(spark, sk, k=8).count() == 1
    with pytest.raises(ValueError, match="mismatched parameters"):
        read_kmv(spark, sk, k=256)
    with pytest.raises(ValueError, match="mismatched parameters"):
        compact_kmv(spark, sk, k=16)
    # r8 advice fix: RESTARTING the stream with a different k must
    # refuse BEFORE the stream starts — the entry point used to
    # overwrite the stamp unconditionally, silently re-stamping the
    # store and defeating this very gate (old k=8 partials would merge
    # under k=16 and underestimate with no error).
    with pytest.raises(ValueError, match="mismatched parameters"):
        run_kmv_stream(spark, src, sk, str(tmp_path / "ckpt2"), k=16)
    # same-k restart is fine and keeps the stamp
    q2 = run_kmv_stream(spark, src, sk, str(tmp_path / "ckpt3"), k=8)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert read_kmv(spark, sk, k=8).count() == 1
    # legacy store (no stamp) still reads
    os.remove(f"{sk}/_sketch_meta.json")
    assert read_kmv(spark, sk, k=256).count() == 1
