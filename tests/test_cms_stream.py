"""Streaming count-min sketch: per-batch deltas, merged-on-read state,
replay idempotence — the changelog pattern applied to a mergeable
sketch."""

from __future__ import annotations

import json
import os

from kafka_streams_spark.streaming.sketch_stream import (
    read_cms_sketch,
    run_cms_stream,
)

DOCS_A = [
    {"doc_id": 1, "source": "s", "text": "alpha beta gamma alpha"},
    {"doc_id": 2, "source": "s", "text": "beta delta"},
]
DOCS_B = [
    {"doc_id": 3, "source": "s", "text": "alpha epsilon epsilon zeta"},
    {"doc_id": 4, "source": "s", "text": "gamma gamma"},
]


def _write(src: str, name: str, rows: list[dict]) -> None:
    os.makedirs(src, exist_ok=True)
    with open(os.path.join(src, name), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def test_cms_stream_equals_batch_sketch_of_everything(spark, tmp_path):
    """After N micro-batches, the merged streamed sketch must be
    IDENTICAL to the one-shot batch sketch over all ingested docs —
    CMS mergeability end-to-end through the streaming path."""
    from kafka_streams_spark.operators.text import cms_token_sketch

    src = str(tmp_path / "src")
    sketch = str(tmp_path / "sketch")
    ckpt = str(tmp_path / "ckpt")

    _write(src, "b1.json", DOCS_A)
    q = run_cms_stream(spark, src, sketch, ckpt, d=3, w=64)
    try:
        q.processAllAvailable()
        _write(src, "b2.json", DOCS_B)
        q.processAllAvailable()
    finally:
        q.stop()

    merged = read_cms_sketch(spark, sketch)
    all_docs = spark.createDataFrame(
        [(r["doc_id"], r["source"], r["text"]) for r in DOCS_A + DOCS_B],
        "doc_id bigint, source string, text string",
    )
    expected = cms_token_sketch(all_docs, d=3, w=64)
    assert merged.exceptAll(expected).count() == 0
    assert expected.exceptAll(merged).count() == 0
    # state is bounded: ≤ d·w rows per batch partition
    per_batch = spark.read.parquet(sketch).groupBy("ingest_batch").count().collect()
    assert len(per_batch) == 2
    assert all(r["count"] <= 3 * 64 for r in per_batch)


def test_cms_stream_replay_is_idempotent(spark, tmp_path):
    """Re-writing a batch's own partition with its deterministic delta
    leaves the merged sketch unchanged — the at-least-once story."""
    from pyspark.sql import functions as F

    from kafka_streams_spark.operators.text import cms_token_sketch

    src = str(tmp_path / "src")
    sketch = str(tmp_path / "sketch")
    ckpt = str(tmp_path / "ckpt")
    _write(src, "b1.json", DOCS_A)
    q = run_cms_stream(spark, src, sketch, ckpt, d=3, w=64)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    before = {
        (r["row_idx"], r["bucket"]): r["counter"]
        for r in read_cms_sketch(spark, sketch).collect()
    }
    # simulate the crash-replay: batch 0's delta recomputed and
    # dynamically overwritten into the same partition
    batch_df = spark.createDataFrame(
        [(r["doc_id"], r["source"], r["text"]) for r in DOCS_A],
        "doc_id bigint, source string, text string",
    )
    (
        cms_token_sketch(batch_df, d=3, w=64)
        .withColumn("ingest_batch", F.lit(0))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ingest_batch")
        .parquet(sketch)
    )
    after = {
        (r["row_idx"], r["bucket"]): r["counter"]
        for r in read_cms_sketch(spark, sketch).collect()
    }
    assert before == after


EMBS_A = [
    {"vec_id": 1, "embedding": [1.0, 2.0, 0.5], "label": "a"},
    {"vec_id": 2, "embedding": [0.25, -1.0, 3.0], "label": "b"},
]
EMBS_B = [
    {"vec_id": 3, "embedding": [-0.5, 0.125, 2.0], "label": "a"},
]


def test_gram_stream_equals_batch_gram_of_everything(spark, tmp_path):
    """After N micro-batches the merged streamed Gram must be
    IDENTICAL (exact int64 equality) to the one-shot batch
    embedding_gram over all ingested vectors, and a replayed batch
    must not change it (idempotent deltas)."""
    from kafka_streams_spark.operators.similarity import embedding_gram
    from kafka_streams_spark.streaming.sketch_stream import (
        read_gram,
        run_gram_stream,
    )

    src = str(tmp_path / "src")
    gram = str(tmp_path / "gram")
    ckpt = str(tmp_path / "ckpt")

    _write(src, "b1.json", EMBS_A)
    q = run_gram_stream(spark, src, gram, ckpt)
    try:
        q.processAllAvailable()
        _write(src, "b2.json", EMBS_B)
        q.processAllAvailable()
    finally:
        q.stop()

    merged = read_gram(spark, gram)
    all_embs = spark.createDataFrame(
        [(r["vec_id"], r["embedding"], r["label"]) for r in EMBS_A + EMBS_B],
        "vec_id bigint, embedding array<double>, label string",
    )
    expected = embedding_gram(all_embs, scale=10**3)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, expected.collect())
    )
    # state bounded by d(d+1)/2 per batch partition, not batch size
    per_batch = {
        r["ingest_batch"]: r["count"]
        for r in spark.read.parquet(gram).groupBy("ingest_batch").count().collect()
    }
    assert all(c == 6 for c in per_batch.values())  # d=3 -> 6 pairs


def test_compact_gram_preserves_merged_state(spark, tmp_path):
    """Compaction folds N delta partitions into one without changing
    the merged statistic; subsequent deltas keep accumulating."""
    from kafka_streams_spark.operators.similarity import embedding_gram
    from kafka_streams_spark.streaming.sketch_stream import (
        compact_gram,
        read_gram,
        run_gram_stream,
    )

    src = str(tmp_path / "src")
    gram = str(tmp_path / "gram")
    ckpt = str(tmp_path / "ckpt")
    _write(src, "b1.json", EMBS_A)
    q = run_gram_stream(spark, src, gram, ckpt)
    try:
        q.processAllAvailable()
        _write(src, "b2.json", EMBS_B)
        q.processAllAvailable()
    finally:
        q.stop()

    before = sorted(map(tuple, read_gram(spark, gram).collect()))
    compact_gram(spark, gram)
    after = sorted(map(tuple, read_gram(spark, gram).collect()))
    assert before == after
    n_parts = spark.read.parquet(gram).select("ingest_batch").distinct().count()
    assert n_parts == 1

    # the stream keeps appending deltas after compaction and the merge
    # still equals the batch gram of everything
    _write(src, "b3.json", [{"vec_id": 9, "embedding": [4.0, 0.5, -1.0], "label": "b"}])
    q2 = run_gram_stream(spark, src, gram, ckpt)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    all_embs = spark.createDataFrame(
        [(r["vec_id"], r["embedding"], r["label"]) for r in EMBS_A + EMBS_B]
        + [(9, [4.0, 0.5, -1.0], "b")],
        "vec_id bigint, embedding array<double>, label string",
    )
    expected = embedding_gram(all_embs, scale=10**3)
    assert sorted(map(tuple, read_gram(spark, gram).collect())) == sorted(
        map(tuple, expected.collect())
    )


def test_pq_encode_stream_builds_live_code_index(spark, tmp_path):
    """Streamed codes == batch pq_encode over all ingested vectors;
    ADC against the streamed index ranks identically to inline; a
    foreign-codebook read is rejected."""
    import pytest

    from kafka_streams_spark.operators.similarity import (
        pq_encode,
        pq_label_codebooks,
        pq_topk_to_id,
    )
    from kafka_streams_spark.streaming.sketch_stream import (
        read_pq_codes_stream,
        run_pq_encode_stream,
    )

    base = spark.createDataFrame(
        [(r["vec_id"], r["embedding"], r["label"]) for r in EMBS_A + EMBS_B],
        "vec_id bigint, embedding array<double>, label string",
    )
    # dim 3 not divisible by m=2 -> pad to dim 4 via a 4th component
    padded = [
        {**r, "embedding": r["embedding"] + [float(r["vec_id"])]}
        for r in EMBS_A + EMBS_B
    ]
    base = spark.createDataFrame(
        [(r["vec_id"], r["embedding"], r["label"]) for r in padded],
        "vec_id bigint, embedding array<double>, label string",
    )
    books = pq_label_codebooks(base, m=2)

    src = str(tmp_path / "src")
    codes_dir = str(tmp_path / "codes")
    ckpt = str(tmp_path / "ckpt")
    _write(src, "b1.json", padded[:2])
    q = run_pq_encode_stream(spark, src, codes_dir, ckpt, books)
    try:
        q.processAllAvailable()
        _write(src, "b2.json", padded[2:])
        q.processAllAvailable()
    finally:
        q.stop()

    streamed = read_pq_codes_stream(spark, codes_dir, codebooks=books)
    want = sorted(
        (r["vec_id"], list(r["codes"])) for r in pq_encode(base, books).collect()
    )
    got = sorted((r["vec_id"], list(r["codes"])) for r in streamed.collect())
    assert got == want

    inline = sorted(map(tuple, pq_topk_to_id(base, books, 1, 3).collect()))
    via_index = sorted(
        map(tuple, pq_topk_to_id(base, books, 1, 3, codes=streamed).collect())
    )
    assert inline == via_index

    other = pq_label_codebooks(base, m=4)
    with pytest.raises(ValueError, match="different codebooks"):
        read_pq_codes_stream(spark, codes_dir, codebooks=other)


# ---------------------------------------------------------------------------
# streaming value histogram (quantile sketch kept live)
# ---------------------------------------------------------------------------


def test_histogram_stream_equals_batch_and_compacts(spark, tmp_path):
    """Merged streamed doc-length histogram == one-shot batch histogram
    of everything ingested; compaction folds deltas into the reserved
    -1 partition without changing the merged view; replayed batches are
    idempotent (same deterministic delta overwrites its own partition)."""
    from pyspark.sql import functions as F

    from kafka_streams_spark.operators.profiling import value_histogram
    from kafka_streams_spark.streaming.sketch_stream import (
        compact_histogram,
        read_histogram,
        run_histogram_stream,
    )

    src = str(tmp_path / "src")
    hist = str(tmp_path / "hist")
    ckpt = str(tmp_path / "ckpt")

    _write(src, "b1.json", DOCS_A)
    q = run_histogram_stream(spark, src, hist, ckpt, bin_width_cents=400)
    try:
        q.processAllAvailable()
        _write(src, "b2.json", DOCS_B)
        q.processAllAvailable()
    finally:
        q.stop()

    all_docs = spark.createDataFrame(
        [(r["doc_id"], r["source"], r["text"]) for r in DOCS_A + DOCS_B],
        "doc_id bigint, source string, text string",
    ).select(F.length("text").cast("double").alias("n_chars"))
    expected = sorted(
        map(tuple, value_histogram(all_docs, "n_chars", bin_width_cents=400).collect())
    )
    merged = sorted(
        map(tuple, read_histogram(spark, hist, bin_width_cents=400).collect())
    )
    assert merged == expected

    compact_histogram(spark, hist, bin_width_cents=400)
    after = sorted(
        map(tuple, read_histogram(spark, hist, bin_width_cents=400).collect())
    )
    assert after == expected
    parts = {r["ingest_batch"] for r in spark.read.parquet(hist).select("ingest_batch").distinct().collect()}
    assert parts == {-1}


def test_binarize_stream_index_equals_batch_and_ranks_identically(spark, tmp_path):
    """Streamed signature index == batch binarize of everything
    ingested; knn off the streamed index == inline knn; bit-width
    mismatch rejected loudly."""
    import pytest
    from pyspark.sql import functions as F

    from kafka_streams_spark.operators.similarity import (
        binarize_embeddings,
        knn_hamming_index_to_id,
        knn_hamming_to_id,
    )
    from kafka_streams_spark.streaming.sketch_stream import (
        read_binary_index_stream,
        run_binarize_stream,
    )

    src = str(tmp_path / "src")
    idx = str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")

    _write(src, "b1.json", EMBS_A)
    q = run_binarize_stream(spark, src, idx, ckpt, bits=3)
    try:
        q.processAllAvailable()
        _write(src, "b2.json", EMBS_B)
        q.processAllAvailable()
    finally:
        q.stop()

    base = spark.createDataFrame(
        [(r["vec_id"], r["embedding"], r["label"]) for r in EMBS_A + EMBS_B],
        "vec_id bigint, embedding array<double>, label string",
    )
    streamed = read_binary_index_stream(spark, idx, bits=3)
    want = sorted(map(tuple, binarize_embeddings(base, bits=3).collect()))
    assert sorted(map(tuple, streamed.select("vec_id", "bsig").collect())) == want

    via_index = knn_hamming_index_to_id(base, streamed, query_id=1, k=2, shortlist=3)
    inline = knn_hamming_to_id(base, query_id=1, k=2, shortlist=3, bits=3)
    assert sorted(map(tuple, via_index.collect())) == sorted(
        map(tuple, inline.collect())
    )

    with pytest.raises(ValueError, match="bits=3"):
        read_binary_index_stream(spark, idx, bits=60)


def test_changelog_streams_invariant_to_batch_splits(spark, tmp_path):
    """The changelog pattern's core claim, randomized: for a random doc
    set and RANDOM batch splits, the merged streamed state (CMS and
    histogram) equals the one-shot batch state — mergeability holds for
    any arrival partitioning, not just the fixture's."""
    import random

    from pyspark.sql import functions as F

    from kafka_streams_spark.operators.profiling import value_histogram
    from kafka_streams_spark.operators.text import cms_token_sketch
    from kafka_streams_spark.streaming.sketch_stream import (
        read_cms_sketch,
        read_histogram,
        run_cms_stream,
        run_histogram_stream,
    )

    rng = random.Random(99)
    words = ["alpha", "beta", "gamma", "delta", "epsilon"]
    docs = [
        {
            "doc_id": i,
            "source": "s",
            "text": " ".join(rng.choice(words) for _ in range(rng.randint(0, 12))),
        }
        for i in range(30)
    ]
    # random split into 1-4 batches
    cuts = sorted(rng.sample(range(1, 30), rng.randint(0, 3)))
    batches = [docs[a:b] for a, b in zip([0] + cuts, cuts + [30])]

    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)  # streams start before the first write
    cms_dir = str(tmp_path / "cms")
    hist_dir = str(tmp_path / "hist")
    q1 = run_cms_stream(spark, src, cms_dir, str(tmp_path / "c1"), d=3, w=64)
    q2 = run_histogram_stream(
        spark, src, hist_dir, str(tmp_path / "c2"), bin_width_cents=400
    )
    try:
        for bi, batch in enumerate(batches):
            _write(src, f"b{bi}.json", batch)
            q1.processAllAvailable()
            q2.processAllAvailable()
    finally:
        q1.stop()
        q2.stop()

    all_docs = spark.createDataFrame(
        [(d["doc_id"], d["source"], d["text"]) for d in docs],
        "doc_id bigint, source string, text string",
    )
    want_cms = sorted(map(tuple, cms_token_sketch(all_docs, d=3, w=64).collect()))
    got_cms = sorted(map(tuple, read_cms_sketch(spark, cms_dir).collect()))
    assert got_cms == want_cms
    lengths = all_docs.select(F.length("text").cast("double").alias("n_chars"))
    want_h = sorted(
        map(tuple, value_histogram(lengths, "n_chars", bin_width_cents=400).collect())
    )
    got_h = sorted(
        map(tuple, read_histogram(spark, hist_dir, bin_width_cents=400).collect())
    )
    assert got_h == want_h


def test_scorecard_stream_equals_batch_and_trends(spark, tmp_path):
    """Merged streamed scorecard == one-shot batch scorecard of all
    ingested docs; per-batch rows carry the trend."""
    from kafka_streams_spark.operators.pipelines import corpus_scorecard
    from kafka_streams_spark.streaming.sketch_stream import (
        read_scorecard,
        run_scorecard_stream,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "sc")
    ckpt = str(tmp_path / "ck")
    _write(src, "b1.json", DOCS_A)
    q = run_scorecard_stream(spark, src, out, ckpt)
    try:
        q.processAllAvailable()
        _write(src, "b2.json", DOCS_B)
        q.processAllAvailable()
    finally:
        q.stop()

    all_docs = spark.createDataFrame(
        [(r["doc_id"], r["source"], r["text"]) for r in DOCS_A + DOCS_B],
        "doc_id bigint, source string, text string",
    )
    want = corpus_scorecard(all_docs).collect()[0].asDict()
    got = read_scorecard(spark, out).collect()[0].asDict()
    assert got == {k: int(v) for k, v in want.items()}
    # one delta row per batch = the trend line
    assert spark.read.parquet(out).count() == 2


def test_compact_gram_survives_concurrent_delta(spark, tmp_path):
    """The round-7 advice race: a delta partition written BETWEEN the
    compactor's snapshot pin and its partition deletes must survive
    with its counts intact (the old static full-table overwrite deleted
    it). The _after_pin hook injects the concurrent write at exactly
    the race window."""
    from kafka_streams_spark.operators.similarity import embedding_gram
    from kafka_streams_spark.streaming.sketch_stream import (
        _compact_deltas,
        read_gram,
        run_gram_stream,
    )
    from pyspark.sql import functions as F

    src = str(tmp_path / "src")
    gram = str(tmp_path / "gram")
    ckpt = str(tmp_path / "ckpt")
    _write(src, "b1.json", EMBS_A)
    q = run_gram_stream(spark, src, gram, ckpt)
    try:
        q.processAllAvailable()
        _write(src, "b2.json", EMBS_B)
        q.processAllAvailable()
    finally:
        q.stop()

    late = spark.createDataFrame(
        [(9, [4.0, 0.5, -1.0], "b")],
        "vec_id bigint, embedding array<double>, label string",
    )

    def concurrent_write():
        (
            embedding_gram(late, scale=10**3)
            .withColumn("ingest_batch", F.lit(99))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("ingest_batch")
            .parquet(gram)
        )

    _compact_deltas(
        spark,
        gram,
        ["dim_i", "dim_j"],
        ["n", "sum_i", "sum_j", "sum_prod"],
        _after_pin=concurrent_write,
    )

    # the mid-compaction delta partition survives, uncompacted
    parts = {
        r[0]
        for r in spark.read.parquet(gram).select("ingest_batch").distinct().collect()
    }
    assert parts == {-1, 99}
    # and the merged statistic equals the batch gram of EVERYTHING
    all_embs = spark.createDataFrame(
        [(r["vec_id"], r["embedding"], r["label"]) for r in EMBS_A + EMBS_B]
        + [(9, [4.0, 0.5, -1.0], "b")],
        "vec_id bigint, embedding array<double>, label string",
    )
    expected = embedding_gram(all_embs, scale=10**3)
    assert sorted(map(tuple, read_gram(spark, gram).collect())) == sorted(
        map(tuple, expected.collect())
    )

def test_compaction_skips_uncommitted_batch(spark, tmp_path):
    """Replay safety (round-7 self-review find): a delta whose
    foreachBatch write landed but whose checkpoint COMMIT did not will
    be re-delivered on restart — if compaction had folded and deleted
    it, the replay would re-create the partition and the store would
    count it TWICE, permanently. With checkpoint_dir passed,
    _compact_deltas intersects the pin set with the stream's commit
    log: the uncommitted delta stays a delta, and the post-replay
    read-off is exact."""
    from pyspark.sql import functions as F

    from kafka_streams_spark.streaming.sketch_stream import (
        _compact_deltas,
        read_key_profile,
    )

    prof = str(tmp_path / "profile")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(f"{ckpt}/commits")

    def write_delta(batch_id, rows):
        spark.createDataFrame(rows, "k string, cnt bigint").withColumn(
            "ingest_batch", F.lit(batch_id)
        ).write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("ingest_batch").parquet(prof)

    write_delta(0, [("a", 3), ("b", 1)])
    write_delta(1, [("a", 2)])  # written, but its commit never landed
    with open(f"{ckpt}/commits/0", "w") as f:
        f.write("v1\n{}")

    _compact_deltas(
        spark,
        prof,
        merge=lambda df: df.groupBy("k").agg(
            F.sum("cnt").cast("bigint").alias("cnt")
        ),
        checkpoint_dir=ckpt,
    )
    parts = {
        r[0]
        for r in spark.read.parquet(prof).select("ingest_batch").distinct().collect()
    }
    assert parts == {-1, 1}  # batch 1 NOT folded, NOT deleted

    # the stream restarts and re-delivers batch 1 (idempotent rewrite)
    write_delta(1, [("a", 2)])
    got = {r["k"]: r["cnt"] for r in read_key_profile(spark, prof).collect()}
    assert got == {"a": 5, "b": 1}  # exact — no double count


def test_gram_and_histogram_store_parameter_gates(spark, tmp_path):
    """r8 advice fix: the gram store's scale and the histogram store's
    bin grid are frozen parameters of the store, gated exactly like the
    kmv/rank k — a restart or read with different parameters must
    refuse loudly instead of silently merging deltas in different
    units."""
    import pytest

    from kafka_streams_spark.streaming.sketch_stream import (
        compact_gram,
        compact_histogram,
        read_gram,
        read_histogram,
        run_gram_stream,
        run_histogram_stream,
    )

    src = str(tmp_path / "src")
    gram = str(tmp_path / "gram")
    hist = str(tmp_path / "hist")

    _write(src, "b1.json", EMBS_A)
    q = run_gram_stream(spark, src, gram, str(tmp_path / "c1"), scale=10**3)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert read_gram(spark, gram, scale=10**3).count() == 6
    with pytest.raises(ValueError, match="mismatched parameters"):
        read_gram(spark, gram, scale=10**4)
    with pytest.raises(ValueError, match="mismatched parameters"):
        compact_gram(spark, gram, scale=10**4)
    with pytest.raises(ValueError, match="mismatched parameters"):
        run_gram_stream(spark, src, gram, str(tmp_path / "c2"), scale=10**4)

    src2 = str(tmp_path / "src2")
    _write(src2, "b1.json", DOCS_A)
    qh = run_histogram_stream(
        spark, src2, hist, str(tmp_path / "c3"), bin_width_cents=400
    )
    try:
        qh.processAllAvailable()
    finally:
        qh.stop()
    assert read_histogram(spark, hist, bin_width_cents=400).count() > 0
    with pytest.raises(ValueError, match="mismatched parameters"):
        read_histogram(spark, hist, bin_width_cents=1600)
    with pytest.raises(ValueError, match="mismatched parameters"):
        compact_histogram(spark, hist, bin_width_cents=400, scale=10)
    with pytest.raises(ValueError, match="mismatched parameters"):
        run_histogram_stream(
            spark, src2, hist, str(tmp_path / "c4"), bin_width_cents=800
        )


def test_cms_store_grid_gate(spark, tmp_path):
    """(d, w) is frozen per CMS store: a restart with a different grid
    refuses before the stream starts; a matching read passes and a
    mismatched estimate-read is refused."""
    import pytest

    from kafka_streams_spark.streaming.sketch_stream import (
        read_cms_sketch,
        run_cms_stream,
    )

    src = str(tmp_path / "src")
    cms = str(tmp_path / "cms")
    _write(src, "b1.json", DOCS_A)
    q = run_cms_stream(spark, src, cms, str(tmp_path / "c1"), d=3, w=64)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert read_cms_sketch(spark, cms).count() > 0       # gate skipped
    assert read_cms_sketch(spark, cms, d=3, w=64).count() > 0
    with pytest.raises(ValueError, match="mismatched parameters"):
        read_cms_sketch(spark, cms, d=3, w=128)
    with pytest.raises(ValueError, match="mismatched parameters"):
        run_cms_stream(spark, src, cms, str(tmp_path / "c2"), d=4, w=64)


def test_posting_profile_stream_equals_batch_audit(spark, tmp_path):
    """r8: the streamed posting profile's merged state (and its audit
    read-off) equals the one-shot batch posting_pair_stats of all
    ingested docs BIT-FOR-BIT; replays are idempotent; the shingle n is
    a stamped frozen parameter."""
    import pytest
    from pyspark.sql import functions as F

    from kafka_streams_spark.operators.dedup import (
        posting_pair_stats,
        posting_pair_stats_from_profile,
    )
    from kafka_streams_spark.streaming.sketch_stream import (
        read_posting_profile,
        run_posting_profile_stream,
    )

    src = str(tmp_path / "src")
    prof = str(tmp_path / "prof")
    ckpt = str(tmp_path / "ckpt")

    _write(src, "b1.json", DOCS_A)
    q = run_posting_profile_stream(spark, src, prof, ckpt, n=1)
    try:
        q.processAllAvailable()
        _write(src, "b2.json", DOCS_B)
        q.processAllAvailable()
    finally:
        q.stop()

    all_docs = spark.createDataFrame(
        [(r["doc_id"], r["source"], r["text"]) for r in DOCS_A + DOCS_B],
        "doc_id bigint, source string, text string",
    )
    live = posting_pair_stats_from_profile(
        read_posting_profile(spark, prof, n=1)
    ).collect()[0]
    batch = posting_pair_stats(all_docs, n=1, block_col="source").collect()[0]
    assert tuple(live) == tuple(batch)

    # frozen-parameter gates
    with pytest.raises(ValueError, match="mismatched parameters"):
        read_posting_profile(spark, prof, n=2)
    with pytest.raises(ValueError, match="mismatched parameters"):
        run_posting_profile_stream(spark, src, prof, str(tmp_path / "c2"), n=2)


def test_jaccard_dispatcher_flips_on_streamed_profile_update(spark, tmp_path):
    """r9 (r8 verdict item 8): the Jaccard dispatcher CONSUMES the
    stream-maintained posting profile — the auto_join-consumes-
    join_size_audit pattern. A dense first batch (one repeated token:
    long posting lists) routes blocked; after a sparse second batch
    lands in the same store (many singleton tokens), the SAME read-off
    flips the choice to prefix. Output identity across the flip is also
    pinned: auto with the live profile equals the explicit physical
    forms either side."""
    from pyspark.sql import functions as F

    from kafka_streams_spark.operators.dedup import (
        jaccard_dispatch_choice,
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_auto,
        ngram_jaccard_pairs_prefix,
    )
    from kafka_streams_spark.streaming.sketch_stream import (
        read_posting_profile,
        run_posting_profile_stream,
    )

    src = str(tmp_path / "src")
    prof = str(tmp_path / "prof")
    ckpt = str(tmp_path / "ckpt")

    dense = [
        {"doc_id": i, "source": "s", "text": "tok tok tok tok"}
        for i in range(1, 4)
    ]
    sparse = [
        {
            "doc_id": 10 + i,
            "source": "s",
            "text": " ".join(f"w{10 * i + j}" for j in range(10)),
        }
        for i in range(4)
    ]

    def stats(profile):
        row = profile.agg(
            F.coalesce(F.sum("cnt"), F.lit(0)).alias("occ"),
            F.count(F.lit(1)).alias("distinct"),
        ).head()
        return int(row["occ"]), int(row["distinct"])

    _write(src, "b1.json", dense)
    q = run_posting_profile_stream(spark, src, prof, ckpt, n=1)
    try:
        q.processAllAvailable()
        occ1, dist1 = stats(read_posting_profile(spark, prof, n=1))
        choice1 = jaccard_dispatch_choice(3, occ1, dist1, dense_posting_len=3)
        _write(src, "b2.json", sparse)
        q.processAllAvailable()
        occ2, dist2 = stats(read_posting_profile(spark, prof, n=1))
        choice2 = jaccard_dispatch_choice(7, occ2, dist2, dense_posting_len=3)
    finally:
        q.stop()
    assert (choice1, choice2) == ("blocked", "prefix")

    # output identity: auto fed the LIVE profile equals both explicit
    # physical forms on the full corpus, whichever way it routes
    docs = spark.createDataFrame(
        [(r["doc_id"], r["source"], r["text"]) for r in dense + sparse],
        "doc_id bigint, source string, text string",
    )
    live = read_posting_profile(spark, prof, n=1)
    auto = sorted(
        tuple(r)
        for r in ngram_jaccard_pairs_auto(
            docs, n=1, threshold=0.5, block_col="source",
            dense_posting_len=3, profile=live,
        ).collect()
    )
    blocked = sorted(
        tuple(r)
        for r in ngram_jaccard_pairs(
            docs, n=1, threshold=0.5, block_col="source"
        ).collect()
    )
    prefix = sorted(
        tuple(r)
        for r in ngram_jaccard_pairs_prefix(
            docs, n=1, threshold=0.5, block_col="source"
        ).collect()
    )
    assert auto == blocked == prefix


DOCS_C = [
    {"doc_id": 5, "source": "s", "text": "eta theta theta"},
]


def test_compact_crash_recovery_never_double_counts(spark, tmp_path):
    """r10 review fix: the old fold overwrote -1 and deleted the pinned
    partitions afterwards — a crash between the two made the next
    compaction fold the already-folded rows AGAIN (permanent double
    count). The staged protocol (stage to -2 → manifest → swap) must
    leave the merged read correct at EVERY crash point except the
    documented transient windows, and a re-run must converge to the
    compacted state with no debris."""
    import shutil

    from kafka_streams_spark.streaming.sketch_stream import (
        _compact_deltas,
        _FOLD_MANIFEST,
    )

    src = str(tmp_path / "src")
    sketch = str(tmp_path / "sketch")
    ckpt = str(tmp_path / "ckpt")
    _write(src, "b1.json", DOCS_A)
    q = run_cms_stream(spark, src, sketch, ckpt, d=3, w=64)
    try:
        q.processAllAvailable()
        _write(src, "b2.json", DOCS_B)
        q.processAllAvailable()
    finally:
        q.stop()

    def fold(d, crash=None):
        _compact_deltas(
            spark, d, ["row_idx", "bucket"], ["counter"], _crash_after=crash
        )

    # healthy first fold (batches 0,1 -> -1), then one more batch on
    # the same checkpoint: the crash-injected second fold must merge
    # the existing -1 with partition 2
    fold(sketch)
    q = run_cms_stream(spark, src, sketch, ckpt, d=3, w=64)
    try:
        _write(src, "b3.json", DOCS_C)
        q.processAllAvailable()
    finally:
        q.stop()
    want = sorted(map(tuple, read_cms_sketch(spark, sketch).collect()))

    for point in ["stage", "manifest", "unfold", "rename", "first_delete"]:
        store = str(tmp_path / f"crash_{point}")
        shutil.copytree(sketch, store)
        import pytest as _pt

        with _pt.raises(RuntimeError, match="injected crash"):
            fold(store, crash=point)
        if point not in ("unfold", "rename"):
            # reader-visible state stays correct at every crash point
            # outside the two DOCUMENTED transient windows: "unfold"
            # (old -1 deleted, stage not yet renamed in — undercount)
            # and "rename" (stage renamed in, pinned partition not yet
            # deleted — inflation); both heal on recovery below
            assert sorted(
                map(tuple, read_cms_sketch(spark, store).collect())
            ) == want, point
        # recovery converges: reads correct, no stage, no manifest,
        # pinned partition folded exactly once
        fold(store)
        assert sorted(
            map(tuple, read_cms_sketch(spark, store).collect())
        ) == want, point
        assert not os.path.exists(f"{store}/ingest_batch=-2"), point
        assert not os.path.exists(f"{store}/{_FOLD_MANIFEST}"), point
        parts = sorted(
            p for p in os.listdir(store) if p.startswith("ingest_batch=")
        )
        assert parts == ["ingest_batch=-1"], (point, parts)


def test_recover_fold_reclaims_stale_manifest_tmp(spark, tmp_path):
    """r10 advice fix: when the manifest write crashed between
    completing ``_fold_pin.json.tmp`` and renaming it, recovery used to
    finish the swap via the reader's tmp-heal but delete only the
    (nonexistent) real manifest — the stale tmp survived forever, and a
    LATER crashed compaction would be 'recovered' against the OLD pin
    list (deleting a committed -1 or double-folding pinned rows).
    Recovery must reclaim BOTH paths in every branch."""
    import shutil

    from kafka_streams_spark.streaming.sketch_stream import (
        _compact_deltas,
        _FOLD_MANIFEST,
    )

    src = str(tmp_path / "src")
    sketch = str(tmp_path / "sketch")
    ckpt = str(tmp_path / "ckpt")
    _write(src, "b1.json", DOCS_A)
    q = run_cms_stream(spark, src, sketch, ckpt, d=3, w=64)
    try:
        q.processAllAvailable()
        _write(src, "b2.json", DOCS_B)
        q.processAllAvailable()
    finally:
        q.stop()
    want = sorted(map(tuple, read_cms_sketch(spark, sketch).collect()))

    def fold(d, crash=None):
        _compact_deltas(
            spark, d, ["row_idx", "bucket"], ["counter"], _crash_after=crash
        )

    # crash right after the manifest landed, then simulate the WRITE
    # crash window: tmp complete, rename never happened
    store = str(tmp_path / "tmp_heal")
    shutil.copytree(sketch, store)
    import pytest as _pt

    with _pt.raises(RuntimeError, match="injected crash"):
        fold(store, crash="manifest")
    manifest = f"{store}/{_FOLD_MANIFEST}"
    os.rename(manifest, manifest + ".tmp")
    fold(store)
    assert sorted(map(tuple, read_cms_sketch(spark, store).collect())) == want
    assert not os.path.exists(manifest)
    assert not os.path.exists(manifest + ".tmp")
    assert not os.path.exists(f"{store}/ingest_batch=-2")

    # debris branch: stage present, no manifest, UNPARSABLE tmp from a
    # crash mid-create — recovery must reclaim the tmp too, not leave
    # it to shadow a future manifest read
    store2 = str(tmp_path / "debris")
    shutil.copytree(sketch, store2)
    with _pt.raises(RuntimeError, match="injected crash"):
        fold(store2, crash="stage")
    with open(f"{store2}/{_FOLD_MANIFEST}.tmp", "w") as f:
        f.write('{"pinned": [0,')  # partial write
    fold(store2)
    assert sorted(map(tuple, read_cms_sketch(spark, store2).collect())) == want
    assert not os.path.exists(f"{store2}/{_FOLD_MANIFEST}.tmp")


def test_cms_stream_fresh_checkpoint_epoch_offset(spark, tmp_path):
    """r10 review fix: a fresh checkpoint restarts batch ids at 0, and
    the old writer dynamically OVERWROTE the prior generation's
    partition 0 — losing its counts. With the persisted epoch offset
    the new generation appends above everything on disk: re-delivered
    files re-count (documented at-least-once, the payment-changelog
    trade) but nothing is ever replaced."""
    from kafka_streams_spark.operators.text import cms_token_sketch
    from kafka_streams_spark.streaming.sketch_stream import _compact_deltas

    src = str(tmp_path / "src")
    sketch = str(tmp_path / "sketch")
    _write(src, "b1.json", DOCS_A)
    q = run_cms_stream(spark, src, sketch, str(tmp_path / "ckptA"), d=3, w=64)
    try:
        q.processAllAvailable()
        _write(src, "b2.json", DOCS_B)
        q.processAllAvailable()
    finally:
        q.stop()

    # fresh checkpoint: re-delivers b1+b2 and sees the new b3, batch 0
    _write(src, "b3.json", DOCS_C)
    q = run_cms_stream(spark, src, sketch, str(tmp_path / "ckptB"), d=3, w=64)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # the fresh generation landed at partition 2, replacing nothing
    parts = sorted(
        int(p.split("=")[1])
        for p in os.listdir(sketch)
        if p.startswith("ingest_batch=")
    )
    assert parts == [0, 1, 2]
    # merged sketch = everything once + the re-delivered A∪B again
    rows = DOCS_A + DOCS_B + DOCS_C + DOCS_A + DOCS_B
    all_docs = spark.createDataFrame(
        [(r["doc_id"], r["source"], r["text"]) for r in rows],
        "doc_id bigint, source string, text string",
    )
    expected = sorted(
        map(tuple, cms_token_sketch(all_docs, d=3, w=64).collect())
    )
    assert sorted(
        map(tuple, read_cms_sketch(spark, sketch).collect())
    ) == expected

    # compaction with the CURRENT checkpoint folds the abandoned
    # generation's partitions (below this generation's offset) AND this
    # generation's committed batch — ids translated through the epochs
    _compact_deltas(
        spark,
        sketch,
        ["row_idx", "bucket"],
        ["counter"],
        checkpoint_dir=str(tmp_path / "ckptB"),
    )
    parts = sorted(
        p for p in os.listdir(sketch) if p.startswith("ingest_batch=")
    )
    assert parts == ["ingest_batch=-1"]
    assert sorted(
        map(tuple, read_cms_sketch(spark, sketch).collect())
    ) == expected


def test_corpus_ingest_fresh_checkpoint_epoch_offset(spark, tmp_path):
    """The ingest stream's epoch fix: a fresh checkpoint's batch 0 used
    to (a) exclude the prior generation's partition 0 from the
    membership gate — re-admitting its docs — and (b) overwrite that
    partition, losing accepted docs that did not re-arrive. Now the
    fresh generation gates against the FULL prior corpus and appends
    above it."""
    from kafka_streams_spark.streaming.ingest import run_corpus_ingest_stream

    src = str(tmp_path / "src")
    corpus = str(tmp_path / "corpus")
    _write(src, "b1.json", DOCS_A)
    q = run_corpus_ingest_stream(spark, src, corpus, str(tmp_path / "ckptA"))
    try:
        q.processAllAvailable()
        _write(src, "b2.json", DOCS_B)
        q.processAllAvailable()
    finally:
        q.stop()
    before = {
        r["doc_id"] for r in spark.read.parquet(corpus).collect()
    }
    assert before == {1, 2, 3, 4}

    _write(src, "b3.json", DOCS_C)
    q = run_corpus_ingest_stream(spark, src, corpus, str(tmp_path / "ckptB"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.read.parquet(corpus).select("doc_id", "ingest_batch").collect()
    # every doc exactly once: re-deliveries dropped by the gate, the
    # new doc admitted, nothing overwritten or re-admitted
    assert sorted(r["doc_id"] for r in got) == [1, 2, 3, 4, 5]
    by_batch = {r["doc_id"]: r["ingest_batch"] for r in got}
    assert by_batch[1] == 0 and by_batch[3] == 1
    assert by_batch[5] == 2  # the fresh generation's offset


def test_cms_empty_store_reads_and_compact_cms(spark, tmp_path):
    """r10 review fixes: (1) a stamped-but-empty store (sidecars land
    before the first delta) raises a clear FileNotFoundError from the
    readers and NO-OPS in compaction, instead of Spark's
    UNABLE_TO_INFER_SCHEMA; (2) the CMS store has a public compactor
    with the same stamp gate as its siblings."""
    import pytest as _pt

    from kafka_streams_spark.streaming.sketch_stream import compact_cms
    from kafka_streams_spark.streaming.store import _stamp_sketch_store

    src = str(tmp_path / "src")
    sketch = str(tmp_path / "sketch")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)
    # start over an empty source: the stamp lands, no delta ever does
    q = run_cms_stream(spark, src, sketch, ckpt, d=3, w=64)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    with _pt.raises(FileNotFoundError, match="no deltas"):
        read_cms_sketch(spark, sketch)
    compact_cms(spark, sketch)  # no-op, not a crash

    # real deltas fold through the public compactor
    _write(src, "b1.json", DOCS_A)
    q = run_cms_stream(spark, src, sketch, ckpt, d=3, w=64)
    try:
        q.processAllAvailable()
        _write(src, "b2.json", DOCS_B)
        q.processAllAvailable()
    finally:
        q.stop()
    want = sorted(map(tuple, read_cms_sketch(spark, sketch).collect()))
    compact_cms(spark, sketch, checkpoint_dir=ckpt)
    assert sorted(
        map(tuple, read_cms_sketch(spark, sketch).collect())
    ) == want
    parts = sorted(
        p for p in os.listdir(sketch) if p.startswith("ingest_batch=")
    )
    assert parts == ["ingest_batch=-1"]

    # the stamp gate holds: a non-CMS store refuses the CMS compactor
    other = str(tmp_path / "other")
    _stamp_sketch_store(spark, other, {"kind": "gram", "scale": 1000})
    with _pt.raises(ValueError, match="mismatched parameters"):
        compact_cms(spark, other)


def test_compaction_commit_log_retention_floor(spark, tmp_path):
    """r10 review fix: Spark purges old commit-log entries
    (minBatchesToRetain), so 'not listed' does not mean 'not
    committed' — the log is sequential, so ids below the oldest
    retained commit must have committed. Without the floor, a
    long-lived stream's older partitions fell out of the retention
    window and could never fold."""
    from kafka_streams_spark.streaming.sketch_stream import (
        _committed_batch_ids,
        compact_cms,
    )

    src = str(tmp_path / "src")
    sketch = str(tmp_path / "sketch")
    ckpt = str(tmp_path / "ckpt")
    old = spark.conf.get("spark.sql.streaming.minBatchesToRetain", "100")
    spark.conf.set("spark.sql.streaming.minBatchesToRetain", "1")
    try:
        _write(src, "b1.json", DOCS_A)
        q = run_cms_stream(spark, src, sketch, ckpt, d=3, w=64)
        try:
            q.processAllAvailable()
            _write(src, "b2.json", DOCS_B)
            q.processAllAvailable()
            _write(src, "b3.json", DOCS_C)
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.streaming.minBatchesToRetain", old)
    committed = _committed_batch_ids(spark, ckpt)
    assert len(committed) < 3  # the purge actually happened
    want = sorted(map(tuple, read_cms_sketch(spark, sketch).collect()))
    compact_cms(spark, sketch, checkpoint_dir=ckpt)
    # every partition folded — including the ones purged from the log
    parts = sorted(
        p for p in os.listdir(sketch) if p.startswith("ingest_batch=")
    )
    assert parts == ["ingest_batch=-1"]
    assert sorted(
        map(tuple, read_cms_sketch(spark, sketch).collect())
    ) == want
