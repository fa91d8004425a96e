"""Streaming count-min sketch: per-batch deltas, merged-on-read state,
replay idempotence — the changelog pattern applied to a mergeable
sketch."""

from __future__ import annotations

import json
import os
import shutil

import pytest

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


def _layout(store: str) -> tuple[list[int], list[int]]:
    """A sketch store on disk: (its ``_base/hwm=N`` snapshots, its
    ``ingest_batch=N`` delta partitions), each sorted."""
    base = os.path.join(store, "_base")
    hwms = os.listdir(base) if os.path.isdir(base) else []
    return (
        sorted(int(h.split("=")[1]) for h in hwms if h.startswith("hwm=")),
        sorted(
            int(p.split("=")[1])
            for p in os.listdir(store)
            if p.startswith("ingest_batch=")
        ),
    )


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
    """Compaction folds the closed delta partitions into the base
    without changing the merged statistic; subsequent deltas keep
    accumulating."""
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
    assert _layout(gram) == ([0], [1])

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
    of everything ingested; compaction folds the closed deltas into the
    ``_base`` snapshot without changing the merged view; replayed
    batches are idempotent (same deterministic delta overwrites its own
    partition)."""
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
    # the base holds batch 0; a plain read of the store sees only the
    # newest delta (the file index skips ``_base``)
    assert _layout(hist) == ([0], [1])
    parts = {r["ingest_batch"] for r in spark.read.parquet(hist).select("ingest_batch").distinct().collect()}
    assert parts == {1}


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


def _stream_beside_fold(monkeypatch, stream_batch) -> None:
    """Make the next sketch compaction call ``stream_batch()`` inside its
    fold: after the fold listed the delta partitions and planned its
    base, before it writes the base and deletes anything."""
    from kafka_streams_spark.streaming import sketch_stream

    fold = sketch_stream.fold_into_base

    def fold_beside(spark, delta_dir, base_dir, build):
        def build_beside(old_hwm, hwm):
            base = build(old_hwm, hwm)
            stream_batch()
            return base

        return fold(spark, delta_dir, base_dir, build_beside)

    monkeypatch.setattr(sketch_stream, "fold_into_base", fold_beside)


def test_compact_gram_survives_concurrent_delta(spark, tmp_path, monkeypatch):
    """A stream batch that lands while the fold runs survives with its
    counts intact: the fold folds only the partitions it listed, below
    the newest, and deletes only those."""
    from kafka_streams_spark.operators.similarity import embedding_gram
    from kafka_streams_spark.streaming.sketch_stream import (
        compact_gram,
        read_gram,
        run_gram_stream,
    )

    src = str(tmp_path / "src")
    gram = str(tmp_path / "gram")
    late = [{"vec_id": 9, "embedding": [4.0, 0.5, -1.0], "label": "b"}]
    _write(src, "b1.json", EMBS_A)
    q = run_gram_stream(spark, src, gram, str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
        _write(src, "b2.json", EMBS_B)
        q.processAllAvailable()

        def stream_writes():
            _write(src, "b3.json", late)
            q.processAllAvailable()

        _stream_beside_fold(monkeypatch, stream_writes)
        compact_gram(spark, gram)
    finally:
        q.stop()

    # batch 0 folded; the newest closed-at-listing delta and the
    # mid-fold delta both survive, unfolded
    assert _layout(gram) == ([0], [1, 2])
    all_embs = spark.createDataFrame(
        [(r["vec_id"], r["embedding"], r["label"]) for r in EMBS_A + EMBS_B + late],
        "vec_id bigint, embedding array<double>, label string",
    )
    expected = embedding_gram(all_embs, scale=10**3)
    assert sorted(map(tuple, read_gram(spark, gram).collect())) == sorted(
        map(tuple, expected.collect())
    )


def test_compaction_skips_uncommitted_batch(spark, tmp_path):
    """Replay safety: a delta whose foreachBatch write landed but whose
    checkpoint commit did not is re-delivered on restart. If compaction
    had folded and deleted it, the replay would re-create the partition
    and the store would count it twice. The fold never folds the newest
    partition — the only one a restart can replay — so the uncommitted
    delta stays a delta and the post-replay read-off is exact."""
    from kafka_streams_spark.streaming.sketch_stream import (
        compact_key_profile,
        read_key_profile,
    )
    from kafka_streams_spark.streaming.store import write_batch

    prof = str(tmp_path / "profile")

    def write_delta(batch_id, rows):
        write_batch(
            spark.createDataFrame(rows, "k string, cnt bigint"), prof, batch_id
        )

    write_delta(0, [("a", 3), ("b", 1)])
    write_delta(1, [("a", 2)])  # written, but its commit never landed
    compact_key_profile(spark, prof)
    assert _layout(prof) == ([0], [1])  # batch 1 NOT folded, NOT deleted

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
DOCS_D = [
    {"doc_id": 6, "source": "t", "text": "iota kappa lambda mu"},
    {"doc_id": 7, "source": "s", "text": "nu xi alpha"},
]
DOCS_E = [
    {"doc_id": 8, "source": "t", "text": "omicron pi rho sigma tau"},
]
EMB_BATCHES = [
    EMBS_A,
    EMBS_B,
    [{"vec_id": 4, "embedding": [2.0, -0.75, 1.5], "label": "b"}],
    [{"vec_id": 5, "embedding": [0.5, 0.5, -2.0], "label": "a"}],
    [{"vec_id": 6, "embedding": [-1.25, 3.0, 0.0], "label": "b"}],
]
SKETCH_K = 4  # small, so the kmv and rank merges truncate to bottom-k


def _rows(df) -> list[str]:
    """A DataFrame's rows as a sorted, column-order-free, NULL-safe list."""
    return sorted(repr(sorted(r.asDict().items())) for r in df.collect())


def _sketch_case(spark, kind: str):
    """One compactable sketch: ``(start(src, store, ckpt), read(store),
    compact(store), batch(rows), source batches)``, where ``batch`` is
    the one-shot batch sketch of the source rows."""
    from pyspark.sql import functions as F

    from kafka_streams_spark.operators.dedup import tokens
    from kafka_streams_spark.operators.profiling import (
        distinct_kmv,
        key_profile,
        rank_sketch,
        value_histogram,
    )
    from kafka_streams_spark.operators.similarity import embedding_gram
    from kafka_streams_spark.operators.text import cms_token_sketch
    from kafka_streams_spark.streaming import sketch_stream as ss

    k = SKETCH_K

    def docs(rows):
        return spark.createDataFrame(
            [(r["doc_id"], r["source"], r["text"]) for r in rows],
            "doc_id bigint, source string, text string",
        )

    def lengths(rows):
        return docs(rows).select(
            "doc_id", F.length("text").cast("double").alias("n_chars")
        )

    def embs(rows):
        return spark.createDataFrame(
            [(r["vec_id"], r["embedding"], r["label"]) for r in rows],
            "vec_id bigint, embedding array<double>, label string",
        )

    cases = {
        "cms": (
            lambda src, st, ck: ss.run_cms_stream(spark, src, st, ck, d=3, w=64),
            lambda st: ss.read_cms_sketch(spark, st),
            lambda st: ss.compact_cms(spark, st),
            lambda rows: cms_token_sketch(docs(rows), d=3, w=64),
        ),
        "gram": (
            lambda src, st, ck: ss.run_gram_stream(spark, src, st, ck),
            lambda st: ss.read_gram(spark, st),
            lambda st: ss.compact_gram(spark, st),
            lambda rows: embedding_gram(embs(rows), scale=10**3),
        ),
        "histogram": (
            lambda src, st, ck: ss.run_histogram_stream(
                spark, src, st, ck, bin_width_cents=400
            ),
            lambda st: ss.read_histogram(spark, st, bin_width_cents=400),
            lambda st: ss.compact_histogram(spark, st, bin_width_cents=400),
            lambda rows: value_histogram(
                lengths(rows), "n_chars", bin_width_cents=400
            ),
        ),
        "kmv": (
            lambda src, st, ck: ss.run_kmv_stream(spark, src, st, ck, k=k),
            lambda st: ss.read_kmv(spark, st, k=k),
            lambda st: ss.compact_kmv(spark, st, k=k),
            lambda rows: distinct_kmv(
                docs(rows).select(
                    "source", F.explode(tokens(F.col("text"))).alias("t")
                ),
                "t",
                ["source"],
                k=k,
            ),
        ),
        "key_profile": (
            lambda src, st, ck: ss.run_key_profile_stream(spark, src, st, ck),
            lambda st: ss.read_key_profile(spark, st),
            lambda st: ss.compact_key_profile(spark, st),
            lambda rows: key_profile(docs(rows), "source"),
        ),
        "rank": (
            lambda src, st, ck: ss.run_rank_sketch_stream(spark, src, st, ck, k=k),
            lambda st: ss.read_rank_sketch(spark, st, k=k),
            lambda st: ss.compact_rank_sketch(spark, st, k=k),
            lambda rows: rank_sketch(lengths(rows), "n_chars", "doc_id", k=k),
        ),
    }
    batches = (
        EMB_BATCHES if kind == "gram" else [DOCS_A, DOCS_B, DOCS_C, DOCS_D, DOCS_E]
    )
    return (*cases[kind], batches)


def _check_fold_at_every_point(spark, tmp_path, monkeypatch, kind: str) -> None:
    """The merged read of a ``kind`` sketch store equals the one-shot
    batch sketch of everything ingested before compaction, after it,
    with a stream batch landing inside the fold, at each crash point of
    a fold, and after the re-run that finishes a crashed fold — which
    also compacts a long stream down to its base plus the newest delta.

    A crash point is rebuilt from copies of the store taken before and
    after a fold (the way tests/test_compaction.py rebuilds the
    balance store's): the fold writes the new base, deletes the old
    base, then deletes the folded deltas one by one."""
    start, read, compact, batch, batches = _sketch_case(spark, kind)
    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    os.makedirs(src)
    q = start(src, store, str(tmp_path / "ckpt"))
    fed: list[dict] = []

    def feed(i: int) -> None:
        _write(src, f"b{i}.json", batches[i])
        fed.extend(batches[i])
        q.processAllAvailable()

    def check(where: str, at: str = store) -> None:
        assert _rows(read(at)) == _rows(batch(fed)), (kind, where)

    try:
        feed(0)
        feed(1)
        check("before compaction")
        compact(store)
        assert _layout(store) == ([0], [1])
        check("after compaction")
        feed(2)
        feed(3)
        before = str(tmp_path / "before_fold")
        shutil.copytree(store, before)
        # the stream writes batch 4 after the fold listed batches 1-3
        _stream_beside_fold(monkeypatch, lambda: feed(4))
        compact(store)
        monkeypatch.undo()
        assert _layout(store) == ([2], [3, 4])
        check("with a stream batch landing inside the fold")
    finally:
        q.stop()

    crash_points = {
        "after the base commit": ["_base/hwm=0", "ingest_batch=1", "ingest_batch=2"],
        "after the old-base delete": ["ingest_batch=1", "ingest_batch=2"],
        "after the first delta delete": ["ingest_batch=2"],
    }
    for point, undone in crash_points.items():
        crashed = str(tmp_path / point.replace(" ", "_"))
        shutil.copytree(store, crashed)
        for d in undone:
            shutil.copytree(f"{before}/{d}", f"{crashed}/{d}")
        check(point, crashed)
        # the re-run finishes the cleanup and folds batch 3 as well
        compact(crashed)
        assert _layout(crashed) == ([3], [4]), point
        check(f"re-run {point}", crashed)


def test_compact_crash_recovery_never_double_counts(spark, tmp_path, monkeypatch):
    """A fold that crashed part-way — after its base commit, after the
    old-base delete or after its first delta delete — leaves the merged
    CMS read exact, and the re-run converges to one base plus the newest
    delta without folding any row twice (the other compactable sketches
    run the same check in test_sketch_fold_exact_at_every_point)."""
    _check_fold_at_every_point(spark, tmp_path, monkeypatch, "cms")


@pytest.mark.parametrize(
    "kind", ["gram", "histogram", "kmv", "key_profile", "rank"]
)
def test_sketch_fold_exact_at_every_point(spark, tmp_path, monkeypatch, kind):
    """Every compactable sketch folds exactly: see
    :func:`_check_fold_at_every_point`."""
    _check_fold_at_every_point(spark, tmp_path, monkeypatch, kind)


@pytest.mark.parametrize("kind", ["cms", "kmv"])
def test_reserved_partition_store_keeps_reading(spark, tmp_path, kind):
    """A store compacted by the earlier reserved-partition fold holds
    its folded state in an ``ingest_batch=-1`` partition. Its merged
    read is the same before and after the first fold (which folds the
    ``-1`` partition into the base and deletes it), and after a further
    stream batch and fold. CMS covers a sum merge, KMV a bottom-k
    merge."""
    from pyspark.sql import functions as F

    from kafka_streams_spark.streaming import sketch_stream as ss
    from kafka_streams_spark.streaming.store import write_batch

    start, read, compact, batch, batches = _sketch_case(spark, kind)
    merge = (
        ss._cms_merge if kind == "cms" else lambda df: ss._kmv_merge(df, SKETCH_K)
    )
    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    q = start(src, store, ckpt)
    try:
        for i in (0, 1):
            _write(src, f"b{i}.json", batches[i])
            q.processAllAvailable()
    finally:
        q.stop()
    # the earlier compactor's layout: committed batch 0 folded into -1
    folded = merge(spark.read.parquet(store).filter(F.col("ingest_batch") == 0))
    write_batch(spark.createDataFrame(folded.collect(), folded.schema), store, -1)
    shutil.rmtree(f"{store}/ingest_batch=0")
    assert _layout(store) == ([], [-1, 1])
    want = _rows(batch(batches[0] + batches[1]))
    assert _rows(read(store)) == want

    compact(store)
    assert _layout(store) == ([-1], [1])  # the -1 partition is folded away
    assert _rows(read(store)) == want

    q = start(src, store, ckpt)
    try:
        _write(src, "b2.json", batches[2])
        q.processAllAvailable()
    finally:
        q.stop()
    compact(store)
    assert _layout(store) == ([1], [2])
    assert _rows(read(store)) == _rows(batch(batches[0] + batches[1] + batches[2]))


def test_cms_stream_fresh_checkpoint_epoch_offset(spark, tmp_path):
    """A fresh checkpoint restarts batch ids at 0, and
    the old writer dynamically OVERWROTE the prior generation's
    partition 0 — losing its counts. With the persisted epoch offset
    the new generation appends above everything on disk: re-delivered
    files re-count (documented at-least-once, the payment-changelog
    trade) but nothing is ever replaced."""
    from kafka_streams_spark.operators.text import cms_token_sketch
    from kafka_streams_spark.streaming.sketch_stream import compact_cms

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

    # compaction folds both generations' closed partitions and keeps the
    # newest, whichever generation wrote it
    compact_cms(spark, sketch)
    assert _layout(sketch) == ([1], [2])
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
    """(1) A stamped-but-empty store (sidecars land
    before the first delta) raises a clear FileNotFoundError from the
    readers and NO-OPS in compaction, instead of Spark's
    UNABLE_TO_INFER_SCHEMA; (2) the CMS store has a public compactor
    with the same stamp gate as its siblings."""
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
    with pytest.raises(FileNotFoundError, match="no deltas"):
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
    compact_cms(spark, sketch)
    assert sorted(
        map(tuple, read_cms_sketch(spark, sketch).collect())
    ) == want
    assert _layout(sketch) == ([0], [1])

    # the stamp gate holds: a non-CMS store refuses the CMS compactor
    other = str(tmp_path / "other")
    _stamp_sketch_store(spark, other, {"kind": "gram", "scale": 1000})
    with pytest.raises(ValueError, match="mismatched parameters"):
        compact_cms(spark, other)
