"""Streaming corpus-frequency monitor: a count-min sketch maintained
over a document stream as batch-partitioned DELTAS in a changelog store
(``streaming/store.py``), and the same shape for the other mergeable
sketches and indexes below.

Each micro-batch writes only its own ``ingest_batch`` partition, holding
the CMS counters of that batch's tokens (≤ d·w rows regardless of batch
size); the live sketch is the per-(row_idx, bucket) SUM over all
partitions, which is exactly CMS mergeability (pinned in
tests/test_quality_sketch.py::test_cms_sketch_merges_by_addition).
Counters are exactly-once under at-least-once delivery: a replayed
batch recomputes the same deterministic delta (md5-keyed hashes, no
randomness) and overwrites its own partition with the same rows.

This is the 100 TB shape for "what are the hot tokens in today's
crawl": state is O(d·w·batches) tiny rows, the merge is one partial-
aggregated shuffle of those rows, and no full-vocabulary aggregation
ever runs. Compaction folds closed partitions into a base snapshot at
``<store>/_base/hwm=N/`` with the store's hwm-base fold
(:func:`store.fold_into_base`); Spark's file index skips the
underscore-prefixed ``_base``, so a plain read of the store sees only
its deltas.

Every stream here starts through :func:`store.run_changelog_stream`
(most via :func:`_run_delta_stream`, which writes the batch's delta),
and each mergeable sketch states its merge once (``_cms_merge``,
``_gram_merge``, ``_hist_merge``, ``_key_profile_merge``,
``_kmv_merge``, ``_rank_merge``): its ``read_*`` applies it to the base
and the deltas above it, and its ``compact_*`` to the base and the
closed deltas (:func:`_fold_sketch`).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from kafka_streams_spark.streaming.ingest import DOC_SCHEMA, EMB_SCHEMA
from kafka_streams_spark.streaming.store import (
    _check_sketch_meta,
    _stamp_sketch_store,
    fold_into_base,
    read_changelog,
    run_changelog_stream,
    write_batch,
)


def _base_dir(store_dir: str) -> str:
    return f"{store_dir}/_base"


def _read_delta_store(spark: SparkSession, store_dir: str) -> DataFrame:
    """Every reader's view of a sketch or index store: the newest base
    plus the deltas above it (:func:`store.read_changelog`). A store
    that holds no delta yet (the ``_sketch_meta.json`` /
    ``_epochs.json`` sidecars land before the first data write) raises
    a clear FileNotFoundError instead of Spark's
    UNABLE_TO_INFER_SCHEMA."""
    df = read_changelog(spark, store_dir, _base_dir(store_dir))
    if df is None:
        raise FileNotFoundError(f"no deltas under {store_dir} yet")
    return df


def _fold_sketch(
    spark: SparkSession, store_dir: str, merge: Callable[[DataFrame], DataFrame]
) -> None:
    """Fold a store's closed deltas into ``<store_dir>/_base/hwm=N/``
    with :func:`store.fold_into_base`; the new base is ``merge`` (the
    one the store's reader applies) over the old base and the deltas up
    to ``hwm``."""
    fold_into_base(
        spark,
        store_dir,
        _base_dir(store_dir),
        lambda old_hwm, hwm: merge(
            _read_delta_store(spark, store_dir).filter(
                F.col("ingest_batch") <= hwm
            )
        ),
    )


def _run_delta_stream(
    spark: SparkSession,
    schema: StructType,
    source_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    delta_of: Callable[[DataFrame], DataFrame],
):
    """Start a sketch/index stream: :func:`store.run_changelog_stream`
    with ``delta_of(batch_df)`` written as the batch's own partition of
    ``store_dir``. The epoch-mapped id turns a fresh checkpoint into
    clean at-least-once re-counting instead of overwriting the prior
    generation's deltas."""

    def update(batch_df: DataFrame, batch_id: int) -> None:
        write_batch(delta_of(batch_df), store_dir, batch_id)

    return run_changelog_stream(
        spark, schema, source_dir, checkpoint_dir, store_dir, [store_dir],
        [_base_dir(store_dir)], update,
    )


def _grouped_sum(
    keys: list[str], sums: list[str]
) -> Callable[[DataFrame], DataFrame]:
    """The merge of a sum-mergeable sketch: per-key sums of its
    counters (an ``ingest_batch`` column is grouped away)."""
    return lambda df: df.groupBy(*keys).agg(*[F.sum(c).alias(c) for c in sums])


_cms_merge = _grouped_sum(["row_idx", "bucket"], ["counter"])
_gram_merge = _grouped_sum(["dim_i", "dim_j"], ["n", "sum_i", "sum_j", "sum_prod"])
_hist_merge = _grouped_sum(["bucket"], ["counter"])
_key_profile_merge = _grouped_sum(["k"], ["cnt"])


def _kmv_merge(df: DataFrame, k: int) -> DataFrame:
    """Per-source bottom-k of the union of the partials' hashes."""
    from kafka_streams_spark.operators.profiling import kmv_state_merge

    return kmv_state_merge(df.select("source", "h"), ["source"], k=k)


def _rank_merge(df: DataFrame, k: int) -> DataFrame:
    """Bottom-k of the union of the partials' samples, counts summed."""
    from kafka_streams_spark.operators.profiling import rank_sketch_merge

    return rank_sketch_merge(df.select("h", "value", "n"), k=k)


def run_cms_stream(
    spark: SparkSession,
    source_dir: str,
    sketch_dir: str,
    checkpoint_dir: str,
    d: int = 4,
    w: int = 1024,
):
    """Start the sketch-maintenance loop over a JSON document stream;
    returns the StreamingQuery. Read the live sketch with
    :func:`read_cms_sketch` at any time — readers never block the
    writer (plain parquet partitions, no state-store API)."""
    from kafka_streams_spark.operators.text import cms_token_sketch

    # (d, w) is the frozen grid of the store — deltas on a different
    # grid would sum into cells that mean different hash buckets
    _stamp_sketch_store(
        spark, sketch_dir, {"kind": "cms", "d": int(d), "w": int(w)}
    )
    return _run_delta_stream(
        spark, DOC_SCHEMA, source_dir, sketch_dir, checkpoint_dir,
        lambda batch_df: cms_token_sketch(batch_df, d=d, w=w),
    )


def read_cms_sketch(
    spark: SparkSession, sketch_dir: str, d: int | None = None, w: int | None = None
) -> DataFrame:
    """The live merged sketch: per-(row_idx, bucket) sum over every
    batch delta — identical to the batch sketch of the full corpus
    ingested so far. Output: (row_idx, bucket, counter). Pass (d, w)
    to check them against the store's stamp; None skips the gate
    (reading the merged table needs no grid knowledge — only ESTIMATES
    computed against differently-gridded literals would be wrong)."""
    if d is not None or w is not None:
        expect: dict = {"kind": "cms"}
        if d is not None:
            expect["d"] = int(d)
        if w is not None:
            expect["w"] = int(w)
        _check_sketch_meta(spark, sketch_dir, expect)
    return _cms_merge(_read_delta_store(spark, sketch_dir))


def compact_cms(spark: SparkSession, sketch_dir: str) -> None:
    """Fold the closed batch deltas into the store's base snapshot —
    :func:`_fold_sketch` with the per-(row_idx, bucket) counter sum,
    behind the stamp gate. The grid parameters are not needed —
    counters sum grid-agnostically; only estimate read-offs are
    grid-sensitive (:func:`read_cms_sketch`)."""
    _check_sketch_meta(spark, sketch_dir, {"kind": "cms"})
    _fold_sketch(spark, sketch_dir, _cms_merge)


# ---------------------------------------------------------------------------
# streaming second-moment (Gram) maintenance — covariance drift monitoring
# ---------------------------------------------------------------------------


def run_gram_stream(
    spark: SparkSession,
    source_dir: str,
    gram_dir: str,
    checkpoint_dir: str,
    scale: int = 10**3,
    dim: int | None = None,
):
    """Maintain the exact second-moment (Gram) table of an embedding
    stream — the state a live covariance/whitening/drift monitor reads
    — as batch-partitioned DELTAS, the CMS pattern applied to
    :func:`~kafka_streams_spark.operators.similarity.embedding_gram`:
    each micro-batch writes its own d(d+1)/2-row partial (bounded by
    d², never batch size), and the live statistic is the per-(i,j) SUM
    over partitions — exactly the mergeability the int64-quantized Gram
    was built for. Replay-idempotent for the router's reason: a
    re-delivered batch recomputes the same deterministic delta into its
    own partition.

    Reading covariance "as of now" costs one tiny merge; comparing the
    latest k batch partials against the all-time merge is an embedding
    DRIFT detector (the corpus_drift shape in vector space) with no
    corpus re-scan. Default scale 10³ keeps ``n·(scale·max|x|)²``
    inside int64 out to ~10¹² streamed rows.
    """
    import logging

    from kafka_streams_spark.operators.similarity import embedding_gram

    # Scale is a FROZEN unit of the store: a restart with a different
    # scale would append deltas whose sum_i/sum_prod are in a different
    # unit and read_gram would sum them silently.
    _stamp_sketch_store(spark, gram_dir, {"kind": "gram", "scale": int(scale)})
    log = logging.getLogger(__name__)

    def update(batch_df: DataFrame, batch_id: int) -> None:
        # embedding_gram quarantines NULL rows (and, with dim set,
        # ragged rows) JVM-side, so one bad JSON record cannot kill the
        # long-running stream. Without an explicit dim, a ragged row
        # would still crash np.stack, so the batch's MODAL embedding
        # length stands in (deterministic: mode over the row multiset,
        # smallest on ties) — pass dim explicitly in production so a
        # mostly-corrupt batch cannot vote its way into the gram table.
        d = dim
        if d is None:
            # the modal-length vote is a SECOND action over the batch —
            # without caching, foreachBatch recomputes the source read
            # for the gram pass too, doubling steady-state ingest I/O on
            # every trigger
            batch_df.persist()
        try:
            if d is None:
                by_len = (
                    batch_df.filter(F.col("embedding").isNotNull())
                    .groupBy(F.size("embedding").alias("_d"))
                    .count()
                    .collect()
                )
                if not by_len:
                    return  # nothing but NULLs in this batch: no delta
                top = min(by_len, key=lambda r: (-r["count"], r["_d"]))
                d = top["_d"]
                # Observability for the modal-dim fallback: a
                # majority-corrupt batch can vote its corrupt length in
                # as d and silently quarantine every GOOD row of the
                # batch — surface how many rows the vote rejected so the
                # operator sees the quarantine instead of a quietly
                # thinner gram table.
                n_batch = sum(r["count"] for r in by_len)
                n_rejected = n_batch - top["count"]
                if n_rejected:
                    log.warning(
                        "run_gram_stream batch %s: modal dim %s accepted "
                        "%s rows, quarantined %s rows with other lengths "
                        "— pass dim explicitly to pin the expected "
                        "dimension",
                        batch_id, d, top["count"], n_rejected,
                    )
            write_batch(
                embedding_gram(batch_df, scale=scale, dim=d), gram_dir, batch_id
            )
        finally:
            if dim is None:
                batch_df.unpersist()

    return run_changelog_stream(
        spark, EMB_SCHEMA, source_dir, checkpoint_dir, gram_dir, [gram_dir],
        [_base_dir(gram_dir)], update,
    )


def read_gram(
    spark: SparkSession, gram_dir: str, scale: int = 10**3
) -> DataFrame:
    """The live merged second-moment table: per-(dim_i, dim_j) sums over
    every batch delta — identical to the batch ``embedding_gram`` of all
    rows ingested so far. Output: (dim_i, dim_j, n, sum_i, sum_j,
    sum_prod). ``scale`` is checked against the store's stamp (the
    int64 sums are in scale-dependent units; a mismatched read would
    de-quantize wrongly)."""
    _check_sketch_meta(spark, gram_dir, {"kind": "gram", "scale": int(scale)})
    return _gram_merge(_read_delta_store(spark, gram_dir))


def compact_gram(
    spark: SparkSession, gram_dir: str, *, scale: int = 10**3
) -> None:
    """Fold the closed batch deltas into a base snapshot holding their
    sums — the changelog compaction step (same economics as the
    router's): read cost of :func:`read_gram` drops from d²·batches
    rows back to d², and the stream keeps appending new deltas after.
    Safe beside a live stream (:func:`store.fold_into_base`)."""
    _check_sketch_meta(spark, gram_dir, {"kind": "gram", "scale": int(scale)})
    _fold_sketch(spark, gram_dir, _gram_merge)


def run_pq_encode_stream(
    spark: SparkSession,
    source_dir: str,
    codes_dir: str,
    checkpoint_dir: str,
    codebooks: list,
):
    """Streaming half of the recurring ANN deployment: new vectors
    arrive as a JSON stream and each micro-batch appends its PQ CODES
    (m ints per vector) to the persisted code index — the
    ``write_pq_codes`` table kept live. Codebooks are FROZEN inputs
    (train once per corpus generation; re-encoding the world on a
    codebook change is a batch rebuild, not a streaming concern), and
    every delta carries the same codebook fingerprint metadata the
    batch writer stamps, so readers gate-check exactly as for the
    batch table. Idempotent under replay for the standard reason: a
    re-delivered batch recomputes the same deterministic codes into
    its own partition.

    ADC queries read the merged table with :func:`read_pq_codes_stream`
    and never touch the float vectors of already-encoded rows — the
    100 TB economics this index exists for.
    """
    from kafka_streams_spark.operators.similarity import (
        _stamp_pq_codes,
        pq_encode,
    )

    return _run_delta_stream(
        spark, EMB_SCHEMA, source_dir, codes_dir, checkpoint_dir,
        lambda batch_df: _stamp_pq_codes(pq_encode(batch_df, codebooks), codebooks),
    )


def read_pq_codes_stream(
    spark: SparkSession, codes_dir: str, codebooks: list | None = None
) -> DataFrame:
    """Read the live streamed code index (all batch partitions, the
    ``ingest_batch`` column dropped) with the same codebook-fingerprint
    gate as :func:`~kafka_streams_spark.operators.similarity.read_pq_codes`."""
    from kafka_streams_spark.operators.similarity import _gate_pq_codes

    df = _read_delta_store(spark, codes_dir).drop("ingest_batch")
    return _gate_pq_codes(df, codebooks, codes_dir)


# ---------------------------------------------------------------------------
# streaming value-distribution (histogram) maintenance — quantile monitoring
# ---------------------------------------------------------------------------


def _hist_meta(bin_width_cents: int, scale: int) -> dict:
    """A histogram store's stamp: its bin grid, frozen at first start —
    deltas snapped to a different (bin_width, scale) grid would merge
    into buckets that mean different value ranges."""
    return {
        "kind": "hist",
        "bin_width_cents": int(bin_width_cents),
        "scale": int(scale),
    }


def run_histogram_stream(
    spark: SparkSession,
    source_dir: str,
    hist_dir: str,
    checkpoint_dir: str,
    bin_width_cents: int = 1600,
    scale: int = 100,
):
    """Maintain the doc-length distribution of a document stream as a
    mergeable :func:`~kafka_streams_spark.operators.profiling.value_histogram`
    kept live — the CMS changelog pattern applied to the quantile
    sketch. Each micro-batch writes only its own ``ingest_batch``
    partition (≤ range/bin_width rows regardless of batch size); the
    live histogram is the per-bucket SUM over partitions, and reading a
    quantile "as of now" is :func:`histogram_quantiles` over that tiny
    merge — no corpus re-scan. This is the live "are today's documents
    suddenly shorter" detector (truncation bugs, boilerplate storms)
    that pairs with the batch `length_outliers` audit. Replay-idempotent
    for the router's reason: a re-delivered batch recomputes the same
    deterministic delta into its own partition.

    Default bin = 16 chars (1600 cents at scale 100): doc-length grids
    are integer-valued, so the snap step is exact and the estimate
    error is bounded by 16 characters.
    """
    from kafka_streams_spark.operators.profiling import value_histogram

    _stamp_sketch_store(spark, hist_dir, _hist_meta(bin_width_cents, scale))

    def delta_of(batch_df: DataFrame) -> DataFrame:
        lengths = batch_df.select(
            F.length("text").cast("double").alias("n_chars")
        )
        return value_histogram(
            lengths, "n_chars", bin_width_cents=bin_width_cents, scale=scale
        )

    return _run_delta_stream(
        spark, DOC_SCHEMA, source_dir, hist_dir, checkpoint_dir, delta_of
    )


def read_histogram(
    spark: SparkSession,
    hist_dir: str,
    bin_width_cents: int = 1600,
    scale: int = 100,
) -> DataFrame:
    """The live merged histogram: per-bucket counter sums over every
    batch delta — identical to the batch ``value_histogram`` of all rows
    ingested so far. Output: (bucket, counter). The bin-grid parameters
    are checked against the store's stamp (buckets are grid-relative;
    a mismatched read would label ranges wrongly)."""
    _check_sketch_meta(spark, hist_dir, _hist_meta(bin_width_cents, scale))
    return _hist_merge(_read_delta_store(spark, hist_dir))


def compact_histogram(
    spark: SparkSession,
    hist_dir: str,
    *,
    bin_width_cents: int = 1600,
    scale: int = 100,
) -> None:
    """Fold the closed batch deltas into the store's base snapshot (same
    economics as :func:`compact_gram`): read cost drops from
    buckets·batches rows back to buckets, and the stream keeps
    appending new deltas after."""
    _check_sketch_meta(spark, hist_dir, _hist_meta(bin_width_cents, scale))
    _fold_sketch(spark, hist_dir, _hist_merge)


def run_binarize_stream(
    spark: SparkSession,
    source_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    bits: int = 60,
):
    """Streaming half of the binary-quantization ANN deployment: new
    vectors arrive as a JSON stream and each micro-batch appends its
    8-byte sign signatures to the persisted index — ``write_binary_index``
    kept live (the run_pq_encode_stream shape without a learned
    artifact: sign bits are data-independent, so there is nothing to
    version except the bit-width, which every delta stamps in column
    metadata for the reader gate). Idempotent under replay: a
    re-delivered batch recomputes the same deterministic signatures
    into its own partition."""
    from kafka_streams_spark.operators.similarity import (
        _stamp_bsig,
        binarize_embeddings,
    )

    return _run_delta_stream(
        spark, EMB_SCHEMA, source_dir, index_dir, checkpoint_dir,
        lambda batch_df: _stamp_bsig(binarize_embeddings(batch_df, bits=bits), bits),
    )


def read_binary_index_stream(
    spark: SparkSession, index_dir: str, bits: int | None = None
) -> DataFrame:
    """Read the live streamed signature index (all batch partitions,
    ``ingest_batch`` dropped) with the same bit-width gate as
    :func:`~kafka_streams_spark.operators.similarity.read_binary_index`."""
    from kafka_streams_spark.operators.similarity import _gate_bsig

    df = _read_delta_store(spark, index_dir).drop("ingest_batch")
    return _gate_bsig(df, bits, index_dir)


def run_scorecard_stream(
    spark: SparkSession,
    source_dir: str,
    scorecard_dir: str,
    checkpoint_dir: str,
):
    """Live corpus-quality dashboard: each micro-batch writes ITS OWN
    one-row :func:`~kafka_streams_spark.operators.pipelines.corpus_scorecard`
    delta (gate-pass counts are plain sums, hence mergeable — the
    changelog pattern applied to the release scorecard). Reading the
    corpus-to-date scorecard is a sum over the tiny per-batch rows
    (:func:`read_scorecard`), and the per-batch rows themselves ARE the
    trend line ("did this crawl's Gopher pass-rate fall off a cliff")
    with no corpus re-scan. Replay-idempotent for the router's reason."""
    from kafka_streams_spark.operators.pipelines import corpus_scorecard

    return _run_delta_stream(
        spark, DOC_SCHEMA, source_dir, scorecard_dir, checkpoint_dir,
        corpus_scorecard,
    )


def read_scorecard(spark: SparkSession, scorecard_dir: str) -> DataFrame:
    """The corpus-to-date scorecard: column-wise sums over every batch
    delta — identical to the one-shot batch scorecard of all docs
    ingested so far."""
    df = _read_delta_store(spark, scorecard_dir).drop("ingest_batch")
    return df.agg(*[F.sum(c).cast("bigint").alias(c) for c in df.columns])


# ---------------------------------------------------------------------------
# streaming rank-sketch maintenance — unbounded-range quantile monitoring
# ---------------------------------------------------------------------------


def run_kmv_stream(
    spark: SparkSession,
    source_dir: str,
    sketch_dir: str,
    checkpoint_dir: str,
    k: int = 256,
):
    """Maintain a per-source distinct-TOKEN KMV sketch of a document
    stream — "how many distinct words has each source contributed so
    far", live, with <= k rows of state per source. The CMS changelog
    pattern applied to :func:`~kafka_streams_spark.operators.profiling.
    kmv_state`: each micro-batch writes only its own per-source
    bottom-k partial (<= sources·k rows regardless of batch size)
    under its ``ingest_batch`` partition; the live answer is
    :func:`read_kmv`'s merge + read-off. Because bottom-k selection is
    associative and order-independent (see ``kmv_state_merge``), the
    merged stream state equals the one-shot batch sketch of everything
    ingested BIT-FOR-BIT — the streamed twin of the hash-checked
    `users_kmv_by_type` contract family, where streamed HLL++ could
    only ever be compared rows-only. Replay-idempotent: a re-delivered
    batch recomputes the same deterministic partial into its own
    partition."""
    from kafka_streams_spark.operators.dedup import tokens
    from kafka_streams_spark.operators.profiling import kmv_state

    _stamp_sketch_store(spark, sketch_dir, {"kind": "kmv", "k": int(k)})

    def delta_of(batch_df: DataFrame) -> DataFrame:
        toks = batch_df.select(
            "source", F.explode(tokens(F.col("text"))).alias("tok")
        )
        return kmv_state(toks, "tok", ["source"], k=k)

    return _run_delta_stream(
        spark, DOC_SCHEMA, source_dir, sketch_dir, checkpoint_dir, delta_of
    )


def read_kmv(spark: SparkSession, sketch_dir: str, k: int = 256) -> DataFrame:
    """The live per-source distinct-token estimate: merge every batch
    partial's bottom-k and read off — identical to the batch
    ``distinct_kmv`` of all tokens ingested so far. Output:
    (source, n_distinct_est, sample_k)."""
    from kafka_streams_spark.operators.profiling import kmv_read_off

    _check_sketch_meta(spark, sketch_dir, {"kind": "kmv", "k": int(k)})
    state = _kmv_merge(_read_delta_store(spark, sketch_dir), k)
    return kmv_read_off(state, ["source"], k=k)


def compact_kmv(spark: SparkSession, sketch_dir: str, *, k: int = 256) -> None:
    """Fold the closed batch partials into the store's base snapshot —
    :func:`_fold_sketch` with the per-group bottom-k merge."""
    _check_sketch_meta(spark, sketch_dir, {"kind": "kmv", "k": int(k)})
    _fold_sketch(spark, sketch_dir, lambda df: _kmv_merge(df, k))


def run_key_profile_stream(
    spark: SparkSession,
    source_dir: str,
    profile_dir: str,
    checkpoint_dir: str,
    key_col: str = "source",
):
    """Maintain the per-key COUNT profile of a document stream — the
    live state behind :func:`~kafka_streams_spark.operators.profiling.
    join_size_from_profiles`: price a stream-static (or
    stream-snapshot) join continuously, against the profile the stream
    has built so far, without ever rescanning the ingested data. CMS
    changelog shape: each micro-batch writes its own (k, cnt) delta
    (<= distinct-keys-in-batch rows) under its ``ingest_batch``
    partition; counts merge by grouped SUM (associative), so
    :func:`read_key_profile` equals the one-shot batch profile of
    everything ingested. Replay-idempotent as ever: a re-delivered
    batch recomputes the same deterministic delta into its own
    partition."""
    from kafka_streams_spark.operators.profiling import key_profile

    return _run_delta_stream(
        spark, DOC_SCHEMA, source_dir, profile_dir, checkpoint_dir,
        lambda batch_df: key_profile(batch_df, key_col),
    )


def read_key_profile(spark: SparkSession, profile_dir: str) -> DataFrame:
    """The live merged per-key profile: grouped SUM over every batch
    delta — identical to the batch ``key_profile`` of all rows
    ingested so far. Output: (k STRING, cnt BIGINT). NULL-key rows are
    a real group, same as the batch form."""
    return _key_profile_merge(_read_delta_store(spark, profile_dir))


def compact_key_profile(spark: SparkSession, profile_dir: str) -> None:
    """Fold the closed batch deltas into the store's base snapshot —
    :func:`_fold_sketch` with the grouped-sum merge."""
    _fold_sketch(spark, profile_dir, _key_profile_merge)


def run_posting_profile_stream(
    spark: SparkSession,
    source_dir: str,
    profile_dir: str,
    checkpoint_dir: str,
    n: int = 3,
    block_col: str | None = "source",
):
    """Maintain the per-(shingle [, block]) COUNT profile of a document
    stream — the live state behind
    :func:`~kafka_streams_spark.operators.dedup.
    posting_pair_stats_from_profile`: price a posting-list pair join
    (weighted_jaccard / the prefix candidate stage) CONTINUOUSLY as the
    corpus grows, without ever re-shingling ingested data — the r8 sf1
    lesson ("176M candidate pairs, discovered 200 s in") turned into a
    standing dashboard number. Same changelog shape as
    :func:`run_key_profile_stream`: per-batch (group, cnt) deltas merge
    by grouped SUM, so the merged read equals the one-shot batch
    profile BIT-FOR-BIT. The shingle ``n`` (and block column) are
    FROZEN store parameters — stamped and checked like the kmv/rank
    k."""
    from kafka_streams_spark.operators.dedup import posting_profile

    _stamp_sketch_store(
        spark,
        profile_dir,
        {"kind": "posting", "n": int(n), "block": block_col or ""},
    )
    return _run_delta_stream(
        spark, DOC_SCHEMA, source_dir, profile_dir, checkpoint_dir,
        lambda batch_df: posting_profile(batch_df, n=n, block_col=block_col),
    )


def read_posting_profile(
    spark: SparkSession,
    profile_dir: str,
    n: int = 3,
    block_col: str | None = "source",
) -> DataFrame:
    """The live merged posting profile: grouped SUM over every batch
    delta — identical to the batch ``posting_profile`` of everything
    ingested so far. Feed it to ``posting_pair_stats_from_profile`` for
    the live audit row."""
    _check_sketch_meta(
        spark,
        profile_dir,
        {"kind": "posting", "n": int(n), "block": block_col or ""},
    )
    group = ["_s"] + ([block_col] if block_col else [])
    return (
        _read_delta_store(spark, profile_dir)
        .groupBy(*group)
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
    )


def run_rank_sketch_stream(
    spark: SparkSession,
    source_dir: str,
    sketch_dir: str,
    checkpoint_dir: str,
    k: int = 1024,
):
    """Maintain the doc-length RANK SKETCH of a document stream — the
    CMS changelog pattern applied to
    :func:`~kafka_streams_spark.operators.profiling.rank_sketch`, the
    unbounded-range companion of :func:`run_histogram_stream` (no bin
    grid to pre-size). Each micro-batch writes its own bottom-k
    partial (≤ k+1 rows regardless of batch size) under its
    ``ingest_batch`` partition; the live sketch is
    :func:`read_rank_sketch`'s bottom-k-of-union + summed counts, and —
    because min-k selection is associative and order-independent — it
    equals the one-shot batch sketch of everything ingested,
    BIT-FOR-BIT (the property KLL's randomized compaction cannot give;
    see the rank_sketch docstring). Replay-idempotent: a re-delivered
    batch recomputes the same deterministic partial into its own
    partition."""
    from kafka_streams_spark.operators.profiling import rank_sketch

    _stamp_sketch_store(spark, sketch_dir, {"kind": "rank", "k": int(k)})

    def delta_of(batch_df: DataFrame) -> DataFrame:
        vals = batch_df.select(
            F.col("doc_id"), F.length("text").cast("double").alias("n_chars")
        )
        return rank_sketch(vals, "n_chars", "doc_id", k=k)

    return _run_delta_stream(
        spark, DOC_SCHEMA, source_dir, sketch_dir, checkpoint_dir, delta_of
    )


def read_rank_sketch(spark: SparkSession, sketch_dir: str, k: int = 1024) -> DataFrame:
    """The live merged rank sketch: bottom-k over every batch partial's
    samples + summed exact counts — identical to the batch
    ``rank_sketch`` of all rows ingested so far. Output: the
    (h, value, n) sketch schema."""
    _check_sketch_meta(spark, sketch_dir, {"kind": "rank", "k": int(k)})
    return _rank_merge(_read_delta_store(spark, sketch_dir), k)


def compact_rank_sketch(
    spark: SparkSession, sketch_dir: str, *, k: int = 1024
) -> None:
    """Fold the closed batch partials into the store's base snapshot —
    :func:`_fold_sketch` with the bottom-k merge instead of a
    groupBy-sum."""
    _check_sketch_meta(spark, sketch_dir, {"kind": "rank", "k": int(k)})
    _fold_sketch(spark, sketch_dir, lambda df: _rank_merge(df, k))
