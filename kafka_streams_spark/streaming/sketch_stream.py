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
ever runs. Compaction folds closed partitions into the reserved
``ingest_batch=-1`` partition (:func:`_compact_deltas`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_streams_spark.sources import MAX_FILES_PER_TRIGGER
from kafka_streams_spark.streaming.ingest import DOC_SCHEMA
from kafka_streams_spark.streaming.store import (
    _check_sketch_meta,
    _fs,
    _read_json_file,
    _registered_offset,
    _rename,
    _stamp_sketch_store,
    _try_read_parquet,
    _write_json_file,
    epoch_mapper,
    write_batch,
)

# reserved ingest_batch partition ids: -1 holds the compacted fold, -2 is
# the fold's staging partition (invisible to every reader — see
# _compact_deltas and _read_delta_store)
_FOLD_STAGE = -2
_FOLD_MANIFEST = "_fold_pin.json"


def _read_delta_store(spark: SparkSession, store_dir: str) -> DataFrame:
    """Every reader's view of a batch-partitioned delta store: all
    partitions EXCEPT the fold-staging partition a live (or crashed)
    :func:`_compact_deltas` may have left at ``ingest_batch=-2`` —
    the stage duplicates the fold's inputs until the swap completes,
    so counting it would double (and with ``-1`` present, triple)
    every folded row. A store that exists but holds no delta yet (the
    ``_sketch_meta.json`` / ``_epochs.json`` sidecars land before the
    first data write) raises a clear FileNotFoundError instead of
    Spark's UNABLE_TO_INFER_SCHEMA."""
    df = _try_read_parquet(spark, store_dir)
    if df is None:
        raise FileNotFoundError(f"no deltas under {store_dir} yet")
    return df.filter(F.col("ingest_batch") != _FOLD_STAGE)


def _delta_writer(spark: SparkSession, store_dir: str, checkpoint_dir: str):
    """The one write path every sketch/index stream shares: the batch id
    remapped onto the store's epoch axis, then :func:`store.write_batch`.
    The epoch remap turns a fresh checkpoint into clean at-least-once
    re-counting instead of overwriting the prior generation's deltas."""
    effective_batch = epoch_mapper(
        spark, store_dir, checkpoint_dir, [store_dir], []
    )

    def write(delta: DataFrame, batch_id: int) -> None:
        write_batch(delta, store_dir, effective_batch(batch_id))

    return write


def run_cms_stream(
    spark: SparkSession,
    source_dir: str,
    sketch_dir: str,
    checkpoint_dir: str,
    d: int = 4,
    w: int = 1024,
    max_files_per_trigger: int = MAX_FILES_PER_TRIGGER,
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
    raw = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(source_dir)
    )

    write_delta = _delta_writer(spark, sketch_dir, checkpoint_dir)

    def update(batch_df: DataFrame, batch_id: int) -> None:
        delta = cms_token_sketch(batch_df, d=d, w=w)
        write_delta(delta, batch_id)

    return (
        raw.writeStream.foreachBatch(update)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime="0 seconds")
        .start()
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
    return (
        _read_delta_store(spark, sketch_dir)
        .groupBy("row_idx", "bucket")
        .agg(F.sum("counter").alias("counter"))
    )


def compact_cms(
    spark: SparkSession,
    sketch_dir: str,
    *,
    checkpoint_dir: str | None = None,
) -> None:
    """Fold all batch-delta partitions into the reserved ``-1``
    partition — :func:`_compact_deltas` with the per-(row_idx, bucket)
    counter sum, behind the stamp gate. The grid parameters are
    not needed — counters sum grid-agnostically; only estimate
    read-offs are grid-sensitive (:func:`read_cms_sketch`)."""
    _check_sketch_meta(spark, sketch_dir, {"kind": "cms"})
    _compact_deltas(
        spark,
        sketch_dir,
        ["row_idx", "bucket"],
        ["counter"],
        checkpoint_dir=checkpoint_dir,
    )


# ---------------------------------------------------------------------------
# streaming second-moment (Gram) maintenance — covariance drift monitoring
# ---------------------------------------------------------------------------


def _emb_schema():
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    return StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(DoubleType())),
            StructField("label", StringType()),
        ]
    )


def run_gram_stream(
    spark: SparkSession,
    source_dir: str,
    gram_dir: str,
    checkpoint_dir: str,
    scale: int = 10**3,
    max_files_per_trigger: int = MAX_FILES_PER_TRIGGER,
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

    raw = (
        spark.readStream.schema(_emb_schema())
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(source_dir)
    )

    write_delta = _delta_writer(spark, gram_dir, checkpoint_dir)

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
            delta = embedding_gram(batch_df, scale=scale, dim=d)
            write_delta(delta, batch_id)
        finally:
            if dim is None:
                batch_df.unpersist()

    return (
        raw.writeStream.foreachBatch(update)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime="0 seconds")
        .start()
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
    return (
        _read_delta_store(spark, gram_dir)
        .groupBy("dim_i", "dim_j")
        .agg(
            F.sum("n").alias("n"),
            F.sum("sum_i").alias("sum_i"),
            F.sum("sum_j").alias("sum_j"),
            F.sum("sum_prod").alias("sum_prod"),
        )
    )


def _committed_batch_ids(spark: SparkSession, checkpoint_dir: str) -> set:
    """Batch ids recorded in the stream's Structured Streaming commit
    log (``{checkpoint}/commits``). A batch present there is never
    re-delivered on restart — the set compaction may safely fold."""
    fs, HPath = _fs(spark, checkpoint_dir)
    p = HPath(f"{checkpoint_dir}/commits")
    out: set = set()
    if not fs.exists(p):
        return out
    for st in fs.listStatus(p):
        base = st.getPath().getName().split(".")[0]
        if base.lstrip("-").isdigit():
            out.add(int(base))
    return out


def _recover_fold(spark: SparkSession, delta_dir: str) -> None:
    """Finish or unwind a crashed :func:`_compact_deltas` swap. The
    manifest (``_fold_pin.json``) is written ONLY AFTER the staging
    partition commits, so its presence proves the stage's content is
    the complete fold of ``-1`` ∪ the pinned batches:

    - manifest + stage present → the swap never finished: delete the
      superseded ``-1`` (its rows are in the stage), rename the stage
      in, delete the pinned partitions, drop the manifest;
    - manifest present, stage gone → the rename happened: finish the
      pinned deletes, drop the manifest;
    - stage present, no manifest → the fold never reached its swap (and
      deleted nothing): the stage is debris, delete it.

    Idempotent; assumes a single compactor and atomic directory rename
    (HDFS/local — on raw S3A the rename widens to a copy)."""
    fs, HPath = _fs(spark, delta_dir)
    stage = HPath(f"{delta_dir}/ingest_batch={_FOLD_STAGE}")
    manifest_str = f"{delta_dir}/{_FOLD_MANIFEST}"
    m = _read_json_file(spark, manifest_str)

    def _drop_manifest() -> None:
        # Delete the manifest AND its .tmp: after a crash between
        # completing the tmp and renaming it, _read_json_file returns the
        # tmp's pin list, and a stale tmp left behind would make a LATER
        # crashed compaction "recover" against the OLD pin list (row loss
        # or double count).
        for suffix in ("", ".tmp"):
            p = HPath(manifest_str + suffix)
            if fs.exists(p):
                fs.delete(p, False)

    if m is None:
        if fs.exists(stage):
            fs.delete(stage, True)
        # an unparsable .tmp is mid-create debris; reclaim it so it can
        # never shadow a future manifest read
        _drop_manifest()
        return
    final = HPath(f"{delta_dir}/ingest_batch=-1")
    if fs.exists(stage):
        if fs.exists(final):
            fs.delete(final, True)
        _rename(fs, stage, final)
    for b in m["pinned"]:
        p = HPath(f"{delta_dir}/ingest_batch={b}")
        if fs.exists(p):
            fs.delete(p, True)
    _drop_manifest()


def _compact_deltas(
    spark: SparkSession,
    delta_dir: str,
    group_cols: list[str] | None = None,
    sum_cols: list[str] | None = None,
    _after_pin=None,
    merge=None,
    checkpoint_dir: str | None = None,
    _crash_after: str | None = None,
) -> None:
    """Shared safe-under-concurrency compaction for batch-partitioned
    delta tables: fold the partitions PINNED AT SNAPSHOT TIME into the
    reserved ``-1`` partition, then delete exactly those partitions.
    ``merge`` is the store's associative fold (pinned deltas, without
    the ``ingest_batch`` column → merged rows); the default is the
    grouped SUM over ``group_cols``/``sum_cols``. EVERY delta store's
    compaction routes through here — one protocol, one place to fix.

    Concurrency contract: a full-table overwrite would delete any delta
    a live micro-batch wrote between the read and the commit — counts
    lost permanently (the checkpoint prevents replay). So the batch-id
    set is pinned FIRST, the merge reads only those partitions (``isin``
    filter), and only the pinned partitions are deleted afterwards — a
    delta landing mid-compaction is in neither the merge nor the delete
    set and survives intact.

    Replay contract: a batch whose foreachBatch write succeeded but
    whose checkpoint COMMIT did not will be re-delivered on restart —
    if compaction had folded and deleted its partition in between, the
    replayed write would re-create it and the store would count it
    TWICE, permanently. Pass ``checkpoint_dir`` (recommended) and the
    pin set is intersected with the stream's commit log, so only
    never-replayable batches fold; an uncommitted delta stays a delta
    until its commit lands. Without ``checkpoint_dir``, the caller must
    only compact while the stream is stopped AND fully committed.

    Crash safety: overwriting ``-1`` and then deleting the pinned
    partitions would leave the folded rows on disk TWICE after a crash
    between the two, and the next compaction would fold them again. So
    the fold is STAGED: written to the reader-invisible
    ``ingest_batch=-2`` partition, a pin manifest is persisted only
    after the stage commits, and the swap (delete old ``-1`` → rename
    stage in → delete pinned → drop manifest) is finished or unwound by
    :func:`_recover_fold` at the start of every compaction. No crash
    point re-folds or loses a row.

    Epoch translation: the stream's commit log records
    checkpoint-relative batch ids, but partitions live on the store's
    epoch axis (``store.epoch_mapper``); the pin maps committed ids
    through the store's registered epoch offset, and partitions BELOW the
    current generation's offset (abandoned earlier checkpoints —
    starting a new generation supersedes them) always fold.

    Read visibility: between the rename and the last pinned-partition
    delete, a concurrent reader can see a pinned delta twice (once
    folded, once not) — transient inflation, the delete loop only; and
    for the instant between the old ``-1`` delete and the rename, a
    reader can miss the previously folded rows — transient undercount,
    one rename wide. Run compaction from the maintenance path if
    readers need exact values at every instant — documented, not
    hidden."""
    if merge is None:
        gcols, scols = list(group_cols), list(sum_cols)

        def merge(df: DataFrame) -> DataFrame:
            return df.groupBy(*gcols).agg(
                *[F.sum(c).alias(c) for c in scols]
            )

    _recover_fold(spark, delta_dir)
    df = _try_read_parquet(spark, delta_dir)
    if df is None:
        return  # store missing or holds only sidecars: nothing to fold
    batch_ids = [r[0] for r in df.select("ingest_batch").distinct().collect()]
    if checkpoint_dir is not None:
        committed = _committed_batch_ids(spark, checkpoint_dir)
        off = _registered_offset(spark, delta_dir, checkpoint_dir)
        # Spark PURGES old commit-log entries (minBatchesToRetain,
        # default 100), so "not listed" does not mean "not committed":
        # the log is sequential, so every id below the oldest RETAINED
        # commit must have committed for the newer ones to exist.
        # Without this floor a long-lived stream's older partitions
        # fall out of the retention window and can never fold — the
        # unbounded growth compaction exists to stop.
        floor = min(committed) if committed else 0
        batch_ids = [
            b
            for b in batch_ids
            if b == -1
            or b < off  # abandoned earlier generations always fold
            or (b - off) in committed
            or 0 <= (b - off) < floor  # committed, then purged from the log
        ]
    if _after_pin is not None:
        _after_pin()  # test-only: simulate a delta landing mid-compaction
    pinned = sorted(b for b in batch_ids if b >= 0)
    if not pinned:
        return  # nothing newly closed: folding -1 into itself is a no-op
    # Re-read so the file index sees any partition written after the pin
    # (it must NOT be merged — the isin filter excludes it — and must
    # NOT be deleted — its id is not pinned).
    snap = spark.read.parquet(delta_dir).filter(
        F.col("ingest_batch").isin(batch_ids)
    )
    merged = merge(snap.drop("ingest_batch"))

    fs, HPath = _fs(spark, delta_dir)
    stage_str = f"{delta_dir}/ingest_batch={_FOLD_STAGE}"
    # stage the fold OUTSIDE the readable set (readers filter -2); the
    # write reads -1 and the pinned partitions, which stay untouched
    merged.write.mode("overwrite").parquet(stage_str)
    if _crash_after == "stage":
        raise RuntimeError("injected crash: after stage commit")
    # the manifest is the swap's commit point: written only after the
    # stage committed, so recovery may always trust the staged content
    _write_json_file(
        spark, f"{delta_dir}/{_FOLD_MANIFEST}", {"pinned": pinned}
    )
    if _crash_after == "manifest":
        raise RuntimeError("injected crash: after manifest")
    final = HPath(f"{delta_dir}/ingest_batch=-1")
    if fs.exists(final):
        fs.delete(final, True)  # superseded: its rows are in the stage
    if _crash_after == "unfold":
        raise RuntimeError("injected crash: after -1 delete")
    _rename(fs, HPath(stage_str), final)
    if _crash_after == "rename":
        raise RuntimeError("injected crash: after rename")
    for i, b in enumerate(pinned):
        fs.delete(HPath(f"{delta_dir}/ingest_batch={b}"), True)
        if _crash_after == "first_delete" and i == 0:
            raise RuntimeError("injected crash: after first pinned delete")
    fs.delete(HPath(f"{delta_dir}/{_FOLD_MANIFEST}"), False)


def compact_gram(
    spark: SparkSession,
    gram_dir: str,
    *,
    checkpoint_dir: str | None = None,
    scale: int = 10**3,
) -> None:
    """Fold all batch-delta partitions into a single partition holding
    their sums — the changelog compaction step (same economics as the
    router's): read cost of :func:`read_gram` drops from d²·batches
    rows back to d², and the stream keeps appending new deltas after.
    Safe to run against a live stream: see :func:`_compact_deltas` for
    the snapshot-pin / dynamic-overwrite / targeted-delete protocol and
    why ``checkpoint_dir`` should be passed (replay safety)."""
    _check_sketch_meta(spark, gram_dir, {"kind": "gram", "scale": int(scale)})
    _compact_deltas(
        spark,
        gram_dir,
        ["dim_i", "dim_j"],
        ["n", "sum_i", "sum_j", "sum_prod"],
        checkpoint_dir=checkpoint_dir,
    )


def run_pq_encode_stream(
    spark: SparkSession,
    source_dir: str,
    codes_dir: str,
    checkpoint_dir: str,
    codebooks: list,
    max_files_per_trigger: int = MAX_FILES_PER_TRIGGER,
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
    import hashlib
    import json as _json

    from kafka_streams_spark.operators.similarity import pq_encode

    fp = hashlib.md5(
        _json.dumps(codebooks, separators=(",", ":")).encode()
    ).hexdigest()

    raw = (
        spark.readStream.schema(_emb_schema())
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(source_dir)
    )

    write_delta = _delta_writer(spark, codes_dir, checkpoint_dir)

    def update(batch_df: DataFrame, batch_id: int) -> None:
        delta = pq_encode(batch_df, codebooks).withMetadata(
            "codes", {"m": len(codebooks), "codebook_md5": fp}
        )
        write_delta(delta, batch_id)

    return (
        raw.writeStream.foreachBatch(update)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime="0 seconds")
        .start()
    )


def read_pq_codes_stream(
    spark: SparkSession, codes_dir: str, codebooks: list | None = None
) -> DataFrame:
    """Read the live streamed code index (all batch partitions, the
    ``ingest_batch`` column dropped) with the same codebook-fingerprint
    gate as :func:`~kafka_streams_spark.operators.similarity.read_pq_codes`."""
    import hashlib
    import json as _json

    df = _read_delta_store(spark, codes_dir).drop("ingest_batch")
    if codebooks is not None:
        fp = hashlib.md5(
            _json.dumps(codebooks, separators=(",", ":")).encode()
        ).hexdigest()
        meta = df.schema["codes"].metadata
        if meta.get("codebook_md5") != fp:
            raise ValueError(
                f"streamed PQ codes at {codes_dir} were encoded with "
                f"different codebooks (md5 {meta.get('codebook_md5')} != {fp})"
            )
    return df


# ---------------------------------------------------------------------------
# streaming value-distribution (histogram) maintenance — quantile monitoring
# ---------------------------------------------------------------------------


def run_histogram_stream(
    spark: SparkSession,
    source_dir: str,
    hist_dir: str,
    checkpoint_dir: str,
    bin_width_cents: int = 1600,
    scale: int = 100,
    max_files_per_trigger: int = MAX_FILES_PER_TRIGGER,
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

    # The bin grid is a FROZEN parameter of the store: deltas snapped
    # to a different (bin_width, scale) grid would merge into buckets
    # that mean different value ranges.
    _stamp_sketch_store(
        spark,
        hist_dir,
        {
            "kind": "hist",
            "bin_width_cents": int(bin_width_cents),
            "scale": int(scale),
        },
    )
    raw = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(source_dir)
    )

    write_delta = _delta_writer(spark, hist_dir, checkpoint_dir)

    def update(batch_df: DataFrame, batch_id: int) -> None:
        lengths = batch_df.select(
            F.length("text").cast("double").alias("n_chars")
        )
        delta = value_histogram(
            lengths, "n_chars", bin_width_cents=bin_width_cents, scale=scale
        )
        write_delta(delta, batch_id)

    return (
        raw.writeStream.foreachBatch(update)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime="0 seconds")
        .start()
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
    _check_sketch_meta(
        spark,
        hist_dir,
        {
            "kind": "hist",
            "bin_width_cents": int(bin_width_cents),
            "scale": int(scale),
        },
    )
    return (
        _read_delta_store(spark, hist_dir)
        .groupBy("bucket")
        .agg(F.sum("counter").alias("counter"))
    )


def compact_histogram(
    spark: SparkSession,
    hist_dir: str,
    *,
    checkpoint_dir: str | None = None,
    bin_width_cents: int = 1600,
    scale: int = 100,
) -> None:
    """Fold all batch-delta partitions into the reserved ``-1``
    partition (same economics and collision rule as
    :func:`compact_gram`): read cost drops from buckets·batches rows
    back to buckets, and the stream keeps appending new deltas after.
    Live-stream-safe via :func:`_compact_deltas`."""
    _check_sketch_meta(
        spark,
        hist_dir,
        {
            "kind": "hist",
            "bin_width_cents": int(bin_width_cents),
            "scale": int(scale),
        },
    )
    _compact_deltas(
        spark, hist_dir, ["bucket"], ["counter"], checkpoint_dir=checkpoint_dir
    )


def run_binarize_stream(
    spark: SparkSession,
    source_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    bits: int = 60,
    max_files_per_trigger: int = MAX_FILES_PER_TRIGGER,
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
    from kafka_streams_spark.operators.similarity import binarize_embeddings

    raw = (
        spark.readStream.schema(_emb_schema())
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(source_dir)
    )

    write_delta = _delta_writer(spark, index_dir, checkpoint_dir)

    def update(batch_df: DataFrame, batch_id: int) -> None:
        delta = binarize_embeddings(batch_df, bits=bits).withMetadata(
            "bsig", {"bits": bits}
        )
        write_delta(delta, batch_id)

    return (
        raw.writeStream.foreachBatch(update)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime="0 seconds")
        .start()
    )


def read_binary_index_stream(
    spark: SparkSession, index_dir: str, bits: int | None = None
) -> DataFrame:
    """Read the live streamed signature index (all batch partitions,
    ``ingest_batch`` dropped) with the same bit-width gate as
    :func:`~kafka_streams_spark.operators.similarity.read_binary_index`."""
    df = _read_delta_store(spark, index_dir).drop("ingest_batch")
    if bits is not None:
        meta = df.schema["bsig"].metadata
        if meta.get("bits") != bits:
            raise ValueError(
                f"streamed binary index at {index_dir} was built with "
                f"bits={meta.get('bits')}, query expects bits={bits}"
            )
    return df


def run_scorecard_stream(
    spark: SparkSession,
    source_dir: str,
    scorecard_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = MAX_FILES_PER_TRIGGER,
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

    raw = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(source_dir)
    )

    write_delta = _delta_writer(spark, scorecard_dir, checkpoint_dir)

    def update(batch_df: DataFrame, batch_id: int) -> None:
        delta = corpus_scorecard(batch_df)
        write_delta(delta, batch_id)

    return (
        raw.writeStream.foreachBatch(update)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime="0 seconds")
        .start()
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
    max_files_per_trigger: int = MAX_FILES_PER_TRIGGER,
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
    raw = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(source_dir)
    )

    write_delta = _delta_writer(spark, sketch_dir, checkpoint_dir)

    def update(batch_df: DataFrame, batch_id: int) -> None:
        toks = batch_df.select(
            "source", F.explode(tokens(F.col("text"))).alias("tok")
        )
        delta = kmv_state(toks, "tok", ["source"], k=k)
        write_delta(delta, batch_id)

    return (
        raw.writeStream.foreachBatch(update)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime="0 seconds")
        .start()
    )


def read_kmv(spark: SparkSession, sketch_dir: str, k: int = 256) -> DataFrame:
    """The live per-source distinct-token estimate: merge every batch
    partial's bottom-k and read off — identical to the batch
    ``distinct_kmv`` of all tokens ingested so far. Output:
    (source, n_distinct_est, sample_k)."""
    from kafka_streams_spark.operators.profiling import (
        kmv_read_off,
        kmv_state_merge,
    )

    _check_sketch_meta(spark, sketch_dir, {"kind": "kmv", "k": int(k)})
    state = kmv_state_merge(
        _read_delta_store(spark, sketch_dir).select("source", "h"), ["source"], k=k
    )
    return kmv_read_off(state, ["source"], k=k)


def compact_kmv(
    spark: SparkSession,
    sketch_dir: str,
    *,
    k: int = 256,
    checkpoint_dir: str | None = None,
) -> None:
    """Fold all batch partials into the reserved ``-1`` partition —
    :func:`_compact_deltas` with the per-group bottom-k merge."""
    from kafka_streams_spark.operators.profiling import kmv_state_merge

    _check_sketch_meta(spark, sketch_dir, {"kind": "kmv", "k": int(k)})
    _compact_deltas(
        spark,
        sketch_dir,
        merge=lambda df: kmv_state_merge(
            df.select("source", "h"), ["source"], k=k
        ),
        checkpoint_dir=checkpoint_dir,
    )


def run_key_profile_stream(
    spark: SparkSession,
    source_dir: str,
    profile_dir: str,
    checkpoint_dir: str,
    key_col: str = "source",
    max_files_per_trigger: int = MAX_FILES_PER_TRIGGER,
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

    raw = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(source_dir)
    )

    write_delta = _delta_writer(spark, profile_dir, checkpoint_dir)

    def update(batch_df: DataFrame, batch_id: int) -> None:
        delta = key_profile(batch_df, key_col)
        write_delta(delta, batch_id)

    return (
        raw.writeStream.foreachBatch(update)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime="0 seconds")
        .start()
    )


def read_key_profile(spark: SparkSession, profile_dir: str) -> DataFrame:
    """The live merged per-key profile: grouped SUM over every batch
    delta — identical to the batch ``key_profile`` of all rows
    ingested so far. Output: (k STRING, cnt BIGINT). NULL-key rows are
    a real group, same as the batch form."""
    return (
        _read_delta_store(spark, profile_dir)
        .groupBy("k")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
    )


def compact_key_profile(
    spark: SparkSession, profile_dir: str, *, checkpoint_dir: str | None = None
) -> None:
    """Fold all batch deltas into the reserved ``-1`` partition —
    :func:`_compact_deltas` with the grouped-sum merge (cnt kept
    BIGINT)."""
    _compact_deltas(
        spark,
        profile_dir,
        merge=lambda df: df.groupBy("k").agg(
            F.sum("cnt").cast("bigint").alias("cnt")
        ),
        checkpoint_dir=checkpoint_dir,
    )


def run_posting_profile_stream(
    spark: SparkSession,
    source_dir: str,
    profile_dir: str,
    checkpoint_dir: str,
    n: int = 3,
    block_col: str | None = "source",
    max_files_per_trigger: int = MAX_FILES_PER_TRIGGER,
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
    raw = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(source_dir)
    )

    write_delta = _delta_writer(spark, profile_dir, checkpoint_dir)

    def update(batch_df: DataFrame, batch_id: int) -> None:
        delta = posting_profile(batch_df, n=n, block_col=block_col)
        write_delta(delta, batch_id)

    return (
        raw.writeStream.foreachBatch(update)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime="0 seconds")
        .start()
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
    max_files_per_trigger: int = MAX_FILES_PER_TRIGGER,
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
    raw = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(source_dir)
    )

    write_delta = _delta_writer(spark, sketch_dir, checkpoint_dir)

    def update(batch_df: DataFrame, batch_id: int) -> None:
        vals = batch_df.select(
            F.col("doc_id"), F.length("text").cast("double").alias("n_chars")
        )
        delta = rank_sketch(vals, "n_chars", "doc_id", k=k)
        write_delta(delta, batch_id)

    return (
        raw.writeStream.foreachBatch(update)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime="0 seconds")
        .start()
    )


def read_rank_sketch(spark: SparkSession, sketch_dir: str, k: int = 1024) -> DataFrame:
    """The live merged rank sketch: bottom-k over every batch partial's
    samples + summed exact counts — identical to the batch
    ``rank_sketch`` of all rows ingested so far. Output: the
    (h, value, n) sketch schema."""
    from kafka_streams_spark.operators.profiling import rank_sketch_merge

    _check_sketch_meta(spark, sketch_dir, {"kind": "rank", "k": int(k)})
    return rank_sketch_merge(
        _read_delta_store(spark, sketch_dir).select("h", "value", "n"), k=k
    )


def compact_rank_sketch(
    spark: SparkSession,
    sketch_dir: str,
    *,
    k: int = 1024,
    checkpoint_dir: str | None = None,
) -> None:
    """Fold all batch partials into the reserved ``-1`` partition —
    :func:`_compact_deltas` with the bottom-k merge instead of a
    groupBy-sum."""
    from kafka_streams_spark.operators.profiling import rank_sketch_merge

    _check_sketch_meta(spark, sketch_dir, {"kind": "rank", "k": int(k)})
    _compact_deltas(
        spark,
        sketch_dir,
        merge=lambda df: rank_sketch_merge(
            df.select("h", "value", "n"), k=k
        ),
        checkpoint_dir=checkpoint_dir,
    )
