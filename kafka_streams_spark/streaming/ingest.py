"""Self-growing curated corpus over a stream: each micro-batch is gated
against the corpus built by all PRIOR batches and the survivors are
appended — the corpus itself is the streaming state (batch-partitioned
parquet, not a state store), which is the only state shape that works
when "state" is 100 TB of accepted documents.

The corpus is a changelog store (``streaming/store.py``): each batch
writes only its own ``ingest_batch`` partition, and the membership gate
reads the corpus EXCLUDING that partition — so a crash-replayed batch
recomputes the same verdict against the same prior corpus and rewrites
its own partition with the same rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from kafka_streams_spark.streaming.store import (
    _try_read_parquet,
    run_changelog_stream,
    write_batch,
)

DOC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("source", StringType()),
        StructField("text", StringType()),
    ]
)
# the embedding streams' source rows (sketch_stream's Gram, PQ and
# binary-index streams)
EMB_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(DoubleType())),
        StructField("label", StringType()),
    ]
)


def run_corpus_ingest_stream(
    spark: SparkSession,
    source_dir: str,
    corpus_dir: str,
    checkpoint_dir: str,
    min_quality: float = 0.0,
    remove_spans: int = 0,
):
    """Start the ingest loop: JSON docs stream in, the exact membership
    gate (:func:`~kafka_streams_spark.operators.dedup.dedup_incremental`
    — anti-join on content hash vs the accepted corpus + internal
    dedup) and the quality gate run per micro-batch, survivors land in
    ``corpus_dir`` partitioned by batch. Returns the StreamingQuery.

    ``min_quality`` gates on :func:`~kafka_streams_spark.operators.text.
    quality_expr`; 0.0 disables it. For the fuzzy membership gate, run
    :func:`~kafka_streams_spark.operators.dedup.dedup_incremental_fuzzy`
    against a periodically refreshed signature table instead of
    per-batch (signatures over 100 TB don't belong in a micro-batch).

    ``remove_spans`` (a k-gram size; 0 disables) additionally runs
    :func:`~kafka_streams_spark.operators.dedup.
    dedup_substring_remove_incremental` on the gate survivors: token
    spans already present anywhere in the prior corpus are CUT from the
    accepted text (the RefinedWeb policy, applied continuously). The
    replay-idempotence argument is unchanged — span removal reads the
    same prior-corpus view as the membership gate, so a crash-replayed
    batch cuts the same spans. At 100 TB, swap the inline gram scan for
    a persisted :func:`~kafka_streams_spark.operators.dedup.
    write_gram_index` table, refreshed per corpus build like the
    signature table.
    """
    from kafka_streams_spark.operators.dedup import (
        dedup_exact_rows,
        dedup_incremental,
        dedup_substring_remove_incremental,
    )
    from kafka_streams_spark.operators.text import quality_expr

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        from kafka_streams_spark.functions.partitioning import (
            materialize_shared,
        )

        # only a missing (or still empty) corpus means "no corpus yet":
        # any other read failure fails the batch, which the stream
        # retries, rather than skipping the membership gate
        prior = _try_read_parquet(spark, corpus_dir)
        if prior is not None:
            prior = prior.filter(
                F.col("ingest_batch") != batch_id  # replay-idempotence
            )
            # gate on the hash of the text AS IT ARRIVED (src_md5,
            # persisted below): span surgery may rewrite the stored
            # body, and re-hashing it would let the same original
            # document re-enter on re-arrival
            hash_col = "src_md5" if "src_md5" in prior.columns else None
            if hash_col is not None:
                # back-compat: partitions written before
                # src_md5 existed read the column as NULL once a newer
                # batch surfaces it in the merged schema — a NULL hash
                # drops those documents from the seen-set entirely, and
                # they re-enter the corpus on re-arrival. Fall back to
                # the stored body's hash for pre-upgrade rows (exact for
                # any row span surgery did not rewrite; for a rewritten
                # pre-upgrade body only a one-time src_md5 backfill can
                # recover the arrival hash).
                prior = prior.withColumn(
                    hash_col,
                    F.coalesce(
                        F.col(hash_col),
                        F.md5(F.coalesce(F.col("text"), F.lit(""))),
                    ),
                )
            fresh = dedup_incremental(
                batch_df, prior, existing_hash_col=hash_col
            )
        else:
            fresh = dedup_exact_rows(batch_df, ["text"], "doc_id")
        # NULL text hashes as '' (the dedup_incremental convention): a
        # NULL src_md5 would fall out of every future seen-set
        accepted = fresh.withColumn(
            "src_md5", F.md5(F.coalesce(F.col("text"), F.lit("")))
        )
        if min_quality > 0.0:
            accepted = accepted.filter(
                quality_expr(F.col("text")) >= F.lit(min_quality)
            )
        if remove_spans and prior is not None:
            # the span pass consumes `accepted` twice (gram scan + join
            # back) — materialize the gate result once
            accepted = materialize_shared(accepted)
            cleaned = dedup_substring_remove_incremental(
                accepted, prior, k=remove_spans
            ).select("doc_id", "text_clean", "n_tokens_removed")
            # keep the ORIGINAL text (casing/whitespace) when nothing
            # was cut; text_clean is the token-normalized rebuild and
            # is only the right body once spans were actually removed
            accepted = (
                accepted.join(cleaned, "doc_id")
                .withColumn(
                    "text",
                    F.when(
                        F.col("n_tokens_removed") > 0, F.col("text_clean")
                    ).otherwise(F.col("text")),
                )
                .drop("text_clean", "n_tokens_removed")
            )
        write_batch(accepted, corpus_dir, batch_id)

    return run_changelog_stream(
        spark,
        DOC_SCHEMA,
        source_dir,
        checkpoint_dir,
        corpus_dir,
        [corpus_dir],
        [],
        ingest,
    )
