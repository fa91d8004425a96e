"""Structured Streaming wrapper for the payment topology.

The reference topology fans out: one consumed stream feeds BOTH the balance
aggregation and the two outbound-topic sinks (PaymentTopology.java:75-97),
reading the input once. Structured Streaming allows one sink per query, so
a naive port runs three queries and reads the source thrice. This router
keeps the reference's single-read property: ONE streaming query whose
``foreachBatch`` persists the transformed micro-batch and runs all three
writes as concurrent Spark jobs (SURVEY.md §4.2).

State design — the balance store as a changelog:
Kafka Streams materializes the running sum in a local RocksDB store backed
by a changelog topic (PaymentTopology.java:88). The Spark-native analog
here is log-structured: each micro-batch writes its per-account *deltas*
to ONE directory, ``balance_delta/ingest_batch=<id>/``, with dynamic
partition overwrite — one file per shuffle partition of the delta
aggregate, rows sorted on ``fromAccount``. Replayed batches (restart from
checkpoint) overwrite their own partition — idempotent, so balances are
exactly-once even though the stream itself is at-least-once (matching the
reference, which also runs without EOS —
KafkaStreamsDemoConfiguration.java:39-47 sets no processing.guarantee).
A balance lookup is ``SUM(delta) WHERE fromAccount = x`` over the delta
log: the equality pushes into the parquet reader, whose row-group
statistics skip everything outside the key's range in the sorted files,
and a periodic compaction folds old batches into a base snapshot (same
role as RocksDB compaction over the changelog) so the number of files a
lookup opens stays bounded.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor, wait

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from kafka_streams_spark.operators.payments import (
    BALANCE_BASE_SCHEMA,
    BALANCE_DELTA_SCHEMA,
    N_BALANCE_BUCKETS,  # re-export: one bucket-layout definition (r13)
    account_balances,
    balance_bucket,
    branch_by_rails,
    route_and_convert,
)
from kafka_streams_spark.schema import PAYMENT_SCHEMA
from kafka_streams_spark.sources import MAX_FILES_PER_TRIGGER
from kafka_streams_spark.streaming.store import (
    _fs,
    _latest_hwm,
    _rename,
    epoch_mapper,
    fold_into_base,
    write_batch,
)

# single-scan fused branch+fx+merge (see operators.payments)
_transform = route_and_convert


# Suffixes a partition is parked under while the migration swaps it.
# ``.pre_bucket`` is what the upgrade INTO the bucket-nested layout
# parked; its recovery is the same, and the flattening pass then
# finishes whatever layout the recovery left.
_PARK_SUFFIXES = (".pre_flat", ".pre_bucket")


def _migrate_delta_layout(spark: SparkSession, delta_dir: str) -> int:
    """One-time flattening of bucket-nested delta stores.

    The changelog writes one flat directory per micro-batch,
    ``balance_delta/ingest_batch=N/``. Stores written by the earlier
    bucketed layout nest ``bucket=M/`` under each batch, and Spark
    partition discovery rejects mixed directory depths ("conflicting
    directory structures"), so the first read after upgrading would
    fail. This rewrites every nested partition into the flat layout
    (rows sorted on ``fromAccount``, like the writer). Flat partitions
    from before the bucketed layout — with or without a ``bucket``
    data column — are already native and are left alone.

    Idempotent and crash-safe: the rewrite lands in a ``._migrating``
    temp dir, the nested partition is parked at ``.pre_flat`` before
    the swap, and a recovery preamble finishes or unwinds any
    interrupted swap on the next call. Returns the number of
    partitions migrated. No-op (one listing per partition) on flat
    stores. Object stores without atomic directory rename (raw S3A)
    widen the park→swap crash window to a copy; the recovery preamble
    still converges on re-run."""
    fs, HPath = _fs(spark, delta_dir)

    def _glob(pattern: str):
        statuses = fs.globStatus(HPath(pattern))
        return list(statuses) if statuses is not None else []

    def _is_dir(p) -> bool:
        return fs.exists(p) and fs.getFileStatus(p).isDirectory()

    # recovery preamble: finish or unwind an interrupted swap
    for suffix in _PARK_SUFFIXES:
        for st in _glob(f"{delta_dir}/ingest_batch=*{suffix}"):
            parked = st.getPath()
            target_str = parked.toString()[: -len(suffix)]
            target = HPath(target_str)
            tmp = HPath(target_str + "._migrating")
            if _is_dir(target):
                fs.delete(parked, True)  # swap completed; drop the old copy
            elif _is_dir(tmp) and fs.exists(
                HPath(f"{tmp.toString()}/_SUCCESS")
            ):
                _rename(fs, tmp, target)  # crashed between park and swap
                fs.delete(parked, True)
            else:
                _rename(fs, parked, target)  # rewrite incomplete: restart it

    migrated = 0
    for st in sorted(
        _glob(f"{delta_dir}/ingest_batch=*"), key=lambda s: s.getPath().toString()
    ):
        part = st.getPath()
        part_str = part.toString()
        if part_str.endswith("._migrating") or not st.isDirectory():
            continue
        if not _glob(f"{part_str}/bucket=*"):
            continue  # already flat (or empty)
        tmp_str = part_str + "._migrating"
        (
            spark.read.schema(BALANCE_DELTA_SCHEMA)
            .parquet(part_str)
            .select("fromAccount", "delta")
            .sortWithinPartitions("fromAccount")
            .write.mode("overwrite")
            .parquet(tmp_str)
        )
        parked = HPath(part_str + _PARK_SUFFIXES[0])
        _rename(fs, part, parked)
        _rename(fs, HPath(tmp_str), part)
        # drop the parked copy only after the swap rename succeeded: the
        # recovery preamble keys on its suffix
        fs.delete(parked, True)
        migrated += 1
    return migrated


# One long-lived pool for every router's fan-out: in pinned-thread mode
# each new Python thread opens its own JVM thread and gateway
# connection, so threads are reused across batches, never started per
# batch.
_FANOUT = ThreadPoolExecutor(max_workers=3, thread_name_prefix="route-batch")


def _append_outbound(df: DataFrame, batch_id: int, path: str) -> None:
    """Outbound "topic": append; the batch id column makes replays
    diagnosable (at-least-once, same as the reference)."""
    df.withColumn("ingest_batch", F.lit(batch_id)).write.mode("append").parquet(
        path
    )


def _write_changelog(merged: DataFrame, batch_id: int, delta_dir: str) -> None:
    """Changelog: per-batch deltas, partition-overwrite => replaying a
    batch after a crash rewrites the same partition (idempotent). The
    aggregate's own exchange is the only shuffle: one file per shuffle
    partition, sorted so the lookup's fromAccount equality prunes row
    groups by their statistics."""
    write_batch(
        account_balances(merged)
        .withColumnRenamed("balance", "delta")
        .sortWithinPartitions("fromAccount"),
        delta_dir,
        batch_id,
    )


def run_payment_stream(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = MAX_FILES_PER_TRIGGER,
) -> StreamingQuery:
    """Start the full topology as one streaming query over a JSON file
    source (the offline stand-in for the Kafka source — swap
    ``readStream.format("kafka")`` in for production; the transform and
    router are source-agnostic).

    Sinks under ``out_dir``: ``rails_foo/`` and ``rails_bar/`` (append
    parquet — the outbound topics) and ``balance_delta/`` (the changelog).

    Each micro-batch is persisted once and its three writes run as
    concurrent jobs on a shared three-thread pool, each inheriting the
    batch's local properties (batch id, query id, job group). The batch
    fails only after all three writes return, with the first write's
    error; the replay rewrites the changelog partition (exactly-once
    balances) and re-appends the outbound legs (at-least-once). With
    ``get_spark``'s listing threshold, a trigger of up to
    ``MAX_FILES_PER_TRIGGER`` files is stat'ed on the driver, not by a
    listing job.
    """
    raw = (
        spark.readStream.schema(PAYMENT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(source_dir)
    )

    foo_dir = os.path.join(out_dir, "rails_foo")
    bar_dir = os.path.join(out_dir, "rails_bar")
    delta_dir = os.path.join(out_dir, "balance_delta")
    # flatten any bucket-nested partitions BEFORE the first batch writes
    # a flat one (mixed depths fail partition discovery — see
    # _migrate_delta_layout)
    _migrate_delta_layout(spark, delta_dir)

    effective_batch = epoch_mapper(
        spark,
        out_dir,
        checkpoint_dir,
        [delta_dir],
        [os.path.join(out_dir, "balance_base")],
    )

    def route_batch(batch_df: DataFrame, raw_batch_id: int) -> None:
        batch_id = effective_batch(raw_batch_id)
        merged = _transform(batch_df)
        merged.persist()  # read-once fan-out: 3 writes, 1 computation
        try:
            foo, bar = branch_by_rails(merged)
            # The three writes run as concurrent Spark jobs, so no core
            # idles through the changelog aggregate's reduce; the
            # changelog, the longest of the three, is submitted first.
            # Each write is wrapped on its own: it gets a private copy
            # of this batch's local properties (batch and query ids, job
            # group, SQL execution id), which its thread then mutates.
            futures = [
                _FANOUT.submit(
                    inheritable_thread_target(batch_df.sparkSession)(write)
                )
                for write in (
                    lambda: _write_changelog(merged, batch_id, delta_dir),
                    lambda: _append_outbound(foo, batch_id, foo_dir),
                    lambda: _append_outbound(bar, batch_id, bar_dir),
                )
            ]
            wait(futures)
        finally:
            merged.unpersist()
        errors = [e for e in (f.exception() for f in futures) if e is not None]
        if errors:
            raise errors[0]

    return (
        raw.writeStream.foreachBatch(route_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime="0 seconds")
        .start()
    )


def compact_balances(spark: SparkSession, out_dir: str) -> int | None:
    """Fold closed delta partitions into a base snapshot — the analog of
    RocksDB compaction over the changelog topic. Returns the new
    high-water batch id, or None if there was nothing to fold.

    The base lives at ``balance_base/hwm=<N>/`` and holds one summed row
    per account; readers take the max-hwm base plus deltas with
    ``ingest_batch > N``, so a compaction running concurrently with the
    stream never changes query results (:func:`store.fold_into_base`
    has the protocol)."""
    delta_dir = os.path.join(out_dir, "balance_delta")
    base_dir = os.path.join(out_dir, "balance_base")
    _migrate_delta_layout(spark, delta_dir)

    def build(old_hwm: int | None, hwm: int) -> DataFrame:
        return (
            _balance_log(spark, delta_dir, base_dir, old_hwm, upto=hwm)
            .groupBy("fromAccount")
            .agg(F.sum("delta").alias("balance"))
            .withColumn("bucket", balance_bucket(F.col("fromAccount")))
            .sortWithinPartitions("fromAccount")
        )

    return fold_into_base(spark, delta_dir, base_dir, build)


def _balance_log(
    spark: SparkSession,
    delta_dir: str,
    base_dir: str,
    hwm: int | None,
    upto: int | None = None,
) -> DataFrame:
    """``(fromAccount, delta)`` rows whose per-account sum is the
    balance: the committed base snapshot ``hwm=<hwm>`` (if any) plus the
    delta partitions with ``ingest_batch > hwm`` (and ``<= upto`` when
    given). The ``> hwm`` filter is the reader half of the compaction
    contract (see ``compact_balances``): a compaction that crashed after
    writing the base but before deleting the folded partitions — or a
    reader racing a live compaction — would otherwise count those
    amounts twice. It is on the partition column, so folded partitions
    are pruned at planning time, never scanned. Both reads use declared
    schemas: no footer-inference job."""
    keep = F.col("ingest_batch") > (hwm if hwm is not None else -1)
    if upto is not None:
        keep = keep & (F.col("ingest_batch") <= upto)
    log = (
        spark.read.schema(BALANCE_DELTA_SCHEMA)
        .parquet(delta_dir)
        .filter(keep)
        .select("fromAccount", "delta")
    )
    if hwm is None:
        return log
    base = spark.read.schema(BALANCE_BASE_SCHEMA).parquet(
        os.path.join(base_dir, f"hwm={hwm}")
    )
    return log.unionByName(
        base.select("fromAccount", F.col("balance").alias("delta"))
    )


class BalanceView:
    """Interactive-query surface over the balance changelog — the analog of
    the reference's REST store lookup (BalanceController.java:22-35).

    ``get_balance`` returns None for accounts that never sent (the 404
    case), never 0. A lookup reads the base snapshot plus the open
    batches' flat ``ingest_batch=N/`` directories; the ``fromAccount``
    equality is pushed into the parquet reader, and because every file
    is sorted on that key, row-group statistics skip the rest of each
    file. Compaction keeps the number of open directories small.
    """

    def __init__(self, spark: SparkSession, out_dir: str):
        self._spark = spark
        self._delta_dir = os.path.join(out_dir, "balance_delta")
        self._base_dir = os.path.join(out_dir, "balance_base")
        _migrate_delta_layout(spark, self._delta_dir)

    def _log(self) -> DataFrame:
        """Base snapshot (if compacted) + deltas above its hwm."""
        hwm = _latest_hwm(self._spark, self._base_dir)
        return _balance_log(self._spark, self._delta_dir, self._base_dir, hwm)

    def balances(self) -> DataFrame:
        """Full materialized view: SUM(delta) per account over base+log."""
        return self._log().groupBy("fromAccount").agg(
            F.sum("delta").alias("balance")
        )

    def lookup_plan(self, account: str) -> DataFrame:
        """The point-lookup DataFrame: the account's rows of the base and
        of every open batch (at most one each). Exposed so plan audits
        can pin the ``fromAccount`` pushdown."""
        return self._log().filter(F.col("fromAccount") == account)

    def get_balance(self, account: str):
        # summed after collect() (NULLs skipped, like SUM): the rows are
        # few, and it saves the aggregate's shuffle job
        deltas = [
            r["delta"]
            for r in self.lookup_plan(account).collect()
            if r["delta"] is not None
        ]
        return sum(deltas) if deltas else None

    def describe_topology(self) -> str:
        """Topology-endpoint parity (TopologyController.java:20-23): the
        textual plan of the materialized-balances query."""
        return self.balances()._jdf.queryExecution().toString()
