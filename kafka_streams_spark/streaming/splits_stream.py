"""Streaming leakage-safe split assignment: a self-growing corpus where
every micro-batch of documents receives its train/val/test split
AGAINST the standing assignment — near-duplicate clusters stay in one
split as they grow, assignments never change once written, and
cross-split cluster merges are flagged the moment the bridge document
arrives (the :func:`~kafka_streams_spark.operators.sampling.
leakage_safe_splits_incremental` semantics, run continuously).

Four batch-partitioned parquet stores under ``store_dir`` (the
corpus-ingest convention — state IS partitioned parquet, the only state
shape that works when state is 100 TB of corpus):

- ``assignments/``  (doc_id, split, leak_conflict, ingest_batch) —
  append-only: one row per doc, written by the batch that admitted it.
- ``members/``      (node, cluster_id, ingest_batch) — a merge-on-read
  CHANGELOG: a cluster merge relabels old nodes by writing NEW rows in
  the merging batch's partition; :func:`read_cluster_members` resolves
  latest-batch-wins per node (the balance_delta changelog pattern).
- ``docs/``         (doc_id, source, text, ingest_batch) — admitted
  bodies; read id-pruned for the candidate exact-verify join only.
- ``bands/``        (doc_id, band_idx, band_hash, ingest_batch) — the
  MinHash band-key index, appended per batch so the new×existing
  candidate join never re-signatures the corpus (the persisted
  write_minhash_index idea, maintained incrementally).

Every store is a changelog store (``streaming/store.py``): every read
excludes the current ``ingest_batch`` partition and every write
dynamically overwrites ONLY that partition, so a crash-replayed batch
recomputes the same verdicts against the same prior state and lands the
same rows. :func:`compact_split_stores` folds each store's closed
batches into a ``<name>_base/hwm=<N>/`` snapshot with the store's
hwm-base fold. ``members`` folds with latest-wins resolution — the base
holds ONE row per node, so the read window's input is O(corpus) +
O(open deltas), flat in the number of ingested batches; the other
stores fold by plain rebagging (fewer, bigger files; ``bands``
repartitioned by ``band_hash``, the candidate join's key). The stream's
own prior-state reads go through the same base-aware reader, so
compacting between (or concurrent with) micro-batches never changes
verdicts. (A fifth, optional store — ``caps/``, the per-batch
pair-budget audit written when ``pair_budget`` is set — folds the same
way, keeping each row's batch identity as a ``src_batch`` data column;
read it back with :func:`read_cap_audit`.)

Docs whose ids already hold an assignment are dropped (cross-batch
re-delivery), and within-batch id duplicates keep the min-text row
(deterministic under re-partitioned replay).

Cluster maintenance is INCREMENTAL: per batch, connected components run
on the bounded subgraph of (new×new pairs ∪ verified new×existing
pairs ∪ star edges of the touched prior clusters) — never on the full
corpus graph. A batch that touches nothing re-labels nothing; the
100 TB cost per batch is the delta's signatures + one band-key join +
candidate-pruned verification + CC over the touched neighborhood.

Signature parameters (num_hashes/bands/shingle_n/hash_fn/threshold) and
the split boundaries are FROZEN per store (`_sketch_meta.json`): a
restart with different knobs would silently produce band keys that
never collide (every doc "novel") or a different split rule — the
stamped-store gate raises before the stream starts instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from kafka_streams_spark.sources import MAX_FILES_PER_TRIGGER
from kafka_streams_spark.streaming.ingest import DOC_SCHEMA
from kafka_streams_spark.streaming.store import (
    _latest_hwm,
    _list_partition_values,
    _stamp_sketch_store,
    _try_read_parquet,
    epoch_mapper,
    fold_into_base,
    write_batch,
)


def _read_store(
    spark: SparkSession,
    store_dir: str,
    name: str,
    exclude_batch: int | None = None,
) -> DataFrame | None:
    """Base-aware merge-on-read: max-hwm base snapshot (stamped
    ``ingest_batch = hwm`` so latest-wins windows need no special case)
    unioned with delta partitions ``ingest_batch > hwm`` — the reader
    half of the :func:`compact_split_stores` contract: delta partitions
    a crashed compaction folded but did not yet delete are excluded by
    the partition-column predicate (pruned at planning time, never
    scanned), so readers racing a compaction see each row exactly once.
    ``caps`` delta rows get their batch id as ``src_batch``, the column
    its base keeps.

    ``exclude_batch`` additionally hides the replaying batch's own
    delta partition (at-least-once replay idempotence). It never
    applies to the base: compaction folds only batches strictly below
    a store's newest delta partition, so an in-flight batch id cannot
    have been folded — and on a fresh-checkpoint replay (batch ids
    restart) re-delivered docs are SUPPOSED to see their prior
    assignment and be dropped as re-deliveries.
    """
    deltas = _try_read_parquet(spark, f"{store_dir}/{name}")
    hwm = _latest_hwm(spark, f"{store_dir}/{name}_base")
    if deltas is not None:
        if name == "caps":
            deltas = deltas.withColumn("src_batch", F.col("ingest_batch"))
        if hwm is not None:
            deltas = deltas.filter(F.col("ingest_batch") > hwm)
        if exclude_batch is not None:
            deltas = deltas.filter(F.col("ingest_batch") != exclude_batch)
    if hwm is None:
        return deltas
    base_path = f"{store_dir}/{name}_base/hwm={hwm}"
    base = _try_read_parquet(spark, base_path)
    if base is None:
        # data files gone between the hwm listing and the read, or an
        # empty-but-committed snapshot
        raise FileNotFoundError(
            f"base snapshot {base_path} is committed but unreadable"
        )
    base = base.withColumn("ingest_batch", F.lit(hwm))
    return base if deltas is None else deltas.unionByName(base)


def _latest_members(members: DataFrame) -> DataFrame:
    """Resolve the members changelog: the latest batch's row wins per
    node. Output: (node, cluster_id)."""
    from pyspark.sql import Window

    w = Window.partitionBy("node").orderBy(F.col("ingest_batch").desc())
    return (
        members.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .select("node", "cluster_id")
    )


# per-store fold schema: the data columns a base snapshot keeps. The
# caps audit store keeps its batch identity as a DATA column
# (``src_batch``) because for an audit row the batch id IS the content
# — folding it away would leave an uninterpretable history.
_STORE_COLS = {
    "assignments": ["doc_id", "split", "leak_conflict"],
    "members": ["node", "cluster_id"],
    "docs": ["doc_id", "source", "text"],
    "bands": ["doc_id", "band_idx", "band_hash"],
    "caps": [
        "src_batch",
        "priced_pairs",
        "stop_band_occupancy",
        "admitted_pairs",
        "applied",
        "n_stop_bands",
    ],
}
# repartition key for each base write: the column the store's hot read
# joins/groups on, so base files are key-clustered at scale
_STORE_KEY = {
    "assignments": "doc_id",
    "members": "node",
    "docs": "doc_id",
    "bands": "band_hash",
    "caps": "src_batch",
}


def compact_split_stores(
    spark: SparkSession, store_dir: str
) -> dict[str, int | None]:
    """Fold each store's closed delta partitions into a base snapshot at
    ``<name>_base/hwm=<N>/`` with :func:`store.fold_into_base`, the
    protocol ``compact_balances`` uses. Returns the per-store high-water
    batch id (None where nothing was foldable yet).

    ``members`` folds with latest-batch-wins resolution to ONE row per
    node, so the read window's input stops growing with stream
    lifetime; the other stores fold by rebagging into fewer, bigger,
    key-clustered files. Readers (:func:`_read_store`) take max-hwm base
    + deltas ``> hwm``, so a compaction running concurrently with the
    stream (or its own crash debris) never changes query results.
    """
    out: dict[str, int | None] = {}
    for name, cols in _STORE_COLS.items():
        delta_dir = f"{store_dir}/{name}"

        def build(old_hwm: int | None, hwm: int) -> DataFrame:
            # after the fold's sweep the newest committed base IS old_hwm,
            # so the base-aware read yields it plus deltas > old_hwm
            rows = _read_store(spark, store_dir, name).filter(
                F.col("ingest_batch") <= hwm
            )
            if name == "members":
                rows = _latest_members(rows)
            return rows.select(*cols).repartition(F.col(_STORE_KEY[name]))

        hwm = fold_into_base(spark, delta_dir, f"{delta_dir}_base", build)
        if name == "caps" and hwm is None and not _list_partition_values(
            spark, delta_dir, "ingest_batch"
        ):
            continue  # audit store only exists when pair_budget is set
        out[name] = hwm
    return out


def read_split_assignments(spark: SparkSession, store_dir: str) -> DataFrame:
    """The standing assignment: (doc_id, split, leak_conflict). One row
    per admitted doc by construction (cross-batch re-deliveries are
    dropped before assignment), so no winner resolution is needed.
    Base-aware: sees compacted and open state identically."""
    a = _read_store(spark, store_dir, "assignments")
    if a is None:
        raise FileNotFoundError(f"no assignments store under {store_dir}")
    return a.select("doc_id", "split", "leak_conflict")


def read_cluster_members(spark: SparkSession, store_dir: str) -> DataFrame:
    """Current cluster membership: latest-batch row wins per node (a
    merge relabels old nodes by writing newer rows). Output:
    (node, cluster_id). Base-aware: after :func:`compact_split_stores`
    the window's input is the one-row-per-node base + open deltas —
    flat in stream lifetime, not the full relabel history."""
    m = _read_store(spark, store_dir, "members")
    if m is None:
        raise FileNotFoundError(f"no members store under {store_dir}")
    return _latest_members(m)


def read_cap_audit(spark: SparkSession, store_dir: str) -> DataFrame:
    """The pair-budget audit trail: one row per priced batch —
    (batch_id, priced_pairs, stop_band_occupancy, admitted_pairs,
    applied, n_stop_bands). Base-aware: every row carries the batch
    that priced it in ``src_batch`` (stamped at fold time for folded
    rows). Raises when the stream never priced (no ``pair_budget``)."""
    caps = _read_store(spark, store_dir, "caps")
    if caps is None:
        raise FileNotFoundError(f"no caps store under {store_dir}")
    return caps.select(
        F.col("src_batch").alias("batch_id"), *_STORE_COLS["caps"][1:]
    )


def run_split_assignment_stream(
    spark: SparkSession,
    source_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 32,
    shingle_n: int = 3,
    hash_fn: str = "md5_32",
    test_256: int = 13,
    val_256: int = 26,
    max_files_per_trigger: int = MAX_FILES_PER_TRIGGER,
    pair_budget: int | None = None,
) -> StreamingQuery:
    """Start the assignment loop over a JSON document stream. Returns
    the StreamingQuery; state lands under ``store_dir`` (see module
    docstring for the four stores and the idempotence argument).

    ``pair_budget`` (the auto_join consumes-the-audit pattern applied
    to the stream's dominant stage): when set, every batch
    prices the new×existing banded candidate join BEFORE running it
    (:func:`~kafka_streams_spark.operators.dedup.band_pair_price` over
    the batch's band keys vs the standing index — one column-pruned
    aggregate, never a pair join) and, if the priced candidate count
    exceeds the budget, derives a stop-band occupancy cap
    (:func:`~kafka_streams_spark.operators.dedup.
    stop_band_cap_for_budget`) and drops the over-occupied band keys
    from candidate generation. The trade is explicit and recorded: a
    ``caps/`` store gets one audit row per batch (priced_pairs,
    stop_band_occupancy, admitted_pairs, applied, n_stop_bands), and
    docs reachable only through stop bands (boilerplate bands shared
    by too many documents) may miss an adoption — bounded recall loss
    for a bounded join, the max_df stop-shingle semantics. Batches
    whose priced count fits the budget are byte-identical to an
    uncapped run. The cut is deterministic on crash-replay (it
    consults only prior-batch state). new×new pairs within a batch are
    never capped — the batch is bounded by ``max_files_per_trigger``.
    Frozen per store like the signature knobs: a restart with a
    different budget would make replayed batches recompute different
    verdicts."""
    from kafka_streams_spark.operators.dedup import (
        _banded_keys,
        band_pair_price,
        duplicate_clusters,
        minhash_near_duplicates,
        minhash_pairs_incremental,
        minhash_signatures,
        stop_band_cap_for_budget,
    )
    from kafka_streams_spark.operators.sampling import (
        leakage_safe_splits_incremental,
    )

    meta = {
        "threshold": threshold,
        "num_hashes": num_hashes,
        "bands": bands,
        "shingle_n": shingle_n,
        "hash_fn": hash_fn,
        "test_256": test_256,
        "val_256": val_256,
        "pair_budget": pair_budget,
    }
    _stamp_sketch_store(spark, store_dir, meta)

    a_dir = f"{store_dir}/assignments"
    m_dir = f"{store_dir}/members"
    d_dir = f"{store_dir}/docs"
    b_dir = f"{store_dir}/bands"

    raw = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(source_dir)
    )

    effective_batch = epoch_mapper(
        spark,
        store_dir,
        checkpoint_dir,
        [f"{store_dir}/{n}" for n in _STORE_COLS],
        [f"{store_dir}/{n}_base" for n in _STORE_COLS],
    )

    def assign(batch_df: DataFrame, raw_batch_id: int) -> None:
        from kafka_streams_spark.functions.partitioning import (
            materialize_shared,
        )
        from kafka_streams_spark.operators.dedup import dedup_exact_rows

        # every read and write below uses the store's ingest_batch axis
        batch_id = effective_batch(raw_batch_id)

        # deterministic within-batch id dedup (min (text, source) row
        # wins), then drop cross-batch re-deliveries: an id that already
        # holds an assignment keeps it forever.
        batch = dedup_exact_rows(
            batch_df.withColumn(
                "_k", F.concat_ws("\x1f", F.col("text"), F.col("source"))
            ),
            ["doc_id"],
            "_k",
        ).drop("_k")
        prior_a = _read_store(spark, store_dir, "assignments", batch_id)
        if prior_a is not None:
            batch = batch.join(
                prior_a.select("doc_id"), "doc_id", "left_anti"
            )
        # the batch feeds signatures, new×new pairs, the verify join,
        # the docs write, and the assignment join — materialize once
        batch = materialize_shared(batch)

        prior_m = _read_store(spark, store_dir, "members", batch_id)
        prior_d = _read_store(spark, store_dir, "docs", batch_id)
        prior_b = _read_store(spark, store_dir, "bands", batch_id)

        # the batch's signatures / band keys feed the pricing audit AND
        # the end-of-batch index write — computed once here
        new_bands = materialize_shared(
            _banded_keys(
                minhash_signatures(
                    batch, "doc_id", "text", num_hashes, shingle_n, hash_fn
                ),
                "doc_id",
                num_hashes,
                bands,
                hash_fn,
            )
        )

        # --- pre-flight pricing of the new×existing candidate join ---
        ex_bands = (
            prior_b.select("doc_id", "band_idx", "band_hash")
            if prior_b is not None
            else None
        )
        if pair_budget is not None and ex_bands is not None:
            priced = materialize_shared(
                band_pair_price(new_bands, ex_bands)
            )
            audit = stop_band_cap_for_budget(priced, pair_budget).collect()[0]
            applied = audit["priced_pairs"] > pair_budget
            if applied:
                stop_keys = priced.filter(
                    F.col("occupancy") > audit["stop_band_occupancy"]
                ).select("band_idx", "band_hash")
                n_stop = stop_keys.count()
                ex_bands = ex_bands.join(
                    F.broadcast(stop_keys),
                    ["band_idx", "band_hash"],
                    "left_anti",
                )
            else:
                n_stop = 0
            cap_row = spark.createDataFrame(
                [
                    (
                        int(audit["priced_pairs"]),
                        int(audit["stop_band_occupancy"]),
                        int(audit["admitted_pairs"]),
                        bool(applied),
                        int(n_stop),
                    )
                ],
                "priced_pairs bigint, stop_band_occupancy bigint, "
                "admitted_pairs bigint, applied boolean, n_stop_bands bigint",
            )
            write_batch(cap_row, f"{store_dir}/caps", batch_id)

        # --- pair stage: new×new + verified new×existing ---
        nn = minhash_near_duplicates(
            batch,
            threshold=threshold,
            num_hashes=num_hashes,
            bands=bands,
            shingle_n=shingle_n,
            hash_fn=hash_fn,
        ).select(F.col("id_a"), F.col("id_b"))
        if prior_d is not None and ex_bands is not None:
            ne = minhash_pairs_incremental(
                batch,
                prior_d,
                threshold=threshold,
                num_hashes=num_hashes,
                bands=bands,
                shingle_n=shingle_n,
                hash_fn=hash_fn,
                existing_bands=ex_bands,
                # the batch's band keys were computed once above (for
                # the pricing audit and the index write) — reuse them
                # so the delta's Arrow signature pass runs exactly once
                new_bands=new_bands,
            ).select(
                F.col("new_id").alias("id_a"), F.col("ex_id").alias("id_b")
            )
        else:
            ne = None
        pairs = nn.unionByName(ne) if ne is not None else nn
        pairs = materialize_shared(pairs)

        # --- incremental CC over the touched neighborhood ---
        # star edges (member, cluster_id) of every prior cluster that a
        # new×existing pair touches carry the old connectivity into the
        # subgraph, so merges relabel ALL their members, not just the
        # endpoints the new pairs happened to hit.
        if prior_m is not None and ne is not None:
            cur_m = materialize_shared(_latest_members(prior_m))
            touched = (
                ne.select(F.col("id_b").alias("node"))
                .distinct()
                .join(cur_m, "node")
                .select("cluster_id")
                .distinct()
            )
            stars = cur_m.join(
                F.broadcast(touched), "cluster_id"
            ).select(
                F.col("node").alias("id_a"),
                F.col("cluster_id").alias("id_b"),
            )
            sub_edges = pairs.unionByName(stars)
        else:
            sub_edges = pairs
        labels = materialize_shared(duplicate_clusters(sub_edges))

        # --- split assignment for the delta ---
        standing = (
            prior_a.select("doc_id", "split")
            if prior_a is not None
            else spark.createDataFrame([], "doc_id bigint, split string")
        )
        assigned = leakage_safe_splits_incremental(
            batch, standing, labels, test_256=test_256, val_256=val_256
        )

        # --- state writes, all into THIS batch's partitions ---
        write_batch(assigned, a_dir, batch_id)
        # members changelog: every labeled node (new docs + relabeled
        # old members) plus singleton self-rows for unpaired new docs
        singles = (
            batch.select(F.col("doc_id").alias("node"))
            .join(labels.select("node"), "node", "left_anti")
            .select("node", F.col("node").alias("cluster_id"))
        )
        write_batch(labels.unionByName(singles), m_dir, batch_id)
        write_batch(
            batch.select("doc_id", "source", "text"), d_dir, batch_id
        )
        write_batch(new_bands, b_dir, batch_id)

    return (
        raw.writeStream.foreachBatch(assign)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
