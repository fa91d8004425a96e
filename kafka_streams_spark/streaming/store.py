"""The changelog store: the one on-disk protocol behind every streaming
state store — the balance changelog, the curated corpus, the
split-assignment stores and the sketch/index delta stores.

A store is a directory of ``ingest_batch=N`` parquet partitions. Each
micro-batch dynamically overwrites only its own partition
(:func:`write_batch`), so a crash-replayed batch rewrites the same rows
and the state stays exactly-once under at-least-once delivery. ``N`` is
Structured Streaming's batch id plus a per-checkpoint-generation offset
persisted in ``_epochs.json`` (:func:`epoch_mapper`), so a fresh
checkpoint never writes at or below what is already on disk.

Every file stream in the package starts here
(:func:`run_changelog_stream`): the JSON file source capped at
``sources.MAX_FILES_PER_TRIGGER`` files per trigger, one
``foreachBatch`` query, and the epoch-mapped ``ingest_batch`` id
handed to the stream's batch function.

Compaction has one form: :func:`fold_into_base` folds the closed
partitions of every compactable store (the balances, the split stores
and the sketch stores) into a ``hwm=N`` base snapshot, and
:func:`read_changelog` reads the newest committed base unioned with the
deltas ``> N``.

All listing, rename and delete goes through the Hadoop FileSystem API,
never ``os``/``glob``, so a store works on HDFS, S3A or local disk. This
module imports no other streaming module.
"""

from __future__ import annotations

import json
import re
from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from kafka_streams_spark.sources import MAX_FILES_PER_TRIGGER

_EPOCHS = "_epochs.json"
_SKETCH_META = "_sketch_meta.json"


def _fs(spark: SparkSession, path_str: str):
    """Hadoop FileSystem + Path class for a path."""
    HPath = spark._jvm.org.apache.hadoop.fs.Path
    return HPath(path_str).getFileSystem(
        spark._jsc.hadoopConfiguration()
    ), HPath


def _rename(fs, src, dst) -> None:
    """Rename, raising on failure: Hadoop's ``rename`` returns false
    instead of raising, and every caller must stop with its parked or
    staged copy intact so the next run's recovery converges."""
    if not fs.rename(src, dst):
        raise IOError(f"rename failed: {src} -> {dst}")


def _list_partition_values(
    spark: SparkSession, dir_str: str, key: str
) -> list[int]:
    """Sorted integer values of ``key=N`` child directories (empty list
    when the directory does not exist). Negative values count: a store
    compacted by the earlier reserved-partition fold holds an
    ``ingest_batch`` of -1, which then folds like any closed delta."""
    fs, HPath = _fs(spark, dir_str)
    statuses = fs.globStatus(HPath(f"{dir_str}/{key}=*"))
    out = []
    for st in statuses or []:
        m = re.search(rf"{key}=(-?\d+)$", st.getPath().toString())
        if m and st.isDirectory():
            out.append(int(m.group(1)))
    return sorted(out)


def _committed_hwms(spark: SparkSession, base_dir: str) -> list[int]:
    """``hwm=N`` snapshot dirs carrying Spark's ``_SUCCESS`` commit
    marker, sorted. A compaction that crashed mid-write leaves an
    uncommitted dir with partial rows: trusting it would under-read the
    folded state, and let the next fold delete deltas it never held."""
    fs, HPath = _fs(spark, base_dir)
    return [
        h
        for h in _list_partition_values(spark, base_dir, "hwm")
        if fs.exists(HPath(f"{base_dir}/hwm={h}/_SUCCESS"))
    ]


def _latest_hwm(spark: SparkSession, base_dir: str) -> int | None:
    hwms = _committed_hwms(spark, base_dir)
    return max(hwms) if hwms else None


def _sweep_base_snapshots(spark: SparkSession, base_dir: str) -> int | None:
    """Compactor-side snapshot cleanup; returns the surviving hwm.

    Deletes uncommitted ``hwm=N`` dirs (a crashed mid-write fold;
    readers already ignore them) and committed snapshots older than the
    newest (a crash between committing a base and deleting the one it
    superseded). Single-compactor assumption: an uncommitted dir can
    only be a crashed fold's, never a live concurrent one's."""
    fs, HPath = _fs(spark, base_dir)
    committed = _committed_hwms(spark, base_dir)
    latest = committed[-1] if committed else None
    for h in _list_partition_values(spark, base_dir, "hwm"):
        if h not in committed or (latest is not None and h < latest):
            fs.delete(HPath(f"{base_dir}/hwm={h}"), True)
    return latest


def _try_read_parquet(spark: SparkSession, path: str) -> DataFrame | None:
    """Read a store directory, or None when it does not exist yet — and
    ONLY then (any other failure must fail the batch, not skip the
    state)."""
    from pyspark.errors import AnalysisException

    try:
        df = spark.read.parquet(path)
        df.schema  # force analysis while the miss is still catchable
        return df
    except AnalysisException as e:
        # Any other analysis failure (schema resolution, corrupt store
        # metadata) propagates: treating it as "no prior state" would
        # silently re-admit or re-assign everything already stored.
        # UNABLE_TO_INFER_SCHEMA is a store holding only its sidecars
        # (written before the first data write): no rows yet.
        get_cls = getattr(e, "getCondition", None) or getattr(
            e, "getErrorClass", None
        )
        cls = get_cls() if get_cls else None
        ok = ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")
        if cls in ok or any(f"[{c}]" in str(e) for c in ok):
            return None
        raise


def _read_json_file(spark: SparkSession, path_str: str) -> dict | None:
    """Small JSON sidecar read (None when absent). STRICTLY READ-ONLY:
    when the target is missing but a ``.tmp`` from a crashed
    :func:`_write_json_file` swap exists, the tmp's content is returned
    WITHOUT renaming it into place — a reader-side heal would race the
    writer's own pending rename; the next write heals the file instead.
    A tmp that does not parse is a write that crashed mid-create: the
    swap deletes the target only after the tmp is complete, so the
    target never existed and the state is "absent" (None)."""
    fs, HPath = _fs(spark, path_str)

    def _load(path) -> str:
        stream = fs.open(path)
        try:
            return bytes(
                spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
            ).decode()
        finally:
            stream.close()

    p, tmp = HPath(path_str), HPath(path_str + ".tmp")
    if fs.exists(p):
        return json.loads(_load(p))
    if fs.exists(tmp):
        try:
            return json.loads(_load(tmp))
        except ValueError:
            return None
    return None


def _write_json_file(spark: SparkSession, path_str: str, obj: dict) -> None:
    """Crash-safe small-JSON write: create ``.tmp``, delete the target,
    rename — a crash between delete and rename is healed by the reader
    (see :func:`_read_json_file`)."""
    fs, HPath = _fs(spark, path_str)
    p, tmp = HPath(path_str), HPath(path_str + ".tmp")
    out = fs.create(tmp, True)
    out.write(bytearray(json.dumps(obj, sort_keys=True).encode()))
    out.close()
    if fs.exists(p):
        fs.delete(p, False)
    _rename(fs, tmp, p)


def _write_sketch_meta(spark: SparkSession, store_dir: str, meta: dict) -> None:
    """Stamp a store's frozen parameters (``_sketch_meta.json``,
    underscore-prefixed so parquet listings ignore it): a reader or
    compactor run with different parameters would otherwise merge or
    read the store under the wrong grid. Overwrites."""
    _write_json_file(spark, f"{store_dir}/{_SKETCH_META}", meta)


def _check_sketch_meta(
    spark: SparkSession, store_dir: str, expect: dict
) -> dict | None:
    """Refuse to use a store whose stamp disagrees with ``expect``;
    returns the stamp. A store without a stamp (pre-gate layout) passes
    — the gate protects stamped stores, loudly."""
    stamped = _read_json_file(spark, f"{store_dir}/{_SKETCH_META}")
    if stamped is None:
        return None
    bad = {k: (stamped.get(k), v) for k, v in expect.items() if stamped.get(k) != v}
    if bad:
        raise ValueError(
            f"sketch store {store_dir} was built with {stamped}; "
            f"mismatched parameters {bad} would silently corrupt the "
            f"sketch — pass the store's own parameters"
        )
    return stamped


def _stamp_sketch_store(spark: SparkSession, store_dir: str, meta: dict) -> None:
    """Check any existing stamp, and stamp only when absent: re-stamping
    on every start would let a restart with different parameters merge
    new partials into old ones — the corruption the stamp exists to
    catch. A mismatched restart raises before the stream starts."""
    if _check_sketch_meta(spark, store_dir, meta) is None:
        _write_sketch_meta(spark, store_dir, meta)


def _query_id(spark: SparkSession, checkpoint_dir: str) -> str:
    """The StreamingQuery's stable id from ``<checkpoint>/metadata`` —
    written by Structured Streaming at query start, constant across
    restarts of the SAME checkpoint, fresh UUID for a new (or wiped)
    one. The foreachBatch loop runs strictly after query start, so the
    file always exists by the time a batch reads it."""
    meta = _read_json_file(spark, f"{checkpoint_dir}/metadata")
    if meta is None or "id" not in meta:
        raise FileNotFoundError(
            f"no streaming-query metadata under {checkpoint_dir}"
        )
    return str(meta["id"])


def _epoch_offset(
    spark: SparkSession,
    state_dir: str,
    checkpoint_dir: str,
    batch_id: int,
    delta_dirs: Sequence[str],
    base_dirs: Sequence[str],
) -> int:
    """Per-checkpoint-generation offset added to Structured Streaming's
    batch id before it becomes an ``ingest_batch`` partition value.

    Batch ids restart at 0 on a fresh checkpoint (the lost/corrupt
    checkpoint recovery), but the stores outlive the checkpoint.
    Without an offset a post-compaction fresh run writes partitions
    ``ingest_batch <= hwm`` that are (a) invisible to every reader (the
    ``> hwm`` predicate), (b) deleted by the next compaction as
    already-folded debris, and (c), once its ids catch up, dynamically
    overwrite surviving pre-crash partitions. The offset keeps each
    generation strictly above everything on disk, while replay WITHIN
    a generation still lands in its own partition, because the mapping
    is persisted per query id in ``<state_dir>/_epochs.json`` before any
    state write.

    Resolution order: a registered query id uses its offset forever; an
    unregistered id over an empty store starts at 0; an unregistered id
    with ``batch_id > 0`` is a pre-epochs checkpoint resuming (fresh
    checkpoints always start at 0) and keeps raw ids; otherwise it is a
    fresh checkpoint over existing state and gets max-on-disk + 1. The
    one undecidable legacy corner — a PRE-epochs store holding only
    batch-0 partitions and no base, seen by a brand-new checkpoint's
    batch 0 — resolves to offset 0, preferring crash-replay healing of
    a partially written first batch (every newer store registers its
    first query id before writing, so the ambiguity cannot recur)."""
    qid = _query_id(spark, checkpoint_dir)
    epochs_path = f"{state_dir}/{_EPOCHS}"
    epochs = _read_json_file(spark, epochs_path) or {}
    if qid in epochs:
        return int(epochs[qid]) + batch_id
    seen = [
        b
        for d in delta_dirs
        for b in _list_partition_values(spark, d, "ingest_batch")
    ] + [
        h for d in base_dirs for h in _list_partition_values(spark, d, "hwm")
    ]
    if not seen:
        offset = 0
    elif batch_id > 0:
        offset = 0  # pre-epochs checkpoint resuming mid-stream
    elif not epochs and max(seen) == 0 and not any(
        _list_partition_values(spark, d, "hwm") for d in base_dirs
    ):
        offset = 0  # legacy batch-0 crash-replay (see docstring)
    else:
        offset = max(seen) + 1  # fresh checkpoint over existing state
    epochs[qid] = offset
    _write_json_file(spark, epochs_path, epochs)
    return offset + batch_id


def epoch_mapper(
    spark: SparkSession,
    state_dir: str,
    checkpoint_dir: str,
    delta_dirs: Sequence[str],
    base_dirs: Sequence[str],
) -> Callable[[int], int]:
    """``batch_id -> ingest_batch`` for one stream: the checkpoint's
    batch id plus the store's epoch offset (:func:`_epoch_offset`),
    resolved on the first batch and cached for the query's lifetime."""
    offset: int | None = None

    def effective(batch_id: int) -> int:
        nonlocal offset
        if offset is None:
            offset = _epoch_offset(
                spark, state_dir, checkpoint_dir, batch_id, delta_dirs, base_dirs
            ) - batch_id
        return offset + batch_id

    return effective


def write_batch(df: DataFrame, path: str, batch_id: int) -> None:
    """Write ``df`` as ``path/ingest_batch=<batch_id>/`` with dynamic
    partition overwrite: only that partition is replaced, so a replayed
    batch rewrites its own rows and nothing else."""
    (
        df.withColumn("ingest_batch", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ingest_batch")
        .parquet(path)
    )


def fold_into_base(
    spark: SparkSession,
    delta_dir: str,
    base_dir: str,
    build: Callable[[int | None, int], DataFrame],
) -> int | None:
    """Fold closed ``ingest_batch`` partitions of ``delta_dir`` into the
    base snapshot ``base_dir/hwm=<N>/``; returns the surviving hwm
    (None when nothing has been folded yet).

    ``build(old_hwm, hwm)`` returns the new base: the store's fold of
    the ``old_hwm`` base (if any) and the deltas with
    ``old_hwm < ingest_batch <= hwm``. The lower bound matters: after a
    fold that crashed between writing its base and deleting its
    deltas, the already-folded partitions are still on disk.

    Only batches strictly below the newest delta partition fold: a
    ``foreachBatch`` query runs its batches one at a time, so the newest
    is the only one a restart can replay (and overwrite). Readers
    (:func:`read_changelog`) take the newest committed base plus the
    deltas ``> hwm``, so a fold running beside them, or one that crashed
    part-way, never changes what they read. Order: write the base,
    delete the old base, delete the folded deltas; the next call
    finishes a crashed fold's cleanup.
    """
    fs, HPath = _fs(spark, delta_dir)
    batches = _list_partition_values(spark, delta_dir, "ingest_batch")
    # sweep debris BEFORE trusting any hwm: an uncommitted base is
    # partial, and folding "up to" it would delete deltas it never held
    old_hwm = _sweep_base_snapshots(spark, base_dir)
    if len(batches) < 2:
        return old_hwm
    hwm = batches[-2]
    if old_hwm is not None and hwm <= old_hwm:
        hwm = old_hwm  # nothing newly closed: only finish the cleanup
    else:
        build(old_hwm, hwm).write.mode("overwrite").parquet(
            f"{base_dir}/hwm={hwm}"
        )
        if old_hwm is not None:
            fs.delete(HPath(f"{base_dir}/hwm={old_hwm}"), True)
    for b in batches[:-1]:
        if b <= hwm:
            fs.delete(HPath(f"{delta_dir}/ingest_batch={b}"), True)
    return hwm


def read_changelog(
    spark: SparkSession, delta_dir: str, base_dir: str
) -> DataFrame | None:
    """Merge-on-read of a store that :func:`fold_into_base` compacts:
    the newest committed base under ``base_dir``, stamped
    ``ingest_batch = hwm``, unioned with the ``delta_dir`` partitions
    ``ingest_batch > hwm``; None when the store holds neither.

    The ``> hwm`` predicate is on the partition column, so deltas that a
    running or crashed fold has folded but not yet deleted are pruned at
    planning time and every row is read once. A column that only the
    base or only the deltas carry reads NULL on the other side. A
    committed base that cannot be read raises: reading on without it
    would drop every folded row."""
    deltas = _try_read_parquet(spark, delta_dir)
    hwm = _latest_hwm(spark, base_dir)
    if hwm is None:
        return deltas
    base_path = f"{base_dir}/hwm={hwm}"
    base = _try_read_parquet(spark, base_path)
    if base is None:
        raise FileNotFoundError(
            f"base snapshot {base_path} is committed but unreadable"
        )
    base = base.withColumn("ingest_batch", F.lit(hwm))
    if deltas is None:
        return base
    return deltas.filter(F.col("ingest_batch") > hwm).unionByName(
        base, allowMissingColumns=True
    )


def run_changelog_stream(
    spark: SparkSession,
    schema: StructType,
    source_dir: str,
    checkpoint_dir: str,
    state_dir: str,
    delta_dirs: Sequence[str],
    base_dirs: Sequence[str],
    on_batch: Callable[[DataFrame, int], None],
) -> StreamingQuery:
    """Start a changelog stream: the JSON file source under
    ``source_dir`` (``schema``, at most ``MAX_FILES_PER_TRIGGER`` files
    per trigger), one ``foreachBatch`` query checkpointed at
    ``checkpoint_dir`` with a 0-second trigger, and
    ``on_batch(batch_df, ingest_batch)`` per micro-batch.

    ``on_batch`` never sees Structured Streaming's raw batch id: it gets
    the store's ``ingest_batch`` id, mapped by :func:`epoch_mapper` over
    ``state_dir``'s ``_epochs.json`` and the partitions under
    ``delta_dirs``/``base_dirs``, so writing each batch's state with
    :func:`write_batch` under that id is replay-idempotent.
    ``get_spark`` sets the parallel-listing threshold to the same cap,
    so a trigger's files are stat'ed on the driver, not by a listing
    job."""
    effective_batch = epoch_mapper(
        spark, state_dir, checkpoint_dir, delta_dirs, base_dirs
    )

    def run(batch_df: DataFrame, batch_id: int) -> None:
        on_batch(batch_df, effective_batch(batch_id))

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", MAX_FILES_PER_TRIGGER)
        .json(source_dir)
        .writeStream.foreachBatch(run)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime="0 seconds")
        .start()
    )
