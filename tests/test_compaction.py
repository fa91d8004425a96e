"""Changelog compaction: balances must be identical before/after folding,
across stream restarts, and when new deltas arrive on top of a base."""

from __future__ import annotations

import glob
import os

from kafka_streams_spark.streaming import BalanceView, run_payment_stream
from kafka_streams_spark.streaming.router import compact_balances
from tests.test_streaming import GOLDEN, write_events


def _payment(pid: str, amount: int, account: str) -> dict:
    return {
        "paymentId": pid, "amount": amount, "currency": "GBP",
        "fromAccount": account, "toAccount": "DEF",
        "rails": "BANK_RAILS_FOO",
    }


def test_compaction_preserves_balances(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    write_events(src, "b1.json", GOLDEN)

    q = run_payment_stream(spark, src, out, ckpt)
    try:
        q.processAllAvailable()
        write_events(src, "b2.json", [_payment("p6", 40, "ABC")])
        q.processAllAvailable()
        write_events(src, "b3.json", [_payment("p7", 5, "XYZ")])
        q.processAllAvailable()

        view = BalanceView(spark, out)
        before = {r["fromAccount"]: r["balance"] for r in view.balances().collect()}
        assert before == {"ABC": 250, "XYZ": 805}

        hwm = compact_balances(spark, out)
        assert hwm is not None
        after = {r["fromAccount"]: r["balance"] for r in view.balances().collect()}
        assert after == before
        # folded partitions gone, newest kept
        remaining = glob.glob(os.path.join(out, "balance_delta", "ingest_batch=*"))
        assert len(remaining) == 1
        assert view.get_balance("ABC") == 250  # point lookup across base+log
        assert view.get_balance("NOPE") is None

        # new deltas on top of the base
        write_events(src, "b4.json", [_payment("p8", 10, "ABC")])
        q.processAllAvailable()
        assert view.get_balance("ABC") == 260

        # second compaction folds base + newly closed partitions
        compact_balances(spark, out)
        assert view.get_balance("ABC") == 260
    finally:
        q.stop()

def test_crashed_compaction_does_not_double_count(spark, tmp_path):
    """Crash window: base written, folded delta partitions NOT yet
    deleted. The reader must filter deltas to ingest_batch > hwm, or
    every folded amount counts twice (base + still-present delta)."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    write_events(src, "b1.json", GOLDEN)

    q = run_payment_stream(spark, src, out, ckpt)
    try:
        write_events(src, "b2.json", [_payment("p6", 40, "ABC")])
        q.processAllAvailable()
        write_events(src, "b3.json", [_payment("p7", 5, "XYZ")])
        q.processAllAvailable()
    finally:
        q.stop()

    view = BalanceView(spark, out)
    before = {r["fromAccount"]: r["balance"] for r in view.balances().collect()}

    # Simulate the crash: run the fold, then restore the folded delta
    # partitions as if cleanup never happened.
    import shutil

    delta_dir = os.path.join(out, "balance_delta")
    backup = str(tmp_path / "delta_backup")
    shutil.copytree(delta_dir, backup)
    hwm = compact_balances(spark, out)
    assert hwm is not None
    shutil.rmtree(delta_dir)
    shutil.copytree(backup, delta_dir)

    after = {r["fromAccount"]: r["balance"] for r in view.balances().collect()}
    assert after == before  # folded deltas pruned, not double-counted
    assert view.get_balance("ABC") == before["ABC"]

def test_recompaction_after_crash_does_not_double_count(spark, tmp_path):
    """r7 review wave 4: the COMPACTOR itself must apply the reader's
    `ingest_batch > old_hwm` rule. After a crashed compaction (base
    written, folded deltas still on disk), a re-run — with or without
    newly closed batches — previously unioned the leftover deltas with
    the base that already contains them: permanent double count."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    write_events(src, "b1.json", GOLDEN)

    q = run_payment_stream(spark, src, out, ckpt)
    try:
        write_events(src, "b2.json", [_payment("p6", 40, "ABC")])
        q.processAllAvailable()
        write_events(src, "b3.json", [_payment("p7", 5, "XYZ")])
        q.processAllAvailable()
    finally:
        q.stop()

    view = BalanceView(spark, out)
    before = {r["fromAccount"]: r["balance"] for r in view.balances().collect()}

    import shutil

    delta_dir = os.path.join(out, "balance_delta")
    backup = str(tmp_path / "delta_backup")
    shutil.copytree(delta_dir, backup)
    hwm1 = compact_balances(spark, out)
    assert hwm1 is not None
    shutil.rmtree(delta_dir)
    shutil.copytree(backup, delta_dir)  # the crash: cleanup never ran

    # re-run with NO newly closed batch: must only finish the cleanup
    hwm2 = compact_balances(spark, out)
    assert hwm2 == hwm1
    mid = {r["fromAccount"]: r["balance"] for r in view.balances().collect()}
    assert mid == before

    # a new batch closes the previous one; the re-fold must not re-add
    # the already-based amounts
    q = run_payment_stream(spark, src, out, ckpt)
    try:
        write_events(src, "b4.json", [_payment("p8", 7, "ABC")])
        q.processAllAvailable()
    finally:
        q.stop()
    hwm3 = compact_balances(spark, out)
    assert hwm3 is not None and hwm3 > hwm1
    after = {r["fromAccount"]: r["balance"] for r in view.balances().collect()}
    expected = dict(before)
    expected["ABC"] = before["ABC"] + 7
    assert after == expected


def test_pre_bucket_delta_layout_migrates_once(spark, tmp_path):
    """A store whose delta partitions predate the bucket-nested layout
    (files directly under ingest_batch=N/, with ``bucket`` as a plain
    data column or without it entirely) is already in the flat layout
    the changelog writes: it must read back byte-identical with no
    rewrite, stay flat as the stream appends on top, and compact."""
    from pyspark.sql import functions as F

    from kafka_streams_spark.streaming.router import (
        N_BALANCE_BUCKETS,
        _migrate_delta_layout,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    delta = os.path.join(out, "balance_delta")

    # old layout, variant A: bucket as a data column, files directly
    # under the batch dir
    (
        spark.createDataFrame([("ABC", 100)], "fromAccount string, delta bigint")
        .withColumn("bucket", F.crc32(F.col("fromAccount")) % N_BALANCE_BUCKETS)
        .write.parquet(os.path.join(delta, "ingest_batch=900"))
    )
    # old layout, variant B: no bucket column at all
    (
        spark.createDataFrame([("XYZ", 800)], "fromAccount string, delta bigint")
        .write.parquet(os.path.join(delta, "ingest_batch=901"))
    )

    # constructing the view runs the migration, which has nothing to do;
    # the stream keeps appending flat partitions on top
    view = BalanceView(spark, out)
    _assert_flat(delta)
    assert view.get_balance("ABC") == 100
    assert view.get_balance("XYZ") == 800

    write_events(src, "b1.json", [_payment("p1", 50, "ABC")])
    q = run_payment_stream(spark, src, out, str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    _assert_flat(delta)
    assert view.get_balance("ABC") == 150
    assert view.get_balance("XYZ") == 800

    # idempotent: a second call touches nothing
    assert _migrate_delta_layout(spark, delta) == 0

    # compaction works across the upgraded store
    hwm = compact_balances(spark, out)
    assert hwm is not None
    assert view.get_balance("ABC") == 150
    assert view.get_balance("XYZ") == 800


def _assert_flat(delta_dir: str) -> None:
    """Every ingest_batch=N partition holds parquet files directly and
    has no subdirectory."""
    parts = glob.glob(os.path.join(delta_dir, "ingest_batch=*"))
    assert parts
    for part in parts:
        assert glob.glob(os.path.join(part, "*.parquet")), part
        assert not [
            e for e in os.listdir(part) if os.path.isdir(os.path.join(part, e))
        ], part


def _write_nested(df, part: str) -> None:
    """The bucket-nested layout: ingest_batch=N/bucket=M/ files without
    a bucket data column."""
    from pyspark.sql import functions as F

    from kafka_streams_spark.streaming.router import N_BALANCE_BUCKETS

    (
        df.withColumn(
            "bucket", F.crc32(F.col("fromAccount")) % N_BALANCE_BUCKETS
        )
        .repartition("bucket")
        .write.partitionBy("bucket")
        .parquet(part)
    )


def _delta_rows(spark, delta_dir: str) -> list[tuple]:
    return sorted(
        (r["ingest_batch"], r["fromAccount"], r["delta"])
        for r in spark.read.parquet(delta_dir).collect()
    )


def test_bucket_nested_delta_layout_flattens_once(spark, tmp_path):
    """A store written by the bucket-nested layout
    (ingest_batch=N/bucket=M/) is flattened once: every partition ends
    flat, its rows are byte-identical, balances and lookups are
    unchanged, a second call migrates nothing, and the stream and
    compaction keep working on top."""
    from kafka_streams_spark.streaming.router import _migrate_delta_layout

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    delta = os.path.join(out, "balance_delta")
    accounts = [f"ACC{i:03d}" for i in range(200)]
    for b in (3, 4, 5):
        _write_nested(
            spark.createDataFrame(
                [(a, b * 1000 + i) for i, a in enumerate(accounts) if i % b],
                "fromAccount string, delta bigint",
            ),
            os.path.join(delta, f"ingest_batch={b}"),
        )
    expected = {}
    for b in (3, 4, 5):
        for i, a in enumerate(accounts):
            if i % b:
                expected[a] = expected.get(a, 0) + b * 1000 + i
    assert len(glob.glob(os.path.join(delta, "ingest_batch=3", "bucket=*"))) > 1
    before = _delta_rows(spark, delta)

    assert _migrate_delta_layout(spark, delta) == 3
    _assert_flat(delta)
    assert _delta_rows(spark, delta) == before
    assert _migrate_delta_layout(spark, delta) == 0  # idempotent
    assert _delta_rows(spark, delta) == before

    view = BalanceView(spark, out)
    got = {r["fromAccount"]: r["balance"] for r in view.balances().collect()}
    assert got == expected
    assert view.get_balance("ACC001") == expected["ACC001"]
    assert view.get_balance("ACC000") is None  # i % b == 0 for every b

    write_events(src, "b1.json", [_payment("p1", 50, "ACC001")])
    q = run_payment_stream(spark, src, out, str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    _assert_flat(delta)
    assert view.get_balance("ACC001") == expected["ACC001"] + 50
    assert compact_balances(spark, out) is not None
    expected["ACC001"] += 50
    got = {r["fromAccount"]: r["balance"] for r in view.balances().collect()}
    assert got == expected


def test_interrupted_migration_recovers(spark, tmp_path):
    """The flattening swap is crash-safe: a nested partition parked at
    .pre_flat with a complete ._migrating rewrite finishes the swap; one
    with no usable rewrite unwinds and redoes it. A .pre_bucket park
    left by the earlier upgrade into the nested layout recovers too.
    Every path ends flat with the same balance."""
    import shutil

    from kafka_streams_spark.streaming.router import _migrate_delta_layout

    out = str(tmp_path / "out")
    delta = os.path.join(out, "balance_delta")
    part = os.path.join(delta, "ingest_batch=0")

    df = spark.createDataFrame([("ABC", 100)], "fromAccount string, delta bigint")
    # crash state 1: parked nested copy + complete flat rewrite, swap
    # not done
    df.write.parquet(part + "._migrating")
    _write_nested(df, part + ".pre_flat")
    assert _migrate_delta_layout(spark, delta) == 0  # recovery, no rewrite
    _assert_flat(delta)
    assert not os.path.exists(part + ".pre_flat")
    assert not os.path.exists(part + "._migrating")
    view = BalanceView(spark, out)
    assert view.get_balance("ABC") == 100

    # crash state 2: parked nested copy, rewrite missing -> unwind + redo
    shutil.rmtree(part)
    _write_nested(df, part + ".pre_flat")
    assert _migrate_delta_layout(spark, delta) == 1
    _assert_flat(delta)
    assert not os.path.exists(part + ".pre_flat")
    assert BalanceView(spark, out).get_balance("ABC") == 100

    # crash state 3: the earlier upgrade parked a flat copy at
    # .pre_bucket with a complete nested rewrite -> finish, then flatten
    shutil.rmtree(part)
    df.write.parquet(part + ".pre_bucket")
    _write_nested(df, part + "._migrating")
    assert _migrate_delta_layout(spark, delta) == 1
    _assert_flat(delta)
    assert not os.path.exists(part + ".pre_bucket")
    assert not os.path.exists(part + "._migrating")
    assert BalanceView(spark, out).get_balance("ABC") == 100


def test_balances_snapshot_debris_swept(spark, tmp_path):
    """r10 review fix shared with the splits compactor: an UNCOMMITTED
    base (crashed mid-write, no _SUCCESS) must be invisible to readers
    and swept — the old code trusted any hwm dir, so the re-run deleted
    deltas the partial base never contained — and a superseded committed
    base left by a crash between commit and delete must be reclaimed."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    write_events(src, "b1.json", GOLDEN)

    q = run_payment_stream(spark, src, out, ckpt)
    try:
        q.processAllAvailable()
        write_events(src, "b2.json", [_payment("p6", 40, "ABC")])
        q.processAllAvailable()
        write_events(src, "b3.json", [_payment("p7", 5, "XYZ")])
        q.processAllAvailable()
    finally:
        q.stop()

    view = BalanceView(spark, out)
    before = {r["fromAccount"]: r["balance"] for r in view.balances().collect()}

    # uncommitted garbage base claiming hwm=1
    from pyspark.sql import functions as F

    base = os.path.join(out, "balance_base", "hwm=1")
    spark.createDataFrame(
        [("ZZZ", 10**9)], "fromAccount string, balance bigint"
    ).withColumn("bucket", F.lit(0)).write.mode("overwrite").parquet(base)
    os.remove(os.path.join(base, "_SUCCESS"))

    assert {
        r["fromAccount"]: r["balance"] for r in view.balances().collect()
    } == before  # reader ignores the partial snapshot, keeps all deltas

    hwm = compact_balances(spark, out)
    assert hwm == 1  # swept the debris, folded batches 0-1 for real
    assert {
        r["fromAccount"]: r["balance"] for r in view.balances().collect()
    } == before
    assert os.path.exists(os.path.join(base, "_SUCCESS"))

    # superseded committed base: crash between commit and delete
    spark.createDataFrame(
        [("ZZZ", 10**9)], "fromAccount string, balance bigint"
    ).withColumn("bucket", F.lit(0)).write.mode("overwrite").parquet(
        os.path.join(out, "balance_base", "hwm=0")
    )
    compact_balances(spark, out)
    assert sorted(glob.glob(os.path.join(out, "balance_base", "hwm=*"))) == [
        os.path.join(out, "balance_base", "hwm=1")
    ]
    assert {
        r["fromAccount"]: r["balance"] for r in view.balances().collect()
    } == before


def test_payment_stream_fresh_checkpoint_epoch(spark, tmp_path):
    """r10 review fix: after compaction, a FRESH checkpoint's batch ids
    restart at 0 <= hwm — without the epoch offset its deltas were
    invisible to BalanceView, deleted by the next compaction, and
    eventually overwrote surviving partitions. New payments in the
    fresh generation must be counted, survive compaction, and land
    above the pre-crash partitions. (Re-delivered payments double-count
    by design — the changelog is at-least-once with no payment-id
    dedup, matching the reference.)"""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    write_events(src, "b1.json", [_payment("p1", 100, "ABC")])

    q = run_payment_stream(spark, src, out, str(tmp_path / "ckptA"))
    try:
        q.processAllAvailable()
        write_events(src, "b2.json", [_payment("p2", 10, "ABC")])
        q.processAllAvailable()
    finally:
        q.stop()
    assert compact_balances(spark, out) == 0
    view = BalanceView(spark, out)
    assert view.get_balance("ABC") == 110

    # fresh checkpoint: re-delivers b1+b2 (double count, by design) and
    # sees the genuinely new b3 — all in its batch 0
    write_events(src, "b3.json", [_payment("p3", 1, "XYZ")])
    q = run_payment_stream(spark, src, out, str(tmp_path / "ckptB"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert view.get_balance("ABC") == 220  # 110 + re-delivered 110
    assert view.get_balance("XYZ") == 1  # the NEW payment is visible
    parts = sorted(
        int(p.rsplit("=", 1)[1])
        for p in glob.glob(os.path.join(out, "balance_delta", "ingest_batch=*"))
    )
    assert parts == [1, 2]  # fresh generation wrote at offset 2, not 0

    # and compaction keeps it all
    compact_balances(spark, out)
    assert view.get_balance("ABC") == 220
    assert view.get_balance("XYZ") == 1
