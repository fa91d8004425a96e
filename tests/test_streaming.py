"""Streaming parity tests: golden scenario through the foreachBatch
router, incremental updates across micro-batches, and restart-from-
checkpoint idempotency (the changelog-overwrite exactly-once claim).

Determinism: ``processAllAvailable()`` replaces the reference's
Awaitility polling (KafkaStreamsPaymentIntegrationTest.java:185-188).
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import Counter

import pytest

from kafka_streams_spark.streaming import BalanceView, run_payment_stream

GOLDEN = [
    {"paymentId": "p1", "amount": 100, "currency": "GBP", "fromAccount": "ABC", "toAccount": "DEF", "rails": "BANK_RAILS_FOO"},
    {"paymentId": "p2", "amount": 50, "currency": "GBP", "fromAccount": "ABC", "toAccount": "DEF", "rails": "BANK_RAILS_FOO"},
    {"paymentId": "p3", "amount": 60, "currency": "GBP", "fromAccount": "ABC", "toAccount": "DEF", "rails": "BANK_RAILS_FOO"},
    {"paymentId": "p4", "amount": 1200, "currency": "GBP", "fromAccount": "ABC", "toAccount": "DEF", "rails": "BANK_RAILS_XXX"},
    {"paymentId": "p5", "amount": 1000, "currency": "USD", "fromAccount": "XYZ", "toAccount": "DEF", "rails": "BANK_RAILS_BAR"},
]


def write_events(src_dir: str, name: str, events: list[dict]) -> None:
    os.makedirs(src_dir, exist_ok=True)
    with open(os.path.join(src_dir, name), "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")


def test_streaming_golden_and_incremental(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    write_events(src, "batch1.json", GOLDEN)

    q = run_payment_stream(spark, src, out, ckpt)
    try:
        q.processAllAvailable()
        view = BalanceView(spark, out)

        foo = spark.read.parquet(os.path.join(out, "rails_foo"))
        bar = spark.read.parquet(os.path.join(out, "rails_bar"))
        assert {r["paymentId"] for r in foo.collect()} == {"p1", "p2", "p3"}
        bar_rows = {r["paymentId"]: r.asDict() for r in bar.collect()}
        assert bar_rows["p5"]["amount"] == 800  # FX-converted
        assert bar_rows["p5"]["currency"] == "GBP"

        assert view.get_balance("ABC") == 210
        assert view.get_balance("XYZ") == 800
        assert view.get_balance("DEF") is None  # 404 case

        # incremental micro-batch: ABC sends 40 more
        write_events(
            src,
            "batch2.json",
            [{"paymentId": "p6", "amount": 40, "currency": "GBP",
              "fromAccount": "ABC", "toAccount": "DEF",
              "rails": "BANK_RAILS_FOO"}],
        )
        q.processAllAvailable()
        assert view.get_balance("ABC") == 250  # running aggregate updated
    finally:
        q.stop()


def test_streaming_restart_no_double_count(spark, tmp_path):
    """Stop the query, add data, restart from the same checkpoint: balances
    must include old + new exactly once."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    write_events(src, "batch1.json", GOLDEN)

    q = run_payment_stream(spark, src, out, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    write_events(
        src,
        "batch2.json",
        [{"paymentId": "p7", "amount": 5, "currency": "GBP",
          "fromAccount": "ABC", "toAccount": "DEF",
          "rails": "BANK_RAILS_FOO"}],
    )
    q2 = run_payment_stream(spark, src, out, ckpt)
    try:
        q2.processAllAvailable()
        view = BalanceView(spark, out)
        assert view.get_balance("ABC") == 215
        assert view.get_balance("XYZ") == 800
        assert "Exchange" in view.describe_topology()  # plan exposure works
    finally:
        q2.stop()


def test_changelog_one_flat_dir_per_batch_and_pushed_lookup(spark, tmp_path):
    """Each micro-batch writes exactly one balance_delta/ingest_batch=N/
    directory holding parquet files and no subdirectory, and a point
    lookup pushes its fromAccount equality into the parquet scan."""
    import glob

    from kafka_streams_spark.plans.audit import audit

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    write_events(src, "batch1.json", GOLDEN)

    q = run_payment_stream(spark, src, out, str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
        write_events(src, "batch2.json", GOLDEN[:1])
        q.processAllAvailable()
    finally:
        q.stop()

    delta = os.path.join(out, "balance_delta")
    parts = sorted(
        p for p in glob.glob(os.path.join(delta, "*")) if os.path.isdir(p)
    )
    assert [os.path.basename(p) for p in parts] == [
        "ingest_batch=0", "ingest_batch=1"
    ]
    for part in parts:
        entries = os.listdir(part)
        assert any(e.endswith(".parquet") for e in entries), entries
        assert not [e for e in entries if os.path.isdir(os.path.join(part, e))]

    view = BalanceView(spark, out)
    assert view.get_balance("ABC") == 310
    a = audit(view.lookup_plan("ABC"))
    assert a.pushed_filters, a.plan
    assert all("EqualTo(fromAccount,ABC)" in f for f in a.pushed_filters), (
        a.pushed_filters
    )


def _payments(n: int) -> list[dict]:
    """``n`` payments over 7 senders, both rails, GBP and USD."""
    return [
        {"paymentId": f"p{i}", "amount": 10 + i,
         "currency": "USD" if i % 3 == 0 else "GBP",
         "fromAccount": f"A{i % 7}", "toAccount": "DEF",
         "rails": "BANK_RAILS_FOO" if i % 2 else "BANK_RAILS_BAR"}
        for i in range(n)
    ]


def _expected(spark, src: str) -> dict:
    """The batch topology over the same input files: FOO and BAR payment
    ids and the balance per sender."""
    from kafka_streams_spark.operators.payments import process_payments
    from kafka_streams_spark.schema import PAYMENT_SCHEMA

    out = process_payments(spark.read.schema(PAYMENT_SCHEMA).json(src))
    return {
        "foo": sorted(r["paymentId"] for r in out["rails_foo"].collect()),
        "bar": sorted(r["paymentId"] for r in out["rails_bar"].collect()),
        "balance": {r["fromAccount"]: r["balance"] for r in out["balance"].collect()},
    }


def _sink_ids(spark, out: str, sink: str) -> list[str]:
    return sorted(
        r["paymentId"]
        for r in spark.read.parquet(os.path.join(out, sink)).collect()
    )


def _balances(spark, out: str) -> dict:
    return {
        r["fromAccount"]: r["balance"]
        for r in BalanceView(spark, out).balances().collect()
    }


def _status_jobs(spark) -> list:
    """Every job in the status store, once the listener bus has drained."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    it = sc.statusStore().jobsList(None).iterator()
    jobs = []
    while it.hasNext():
        jobs.append(it.next())
    return jobs


@contextlib.contextmanager
def _job_starts(spark, log_dir: str):
    """Collect the job-start events (with each job's local properties)
    of every job submitted inside the block, through an event-log
    listener attached to the running context."""
    sc = spark.sparkContext
    jsc, jvm = sc._jsc.sc(), sc._jvm
    os.makedirs(log_dir)
    conf = (
        jsc.conf()
        .clone()
        .set("spark.eventLog.compress", "false")
        .set("spark.eventLog.rolling.enabled", "false")
    )
    listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
        "jobs",
        getattr(jvm.scala, "None$").__getattr__("MODULE$"),
        jvm.java.net.URI(f"file://{os.path.abspath(log_dir)}"),
        conf,
        sc._jsc.hadoopConfiguration(),
    )
    listener.start()
    jsc.addSparkListener(listener)
    starts: list[dict] = []
    try:
        yield starts
    finally:
        jsc.listenerBus().waitUntilEmpty()
        jsc.removeSparkListener(listener)
        listener.stop()
        for path in glob.glob(os.path.join(log_dir, "*")):
            with open(path) as f:
                events = [json.loads(line) for line in f]
            starts += [e for e in events if e["Event"] == "SparkListenerJobStart"]


def test_trigger_files_stat_on_driver_no_listing_job(spark, tmp_path):
    """One trigger of 40 small files stats them on the driver: no
    "Listing leaf files and directories" job runs (the default parallel
    listing threshold is 32 paths), and the sinks and balances match
    the batch topology."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    for i, p in enumerate(_payments(40)):
        write_events(src, f"f{i:02d}.json", [p])
    before = max((j.jobId() for j in _status_jobs(spark)), default=-1)

    q = run_payment_stream(spark, src, out, str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert [p["numInputRows"] for p in q.recentProgress if p["numInputRows"]] == [40]
    descriptions = [
        j.description().get() if j.description().isDefined() else ""
        for j in _status_jobs(spark)
        if j.jobId() > before
    ]
    assert descriptions
    assert not [d for d in descriptions if "Listing leaf files" in d], descriptions
    want = _expected(spark, src)
    assert _sink_ids(spark, out, "rails_foo") == want["foo"]
    assert _sink_ids(spark, out, "rails_bar") == want["bar"]
    assert _balances(spark, out) == want["balance"]


def test_router_write_jobs_carry_batch_and_query_ids(spark, tmp_path):
    """The three writes run on the router's pool threads, yet every job
    of a batch carries that batch's ``streaming.sql.batchId`` and the
    query's ``sql.streaming.queryId`` (what per-batch attribution, job
    group cancellation and the SQL execution tree key on)."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    write_events(src, "batch1.json", GOLDEN)
    with _job_starts(spark, str(tmp_path / "log")) as starts:
        q = run_payment_stream(spark, src, out, str(tmp_path / "ckpt"))
        try:
            q.processAllAvailable()
            write_events(src, "batch2.json", _payments(20))
            q.processAllAvailable()
        finally:
            q.stop()

    props = [e["Properties"] for e in starts]
    assert all(p.get("sql.streaming.queryId") == q.id for p in props), props
    per_batch = Counter(p.get("streaming.sql.batchId") for p in props)
    assert set(per_batch) == {"0", "1"}, per_batch
    # one FOO, one BAR and at least one changelog job per batch
    assert min(per_batch.values()) >= 3, per_batch


def _fail_foo_write(spark, monkeypatch, events: list) -> None:
    """Make the FOO write raise at once and the changelog write return
    late; log each write's end and every unpersist."""
    from kafka_streams_spark.streaming import router

    append, changelog = router._append_outbound, router._write_changelog
    frame = type(spark.range(0))  # the session's concrete DataFrame class
    unpersist = frame.unpersist

    def failing_append(df, batch_id, path):
        if path.endswith("rails_foo"):
            events.append(("foo raised", time.monotonic(), None))
            raise RuntimeError("rails_foo sink unavailable")
        append(df, batch_id, path)
        events.append(("bar done", time.monotonic(), None))

    def slow_changelog(merged, batch_id, delta_dir):
        time.sleep(1.5)
        changelog(merged, batch_id, delta_dir)
        events.append(("changelog done", time.monotonic(), None))

    def logged_unpersist(self, *args, **kwargs):
        events.append(("unpersist", time.monotonic(), self))
        return unpersist(self, *args, **kwargs)

    monkeypatch.setattr(router, "_append_outbound", failing_append)
    monkeypatch.setattr(router, "_write_changelog", slow_changelog)
    monkeypatch.setattr(frame, "unpersist", logged_unpersist)


def _run_failing_batch(spark, monkeypatch, src, out, ckpt) -> tuple[list, float]:
    events: list = []
    _fail_foo_write(spark, monkeypatch, events)
    q = run_payment_stream(spark, src, out, ckpt)
    try:
        with pytest.raises(Exception, match="rails_foo sink unavailable"):
            q.processAllAvailable()
        failed_at = time.monotonic()
    finally:
        q.stop()
        monkeypatch.undo()
    return events, failed_at


def test_router_write_failure_waits_for_the_other_writes(
    spark, tmp_path, monkeypatch
):
    """When one write raises, the batch fails only after the other two
    writes have returned, and the persisted batch is unpersisted after
    all three."""
    from pyspark import StorageLevel

    src = str(tmp_path / "src")
    write_events(src, "batch1.json", _payments(30))
    events, failed_at = _run_failing_batch(
        spark, monkeypatch, src, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )

    names = [name for name, _, _ in events]
    assert sorted(names[:3]) == ["bar done", "changelog done", "foo raised"], names
    assert names[3:] == ["unpersist"], names
    assert failed_at >= events[-1][1]
    assert events[-1][2].storageLevel == StorageLevel(False, False, False, False, 1)


def test_router_replay_after_write_failure_is_exactly_once(
    spark, tmp_path, monkeypatch
):
    """Replaying the failed batch from its checkpoint rewrites its
    changelog partition: balances stay exactly-once, FOO gets each
    payment once, and BAR (written by the failed attempt too) is
    at-least-once, as in the reference."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    write_events(src, "batch1.json", _payments(30))
    _run_failing_batch(spark, monkeypatch, src, out, ckpt)

    q = run_payment_stream(spark, src, out, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    want = _expected(spark, src)
    assert _balances(spark, out) == want["balance"]
    assert _sink_ids(spark, out, "rails_foo") == want["foo"]
    assert sorted(set(_sink_ids(spark, out, "rails_bar"))) == want["bar"]
    assert os.listdir(os.path.join(out, "balance_delta")) == ["ingest_batch=0"]
