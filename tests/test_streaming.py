"""Streaming parity tests: golden scenario through the foreachBatch
router, incremental updates across micro-batches, and restart-from-
checkpoint idempotency (the changelog-overwrite exactly-once claim).

Determinism: ``processAllAvailable()`` replaces the reference's
Awaitility polling (KafkaStreamsPaymentIntegrationTest.java:185-188).
"""

from __future__ import annotations

import json
import os

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
