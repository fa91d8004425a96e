"""The benchmark's expected outputs against the package's own topology,
``operators.payments.process_payments``, on a small frame."""

import os

import numpy as np
import pytest

from perfbench.payments import Payments, account, expected_outputs, merge_expected


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    from kafka_streams_spark import get_spark

    return get_spark(app_name="perfbench-tests", shuffle_partitions=2)


def _topology(spark, rows):
    from kafka_streams_spark.operators.payments import process_payments
    from kafka_streams_spark.schema import PAYMENT_SCHEMA

    out = process_payments(spark.createDataFrame(rows, PAYMENT_SCHEMA))
    sinks = {}
    for name in ("rails_foo", "rails_bar"):
        amounts = [r["amount"] for r in out[name].collect()]
        sinks[name] = (len(amounts), sum(amounts))
    sinks["balances"] = {r["fromAccount"]: r["balance"]
                         for r in out["balance"].collect()}
    return sinks


def test_expected_matches_process_payments(spark):
    # every currency x rails pair, negative and odd amounts for the FX
    # rounding, and a sender seen only on dropped rails or currencies
    amounts, currencies, rails, senders = [], [], [], []
    k = 0
    for cur in ("GBP", "USD", "EUR"):
        for r in ("BANK_RAILS_FOO", "BANK_RAILS_BAR", "BANK_RAILS_XXX"):
            for a in (1, 2, 3, 5, 7, 13, -3, -7, 99_999):
                amounts.append(a)
                currencies.append(cur)
                rails.append(r)
                senders.append(k % 4 if r != "BANK_RAILS_XXX" else 4)
                k += 1
    rows = [(f"p{i}", a, c, "ACC-X", account(s), r) for i, (a, c, s, r)
            in enumerate(zip(amounts, currencies, senders, rails))]

    expected = expected_outputs(amounts, currencies, rails, np.array(senders), 5)

    assert expected == _topology(spark, rows)
    assert account(4) not in expected["balances"]  # never a kept payment


def test_generated_payments_match_process_payments(spark, tmp_path):
    pay = Payments(3, 3_000, 200, 1.1)
    path, = pay.write_files(str(tmp_path), 3_000)
    from kafka_streams_spark.schema import PAYMENT_SCHEMA
    from kafka_streams_spark.operators.payments import process_payments

    out = process_payments(spark.read.schema(PAYMENT_SCHEMA).json(path))
    got = {r["fromAccount"]: r["balance"] for r in out["balance"].collect()}
    assert got == pay.expected()["balances"]


def test_merge_expected_adds_parts():
    a = {"rails_foo": (1, 10), "rails_bar": (2, 20), "balances": {"x": 5}}
    b = {"rails_foo": (3, 30), "rails_bar": (0, 0), "balances": {"x": 1, "y": 2}}
    assert merge_expected(a, b) == {
        "rails_foo": (4, 40), "rails_bar": (2, 20), "balances": {"x": 6, "y": 2}}


def test_same_seed_same_input():
    assert Payments(5, 100, 50, 1.1).render(0, 100) == Payments(5, 100, 50, 1.1).render(0, 100)
    assert Payments(5, 100, 50, 1.1).render(0, 100) != Payments(6, 100, 50, 1.1).render(0, 100)
