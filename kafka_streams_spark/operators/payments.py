"""The reference payment topology, re-expressed as composable DataFrame
transforms (SURVEY.md §2.1 ops 1-12; reference: PaymentTopology.java:39-98).

Every function here takes and returns a DataFrame, so the identical code
runs in batch (unit tests, oracle checks) and inside a Structured Streaming
``foreachBatch`` (streaming parity — see kafka_streams_spark.streaming).

Scale notes (100 TB):
- All stages up to the aggregation are narrow (filter/project/union): no
  shuffle, fully pipelined in one whole-stage-codegen span per branch.
- The only shuffle is the hash Exchange under ``groupBy(fromAccount)`` —
  the Spark analog of the reference's broker repartition topic
  (PaymentTopology.java:76-77). Partial aggregation (map-side combine) is
  planned automatically for ``sum``, so shuffle volume is one row per
  (task, account), not per payment.
- The fan-out (aggregate + two sinks from one merged stream,
  PaymentTopology.java:75-97) is handled by the streaming router with one
  ``persist()`` per micro-batch, preserving the reference's
  read-input-once property.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from kafka_streams_spark.functions.numeric import java_round
from kafka_streams_spark.schema import (
    CURRENCY_GBP,
    CURRENCY_USD,
    RAILS_BAR,
    RAILS_FOO,
    SUPPORTED_RAILS,
)

FX_RATE_USD_GBP = 0.8  # hard-coded reference rate, PaymentTopology.java:58


def filter_supported_rails(payments: DataFrame) -> DataFrame:
    """Op 3 — keep rails ∈ {FOO, BAR}; drops BANK_RAILS_XXX and anything
    else (PaymentTopology.java:33,46). `isin` compiles to a pushdown-able
    In predicate, so on a parquet source this reaches the scan."""
    return payments.filter(F.col("rails").isin(*SUPPORTED_RAILS))


def branch_by_currency(payments: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Op 4 — first-match split into (GBP, USD) substreams
    (PaymentTopology.java:50-53). Kafka Streams ``branch()`` drops records
    matching no predicate — so NO catch-all leg exists; e.g. currency=EUR
    vanishes here. Predicates are disjoint, so first-match == plain
    filters."""
    gbp = payments.filter(F.col("currency") == CURRENCY_GBP)
    usd = payments.filter(F.col("currency") == CURRENCY_USD)
    return gbp, usd


def fx_convert_usd_to_gbp(usd: DataFrame) -> DataFrame:
    """Op 5 — FX conversion on the USD branch only
    (PaymentTopology.java:54-68): amount = Math.round(amount * 0.8),
    currency = GBP, all other fields (and the key) unchanged.

    ``java_round`` pins Java Math.round == floor(x+0.5) semantics — Spark's
    HALF_UP ``round`` differs at negative half-values (SURVEY.md §2.1 op 5).
    """
    return usd.withColumn(
        "amount", java_round(F.col("amount") * F.lit(FX_RATE_USD_GBP))
    ).withColumn("currency", F.lit(CURRENCY_GBP))


def merge(gbp: DataFrame, usd_converted: DataFrame) -> DataFrame:
    """Op 6 — reunite the branches; UNION ALL / bag semantics, no ordering
    or dedup (PaymentTopology.java:71). ``unionByName`` keeps the code
    robust to column-order drift between branches."""
    return gbp.unionByName(usd_converted)


def account_balances(merged: DataFrame) -> DataFrame:
    """Ops 7-10 — re-key to fromAccount and keep a running SUM(amount)
    (PaymentTopology.java:76-88). "Balance" = total *sent* per account; the
    toAccount side is never credited. In Kafka Streams the key change
    forces a broker repartition topic; here Catalyst plans a hash Exchange
    with map-side partial sums. Output: (fromAccount, balance:long)."""
    return merged.groupBy("fromAccount").agg(F.sum("amount").alias("balance"))


def branch_by_rails(merged: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Op 11 — second split of the *merged* (post-FX) stream into the FOO
    and BAR sink legs (PaymentTopology.java:91-93). Values are post-FX:
    USD payments leave converted (PaymentTopologyTest.java:129-139)."""
    foo = merged.filter(F.col("rails") == RAILS_FOO)
    bar = merged.filter(F.col("rails") == RAILS_BAR)
    return foo, bar


def route_and_convert(payments: DataFrame) -> DataFrame:
    """Fused single-scan equivalent of branch(currency) → fx → merge
    (ops 4-6).

    The currency branches are disjoint filters over one parent, so the
    N-filters-then-union translation scans the source once per branch —
    visible as two parquet scans in the physical plan, i.e. 2× scan cost
    at 100 TB. Because every surviving row matches exactly one branch,
    the union is equivalent to one conditional projection over a single
    scan: keep GBP/USD rows, convert amount iff USD. Bag semantics,
    row-for-row identical to the unfused composition (the oracle checks
    this query against the UNION ALL formulation).

    The granular operators remain the public parity surface; compositions
    use this fused form.
    """
    routed = filter_supported_rails(payments)
    both = routed.filter(F.col("currency").isin(CURRENCY_GBP, CURRENCY_USD))
    is_usd = F.col("currency") == CURRENCY_USD
    return both.withColumn(
        "amount",
        F.when(is_usd, java_round(F.col("amount") * F.lit(FX_RATE_USD_GBP))).otherwise(
            F.col("amount")
        ),
    ).withColumn(
        "currency",
        F.when(is_usd, F.lit(CURRENCY_GBP)).otherwise(F.col("currency")),
    )


def process_payments(payments: DataFrame) -> dict[str, DataFrame]:
    """The whole topology, source-to-sinks, as one composition.

    Returns the three outputs the reference materializes: the two outbound
    topic legs and the balance table
    (sinks PaymentTopology.java:96-97; store :88).
    """
    merged = route_and_convert(payments)
    foo, bar = branch_by_rails(merged)
    return {
        "rails_foo": foo,
        "rails_bar": bar,
        "balance": account_balances(merged),
    }


# Account-hash buckets for the batch BalanceStore's pruned point lookups.
N_BALANCE_BUCKETS = 64


def balance_bucket(account_col):
    """The bucket expression pinned by the on-disk layout: every writer
    and every lookup must derive the bucket identically or point reads
    scan the wrong (or every) partition."""
    return F.crc32(account_col) % N_BALANCE_BUCKETS


# Declared read schemas of the streaming balance store (the changelog
# and its base snapshot — streaming.router). Declaring them spares every
# read parquet's footer-inference job. ``ingest_batch`` is the
# changelog's partition column. Changelog and base files written while
# ``bucket`` was a data column still read through these schemas (the
# column is ignored).
BALANCE_DELTA_SCHEMA = StructType(
    [
        StructField("fromAccount", StringType()),
        StructField("delta", LongType()),
        StructField("ingest_batch", LongType()),
    ]
)
BALANCE_BASE_SCHEMA = StructType(
    [
        StructField("fromAccount", StringType()),
        StructField("balance", LongType()),
    ]
)


class BalanceStore:
    """Bucket-partitioned batch materialization of the balance table —
    the §2.3 interactive-query surface at scale (reference:
    BalanceController.java:22-35 serves lookups from a local RocksDB
    store; the Spark analog is a parquet table hash-partitioned on the
    lookup key so each point read plans down to 1/64th of the state).

    ``materialize`` writes the output of :func:`account_balances` once;
    every subsequent ``get_balance`` is a partition-pruned scan of one
    bucket directory — O(one bucket), not O(state) and not one full
    aggregation re-run per lookup (the pre-r13 batch shape). The
    streaming twin is ``streaming.router.BalanceView``, which serves the
    same lookup over the base+changelog composition."""

    def __init__(self, spark, path: str):
        self._spark = spark
        self._path = path

    @staticmethod
    def materialize(balances: DataFrame, path: str) -> "BalanceStore":
        """Write ``(fromAccount, balance)`` partitioned by account-hash
        bucket. ``repartition("bucket")`` keeps one file per bucket
        instead of one per (shuffle task, bucket)."""
        (
            balances.withColumn("bucket", balance_bucket(F.col("fromAccount")))
            .repartition("bucket")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(path)
        )
        return BalanceStore(balances.sparkSession, path)

    def balances(self) -> DataFrame:
        """The full table, bucket column dropped (layout detail)."""
        return self._spark.read.parquet(self._path).select(
            "fromAccount", "balance"
        )

    def lookup_plan(self, account: str) -> DataFrame:
        """The point-lookup DataFrame (exposed so plan audits can pin
        the bucket partition-pruning — tests/test_payments_golden.py).
        ``bucket`` is a PARTITION column: the equality prunes at
        planning time, so only one bucket directory is ever listed or
        scanned; the ``fromAccount`` equality then pushes to the parquet
        reader inside that bucket."""
        return self._spark.read.parquet(self._path).filter(
            (F.col("bucket") == balance_bucket(F.lit(account)))
            & (F.col("fromAccount") == account)
        )

    def get_balance(self, account: str):
        rows = self.lookup_plan(account).collect()
        return rows[0]["balance"] if rows else None


def get_balance(balances, account: str):
    """Interactive query parity: point lookup of the balance store
    (BalanceController.java:22-35). Returns int or None (the 404 case —
    an account that never *sent* is absent, not 0).

    Accepts either a :class:`BalanceStore` (the scale shape: bucket-
    pruned partition read, r12 verdict item 5) or a plain balances
    DataFrame (parity/tests on in-flight results — this form re-runs
    the upstream aggregation per lookup, fine for a golden scenario,
    wrong for serving; materialize a BalanceStore for that)."""
    if isinstance(balances, BalanceStore):
        return balances.get_balance(account)
    rows = balances.filter(F.col("fromAccount") == account).collect()
    return rows[0]["balance"] if rows else None
