"""The ``analytics_batch`` workload: one closed-loop client runs registered
query contracts (``__spark_entry__.queries()``) over seeded tables. After
three session set-ups, each an untimed pass over every query, it runs them
in a seed-shuffled order, each against a clean cache, in whole passes
until the run has lasted ``--seconds`` and has at least ``MIN_OPS``
queries.

Each query is timed as construction (the call that builds the DataFrame,
with whatever eager jobs it runs) plus execution (``toArrow``, so the rows
that were timed are the rows checked). Every result is compared, outside
the timed region, with the query's ``oracle_sql()`` twin run on DuckDB.
"""

from __future__ import annotations

import datetime
import decimal
import random
import time

from perfbench import eventlog, tables
from perfbench.common import Spans, median

# A construction-heavy query (rfm_scores: eager jobs while it is built), an
# execution-heavy one (emb_near_dup_lsh: LSH banding and a pair verify) and
# short relational ones. The short ones outnumber the heavy ones, so the
# median query is a short one and holds still, while the heavy ones set
# most of the pass wall, which throughput reads.
HEAVY = ["rfm_scores", "emb_near_dup_lsh"]
SHORT = [
    "payments_balances",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_regional_revenue",
    "q9_profit_by_nation_year",
    "q14_promo_revenue",
    "sessionize_events",
    "events_hourly",
]
QUERIES = HEAVY + SHORT
MIN_OPS = 20  # a median with ten samples beyond it


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NULL" if v != v else f"{v:.6f}"
    if isinstance(v, decimal.Decimal):
        return f"{v:.6f}"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, int):
        return str(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.strftime("%Y-%m-%d 00:00:00.000000")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def canonical(table) -> tuple[tuple[str, ...], list[tuple[str, ...]]]:
    """An Arrow table as (sorted column names, sorted rows of normalized
    cells): equal for two engines' outputs of the same query."""
    cols = sorted(table.column_names)
    data = [table.column(c).to_pylist() for c in cols]
    rows = sorted(tuple(_norm(v) for v in row) for row in zip(*data))
    return tuple(cols), rows


class AnalyticsRun:
    """One measured run of ``analytics_batch``."""

    def __init__(self, seed: int, seconds: float, run_dir):
        import __spark_entry__ as entry

        self.seed, self.seconds = seed, seconds
        self.data = tables.generate(seed, run_dir.sub("data"))
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()

    def warm(self, spark, rep: int) -> None:
        """Session set-up: every query once, untimed, in the new session:
        the JVM compiles their code and the Python workers start. The
        timed passes follow three of these, so they are warm."""
        for name in QUERIES:
            spark.catalog.clearCache()
            self.queries[name](spark, self.data).toArrow()

    def run(self, spark, spans: Spans) -> dict:
        rng = random.Random(self.seed)
        ops: list[dict] = []
        errors: list[str] = []
        t_start = time.perf_counter()
        with spans.span("run"):
            while (time.perf_counter() - t_start < self.seconds
                   or len(ops) < MIN_OPS):
                order = list(QUERIES)
                rng.shuffle(order)
                for name in order:
                    ops.append(self._op(spark, spans, name, errors))
        failed = self._check(ops, errors)
        done = [op for op in ops if "execute_s" in op]
        wall = sum(op["construct_s"] + op["execute_s"] for op in done)
        return {
            "correct": failed == 0,
            "attempted": len(ops),
            "failed": failed,
            "errors": errors,
            "latencies": [op["construct_s"] + op["execute_s"] for op in done],
            "throughput": len(done) / wall if wall else 0.0,
            "ops": ops,
            "samples": [(op["name"], round(op["construct_s"], 3),
                         round(op["execute_s"], 3)) for op in done],
            "layers": {},
        }

    def _op(self, spark, spans: Spans, name: str, errors: list) -> dict:
        op = {"name": name}
        spark.catalog.clearCache()
        with spans.span(f"query:{name}"):
            try:
                with spans.span("construct") as s:
                    df = self.queries[name](spark, self.data)
                op["construct_s"] = s["end"] - s["start"]
                op["construct_span"] = s["id"]
                with spans.span("execute") as s:
                    op["result"] = df.toArrow()
                op["execute_s"] = s["end"] - s["start"]
                op["execute_span"] = s["id"]
            except Exception as e:  # counted; the run goes on
                errors.append(f"{name}: {e!r}")
        return op

    def _check(self, ops: list[dict], errors: list) -> int:
        """Compare every result with its DuckDB oracle; returns the number
        of failed or wrong operations."""
        import duckdb

        con = duckdb.connect()
        for t in tables.SIZES.keys() | {"region", "nation"}:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.data}/{t}.parquet')")
        expected = {}
        failed = 0
        for op in ops:
            if "result" not in op:
                failed += 1
                continue
            name = op["name"]
            if name not in expected:
                expected[name] = canonical(con.execute(self.oracles[name]).arrow())
            got = canonical(op.pop("result"))
            if got != expected[name]:
                errors.append(f"{name}: result differs from its oracle")
                failed += 1
        con.close()
        return failed

    def trace_layers(self, log: eventlog.EventLog, spans: Spans, res: dict) -> dict:
        """Construction and execution figures per query and in total, from
        the jobs each span's job group ran."""
        by_group: dict[str, list] = {}
        for j in log.jobs.values():
            if j.group:
                by_group.setdefault(j.group, []).append(j)

        def jobs(span_id):
            return by_group.get(f"span-{span_id}", [])

        done = [op for op in res["ops"] if "execute_span" in op]
        construct_jobs = [j for op in done for j in jobs(op["construct_span"])]
        execute_jobs = [j for op in done for j in jobs(op["execute_span"])]
        t = eventlog.totals(log, execute_jobs)
        gap = 0.0
        for op in done:
            gap += op["execute_s"] - eventlog.totals(
                log, jobs(op["execute_span"])).stage_union_s
        layers = {
            "operators.construct_s": (sum(op["construct_s"] for op in done), "s"),
            "operators.construct_jobs": (len(construct_jobs), "count"),
            **eventlog.spark_layer(
                t, sum(op["execute_s"] for op in done), gap),
        }
        for name in QUERIES:
            mine = [op for op in done if op["name"] == name]
            layers[f"query.{name}.construct_s"] = (
                median([op["construct_s"] for op in mine]), "s")
            layers[f"query.{name}.execute_s"] = (
                median([op["execute_s"] for op in mine]), "s")
            layers[f"query.{name}.jobs"] = (median([
                len(jobs(op["construct_span"])) + len(jobs(op["execute_span"]))
                for op in mine]), "count")
        return layers
