"""The ``payments_stream`` workload: one ``run_payment_stream`` query, first
draining a staged backlog, then fed in an open loop while a client reads
balances beside the writes.

1. Warm batch: one small file, so the measured query has started.
2. Catch-up: a backlog of large files over a uniform key space is released
   at once; the router drains it in three batches of 250k rows, where the
   per-row path (JSON parse, ``route_and_convert``, three parquet writes,
   the bucketed delta aggregate) dominates.
3. Open loop: one generator thread releases small pre-rendered files by
   atomic rename on a fixed schedule, with Zipf-skewed senders, so fixed
   per-batch cost dominates. One closed-loop client calls
   ``BalanceView.get_balance`` on hot accounts and on accounts that never
   sent, and runs ``compact_balances`` on a fixed cadence.

After the drain, the sinks and balances are checked against
``payments.expected_outputs`` for everything released.
"""

from __future__ import annotations

import glob
import os
import threading
import time

from perfbench import checkpoint, eventlog
from perfbench.common import Spans, median
from perfbench.payments import Payments, account, merge_expected, never_sent

ACCOUNTS = 50_000
RATE = 4_000  # open-loop payments per second
FILE_EVERY_S = 0.1
ZIPF_S = 1.1
COMPACT_EVERY_S = 5.0
LOOKUP_EVERY_S = 1.0  # the client's think time: one lookup started per second
BACKLOG_ROWS = 750_000
BACKLOG_ROWS_PER_FILE = 2_500  # x100 files (maxFilesPerTrigger) per batch
WARM_ROWS = 2_000
DRAIN_TIMEOUT_S = 90.0


def _wait_commit(ckpt: str, batch: int, query, log: str = "commits") -> None:
    """Wait until ``batch`` has an entry in the checkpoint's ``log``
    (``offsets`` once it is planned, ``commits`` once it is done)."""
    deadline = time.time() + DRAIN_TIMEOUT_S
    while not os.path.exists(os.path.join(ckpt, log, str(batch))):
        if query.exception() is not None:
            raise RuntimeError(f"stream failed: {query.exception()}")
        if time.time() > deadline:
            raise TimeoutError(f"batch {batch} did not commit")
        time.sleep(0.02)


def _drain(query, ckpt: str, released: dict) -> None:
    """Wait until every released file is in a committed batch (or the
    query failed, or the timeout passed: uncommitted files then count as
    failed operations)."""
    deadline = time.time() + DRAIN_TIMEOUT_S
    while len(checkpoint.file_latencies(released, ckpt)) < len(released):
        if query.exception() is not None or time.time() > deadline:
            return
        time.sleep(0.05)


def _release(files, src: str, due: float, released: dict) -> None:
    for path in files:
        target = os.path.join(src, os.path.basename(path))
        os.rename(path, target)
        released[target] = due


def sink_stats(spark, out: str) -> dict:
    """What the topology wrote: row count and amount sum per rails sink,
    and every balance."""
    from pyspark.sql import functions as F

    from kafka_streams_spark.streaming import BalanceView

    stats = {}
    for name in ("rails_foo", "rails_bar"):
        row = spark.read.parquet(os.path.join(out, name)).agg(
            F.count("*").alias("n"), F.sum("amount").alias("s")
        ).collect()[0]
        stats[name] = (int(row["n"]), int(row["s"] or 0))
    stats["balances"] = {
        r["fromAccount"]: int(r["balance"])
        for r in BalanceView(spark, out).balances().collect()
    }
    return stats


def _dir_bytes(path: str) -> tuple[int, int]:
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    return len(files), sum(os.path.getsize(f) for f in files)


def router_layer(progress: list[dict]) -> dict:
    batch = [p["durationMs"].get("triggerExecution", 0) / 1e3 for p in progress]
    add = [p["durationMs"].get("addBatch", 0) / 1e3 for p in progress]
    return {
        "streaming.router.batches": (len(progress), "count"),
        "streaming.router.rows_per_batch_p50": (
            median([p["numInputRows"] for p in progress]), "rows"),
        "streaming.router.batch_s_p50": (median(batch), "s"),
        "streaming.router.foreach_s_p50": (median(add), "s"),
        "streaming.router.trigger_overhead_s_p50": (
            median([b - a for b, a in zip(batch, add)]), "s"),
    }


def backlog_after_commits(released: dict, lat: dict) -> list[int]:
    """Files released but not yet committed, right after each commit made
    while files were still being released."""
    due = sorted(released.values())
    done = sorted(released[p] + v for p, (_, v) in lat.items())
    out = []
    for k, t in enumerate(done):
        if t > due[-1]:
            break  # the drain after the last release
        if k + 1 < len(done) and done[k + 1] == t:
            continue  # the same batch
        out.append(sum(1 for d in due if d <= t) - (k + 1))
    return out


def backlog_grows(after_commits: list[int], files_per_s: float) -> bool:
    """True when the backlog left after commits in the last third of the
    run exceeds that in the first third by more than one second of input:
    a system that keeps up is left with the same backlog after each batch."""
    n = len(after_commits) // 3
    if n == 0:
        return False
    first = sum(after_commits[:n]) / n
    last = sum(after_commits[-n:]) / n
    return last - first > files_per_s


def lookup_ok(value, final_balance: int | None) -> bool:
    """A balance read mid-run lies between 0 and the account's final
    balance (``None`` before its first payment commits); an account that
    never sent reads ``None``."""
    if final_balance is None:
        return value is None
    return value is None or 0 <= value <= final_balance


class StreamRun:
    """One measured run of ``payments_stream``."""

    def __init__(self, seed: int, seconds: float, run_dir):
        self.run_dir, self.seed = run_dir, seed
        rows_per_file = int(RATE * FILE_EVERY_S)
        n_live = max(30, int(round(seconds / FILE_EVERY_S))) * rows_per_file
        self.warm_pay = Payments(seed, WARM_ROWS, ACCOUNTS, 0, tag="w")
        self.backlog_pay = Payments(seed, BACKLOG_ROWS, ACCOUNTS, 0, tag="b")
        self.live_pay = Payments(seed, n_live, ACCOUNTS, ZIPF_S, tag="l")
        self.warm_files = self.warm_pay.write_files(
            run_dir.sub("staged-warm"), WARM_ROWS)
        self.backlog_files = self.backlog_pay.write_files(
            run_dir.sub("staged-backlog"), BACKLOG_ROWS_PER_FILE)
        self.live_files = self.live_pay.write_files(
            run_dir.sub("staged-live"), rows_per_file)

    def warm(self, spark, rep: int) -> None:
        """Session warm-up: the topology over one small file to its first
        commit, paying class loading and code generation."""
        from kafka_streams_spark.streaming import run_payment_stream

        tag = f"warm{rep}"
        src = self.run_dir.sub(tag, "src")
        Payments(self.seed, WARM_ROWS, ACCOUNTS, 0, tag=tag).write_files(
            src, WARM_ROWS)
        ckpt = self.run_dir.sub(tag, "ckpt")
        q = run_payment_stream(spark, src, self.run_dir.sub(tag, "out"), ckpt)
        try:
            _wait_commit(ckpt, 0, q)
        finally:
            q.stop()

    def _generate(self, src: str, t0: float, released: dict, late: list) -> None:
        for k, path in enumerate(self.live_files):
            due = t0 + k * FILE_EVERY_S
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            target = os.path.join(src, os.path.basename(path))
            os.rename(path, target)
            late.append(time.time() - due)
            released[target] = due

    def _client(self, spark, out: str, spans: Spans, gen, st: dict) -> None:
        """Closed loop until the generator finishes: a balance lookup at
        most every ``LOOKUP_EVERY_S``, alternating hot and never-sent
        accounts, or a compaction when one is due."""
        from kafka_streams_spark.streaming import BalanceView
        from kafka_streams_spark.streaming.router import compact_balances

        view = BalanceView(spark, out)
        hot = [account(a) for a in self.live_pay.hot.tolist()]
        cold = [never_sent(i) for i in range(len(hot))]
        last_compact, k = time.time(), 0
        next_lookup = time.time()
        while gen.is_alive():
            if time.time() - last_compact >= COMPACT_EVERY_S:
                with spans.span("compaction") as s:
                    try:
                        compact_balances(spark, out)
                    except Exception as e:  # counted; the run goes on
                        st["errors"].append(f"compaction: {e!r}")
                        st["failed"] += 1
                st["compactions"].append(s["end"] - s["start"])
                last_compact = time.time()
                continue
            wait = next_lookup - time.time()
            if wait > 0:
                time.sleep(min(wait, 0.05))
                continue
            next_lookup = time.time() + LOOKUP_EVERY_S
            acct = (hot if k % 2 == 0 else cold)[(k // 2) % len(hot)]
            k += 1
            with spans.span("lookup") as s:
                try:
                    value = view.get_balance(acct)
                except Exception as e:  # counted; the run goes on
                    st["errors"].append(f"lookup {acct}: {e!r}")
                    st["failed"] += 1
                    continue
            st["lookups"].append((acct, value, s["end"] - s["start"]))

    def run(self, spark, spans: Spans) -> dict:
        from kafka_streams_spark.streaming import run_payment_stream

        src, out = self.run_dir.sub("src"), self.run_dir.sub("out")
        ckpt = self.run_dir.sub("ckpt")
        _release(self.warm_files, src, time.time(), {})
        backlog: dict[str, float] = {}
        live: dict[str, float] = {}
        late: list[float] = []
        st = {"lookups": [], "compactions": [], "errors": [], "failed": 0}
        gen = None
        query = run_payment_stream(spark, src, out, ckpt)
        try:
            with spans.span("warm_batch"):
                # released while the warm batch runs, so that the next
                # listing sees the whole backlog at once
                _wait_commit(ckpt, 0, query, log="offsets")
                _release(self.backlog_files, src, time.time(), backlog)
                _wait_commit(ckpt, 0, query)
            with spans.span("catchup"):
                _drain(query, ckpt, backlog)
            with spans.span("open_loop"):
                gen = threading.Thread(
                    target=self._generate, daemon=True,
                    args=(src, time.time() + 0.2, live, late))
                gen.start()
                self._client(spark, out, spans, gen, st)
                gen.join()
                _drain(query, ckpt, live)
        finally:
            query.stop()
            if gen is not None:
                gen.join()
        return self._result(spark, query, out, ckpt, backlog, live, late, st)

    def _result(self, spark, query, out, ckpt, backlog, live, late, st) -> dict:
        lat_backlog = checkpoint.file_latencies(backlog, ckpt)
        lat_live = checkpoint.file_latencies(live, ckpt)
        expected = merge_expected(self.warm_pay.expected(),
                                  self.backlog_pay.expected(),
                                  self.live_pay.expected())
        got = sink_stats(spark, out)
        wrong = [k for k in ("rails_foo", "rails_bar", "balances")
                 if got[k] != expected[k]]
        final = expected["balances"]
        bad_lookups = [acct for acct, value, _ in st["lookups"]
                       if not lookup_ok(value, final.get(acct))]
        after = backlog_after_commits(live, lat_live)
        growing = backlog_grows(after, 1.0 / FILE_EVERY_S)
        missing = len(backlog) + len(live) - len(lat_backlog) - len(lat_live)
        errors = list(st["errors"])
        errors += [f"wrong output: {w}" for w in wrong]
        errors += [f"lookup out of range: {a}" for a in bad_lookups]
        if growing:
            errors.append(f"backlog grew through the run: {after}")
        if missing:
            errors.append(f"{missing} released files never committed")
        failed = st["failed"] + len(wrong) + len(bad_lookups) + missing + growing
        attempted = (len(backlog) + len(live) + len(st["lookups"])
                     + len(st["compactions"]) + st["failed"] + 3)

        catchup_batches = sorted({b for b, _ in lat_backlog.values()})
        commits = checkpoint.commit_times(ckpt)
        rows = {}
        for b, _ in lat_backlog.values():
            rows[b] = rows.get(b, 0) + BACKLOG_ROWS_PER_FILE
        rates = [rows[b] / (commits[b] - commits[b - 1]) for b in catchup_batches]
        # the rate over every backlog batch but the first, which also pays
        # JIT compilation of the large-batch path (about 20% slower on 4 cores)
        warm = catchup_batches[1:]
        throughput = (sum(rows[b] for b in warm)
                      / (commits[warm[-1]] - commits[warm[0] - 1])
                      if warm and len(lat_backlog) == len(backlog) else 0.0)
        progress = [p for p in query.recentProgress if p.get("numInputRows", 0) > 0]
        live_progress = [p for p in progress
                         if p["batchId"] > max(catchup_batches, default=0)]
        lookup_s = [d for _, _, d in st["lookups"]]
        files_d, bytes_d = _dir_bytes(os.path.join(out, "balance_delta"))
        sink_bytes = sum(_dir_bytes(os.path.join(out, d))[1]
                         for d in ("rails_foo", "rails_bar", "balance_delta"))
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "errors": errors,
            "latencies": [v for _, v in lat_live.values()],
            "throughput": throughput,
            "query_id": str(query.id),
            "catchup_batches": catchup_batches,
            "progress": progress,
            "live_progress": live_progress,
            "samples": {
                "live_batches": [(p["batchId"], p["numInputRows"],
                                  p["durationMs"].get("triggerExecution", 0))
                                 for p in live_progress],
                "catchup_rates": [round(r) for r in rates],
                "lookups_s": [round(d, 3) for d in lookup_s],
                "compactions_s": [round(d, 3) for d in st["compactions"]],
            },
            "layers": {
                **router_layer(live_progress),
                "sources.catchup_batches": (len(catchup_batches), "count"),
                "sources.backlog_files_max": (max(after, default=0), "count"),
                "sources.generator_late_s_max": (max(late, default=0.0), "s"),
                "sources.input_bytes": (
                    sum(os.path.getsize(f) for f in [*backlog, *live]), "B"),
                "sink_bytes": (sink_bytes, "B"),
                "streaming.state.delta_files_end": (files_d, "count"),
                "streaming.state.delta_bytes_end": (bytes_d, "B"),
                "streaming.state.compactions": (len(st["compactions"]), "count"),
                "streaming.state.compact_s_p50": (median(st["compactions"]), "s"),
                "streaming.state.lookups": (len(lookup_s), "count"),
                # a mean: a run has too few lookups for a median with ten
                # samples beyond it
                "streaming.state.lookup_s_mean": (
                    sum(lookup_s) / len(lookup_s) if lookup_s else 0.0, "s"),
            },
        }

    def trace_layers(self, log: eventlog.EventLog, spans: Spans, res: dict) -> dict:
        """From the event log: jobs, stages and driver gap per open-loop batch
        (the per-batch cost), Spark totals over the catch-up batches (the
        per-row cost), and the jobs each balance lookup ran."""
        by_batch: dict[int, list] = {}
        for j in log.jobs.values():
            if (j.props.get("sql.streaming.queryId") == res["query_id"]
                    and j.batch_id is not None):
                by_batch.setdefault(j.batch_id, []).append(j)
        per_jobs, per_stages, gaps = [], [], []
        for p in res["live_progress"]:
            t = eventlog.totals(log, by_batch.get(p["batchId"], []))
            per_jobs.append(t.jobs)
            per_stages.append(t.stages)
            gaps.append(p["durationMs"].get("triggerExecution", 0) / 1e3
                        - t.stage_union_s)
        catchup = [p for p in res["progress"] if p["batchId"] in res["catchup_batches"]]
        t_catchup = eventlog.totals(
            log, [j for b in res["catchup_batches"] for j in by_batch.get(b, [])])
        execute = sum(p["durationMs"].get("addBatch", 0) / 1e3 for p in catchup)
        wall = sum(p["durationMs"].get("triggerExecution", 0) / 1e3 for p in catchup)
        lookup_groups = {f"span-{s['id']}" for s in spans.spans if s["name"] == "lookup"}
        lookup_jobs = sum(1 for j in log.jobs.values() if j.group in lookup_groups)
        return {
            "streaming.router.jobs_per_batch": (median(per_jobs), "count"),
            "streaming.router.stages_per_batch": (median(per_stages), "count"),
            "streaming.router.driver_gap_s_per_batch": (median(gaps), "s"),
            "streaming.state.jobs_per_lookup": (
                lookup_jobs / len(lookup_groups) if lookup_groups else 0.0, "count"),
            **eventlog.spark_layer(t_catchup, execute, wall - t_catchup.stage_union_s),
        }
