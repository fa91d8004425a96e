"""Benchmark entry point.

    python3 perfbench/run.py --workload payments_stream --seed 1 --seconds 12 --trace 0

Prints context lines, then as its last line one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
See perfbench/README.md for what each workload and metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common, eventlog  # noqa: E402
from perfbench.analytics import QUERIES, AnalyticsRun  # noqa: E402

WORKLOADS = ("payments_stream", "analytics_batch")
SETUP_REPEATS = 3

# Every per-layer metric, with its unit; a workload that does not exercise
# a layer reports 0 for it.
LAYER_UNITS = {
    "session.start_s": "s",
    "streaming.router.batches": "count",
    "streaming.router.rows_per_batch_p50": "rows",
    "streaming.router.batch_s_p50": "s",
    "streaming.router.foreach_s_p50": "s",
    "streaming.router.trigger_overhead_s_p50": "s",
    "streaming.router.jobs_per_batch": "count",
    "streaming.router.stages_per_batch": "count",
    "streaming.router.driver_gap_s_per_batch": "s",
    "sources.catchup_batches": "count",
    "sources.backlog_files_max": "count",
    "sources.generator_late_s_max": "s",
    "sources.input_bytes": "B",
    "sink_bytes": "B",
    "streaming.state.delta_files_end": "count",
    "streaming.state.delta_bytes_end": "B",
    "streaming.state.compactions": "count",
    "streaming.state.compact_s_p50": "s",
    "streaming.state.lookups": "count",
    "streaming.state.lookup_s_mean": "s",
    "streaming.state.jobs_per_lookup": "count",
    "operators.construct_s": "s",
    "operators.construct_jobs": "count",
    "spark.execute_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.driver_gap_s": "s",
    "traced.latency_p50_s": "s",
    "traced.throughput_per_s": "1/s",
}
for _q in QUERIES:
    LAYER_UNITS.update({f"query.{_q}.construct_s": "s",
                        f"query.{_q}.execute_s": "s",
                        f"query.{_q}.jobs": "count"})


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _event_log_path(event_dir: str, app_id: str) -> str:
    for name in os.listdir(event_dir):
        if name.startswith(app_id) and not name.endswith(".inprogress"):
            return os.path.join(event_dir, name)
    raise FileNotFoundError(f"no finished event log for {app_id} in {event_dir}")


def main(argv=None) -> int:
    args = _args(argv)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")

    import kafka_streams_spark
    from kafka_streams_spark import get_spark

    from perfbench import stream

    if not kafka_streams_spark.__file__.startswith(common.ROOT + os.sep):
        raise SystemExit("kafka_streams_spark is not this checkout's copy")

    common.adopt_orphans()
    # a terminated run still stops its JVM: SIGTERM unwinds through finally
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    run_dir = common.RunDir()
    spark = None
    try:
        event_dir = run_dir.sub("eventlog") if args.trace else None
        conf = common.session_conf(run_dir, event_dir)

        t = time.perf_counter()
        if args.workload == "payments_stream":
            work = stream.StreamRun(args.seed, args.seconds, run_dir)
        else:
            work = AnalyticsRun(args.seed, args.seconds, run_dir)
        staging_s = time.perf_counter() - t

        setups = []
        for rep in range(SETUP_REPEATS):
            if spark is not None:
                spark.stop()
            t = time.perf_counter()
            spark = get_spark(app_name="perfbench", extra_conf=conf)
            work.warm(spark, rep)
            setups.append(time.perf_counter() - t)
        jvm = common.jvm_pid(spark)

        ctx = common.context(args.seed, spark if args.trace else None)
        ctx["setup_reps_s"] = setups
        print(json.dumps({"context": ctx}), flush=True)

        spans = common.Spans(spark.sparkContext if args.trace else None)
        res = work.run(spark, spans)
        rss = common.peak_rss_mb(jvm)
        for e in res["errors"]:
            print(json.dumps({"error": e}), flush=True)

        lat = res["latencies"]
        p50 = common.percentile(lat, 0.5)
        if p50 is None:
            print(json.dumps({"error": f"{len(lat)} latency samples: too few"
                              " for a median with ten beyond it"}))
            return 1
        phases = {s["name"]: round(s["end"] - s["start"], 3)
                  for s in spans.spans if s["parent"] is None}
        print(json.dumps({"samples": {"latency": len(lat)}, "phases_s": phases,
                          "staging_s": staging_s, "detail": res.get("samples")}),
              flush=True)

        if not args.trace:
            metrics = {
                "setup_s": (staging_s + common.median(setups), "s"),
                "peak_rss_mb": (rss, "MB"),
                "latency_p50_s": (p50, "s"),
                "throughput_per_s": (res["throughput"], "1/s"),
            }
        else:
            app_id = spark.sparkContext.applicationId
            spark.stop()
            spark = None
            print(json.dumps({"spans": spans.spans}), flush=True)
            log = eventlog.read(_event_log_path(event_dir, app_id))
            layers = {k: (0.0, u) for k, u in LAYER_UNITS.items()}
            layers.update(res["layers"])
            layers.update(work.trace_layers(log, spans, res))
            layers["session.start_s"] = (common.median(setups), "s")
            layers["traced.latency_p50_s"] = (p50, "s")
            layers["traced.throughput_per_s"] = (res["throughput"], "1/s")
            metrics = layers
        common.emit(res["correct"], res["attempted"], res["failed"], metrics)
        return 0
    finally:
        if spark is not None:
            spark.stop()
        common.stop_jvm()
        run_dir.close()


if __name__ == "__main__":
    sys.exit(main())
