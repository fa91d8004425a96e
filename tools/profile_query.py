"""Per-stage profile of one (or more) contract queries via the Spark
event log — the measure-first instrument (guide §1) for a UI-less
sandbox: run the query with ``spark.eventLog.enabled=true``, then parse
the JSON event log into a per-stage table of wall time, task time,
input/shuffle bytes and spill, so optimization effort lands on the
stage that actually costs, not the one that looks expensive in the
plan.

Usage: python tools/profile_query.py <query> [query ...] [--sf DIR]

After the shared warmup, each query is timed ``--runs`` times (default
2) with ``tools/timing.py``'s ``timed``: the first run pays
codegen/JIT, the last is the steady-state run the profile reports (all
are in the log; stages are grouped by job group = query name + run
index).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from timing import timed, warm

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument(
        "--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    ap.add_argument("--runs", type=int, default=2)
    args = ap.parse_args()

    log_dir = "/tmp/spark-events-profile"
    import shutil

    shutil.rmtree(log_dir, ignore_errors=True)
    os.makedirs(log_dir, exist_ok=True)

    import __spark_entry__ as e
    from kafka_streams_spark import get_spark

    spark = get_spark(
        app_name="profile-query",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    qs = e.queries()
    sc = spark.sparkContext

    # the shared session warmup, so the last run is steady-state
    sc.setJobGroup("warmup", "warmup")
    warm(spark, qs, args.sf)

    walls: dict[str, list[float]] = {}
    for name in args.queries:
        walls[name] = []
        for i in range(args.runs):
            sc.setJobGroup(f"{name}#{i}", name)
            walls[name].append(timed(spark, lambda: qs[name](spark, args.sf)))
    app_id = sc.applicationId
    spark.stop()

    # ---- parse the event log (Spark 4: rolling dir eventlog_v2_<app>) ----
    import io

    def read_part(p: str) -> str:
        raw = open(p, "rb").read()
        if p.endswith(".zstd"):
            import zstandard

            raw = zstandard.ZstdDecompressor().decompressobj().decompress(raw)
        return raw.decode("utf-8", errors="replace")

    path = os.path.join(log_dir, app_id)
    if os.path.exists(path):
        fh_override = io.StringIO(read_part(path))
    else:
        d = os.path.join(log_dir, f"eventlog_v2_{app_id}")
        parts = sorted(f for f in os.listdir(d) if f.startswith("events_"))
        fh_override = io.StringIO(
            "".join(read_part(os.path.join(d, p)) for p in parts)
        )
    jobs: dict[int, str] = {}  # job id -> group
    job_stages: dict[int, list[int]] = {}
    stage_info: dict[tuple[int, int], dict] = {}
    stage_metrics: dict[tuple[int, int], dict] = {}
    with fh_override as fh:
        for line in fh:
            line = line.strip()
            if not line:
                continue
            ev = json.loads(line)
            t = ev.get("Event")
            if t == "SparkListenerJobStart":
                gid = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                jobs[ev["Job ID"]] = gid
                job_stages[ev["Job ID"]] = [
                    s["Stage ID"] for s in ev.get("Stage Infos", [])
                ]
            elif t == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                key = (si["Stage ID"], si["Stage Attempt ID"])
                sub = si.get("Submission Time")
                com = si.get("Completion Time")
                stage_info[key] = {
                    "name": si.get("Stage Name", ""),
                    "wall_ms": (com - sub) if sub and com else 0,
                    "n_tasks": si.get("Number of Tasks", 0),
                }
            elif t == "SparkListenerTaskEnd":
                key = (ev["Stage ID"], ev["Stage Attempt ID"])
                m = ev.get("Task Metrics") or {}
                agg = stage_metrics.setdefault(
                    key,
                    {
                        "run_ms": 0,
                        "cpu_ms": 0,
                        "gc_ms": 0,
                        "input_b": 0,
                        "sh_read_b": 0,
                        "sh_write_b": 0,
                        "spill_mem_b": 0,
                        "spill_disk_b": 0,
                        "fetch_wait_ms": 0,
                        "ser_ms": 0,
                        "deser_ms": 0,
                    },
                )
                agg["run_ms"] += m.get("Executor Run Time", 0)
                agg["cpu_ms"] += m.get("Executor CPU Time", 0) // 1_000_000
                agg["gc_ms"] += m.get("JVM GC Time", 0)
                agg["input_b"] += (m.get("Input Metrics") or {}).get(
                    "Bytes Read", 0
                )
                srm = m.get("Shuffle Read Metrics") or {}
                agg["sh_read_b"] += srm.get("Remote Bytes Read", 0) + srm.get(
                    "Local Bytes Read", 0
                )
                agg["fetch_wait_ms"] += srm.get("Fetch Wait Time", 0)
                swm = m.get("Shuffle Write Metrics") or {}
                agg["sh_write_b"] += swm.get("Shuffle Bytes Written", 0)
                agg["spill_mem_b"] += m.get("Memory Bytes Spilled", 0)
                agg["spill_disk_b"] += m.get("Disk Bytes Spilled", 0)
                agg["ser_ms"] += m.get("Result Serialization Time", 0)
                agg["deser_ms"] += m.get("Executor Deserialize Time", 0)

    def fmt_b(b: float) -> str:
        for unit in ("B", "KB", "MB", "GB"):
            if b < 1024:
                return f"{b:.0f}{unit}"
            b /= 1024
        return f"{b:.1f}TB"

    for name in args.queries:
        print(f"\n=== {name}  walls: {[round(w, 3) for w in walls[name]]}")
        # report the LAST run (steady state)
        last = args.runs - 1
        gid = f"{name}#{last}"
        sids = sorted(
            {
                s
                for j, g in jobs.items()
                if g == gid
                for s in job_stages.get(j, [])
            }
        )
        rows = []
        for key in sorted(stage_info):
            if key[0] not in sids:
                continue
            info = stage_info[key]
            m = stage_metrics.get(key, {})
            rows.append((key[0], info, m))
        total_wall = sum(r[1]["wall_ms"] for r in rows)
        print(
            f"  stages={len(rows)} sum_stage_wall={total_wall}ms "
            f"(stage walls overlap under concurrent jobs)"
        )
        rows.sort(key=lambda r: -r[1]["wall_ms"])
        print(
            "  stage  wall_ms  tasks  run_ms  cpu_ms   gc  input  shRead "
            "shWrite  spillDisk fetchWait  name"
        )
        for sid, info, m in rows[:14]:
            print(
                f"  {sid:5d} {info['wall_ms']:8d} {info['n_tasks']:5d} "
                f"{m.get('run_ms', 0):7d} {m.get('cpu_ms', 0):7d} "
                f"{m.get('gc_ms', 0):4d} {fmt_b(m.get('input_b', 0)):>6s} "
                f"{fmt_b(m.get('sh_read_b', 0)):>7s} "
                f"{fmt_b(m.get('sh_write_b', 0)):>7s} "
                f"{fmt_b(m.get('spill_disk_b', 0)):>9s} "
                f"{m.get('fetch_wait_ms', 0):9d}  {info['name'][:60]}"
            )


if __name__ == "__main__":
    main()
