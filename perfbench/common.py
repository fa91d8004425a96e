"""Shared pieces of the benchmark: the hermetic run directory, the Spark
session, percentiles, spans, peak memory and the result line."""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import tempfile
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def percentile(values: list[float], q: float) -> float | None:
    """The q-th percentile (0 < q < 1, nearest rank), or None when fewer
    than ten samples lie beyond it: a tail read off a handful of points
    is noise, so it is refused rather than reported."""
    n = len(values)
    rank = max(1, math.ceil(round(q * n, 9)))
    if n - rank < 10:
        return None
    return sorted(values)[rank - 1]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


class RunDir:
    """A fresh directory inside the checkout for everything a run writes:
    Spark scratch space, checkpoints, sinks, staged input and event logs.
    Removed on close, so nothing is left in the tree."""

    def __init__(self) -> None:
        parent = os.path.join(ROOT, ".perfbench_tmp")
        os.makedirs(parent, exist_ok=True)
        self.path = tempfile.mkdtemp(prefix="run-", dir=parent)
        self.tmp = self.sub("tmp")
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.sub("spark-local")
        tempfile.tempdir = None  # re-read TMPDIR

    def sub(self, *parts: str) -> str:
        p = os.path.join(self.path, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        parent = os.path.dirname(self.path)
        try:
            os.rmdir(parent)
        except OSError:
            pass  # another run still holds its directory


def session_conf(run_dir: RunDir, event_log_dir: str | None) -> dict[str, str]:
    conf = {
        "spark.sql.warehouse.dir": run_dir.sub("warehouse"),
        # a fixed heap (-Xms = spark.driver.memory), so that peak memory
        # does not depend on when the collector chose to grow it
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={run_dir.tmp} -Xms{os.environ['SPARK_DRIVER_MEM']}"),
        "spark.sql.streaming.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + event_log_dir
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    return conf


class Spans:
    """In-memory spans (id, name, start, end, parent) recorded by the
    benchmark around its calls into the package, all from one thread.
    When tracing, each open span also names that thread's Spark job group
    (``span-<id>``), so the event log attributes every job to its span."""

    def __init__(self, sc=None) -> None:
        self._sc = sc  # SparkContext when tracing, else None
        self._stack: list[int] = []
        self.spans: list[dict] = []

    def _set_group(self) -> None:
        if self._sc is None:
            return
        if self._stack:
            top = self.spans[self._stack[-1]]
            self._sc.setJobGroup(f"span-{top['id']}", top["name"])
        else:
            self._sc.setLocalProperty("spark.jobGroup.id", None)

    @contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._set_group()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group()


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def _descendants(pid: int) -> list[int]:
    """Every process below ``pid``, read from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # gone since the listing
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def adopt_orphans() -> None:
    """Make this process the subreaper of everything it starts: a process
    orphaned below it (the Spark JVM's children once the JVM exits) is
    re-parented here rather than to init, so ``stop_jvm`` can wait for it."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def stop_jvm(timeout_s: float = 30.0) -> None:
    """Shut down the Spark JVM this process launched (``spark.stop()``
    leaves it running until the interpreter exits) and wait until every
    child of this process, the JVM's orphans among them, has exited and
    been reaped; whatever outlives the timeout is killed."""
    import signal

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception:
            pass  # the JVM is stopped below either way
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits on end of input
            try:
                proc.wait(timeout=timeout_s)
            except Exception:
                proc.kill()
                proc.wait()
    deadline = time.time() + timeout_s
    while time.time() < deadline + 10.0:
        try:
            if os.waitpid(-1, os.WNOHANG)[0]:
                continue  # reaped one; look for the next
        except ChildProcessError:
            return  # no child left
        if time.time() > deadline:
            for pid in _descendants(os.getpid()):
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
        time.sleep(0.05)


def peak_rss_mb(jvm: int | None) -> float:
    """Peak resident memory of this process plus its Spark JVM."""
    kb = _vm_hwm_kb(os.getpid()) + (_vm_hwm_kb(jvm) if jvm else 0)
    return kb / 1024.0


def context(seed: int, spark) -> dict:
    """Facts that explain a run without being metrics of it."""
    import subprocess

    import pyspark

    commit = None
    try:
        top, head = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "--show-toplevel", "HEAD"],
            capture_output=True, text=True, timeout=10,
        ).stdout.split()
        if os.path.realpath(top) == os.path.realpath(ROOT):
            commit = head
    except (OSError, ValueError, subprocess.SubprocessError):
        pass  # not a git checkout
    return {
        "seed": seed,
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "pyspark": pyspark.__version__,
        "commit": commit,
        # the anchor costs seconds of a 4-core host, so traced runs only
        "calibration_s": calibration_s(spark) if spark is not None else None,
    }


def calibration_s(spark) -> float:
    """One timing of bench.py's pinned host-speed anchor."""
    from bench import _calibration_query

    t0 = time.perf_counter()
    _calibration_query(spark).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def emit(correct: bool, attempted: int, failed: int, metrics: dict) -> None:
    print(json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
