"""File -> batch -> commit latency, read from a fixture checkpoint."""

import json
import os

from perfbench import checkpoint
from perfbench.common import percentile
from perfbench.stream import backlog_after_commits, backlog_grows, lookup_ok


def _write_log(path, entries):
    with open(path, "w") as f:
        f.write("v1\n")
        for e in entries:
            f.write(json.dumps(e) + "\n")


def _checkpoint(tmp_path, src):
    ckpt = tmp_path / "ckpt"
    (ckpt / "sources" / "0").mkdir(parents=True)
    (ckpt / "commits").mkdir()

    def entry(name, batch):
        return {"path": f"file://{src}/{name}", "timestamp": 0, "batchId": batch,
                "action": "add"}

    # batches 0-1 rolled up into a compact file, batch 2 on its own
    _write_log(ckpt / "sources" / "0" / "1.compact",
               [entry("a.json", 0), entry("b.json", 1), entry("c%20d.json", 1)])
    _write_log(ckpt / "sources" / "0" / "2", [entry("e.json", 2)])
    (ckpt / "sources" / "0" / ".2.crc").write_text("ignored")
    for batch, t in ((0, 100.0), (1, 103.5)):  # batch 2 never committed
        p = ckpt / "commits" / str(batch)
        p.write_text('v1\n{"nextBatchWatermarkMs":0}\n')
        os.utime(p, (t, t))
    (ckpt / "commits" / ".1.crc").write_text("ignored")
    return str(ckpt)


def test_file_latency_maps_file_to_batch_to_commit(tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    ckpt = _checkpoint(tmp_path, src)
    due = {str(src / n): 99.0 for n in ("a.json", "b.json", "c d.json", "e.json")}
    due[str(src / "b.json")] = 101.0

    lat = checkpoint.file_latencies(due, ckpt)

    assert lat == {
        str(src / "a.json"): (0, 1.0),
        str(src / "b.json"): (1, 2.5),
        str(src / "c d.json"): (1, 4.5),
    }  # e.json's batch has not committed
    assert checkpoint.file_batches(ckpt)[os.path.realpath(src / "e.json")] == 2


def test_missing_checkpoint_has_no_latencies(tmp_path):
    assert checkpoint.file_latencies({"x": 0.0}, str(tmp_path / "none")) == {}


def test_backlog_after_each_commit():
    released = {f"f{i}": float(i) for i in range(8)}  # one file per second
    # batch 0 = f0,f1 committed at 2.5; batch 1 = f2..f4 at 5.5; batch 2 =
    # f5..f7 at 9.0, after the last release, so it is the drain
    lat = {"f0": (0, 2.5), "f1": (0, 1.5), "f2": (1, 3.5), "f3": (1, 2.5),
           "f4": (1, 1.5), "f5": (2, 4.0), "f6": (2, 3.0), "f7": (2, 2.0)}
    assert backlog_after_commits(released, lat) == [1, 1]
    assert not backlog_grows([2, 3, 2, 3, 2, 3], files_per_s=1)
    assert backlog_grows([1, 1, 3, 4, 6, 8], files_per_s=1)


def test_percentile_needs_ten_samples_beyond_it():
    assert percentile(list(range(19)), 0.5) is None
    assert percentile(list(range(20)), 0.5) == 9
    assert percentile(list(range(100)), 0.9) == 89
    assert percentile(list(range(99)), 0.9) is None


def test_lookup_bounds():
    assert lookup_ok(None, None) and not lookup_ok(0, None)
    assert lookup_ok(None, 10) and lookup_ok(0, 10) and lookup_ok(10, 10)
    assert not lookup_ok(11, 10) and not lookup_ok(-1, 10)
