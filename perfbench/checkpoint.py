"""Reads a Structured Streaming checkpoint from outside the query: which
micro-batch read each source file (``sources/0/N`` and its ``.compact``
roll-ups) and when each batch committed (the mtime of ``commits/N``)."""

from __future__ import annotations

import json
import os
from urllib.parse import unquote, urlparse


def _local_path(uri: str) -> str:
    return os.path.realpath(unquote(urlparse(uri).path))


def file_batches(checkpoint_dir: str) -> dict[str, int]:
    """Source file path -> id of the batch that read it."""
    log_dir = os.path.join(checkpoint_dir, "sources", "0")
    out: dict[str, int] = {}
    if not os.path.isdir(log_dir):
        return out
    for name in os.listdir(log_dir):
        if not (name.isdigit() or name.endswith(".compact")):
            continue  # .crc siblings and temp files
        with open(os.path.join(log_dir, name)) as f:
            lines = f.read().splitlines()[1:]  # first line is the version
        for line in lines:
            if line.strip():
                entry = json.loads(line)
                out[_local_path(entry["path"])] = int(entry["batchId"])
    return out


def commit_times(checkpoint_dir: str) -> dict[int, float]:
    """Batch id -> wall time (epoch seconds) its commit was written."""
    commit_dir = os.path.join(checkpoint_dir, "commits")
    if not os.path.isdir(commit_dir):
        return {}
    return {
        int(name): os.stat(os.path.join(commit_dir, name)).st_mtime_ns / 1e9
        for name in os.listdir(commit_dir)
        if name.isdigit()
    }


def file_latencies(
    due: dict[str, float], checkpoint_dir: str
) -> dict[str, tuple[int, float]]:
    """For each file in ``due`` (path -> when it was due to be read) whose
    batch has committed: (batch id, commit time - due time)."""
    batches = file_batches(checkpoint_dir)
    commits = commit_times(checkpoint_dir)
    out = {}
    for path, t in due.items():
        b = batches.get(os.path.realpath(path))
        if b is not None and b in commits:
            out[path] = (b, commits[b] - t)
    return out
