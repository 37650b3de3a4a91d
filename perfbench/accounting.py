"""Pure accounting helpers: percentiles, sample-count rules, streaming
checkpoint parsing and sink-output folding.

Nothing here touches Spark, so every rule the benchmark reports by can be
unit-tested on hand-made inputs (``perfbench/tests``).
"""

from __future__ import annotations

import glob
import json
import math
import os
import statistics

# A percentile is reported only when at least this many samples lie
# beyond it; below that the tail is noise, not a measurement.
MIN_BEYOND = 10


def percentile(values: "list[float]", q: float) -> float:
    """Linear-interpolated percentile (``q`` in [0, 100]) of ``values``."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_needed(q: float) -> int:
    """Samples needed before percentile ``q`` has ``MIN_BEYOND`` beyond it."""
    return math.ceil(MIN_BEYOND / (1.0 - q / 100.0) - 1e-9)


def tail_supported(n: int, q: float) -> bool:
    return n >= samples_needed(q)


def geomean(values: "list[float]") -> float:
    return math.exp(statistics.fmean(math.log(v) for v in values))


# -- streaming checkpoint --------------------------------------------------


def _log_lines(path: str) -> "list[str]":
    with open(path, encoding="utf-8") as fh:
        return [ln for ln in fh.read().splitlines() if ln.strip()]


def _numbered(d: str) -> "list[tuple[int, str]]":
    out = []
    for p in glob.glob(os.path.join(d, "*")):
        name = os.path.basename(p)
        if name.isdigit():
            out.append((int(name), p))
    return sorted(out)


def batch_log_offsets(ckpt: str, source: int = 0) -> "dict[int, int]":
    """Query batch id -> the file source's ``logOffset`` recorded in
    ``offsets/<batch>``. Line 0 is the version, line 1 the batch metadata,
    line 2+i the offset of source i."""
    out = {}
    for bid, p in _numbered(os.path.join(ckpt, "offsets")):
        lines = _log_lines(p)
        off = json.loads(lines[2 + source])
        out[bid] = int(off["logOffset"])
    return out


def source_log_files(ckpt: str, source: int = 0) -> "dict[str, int]":
    """File path -> the file source's own log batch id. Compacted log
    files (``<n>.compact``) carry every earlier entry too."""
    out: dict[str, int] = {}
    for p in glob.glob(os.path.join(ckpt, "sources", str(source), "*")):
        for ln in _log_lines(p)[1:]:
            e = json.loads(ln)
            out[e["path"]] = int(e["batchId"])
    return out


def file_batches(
    log_offsets: "dict[int, int]", file_log_ids: "dict[str, int]"
) -> "dict[str, int]":
    """Map each source file to the QUERY batch that read it.

    Query batch ``n`` covers source-log entries ``(logOffset[n-1],
    logOffset[n]]``. The source's log id is not the query batch id: a
    no-data batch (one that only advances the watermark) repeats the
    previous ``logOffset`` and shifts every later file by one."""
    bounds = sorted(log_offsets.items())
    out = {}
    for path, lid in file_log_ids.items():
        prev = -1
        for bid, off in bounds:
            if prev < lid <= off:
                out[path] = bid
                break
            prev = off
    return out


def commit_times(ckpt: str) -> "dict[int, float]":
    """Query batch id -> wall time (epoch s) its commit-log entry landed."""
    return {
        bid: os.stat(p).st_mtime_ns / 1e9
        for bid, p in _numbered(os.path.join(ckpt, "commits"))
    }


def file_latencies_ms(
    ckpt: str, due: "dict[str, float]"
) -> "tuple[dict[str, float], dict[str, int]]":
    """Per published file: commit time of the batch that read it minus the
    file's scheduled due time. Files not yet committed are absent."""
    batches = file_batches(batch_log_offsets(ckpt), source_log_files(ckpt))
    commits = commit_times(ckpt)
    lat, of = {}, {}
    for path, bid in batches.items():
        key = path.rsplit("/", 1)[-1]
        if key in due and bid in commits:
            lat[key] = (commits[bid] - due[key]) * 1000.0
            of[key] = bid
    return lat, of


# -- sink output -----------------------------------------------------------


def fold_upserts(sink_dir: str) -> "dict[str, dict]":
    """Final document per ``_id`` from the document sink's per-batch
    JSON-lines files: later batches overwrite earlier ones (upsert)."""

    def batch_of(p: str) -> int:
        return int(os.path.basename(p).split("_")[1])

    docs: dict[str, dict] = {}
    for p in sorted(glob.glob(os.path.join(sink_dir, "batch_*.jsonl")), key=batch_of):
        with open(p, encoding="utf-8") as fh:
            for ln in fh:
                if ln.strip():
                    d = json.loads(ln)
                    docs[d["_id"]] = d
    return docs


def window_mismatches(expected: "dict[str, tuple]", docs: "dict[str, dict]") -> "list[str]":
    """Keys whose final upserted doc disagrees with the recomputation
    (wrong count or event ids), is missing, or should not exist."""
    bad = [k for k, (n, ids) in expected.items()
           if k not in docs or (docs[k].get("rating_count"), docs[k].get("event_ids")) != (n, ids)]
    return bad + [k for k in docs if k not in expected]
