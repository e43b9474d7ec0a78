"""Pure measurement arithmetic, kept apart from process handling so the
self-tests (perfbench/tests) can pin it."""
import glob
import json
import math
import os
import statistics


def nearest_rank(values, q):
    """The q-quantile by the nearest-rank rule (0 < q <= 1)."""
    v = sorted(values)
    return v[max(0, math.ceil(q * len(v)) - 1)]


def tail_percentile(n):
    """The highest whole percentile with at least ten of `n` samples
    beyond it, or None when `n` < 11. Ten beyond p means p <= 1 - 10/n."""
    if n < 11:
        return None
    return math.floor(100 * (n - 10) / n)


def summary(values):
    """Median and the sample count, with the highest percentile the
    ten-beyond rule allows for that count and the value there (None when
    the count allows none)."""
    pct = tail_percentile(len(values))
    return {"p50": statistics.median(values), "n": len(values),
            "tail_pct": pct,
            "tail": nearest_rank(values, pct / 100) if pct else None}


def open_loop(due, sent, done):
    """Per-request latency measured from when each request was due (so a
    stalled generator's backlog counts against the system), and how late
    the generator sent each one. All three lists are aligned seconds."""
    latency = [d - u for u, d in zip(due, done)]
    lag = [max(0.0, s - u) for u, s in zip(due, sent)]
    return latency, lag


def union_length(intervals):
    """Total length covered by (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_times(spans):
    """Span id -> duration minus the part of its interval that its child
    spans cover. Spans are dicts with id, parent, start, end."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"]) - union_length(
        clip(children.get(s["id"], []), s["start"], s["end"])) for s in spans}


def checkpoint_batches(ckpt):
    """Map a stream checkpoint's logs to its micro-batches:
    batch id -> {"files": [file names], "commit": epoch s}. Files come
    from the file source's `sources/0/<batch>` log (one JSON entry per
    file, compacted logs included), commit times from the modification
    time of `commits/<batch>`. Batches that never committed are left
    out, so their files count as missing."""
    batches = {}
    for log in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        base = os.path.basename(log)
        if base.startswith("."):
            continue
        with open(log) as f:
            lines = f.read().splitlines()[1:]  # first line is the version
        for line in lines:
            if line.strip():
                entry = json.loads(line)
                batches.setdefault(entry["batchId"], set()).add(
                    os.path.basename(entry["path"]))
    out = {}
    for bid, files in batches.items():
        commit = os.path.join(ckpt, "commits", str(bid))
        if os.path.exists(commit):
            out[bid] = {"files": sorted(files),
                        "commit": os.stat(commit).st_mtime_ns / 1e9}
    return out


def file_commits(ckpt):
    """File name -> commit time of the batch that carried it."""
    return {f: b["commit"] for b in checkpoint_batches(ckpt).values()
            for f in b["files"]}
