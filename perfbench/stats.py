"""Percentiles, lag mapping and trace accounting shared by the workloads."""
import datetime
import glob
import json
import os
import urllib.parse

import numpy as np

# percentiles a tail metric may report, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)


def pct(values, p):
    return float(np.percentile(np.asarray(values, dtype=float), p))


def tail(values):
    """(percentile, value, samples averaged): the highest ladder
    percentile with at least ten samples beyond it. Under 40 samples no
    ladder percentile above the median has that many, and the tail is
    the mean of the slowest quarter (at least one sample), reported as
    percentile 75: the maximum of a few dozen ops is one op's time and
    jumps from run to run with the host, while the mean of the slowest
    quarter moves with each slow op by its share."""
    n = len(values)
    for p in TAIL_LADDER:
        if n * (100 - p) >= 1000 - 1e-6:
            return p, pct(values, p), 1
    k = -(-n // 4)
    return 75.0, float(np.mean(sorted(values)[-k:])), k


def summary(values):
    """Median, tail percentile and sample count of a latency sample
    (`tail_mean_of`: how many of the slowest samples the tail averages)."""
    if not values:
        return {"n": 0}
    p, v, k = tail(values)
    return {"n": len(values), "p50": pct(values, 50), "tail_pct": p, "tail": v,
            "tail_mean_of": k}


def iso_ms(s):
    """Epoch ms of a progress-event timestamp such as 2025-01-01T00:00:00.123Z."""
    return int(datetime.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fZ")
               .replace(tzinfo=datetime.timezone.utc).timestamp() * 1000)


def file_batches(checkpoint):
    """{file path: batch id} from a file source's checkpoint log
    (`sources/0/<n>` and its `.compact` files, one JSON entry a line)."""
    out = {}
    for p in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        if os.path.basename(p).startswith("."):
            continue
        with open(p) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    out[urllib.parse.urlparse(e["path"]).path] = e["batchId"]
    return out


def batch_commits(progress_jsons):
    """{batch id: commit-return epoch ms} from a query's progress events:
    the trigger's start plus its full duration, which ends when the
    batch's sink commit and offset commit have returned."""
    out = {}
    for j in progress_jsons:
        p = json.loads(j)
        d = p.get("durationMs", {})
        if "addBatch" in d:
            out[p["batchId"]] = iso_ms(p["timestamp"]) + d["triggerExecution"]
    return out


def lags(moves, file_batch, commits, weights):
    """Per-event lag samples: for each moved file, its events' lag is the
    commit return of the batch that read it minus the file's due time.
    Returns (lags ms, events never committed)."""
    out = []
    lost = 0
    for m in moves:
        w = weights[m["file"]]
        b = file_batch.get(m["file"])
        if b is None or b not in commits:
            lost += w
            continue
        out += [commits[b] - m["due_ms"]] * w
    return out, lost


def backlog(moves, query_of, file_batch, commits, weights):
    """[(due ms, events pending)]: at each file's due time, the events
    due by then whose batch has not committed by then. `query_of`:
    file -> query; `file_batch` and `commits` are per query."""
    done = {}
    for m in moves:
        q = query_of[m["file"]]
        b = file_batch.get(q, {}).get(m["file"])
        done[m["file"]] = commits.get(q, {}).get(b)
    due = sorted((m["due_ms"], weights[m["file"]], done[m["file"]]) for m in moves)
    return [(t, sum(w for d, w, c in due if d <= t and (c is None or c > t)))
            for t in sorted({d for d, _, _ in due})]


def self_times(spans):
    """{module: self ms}: each span's duration minus the part of it
    that its child spans cover."""
    by_id = {s["id"]: s for s in spans}
    child = {}
    for s in spans:
        if s["parent"] in by_id:
            child.setdefault(s["parent"], []).append((s["start_ns"], s["end_ns"]))
    out = {}
    for s in spans:
        covered = 0
        cur_s = cur_e = None
        for a, b in sorted(child.get(s["id"], [])):
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s["module"]] = out.get(s["module"], 0.0) + (s["end_ns"] - s["start_ns"] - covered) / 1e6
    return out
