"""cdc_ingest workload: Debezium-wire files for the employee and
activity topics, the schedule of the open-loop phase, and the checks
of the sink tables against the generator's own events.

Employee topic: update-heavy, keys skewed towards low ids, and some
updates share the previous version's `ts_ms` (a precombine tie inside
one batch). Activity topic: insert-heavy. Both carry `d` and `r`
envelopes, which the parse drops. A few activity events are ten days
older than everything else and sit outside the first two batches, so
the watermark drops them however the batches are timed (a stateful
operator drops input older than the previous batch's watermark, and
the first two batches run before any watermark exists).
"""
import datetime
import json
import os
import random

# sizes: preload rows, envelopes per file, backlog files per topic
EMP_KEYS = 5_000
ACT_PRELOAD = 20_000
EMP_LINES = 50
ACT_LINES = 200
BACKLOG_FILES = 24
MAX_FILES = 8
TRIGGER_MS = 500          # short, so backlog batches run back to back
PHASE2_OFFSET_MS = 250    # the open loop starts this long after a trigger
# open loop: one file per topic every TICK_MS for the run length, a
# constant 420 envelopes/s, half the phase-1 capacity (ingest_eps) of
# the engine this benchmark was written against: a median of 843/s over
# ten seeds at 4 cores. A sink commit rewrites its table, so a batch
# takes about as long whatever it holds (about 4 s): at one file a
# second a batch takes about four, half of MAX_FILES, and each sink
# commits the files of a few ticks, so the lag median does not hang on
# where two or three arrivals fall against the batches.
TICK_MS = 1000
TICK_EMP_LINES = 84
TICK_ACT_LINES = 336
# an event whose lag is over this counts as a failed op: four times the
# longest sink batch seen at this rate, which is about 5 s
LATENCY_LIMIT_MS = 20_000

BASE_MS = 1_735_689_600_000          # 2025-01-01T00:00:00Z, Debezium ts_ms origin
EVENT_T0_MS = BASE_MS                # activity event-time origin
EVENT_STEP_MS = 2_000                # event time advances 2 s per activity
LATE_MS = 10 * 86_400_000            # late events: ten days before the origin
PROCESSING_DATE = "2025-01-01"
DEPTS = ["Engineering", "IT", "Sales", "Marketing", "HR", "Finance"]
TYPES = ["login", "click", "view", "purchase", "logout"]
DEVICES = ["mobile", "tablet", "desktop"]


def _iso(ms):
    return datetime.datetime.fromtimestamp(ms / 1000, datetime.timezone.utc) \
        .strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z"


def _envelope(after, op, ts_ms):
    return json.dumps({"payload": {"after": json.dumps(after), "op": op, "ts_ms": ts_ms}})


class Gen:
    """Deterministic event source for one seed."""

    def __init__(self, seed):
        self.rnd = random.Random(seed)
        self.seed = seed
        self.ts = BASE_MS + 3_600_000     # Debezium clock, after the preload
        self.emp_next = EMP_KEYS
        self.emp_last = {}                # id -> (ts_ms, after) of the last kept version
        self.act_n = 0
        # expected sink state: id -> (max ts_ms, [acceptable afters])
        self.emp_expect = {}
        self.act_expect = {}
        self.late_ids = []

    def _keep(self, expect, key, ts, after):
        cur = expect.get(key)
        if cur is None or ts > cur[0]:
            expect[key] = (ts, [after])
        elif ts == cur[0]:
            cur[1].append(after)

    def _emp_row(self, k, v):
        return {"id": k, "name": f"Employee {k} v{v}",
                "email": f"emp{k}{'.senior' if k % 7 == 0 else '.lead' if k % 7 == 1 else ''}@corp.com",
                "department": DEPTS[(k + v) % len(DEPTS)],
                "created_at": _iso(BASE_MS - 86_400_000 + k * 1000)}

    def preload_emp(self):
        out = []
        for k in range(EMP_KEYS):
            after = self._emp_row(k, 0)
            ts = BASE_MS + k % 1000
            self._keep(self.emp_expect, k, ts, after)
            self.emp_last[k] = (ts, after)
            out.append(_envelope(after, "c", ts))
        return out

    def emp_event(self):
        r = self.rnd.random()
        self.ts += 1
        if r < 0.05:                       # insert of a new key
            k = self.emp_next
            self.emp_next += 1
            op = "c"
        else:                              # skewed existing key
            k = int(EMP_KEYS * self.rnd.random() ** 3)
            op = "u" if r < 0.93 else ("d" if r < 0.97 else "r")
        after = self._emp_row(k, self.rnd.randrange(1, 1_000_000))
        ts = self.ts
        if op == "u" and k in self.emp_last and self.rnd.random() < 0.03:
            ts = self.emp_last[k][0]       # precombine tie with the previous version
        if op in ("c", "u"):
            self._keep(self.emp_expect, k, ts, after)
            self.emp_last[k] = (ts, after)
        return _envelope(after, op, ts)

    def _act_row(self, n, emp, event_ms):
        return {"id": f"a-{self.seed}-{n}", "employee_id": emp,
                "activity_type": TYPES[self.rnd.randrange(len(TYPES))],
                "page_url": f"/page/{self.rnd.randrange(300)}",
                "duration_seconds": self.rnd.randrange(1, 900),
                "ip_address": f"10.0.{emp % 256}.{n % 256}", "user_agent": "Mozilla/5.0",
                "activity_timestamp": _iso(event_ms), "session_id": f"s-{emp}-{event_ms // 86_400_000}",
                "device_type": DEVICES[emp % 3], "browser": "Chrome", "created_at": _iso(event_ms)}

    def _act_emp(self):
        return int(2_000 * self.rnd.random() ** 2)

    def preload_act(self):
        out = []
        for n in range(ACT_PRELOAD):
            self.act_n += 1
            after = self._act_row(self.act_n, self._act_emp(), EVENT_T0_MS - LATE_MS - 86_400_000)
            ts = BASE_MS + n % 1000
            self._keep(self.act_expect, after["id"], ts, after)
            out.append(_envelope(after, "c", ts))
        return out

    def act_event(self, allow_late):
        self.ts += 1
        r = self.rnd.random()
        if r < 0.02 and self.act_n > ACT_PRELOAD:    # update of a recent activity
            n = self.rnd.randrange(max(ACT_PRELOAD + 1, self.act_n - 1000), self.act_n + 1)
            op = "u"
        else:
            self.act_n += 1
            n = self.act_n
            op = "c" if r < 0.97 else ("d" if r < 0.985 else "r")
        event_ms = EVENT_T0_MS + (n - ACT_PRELOAD) * EVENT_STEP_MS - self.rnd.randrange(1_800_000)
        late = allow_late and op == "c" and self.rnd.random() < 0.005
        if late:
            # one hour window each: the watermark's dropped-row count is
            # taken after partial aggregation, so late rows of one group
            # would count once
            event_ms = EVENT_T0_MS - LATE_MS - len(self.late_ids) * 3_600_000
        after = self._act_row(n, self._act_emp(), event_ms)
        if op in ("c", "u"):
            self._keep(self.act_expect, after["id"], self.ts, after)
            if late:
                self.late_ids.append(after["id"])
        return _envelope(after, op, self.ts)


def _write(path, lines, mtime):
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    os.utime(path, (mtime, mtime))


def generate(root, seed, seconds, phase1_only=False, backlog_files=BACKLOG_FILES):
    """Write every input file under `root`; phase 2's schedule spans
    `seconds`. Returns (spec, gen)."""
    g = Gen(seed)
    d = {k: os.path.join(root, k) for k in
         ("emp_preload", "act_preload", "emp_src", "act_src", "emp_stage", "act_stage",
          "ckpt", "dump")}
    for p in d.values():
        os.makedirs(p, exist_ok=True)
    _write(os.path.join(d["emp_preload"], "emp-preload.json"), g.preload_emp(), 1_000_000_000)
    _write(os.path.join(d["act_preload"], "act-preload.json"), g.preload_act(), 1_000_000_000)
    mtime = 1_700_000_000
    files = {"emp": [], "act": []}
    lines = {"emp": 0, "act": 0}
    schedule = []
    ticks = backlog_files + (0 if phase1_only else int(seconds * 1000 // TICK_MS))
    for t in range(ticks):
        backlog = t < backlog_files
        for topic, n, ev in (("emp", EMP_LINES if backlog else TICK_EMP_LINES, g.emp_event),
                             ("act", ACT_LINES if backlog else TICK_ACT_LINES,
                              lambda: g.act_event(t >= 2 * MAX_FILES))):
            body = [ev() for _ in range(n)]
            name = f"{topic}-{t:05d}.json"
            src = os.path.join(d[f"{topic}_src"], name)
            mtime += 1
            if backlog:
                _write(src, body, mtime)
                files[topic].append(src)
            else:
                stage = os.path.join(d[f"{topic}_stage"], name)
                _write(stage, body, mtime)
                schedule.append([(t - backlog_files) * TICK_MS, stage, src])
            lines[topic] += n
        if backlog:
            backlog_lines = dict(lines)
    spec = {
        "processing_date": PROCESSING_DATE, "trigger_ms": TRIGGER_MS, "max_files": MAX_FILES,
        "phase2_offset_ms": PHASE2_OFFSET_MS,
        "phase1_only": phase1_only,
        "emp_preload": d["emp_preload"], "act_preload": d["act_preload"],
        "emp_src": d["emp_src"], "act_src": d["act_src"],
        "emp_table": os.path.join(root, "tables", "employees"),
        "act_table": os.path.join(root, "tables", "activities"),
        "ckpt_root": d["ckpt"], "dump_dir": d["dump"],
        "backlog_lines": backlog_lines["emp"] + backlog_lines["act"],
        "backlog_lines_emp": backlog_lines["emp"],
        "total_lines": lines["emp"] + lines["act"], "total_lines_emp": lines["emp"],
        "backlog_files_emp": files["emp"], "backlog_files_act": files["act"],
        "schedule": schedule, "late_cutoff_ms": EVENT_T0_MS - 86_400_000,
    }
    return spec, g


def kept_lines(path):
    """Envelopes of a wire file the parse keeps (op c or u)."""
    n = 0
    with open(path) as f:
        for line in f:
            if '"op": "c"' in line or '"op": "u"' in line:
                n += 1
    return n


def check_table(expect, rows, fields):
    """Compare a sink table with the latest kept version per key.

    `expect`: key -> (ts_ms, [acceptable afters]); `rows`: iterable of
    (key, event_timestamp, *fields). Returns the list of problems, at
    most 20 of them, plus the number of keys that failed.
    """
    seen = set()
    problems = []
    bad = 0
    for row in rows:
        key, ts, vals = row[0], row[1], tuple(row[2:])
        if key in seen:
            bad += 1
            problems.append(f"duplicate key {key}")
            continue
        seen.add(key)
        exp = expect.get(key)
        if exp is None:
            bad += 1
            problems.append(f"unexpected key {key}")
        elif ts != exp[0] or vals not in [tuple(a[f] for f in fields) for a in exp[1]]:
            bad += 1
            problems.append(f"key {key}: got {(ts,) + vals}, want ts {exp[0]} one of "
                            f"{[tuple(a[f] for f in fields) for a in exp[1]]}")
    missing = [k for k in expect if k not in seen]
    bad += len(missing)
    problems += [f"missing key {k}" for k in missing[:5]]
    return problems[:20], bad


def check_backlog(file_batch, files, max_files):
    """The open loop's validity. A batch that took `max_files` of the
    scheduled files found more than one batch takes: the backlog grew
    past what a batch drains. `file_batch` and `files` are per query.
    Returns ({query: such batch ids}, the problems to report)."""
    capped = {}
    for q, fs in files.items():
        per = {}
        for f in fs:
            b = file_batch.get(q, {}).get(f)
            if b is not None:
                per[b] = per.get(b, 0) + 1
        capped[q] = sorted(b for b, n in per.items() if n >= max_files)
    return capped, [f"phase 2: the backlog grew, {q} batches {b} took {max_files} files "
                    f"(the run is invalid)" for q, b in sorted(capped.items()) if b]


def check_hourly(stream_rows, batch_rows):
    """The streaming hourly aggregate, last revision per group, against
    the batch twin over the admitted events. Rows are (window_start,
    employee_id, activity_type, activity_count, total_duration,
    avg_duration). Returns the list of problems (at most 20)."""
    final = {}
    for r in stream_rows:
        k = tuple(r[:3])
        if k not in final or r[3] > final[k][3]:
            final[k] = r
    want = {tuple(r[:3]): r for r in batch_rows}
    problems = []
    for k in sorted(set(final) | set(want), key=str):
        a, b = final.get(k), want.get(k)
        if a is None or b is None:
            problems.append(f"group {k}: stream {a} batch {b}")
        elif a[3] != b[3] or a[4] != b[4] or abs(a[5] - b[5]) > 1e-9 * max(1.0, abs(b[5])):
            problems.append(f"group {k}: stream {a[3:]} batch {b[3:]}")
        if len(problems) >= 20:
            break
    return problems
