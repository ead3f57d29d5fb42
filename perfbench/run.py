#!/usr/bin/env python3
"""Benchmark of the streaming-pipeline engine: CDC ingest, table ops
and batch queries, measured end to end (tracing off) and per layer
(a separate traced run).

    python3 perfbench/run.py --workload cdc_ingest --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --workload all --seed 1       # every workload, one table
    python3 perfbench/run.py --self-test

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. See perfbench/README.md
for the workloads and what each metric means.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import stats  # noqa: E402
import wl_cdc  # noqa: E402
import wl_query  # noqa: E402
import wl_table  # noqa: E402

WORKLOADS = ("cdc_ingest", "table_ops", "query_batch")
CORES = 4
JVM_TIMEOUT_S = 170
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
         "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
         "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
# end-to-end metrics every workload reports (units as in BENCHMARK.json)
E2E_UNITS = {"setup_s": "s", "ops_per_s": "1/s", "p50_ms": "ms", "tail_ms": "ms",
             "peak_rss_mb": "MB"}
LAYER_UNITS = {"spark.jobs": "count", "spark.task_ms": "ms", "spark.shuffle_bytes": "bytes",
               "spark.gc_ms": "ms", "spark.driver_gap_ms": "ms", "catalyst.plan_ms": "ms",
               "trace.spans": "count", "trace.overhead_ratio": "ratio"}


# extra JVM options of every engine run (the class-data sharing archive)
JVM_EXTRA = []


def class_archive(classpath):
    """The JVM class-data sharing archive of this classpath, made once per
    build by a short phase-1 cdc_ingest run: the engine JVM then maps
    Spark's and the engine's classes pre-parsed, which shortens the
    set-up of every run. None when it cannot be made."""
    key = hashlib.sha256(classpath.encode()).hexdigest()[:16]
    path = os.path.join(build.build_dir(), f"classes-{key}.jsa")
    if os.path.isfile(path):
        return path
    if os.path.isfile(path + ".failed"):
        return None
    root = os.path.join(build.build_dir(), "runs", f"class_archive-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    try:
        spec, _ = wl_cdc.generate(root, 0, 0, True, wl_cdc.MAX_FILES)
        run_jvm(classpath, "cdc_ingest", spec, root, 0, CORES,
                [f"-XX:ArchiveClassesAtExit={path}.tmp"])
        os.replace(path + ".tmp", path)
        return path
    except Exception as e:  # runs go on without it, only slower to start
        log(f"[build] no class-data sharing archive: {e}")
        open(path + ".failed", "w").close()
        return None
    finally:
        shutil.rmtree(root, ignore_errors=True)


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def run_jvm(classpath, workload, spec, root, trace, cores, jvm_extra=None):
    """Run the engine side once; returns its raw JSON."""
    spec_path = os.path.join(root, f"spec-{trace}-{cores}.json")
    raw_path = os.path.join(root, f"raw-{trace}-{cores}.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    jtmp = os.path.join(root, "jtmp")
    os.makedirs(jtmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in OPENS] + \
        (JVM_EXTRA if jvm_extra is None else jvm_extra) + [
        "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={jtmp}", "-Dspark.ui.enabled=false",
        f"-Dspark.local.dir={jtmp}", "-Dspark.sql.session.timeZone=UTC",
        "-cp", classpath, "perfbench.Main", workload, spec_path, raw_path, str(trace), str(cores)]
    p = subprocess.Popen(cmd, cwd=root, stdout=sys.stderr, stderr=sys.stderr,
                         start_new_session=True)
    try:
        rc = p.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise RuntimeError(f"engine run timed out after {JVM_TIMEOUT_S} s")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    if rc != 0:
        raise RuntimeError(f"engine run failed with exit code {rc}")
    with open(raw_path) as f:
        return json.load(f)


# ——— per-workload evaluation: e2e metrics, checks, layer report ———

def eval_query(spec, raw):
    verdict = wl_query.oracle_check(spec["sf_dir"], spec["dump_dir"], raw["oracle_sql"])
    errors = raw["warm_errors"]
    samples = raw["samples"]
    failed = sum(1 for s in samples if s["error"] or verdict.get(s["op"]) or s["op"] in errors)
    # latency is that of a pass over the whole list (a batch): the median
    # of a mixture of query latencies jumps between queries, a pass does
    # not; a run has a few passes, so the tail averages the slowest of them
    passes = stats.summary([p * 1000 for p in raw["passes_s"]])
    e2e = {"ops_per_s": len(samples) / raw["loop_s"], "p50_ms": passes["p50"],
           "tail_ms": passes["tail"]}
    per_query = {}
    for s in samples:
        per_query.setdefault(s["op"], []).append(s["ms"])
    report = {
        "batch_wall_s": statistics.median(raw["passes_s"]), "passes": passes,
        "query_latency": stats.summary([s["ms"] for s in samples if not s["error"]]),
        **{f"queries.{n}_s": statistics.median(v) / 1000 for n, v in per_query.items()},
        "staged_s": raw["staged_s"],
    }
    problems = [f"{n}: {v}" for n, v in verdict.items() if v] + \
        [f"{n}: {e}" for n, e in errors.items()]
    plan = sum(s["plan_ms"] for s in samples)
    return e2e, len(samples), failed, problems, report, plan


def eval_table(spec, raw):
    bad, final = wl_table.check(spec, raw)
    recs = raw["records"]
    timed = [r for r in recs if not r.get("skipped")]
    failed = sum(1 for r in timed if r["i"] in bad) + len(final)
    ok = [r for r in timed if not r.get("error")]
    lat = stats.summary([r["ms"] for r in ok])
    e2e = {"ops_per_s": len(ok) / raw["loop_s"], "p50_ms": lat["p50"], "tail_ms": lat["tail"]}
    commits = [r["ms"] for r in ok if "commit" in r or r["op"] in ("append_mor", "compact_mor")]
    reads = [r["ms"] for r in ok if "result" in r]
    by_op = {}
    for r in ok:
        by_op.setdefault(r["op"], []).append(r["ms"])
    report = {"commit": stats.summary(commits), "read": stats.summary(reads),
              "executed_ops": raw["executed"], **space_report(raw["space"])}
    for op, v in sorted(by_op.items()):
        layer = "io.scan" if op in ("point_lookup", "range_scan", "agg_pushdown", "read_mor",
                                    "as_of", "change_feed") else "io.sink"
        report[f"{layer}.{op}_p50_ms"] = stats.pct(v, 50)
        report[f"{layer}.{op}_n"] = len(v)
    scans = [r.get("scan") or {} for r in ok if "result" in r]
    if any(scans):
        files = sum(v for s in scans for k, v in s.items() if k in ("numFiles", "filesRead"))
        rows_read = sum(v for s in scans for k, v in s.items() if k == "numOutputRows")
        returned = sum(max(1, len(r["result"])) for r in ok if "result" in r)
        report["io.scan.files_read_ratio"] = files / len(scans) / max(1, raw["space"]["live_files"])
        report["io.scan.rows_read_per_row_returned"] = rows_read / returned
    problems = [f"op {i}: {m}" for i, m in sorted(bad.items())][:20] + final
    if raw.get("broken"):
        problems.append(f"commit failed, run stopped: {raw['broken']}")
    plan = sum(r.get("plan_ms", 0.0) for r in ok)
    return e2e, len(timed) + len(final), failed, problems, report, plan


def progress_by_query(raw):
    """Progress events (JSON strings) per query."""
    prog = {}
    for e in raw["progress"]:
        prog.setdefault(e["query"], []).append(e["json"])
    return prog


def phase1(spec, prog, commits):
    """(set-up end ms, envelopes committed per second) of phase 1. The
    first batch of each query runs cold and counts as set-up. Each sink
    query commits its topic's share of the backlog from its first
    batch's commit to the commit of the batch that completes the share;
    the slower of the two sets the rate of the whole backlog."""
    need = {"emp_upsert": spec["backlog_lines_emp"],
            "act_upsert": spec["backlog_lines"] - spec["backlog_lines_emp"]}
    longest = 0
    for q in need:
        seen = 0
        for j in sorted((json.loads(x) for x in prog[q]), key=lambda p: p["batchId"]):
            seen += j["numInputRows"]
            if seen >= need[q] and j["batchId"] in commits[q]:
                longest = max(longest, commits[q][j["batchId"]] - commits[q][0])
                break
    first = sum(json.loads(j)["numInputRows"] for q in need
                for j in prog[q] if json.loads(j)["batchId"] == 0)
    setup_end = max(c[0] for c in commits.values())
    return setup_end, (spec["backlog_lines"] - first) / max(1e-3, longest / 1000)


def eval_cdc(spec, raw, gen):
    import duckdb
    problems = []
    if not raw["phase1_done"] or not raw["phase2_done"]:
        problems.append("the engine did not read every input file in time")
    prog = progress_by_query(raw)
    commits = {q: stats.batch_commits(v) for q, v in prog.items()}
    fb = {q: stats.file_batches(raw["checkpoints"][q]) for q in ("emp_upsert", "act_upsert")}
    start1, eps = phase1(spec, prog, commits)
    # phase 2: per-event lag from due time to the commit holding it
    weights, file_query = {}, {}
    for _, _, dst in spec["schedule"]:
        weights[dst] = wl_cdc.kept_lines(dst)
        file_query[dst] = "emp_upsert" if os.path.basename(dst).startswith("emp") else "act_upsert"
    lag, lost = [], 0
    for q in ("emp_upsert", "act_upsert"):
        moves = [m for m in raw["moves"] if file_query[m["file"]] == q]
        l, n = stats.lags(moves, fb[q], commits.get(q, {}), weights)
        lag += l
        lost += n
    over = sum(1 for x in lag if x > wl_cdc.LATENCY_LIMIT_MS)
    kept_total = sum(wl_cdc.kept_lines(os.path.join(spec[d], f))
                     for d in ("emp_src", "act_src") for f in os.listdir(spec[d]))
    # checks: sink tables against the generator's events, hourly
    # aggregate against its batch twin
    con = duckdb.connect()
    dump = spec["dump_dir"]
    emp_rows = con.sql(f"SELECT id, event_timestamp, name, email, department "
                       f"FROM '{dump}/emp/*.parquet'").fetchall()
    act_rows = con.sql(f"SELECT id, event_timestamp, employee_id, duration_seconds "
                       f"FROM '{dump}/act/*.parquet'").fetchall()
    cols = "window_start, employee_id, activity_type, activity_count, total_duration, avg_duration"
    hs = con.sql(f"SELECT {cols} FROM '{dump}/hourly_stream/*.parquet'").fetchall()
    hb = con.sql(f"SELECT {cols} FROM '{dump}/hourly_batch/*.parquet'").fetchall()
    con.close()
    p1, bad_emp = wl_cdc.check_table(gen.emp_expect, emp_rows, ("name", "email", "department"))
    p2, bad_act = wl_cdc.check_table(gen.act_expect, act_rows, ("employee_id", "duration_seconds"))
    p3 = wl_cdc.check_hourly(hs, hb)
    problems += [f"employees: {p}" for p in p1] + [f"activities: {p}" for p in p2] + \
        [f"hourly: {p}" for p in p3]
    dropped = sum(state_op(json.loads(j)).get("numRowsDroppedByWatermark", 0)
                  for j in prog.get("hourly_agg", []))
    if dropped != len(gen.late_ids):
        problems.append(f"hourly: watermark dropped {dropped} rows, generator made "
                        f"{len(gen.late_ids)} late events")
    failed = lost + over + bad_emp + bad_act + len(p3)
    lat = stats.summary(lag) if lag else {"p50": 0.0, "tail": 0.0, "n": 0}
    e2e = {"ops_per_s": eps, "p50_ms": lat["p50"], "tail_ms": lat["tail"], "setup_end_ms": start1}
    report = {"ingest_eps": eps, "ingest_lag": lat, "events_lost": lost,
              "events_over_limit": over, "latency_limit_ms": wl_cdc.LATENCY_LIMIT_MS,
              **space_report(raw["space"])}
    report.update(stream_layers(raw, prog, commits, weights, fb))
    # the open loop is valid only while each batch drains what arrived
    report["streaming.capped_batches"], invalid = wl_cdc.check_backlog(
        fb, {q: [f for f, fq in file_query.items() if fq == q] for q in fb}, spec["max_files"])
    problems += invalid
    plan = sum(json.loads(j)["durationMs"].get("queryPlanning", 0) for v in prog.values() for j in v)
    return e2e, kept_total, failed, problems, report, plan


def space_report(space):
    """Space amplification, measured by the traced run only."""
    if not space:
        return {}
    return {"space_amp": space["table_bytes"] / space["compact_bytes"],
            "io.sink.archive_bytes": space["archive_bytes"]}


def state_op(progress):
    """The aggregation's state-store figures in a progress event ({} when
    the trigger planned nothing)."""
    ops = progress.get("stateOperators") or [{}]
    return ops[0]


def stream_layers(raw, prog, commits, weights, fb):
    """Per-layer figures of the streaming run, from the progress events."""
    out = {}
    events = [json.loads(j) for v in prog.values() for j in v]
    out["streaming.batches"] = sum(1 for e in events if "addBatch" in e["durationMs"])
    for k, name in (("addBatch", "add_batch_ms"), ("queryPlanning", "query_planning_ms"),
                    ("walCommit", "wal_commit_ms"), ("latestOffset", "latest_offset_ms")):
        v = [e["durationMs"][k] for e in events if k in e["durationMs"] and "addBatch" in e["durationMs"]]
        out[f"streaming.{name}"] = stats.pct(v, 50) if v else 0.0
    agg = [json.loads(j) for q in ("hourly_agg", "daily_agg") for j in prog.get(q, [])
           if state_op(json.loads(j))]
    last = {}
    for e in agg:
        last[e["name"]] = e
    out["agg.state_rows"] = sum(state_op(e)["numRowsTotal"] for e in last.values())
    out["agg.state_mem_bytes"] = sum(state_op(e)["memoryUsedBytes"] for e in last.values())
    out["agg.update_ms"] = sum(state_op(e).get("allUpdatesTimeMs", 0) for e in agg)
    out["agg.dropped_late_rows"] = sum(state_op(e).get("numRowsDroppedByWatermark", 0)
                                       for e in agg if e["name"] == "hourly_agg")
    moves = raw["moves"]
    out["gen.late_ms_max"] = max((m["moved_ms"] - m["due_ms"] for m in moves), default=0)
    query_of = {m["file"]: ("emp_upsert" if "/emp_src/" in m["file"] else "act_upsert") for m in moves}
    samples = stats.backlog(moves, query_of, fb,
                            {q: commits.get(q, {}) for q in ("emp_upsert", "act_upsert")}, weights)
    out["streaming.max_backlog_events"] = max((p for _, p in samples), default=0)
    return out


def layer_report(workload, raw, spans, plan_ms):
    """Per-layer metrics of a traced run: the BENCHMARK.json ones plus
    the workload's module breakdown."""
    # jobs of the measured ops only: set-up, warm-up and check jobs are out
    tasks = {op: v for op, v in raw["tasks"].items()
             if not op.split(":")[0] in ("preload", "stage", "warm", "dump", "layer")}
    tot = {k: sum(v[k] for v in tasks.values()) for k in
           ("jobs", "tasks", "task_ms", "shuffle_bytes", "spill_bytes", "task_gc_ms")}
    out = {"spark.jobs": tot["jobs"], "spark.task_ms": tot["task_ms"],
           "spark.shuffle_bytes": tot["shuffle_bytes"], "spark.spill_bytes": tot["spill_bytes"],
           "spark.gc_ms": raw["loop_gc_ms"], "spark.driver_gap_ms": raw["driver_idle_ms"],
           "catalyst.plan_ms": plan_ms, "trace.spans": len(spans)}
    out.update({f"self_ms.{m}": v for m, v in sorted(stats.self_times(spans).items())})
    names = raw.get("query_ids", {})
    out["spark.per_op"] = {names.get(op[len("stream:"):], op): v for op, v in tasks.items()}
    if workload == "cdc_ingest":
        up = [s for s in spans if s["name"].startswith("sink.upsert")]
        up_ms = [(s["end_ns"] - s["start_ns"]) / 1e6 for s in up]
        ups = {k: v for k, v in tasks.items() if k.startswith("upsert:")}
        rows_in = sum(json.loads(e["json"])["numInputRows"] for e in raw["progress"]
                      if e["query"] in ("emp_upsert", "act_upsert"))
        out["io.sink.upsert_ms"] = stats.pct(up_ms, 50) if up_ms else 0.0
        out["io.sink.jobs_per_commit"] = sum(v["jobs"] for v in ups.values()) / max(1, len(up))
        out["io.sink.write_amp"] = sum(v["records_written"] for v in ups.values()) / max(1, rows_in)
        out["io.sink.files_written"] = sum(v["write_tasks"] for v in ups.values())
        lay = raw["layers"]
        env = sum(t["envelopes"] for t in lay.values())
        out["cdc.parse_ms_per_mevent"] = sum(t["parse_ms"] for t in lay.values()) / (env / 1e6)
        out["enrich.ms_per_mevent"] = sum(t["enrich_ms"] for t in lay.values()) / (env / 1e6)
        out["cdc.kept_ratio"] = sum(t["kept"] for t in lay.values()) / env
    return out


def cdc_baselines(seed, seconds, classpath):
    """Phase-1 envelopes per second, untraced, at 4 cores and at 1 core."""
    root = os.path.join(build.build_dir(), "runs", f"cdc_baselines-{seed}-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    try:
        # the single-core run drains the first batch and one more
        specs = {c: wl_cdc.generate(os.path.join(root, f"cores{c}"), seed, seconds, True,
                                    2 * wl_cdc.MAX_FILES if c == 1 else wl_cdc.BACKLOG_FILES)[0]
                 for c in (CORES, 1)}
        raw = run_jvm(classpath, "cdc_baselines",
                      {"baselines": [{"cores": c, "spec": sp} for c, sp in specs.items()]},
                      root, 0, CORES)
        return {c: phase1_eps(sp, r) for (c, sp), r in zip(specs.items(), raw["runs"])}
    finally:
        shutil.rmtree(root, ignore_errors=True)


def run_once(workload, seed, seconds, trace, classpath, cores=CORES):
    """Generate inputs, run the engine, evaluate. Returns a result dict."""
    base = os.path.join(build.build_dir(), "runs")
    root = os.path.join(base, f"{workload}-{seed}-{os.getpid()}-{trace}-{cores}")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    try:
        t0 = time.time()
        gen = None
        if workload == "cdc_ingest":
            spec, gen = wl_cdc.generate(root, seed, seconds)
        elif workload == "table_ops":
            spec = wl_table.generate(root, seed, seconds)
        else:
            sf = os.path.join(root, "sf")
            wl_query.generate(sf, seed)
            spec = {"sf_dir": sf, "queries": wl_query.QUERIES, "staged": wl_query.STAGED,
                    "dump_dir": os.path.join(root, "dump"),
                    "passes": max(1, round(seconds / wl_query.PASS_SECONDS))}
        gen_s = time.time() - t0
        raw = run_jvm(classpath, workload, spec, root, trace, cores)
        t_eval = time.time()
        if workload == "cdc_ingest":
            e2e, attempted, failed, problems, report, plan = eval_cdc(spec, raw, gen)
        elif workload == "table_ops":
            e2e, attempted, failed, problems, report, plan = eval_table(spec, raw)
        else:
            e2e, attempted, failed, problems, report, plan = eval_query(spec, raw)
        setup_s = e2e.pop("setup_end_ms", raw["setup_end_ms"]) / 1000 - t0
        e2e["setup_s"] = setup_s
        report["setup.generate_s"] = gen_s
        report["setup.engine_s"] = setup_s - gen_s
        report.update({f"setup.{k}_s": v / 1000 for k, v in raw.get("setup_steps_ms", {}).items()})
        e2e["peak_rss_mb"] = raw["peak_rss_mb"]
        log(f"[run] {workload}: inputs {gen_s:.1f} s, engine {t_eval - t0 - gen_s:.1f} s "
            f"(set-up {setup_s - gen_s:.1f} s), checks {time.time() - t_eval:.1f} s")
        return {"e2e": e2e, "attempted": attempted, "failed": failed, "problems": problems,
                "report": report, "raw": raw, "plan_ms": plan}
    finally:
        shutil.rmtree(root, ignore_errors=True)


def phase1_eps(spec, raw):
    """Backlog envelopes per second of a phase-1-only run."""
    prog = progress_by_query(raw)
    return phase1(spec, prog, {q: stats.batch_commits(v) for q, v in prog.items()})[1]


def metric_block(values, units):
    return {k: {"value": float(values[k]), "unit": units[k]} for k in units}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if a.self_test:
        import selftest
        sys.exit(selftest.main())
    if not a.workload:
        ap.error("--workload is required")
    classpath = ":".join(build.build() + build.spark_jars())
    archive = class_archive(classpath)
    if archive:
        JVM_EXTRA.append(f"-XX:SharedArchiveFile={archive}")
    if a.workload == "all":
        return run_all(a, classpath)
    res = run_once(a.workload, a.seed, a.seconds, a.trace, classpath)
    for p in res["problems"]:
        log(f"[check] {p}")
    out = {"correct": not res["problems"], "attempted": int(res["attempted"]),
           "failed": int(res["failed"])}
    if a.trace == 0:
        out["metrics"] = metric_block(res["e2e"], E2E_UNITS)
        print(json.dumps({"workload": a.workload, "seed": a.seed, "report": res["report"]},
                         default=float))
    else:
        layers = layer_report(a.workload, res["raw"], res["raw"]["spans"], res["plan_ms"])
        # tracing overhead: untraced over traced ops/s (for cdc_ingest,
        # phase-1 envelopes/s from the baseline run, which also gives the
        # single-core figure)
        if a.workload == "cdc_ingest":
            eps = cdc_baselines(a.seed, a.seconds, classpath)
            layers["streaming.eps_1core"] = eps[1]
            untraced = eps[CORES]
        else:
            untraced = run_once(a.workload, a.seed, a.seconds, 0, classpath)["e2e"]["ops_per_s"]
        layers["trace.overhead_ratio"] = untraced / res["e2e"]["ops_per_s"]
        layers.update({f"report.{k}": v for k, v in res["report"].items()})
        layers["report.e2e_traced"] = res["e2e"]
        report_dir = os.path.join(build.build_dir(), "reports")
        os.makedirs(report_dir, exist_ok=True)
        path = os.path.join(report_dir, f"{a.workload}-seed{a.seed}-trace.json")
        with open(path, "w") as f:
            json.dump({"layers": layers, "spans": res["raw"]["spans"]}, f, default=float)
        print(json.dumps({"workload": a.workload, "seed": a.seed, "layers": layers,
                          "spans_file": path}, default=float))
        out["metrics"] = metric_block(layers, LAYER_UNITS)
    print(json.dumps(out))


def run_all(a, classpath):
    """Every workload once, untraced: one table of every metric."""
    ok = True
    for w in WORKLOADS:
        res = run_once(w, a.seed, a.seconds, 0, classpath)
        ok = ok and not res["problems"]
        for k, u in E2E_UNITS.items():
            print(f"{w:12s} {k:14s} {res['e2e'][k]:14.4f} {u}")
        for k, v in res["report"].items():
            if isinstance(v, (int, float)):
                print(f"{w:12s} {k:40s} {v:14.4f}")
        print(f"{w:12s} correct={not res['problems']} attempted={res['attempted']} "
              f"failed={res['failed']}")
        for p in res["problems"]:
            print(f"{w:12s} [check] {p}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
