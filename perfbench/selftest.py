"""Self-tests of the benchmark's own percentile, lag, check and model
code on tiny inputs. Run with `python3 perfbench/run.py --self-test`."""
import json
import os
import tempfile
import traceback

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

import stats
import wl_cdc
import wl_query
import wl_table


def test_percentiles():
    v = list(range(1, 101))
    assert stats.pct(v, 50) == 50.5
    assert stats.tail(v) == (90.0, stats.pct(v, 90), 1)       # 10 samples beyond p90
    assert stats.tail(list(range(1000)))[0] == 99.0
    assert stats.tail(list(range(40)))[:2] == (75.0, stats.pct(list(range(40)), 75))
    # too few: the mean of the slowest quarter, rounded up
    assert stats.tail([5.0, 9.0, 7.0]) == (75.0, 9.0, 1)
    assert stats.tail([float(x) for x in range(20)]) == (75.0, 17.0, 5)
    s = stats.summary([3.0, 1.0, 2.0])
    assert s["n"] == 3 and s["p50"] == 2.0


def test_checkpoint_log_and_commits():
    with tempfile.TemporaryDirectory() as d:
        os.makedirs(os.path.join(d, "sources", "0"))
        with open(os.path.join(d, "sources", "0", "9.compact"), "w") as f:
            f.write('v1\n{"path":"file:///in/a.json","timestamp":1,"batchId":0}\n')
        with open(os.path.join(d, "sources", "0", "10"), "w") as f:
            f.write('v1\n{"path":"file:///in/b%20c.json","timestamp":2,"batchId":10}\n')
        assert stats.file_batches(d) == {"/in/a.json": 0, "/in/b%20c.json": 10}
    prog = [json.dumps({"batchId": 3, "timestamp": "2025-01-01T00:00:01.500Z",
                        "durationMs": {"addBatch": 700, "triggerExecution": 900}}),
            json.dumps({"batchId": 4, "timestamp": "2025-01-01T00:00:02.000Z",
                        "durationMs": {"triggerExecution": 5}})]   # no data: no commit
    assert stats.batch_commits(prog) == {3: 1_735_689_601_500 + 900}


def test_lags():
    moves = [{"file": "a", "due_ms": 1000}, {"file": "b", "due_ms": 1500},
             {"file": "c", "due_ms": 2000}]
    lag, lost = stats.lags(moves, {"a": 0, "b": 1}, {0: 1800, 1: 2600},
                           {"a": 2, "b": 1, "c": 4})
    assert sorted(lag) == [800, 800, 1100] and lost == 4     # c never committed


def test_backlog_growth():
    w = {f"f{i}": 10 for i in range(8)}
    moves = [{"file": f"f{i}", "due_ms": 1000 * i} for i in range(8)]
    query_of = {f: "q" for f in w}
    fb = {"q": {f"f{i}": i for i in range(8)}}
    # a steady engine: the batch holding each file commits 500 ms after
    # its due time
    s = stats.backlog(moves, query_of, fb, {"q": {i: 1000 * i + 500 for i in range(8)}}, w)
    assert [p for _, p in s] == [10] * 8
    assert wl_cdc.check_backlog(fb, {"q": list(w)}, 3) == ({"q": []}, [])
    # an engine that falls behind: file i commits 1000 i + 500 ms after
    # its due time, so the pending events keep growing
    s = stats.backlog(moves, query_of, fb, {"q": {i: 2000 * i + 500 for i in range(8)}}, w)
    assert [p for _, p in s] == [10, 10, 20, 20, 30, 30, 40, 40]
    # ... and once its batches take all they may, the run is invalid
    late = {"q": {"f0": 0, "f1": 1, "f2": 1, "f3": 1, "f4": 2, "f5": 2, "f6": 2}}
    capped, problems = wl_cdc.check_backlog(late, {"q": list(w)}, 3)
    assert capped == {"q": [1, 2]} and len(problems) == 1
    # a file never committed stays pending
    s = stats.backlog(moves[:2], query_of, {"q": {"f0": 0}}, {"q": {0: 100}}, w)
    assert s == [(0, 10), (1000, 10)]


def test_self_times():
    spans = [{"id": 1, "parent": 0, "module": "io", "start_ns": 0, "end_ns": 10_000_000},
             {"id": 2, "parent": 1, "module": "cdc", "start_ns": 2_000_000, "end_ns": 5_000_000},
             {"id": 3, "parent": 1, "module": "cdc", "start_ns": 4_000_000, "end_ns": 6_000_000}]
    t = stats.self_times(spans)
    assert abs(t["io"] - 6.0) < 1e-9 and abs(t["cdc"] - 5.0) < 1e-9


def test_cdc_table_check():
    g = wl_cdc.Gen(7)
    g._keep(g.emp_expect, 1, 10, {"name": "a"})
    g._keep(g.emp_expect, 1, 20, {"name": "b"})
    g._keep(g.emp_expect, 1, 20, {"name": "c"})     # precombine tie: either wins
    g._keep(g.emp_expect, 2, 5, {"name": "d"})
    ok = [(1, 20, "c"), (2, 5, "d")]
    assert wl_cdc.check_table(g.emp_expect, ok, ("name",)) == ([], 0)
    problems, bad = wl_cdc.check_table(g.emp_expect, [(1, 20, "b")], ("name",))
    assert bad == 1 and problems == ["missing key 2"]        # one key missing fails
    problems, bad = wl_cdc.check_table(g.emp_expect, [(1, 10, "a"), (2, 5, "d")], ("name",))
    assert bad == 1                                          # a superseded version fails


def test_cdc_hourly_check():
    stream = [("w", 1, "x", 1, 10, 10.0), ("w", 1, "x", 2, 30, 15.0)]  # update revisions
    assert wl_cdc.check_hourly(stream, [("w", 1, "x", 2, 30, 15.0)]) == []
    assert len(wl_cdc.check_hourly(stream, [("w", 1, "x", 3, 40, 13.3)])) == 1
    assert len(wl_cdc.check_hourly(stream, [])) == 1


def test_generated_cdc_expectation():
    with tempfile.TemporaryDirectory() as d:
        spec, g = wl_cdc.generate(d, 3, 1)
        # every kept envelope of the stream updates the expectation
        assert len(g.late_ids) > 0 and spec["late_cutoff_ms"] < wl_cdc.EVENT_T0_MS
        assert all(ts <= g.ts for ts, _ in g.act_expect.values())
        first = spec["backlog_files_act"][: 2 * wl_cdc.MAX_FILES]
        assert not any(i in open(f).read() for f in first for i in g.late_ids)


def _tiny_table(path):
    rows = {"l_orderkey": [1, 1, 2], "l_partkey": [5, 6, 7], "l_suppkey": [1, 1, 1],
            "l_linenumber": [1, 2, 1], "l_quantity": [3.0, 4.0, 5.0],
            "l_extendedprice": [1.0, 1.0, 1.0], "l_discount": [0.05, 0.0, 0.1],
            "l_tax": [0.0, 0.0, 0.0], "l_returnflag": ["A", "N", "R"],
            "l_linestatus": ["O", "F", "O"],
            "l_shipdate": pa.array([0, 86_400_000_000, 40 * 86_400_000_000],
                                   type=pa.timestamp("us")),
            "l_version": [0, 0, 0], "l_shipmonth": ["1970-01", "1970-01", "1970-02"],
            "l_deleted": [False, False, False]}
    pq.write_table(pa.table(rows).select(wl_table.COLS), path)


def test_table_model():
    with tempfile.TemporaryDirectory() as d:
        _tiny_table(os.path.join(d, "p.parquet"))
        m = wl_table.Model(os.path.join(d, "p.parquet"), extra=4)
        before = m.snapshot()
        assert m.expect({"kind": "point", "k": 1, "n": 2}) == [[4.0, 0]]
        assert m.expect({"kind": "agg", "month": "1970-01"}) == [[2, 1, 1]]
        # upsert key (1,1), tombstone (2,1), insert (3,1)
        t = m.rows([0, 2, 1], l_version=[1, 1, 1], l_quantity=[9.0, 5.0, 1.0],
                   l_deleted=[False, True, False])
        t = t.set_column(0, "l_orderkey", pa.array([1, 2, 3])) \
             .set_column(3, "l_linenumber", pa.array([1, 1, 1], type=pa.int32()))
        m.apply(t)
        assert m.expect({"kind": "point", "k": 2, "n": 1}) == []
        assert m.expect({"kind": "point", "k": 1, "n": 1}) == [[9.0, 1]]
        assert m.expect({"kind": "mor", "months": ["1970-01", "1970-02"]}) == [[3, 14.0, 2]]
        assert m.expect({"kind": "asof", "month": "1970-02"}, before) == [[1, 5.0, 0]]
        assert wl_table.Model.change_counts(before, m.snapshot()) == \
            {"insert": 1, "delete": 1, "update_preimage": 1, "update_postimage": 1}


def test_oracle_compare():
    con = duckdb.connect()
    a = wl_query.result_frame(con, "SELECT * FROM (VALUES (2, 0.30000000001, 'b'), "
                                   "(1, 0.1, 'a')) t(k, x, s)")
    b = wl_query.result_frame(con, "SELECT * FROM (VALUES (1, 0.1, 'a'), (2, 0.3, 'b')) t(k, x, s)")
    assert wl_query.frame_diff(a, b) is None                 # row order and ulps ignored
    c = wl_query.result_frame(con, "SELECT * FROM (VALUES (1, 0.1, 'a'), (2, 0.4, 'b')) t(k, x, s)")
    assert "column x" in wl_query.frame_diff(a, c)
    d = wl_query.result_frame(con, "SELECT * FROM (VALUES (1, 0.1, 'a')) t(k, x, s)")
    assert "rows" in wl_query.frame_diff(a, d)


def main():
    failed = 0
    tests = [(n, f) for n, f in sorted(globals().items()) if n.startswith("test_")]
    for name, fn in tests:
        try:
            fn()
            print(f"ok   {name}")
        except Exception:
            failed += 1
            print(f"FAIL {name}")
            traceback.print_exc()
    print(f"{len(tests) - failed}/{len(tests)} self-tests passed")
    return 1 if failed else 0
