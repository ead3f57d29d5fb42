"""table_ops workload: a seeded sequence of commits and reads against a
copy-on-write and a merge-on-read table preloaded from sf0.1-shaped
`lineitem`, keyed by (l_orderkey, l_linenumber) and partitioned by
ship month, plus the pure model the results are checked against.

Every commit op carries a file of rows that states its full effect
(upserted rows, or tombstones with `l_deleted = true`). The MOR table
appends that file; the COW table gets the op through its own path
(upsert, SQL DELETE, UPDATE or MERGE). The model applies the same
files, so after any prefix of the sequence both tables must equal it.
"""
import math
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import wl_query

# The op kinds repeat in this fixed cycle (3 reads to 1 commit); the
# seed draws only the parameters, so every seed runs the same mix. A run
# executes whole cycles, one per CYCLE_SECONDS of the run length and at
# least one (a cycle takes about 12 s at 4 cores), so every run of a
# given length executes the same ops and its latency sample has the
# same mix.
CYCLE = ["point", "range", "upsert", "agg", "point", "mor", "update", "asof",
         "point", "range", "delete", "cdf", "point", "agg", "merge", "mor"]
COMMIT_KINDS = ("upsert", "delete", "update", "merge")
CYCLE_SECONDS = 10
PRELOAD_ORDER_MOD = 4     # the preload keeps every 4th sf0.1 order
SHIP_FROM, SHIP_TO = "1995-01-01", "1997-01-01"   # of the lines shipped in these 24 months
UPSERT_ROWS, UPSERT_NEW = 80, 20
MERGE_ROWS, MERGE_NEW = 30, 10
DELETE_ORDERS = 3
UPDATE_MOD = 50

COLS = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
        "l_shipdate", "l_version", "l_shipmonth", "l_deleted"]


class Model:
    """Pure model of one table: one slot per key ever written."""

    def __init__(self, preload_path, extra=20_000):
        t = pq.read_table(preload_path)
        n = t.num_rows
        self.cap = n + extra
        self.n = n
        self.c = {}
        for name in COLS:
            a = t.column(name).to_numpy(zero_copy_only=False)
            buf = np.empty(self.cap, dtype=a.dtype)
            buf[:n] = a
            self.c[name] = buf
        self.alive = np.zeros(self.cap, dtype=bool)
        self.alive[:n] = True
        self.slot = {(int(k), int(ln)): i for i, (k, ln) in
                     enumerate(zip(self.c["l_orderkey"][:n], self.c["l_linenumber"][:n]))}
        self.months = sorted(set(self.c["l_shipmonth"][:n]))
        code = {m: i for i, m in enumerate(self.months)}
        self.mcode = np.zeros(self.cap, dtype=np.int16)
        self.mcode[:n] = [code[m] for m in self.c["l_shipmonth"][:n]]
        self.code = code
        self.next_key = int(self.c["l_orderkey"][:n].max()) + 1

    def rows(self, slots, **changes):
        """Table of the given slots, with column overrides."""
        data = {name: self.c[name][slots] for name in COLS}
        data.update(changes)
        return pa.table({k: pa.array(v) for k, v in data.items()}).select(COLS)

    def apply(self, table):
        """Apply a commit file: each row replaces its key's version."""
        d = {name: table.column(name).to_numpy(zero_copy_only=False) for name in COLS}
        for j in range(table.num_rows):
            key = (int(d["l_orderkey"][j]), int(d["l_linenumber"][j]))
            i = self.slot.get(key)
            if i is None:
                i = self.slot[key] = self.n
                self.n += 1
            for name in COLS:
                self.c[name][i] = d[name][j]
            self.mcode[i] = self.code[d["l_shipmonth"][j]]
            self.alive[i] = not d["l_deleted"][j]

    def snapshot(self):
        return (self.n, self.alive[:self.n].copy(), self.c["l_quantity"][:self.n].copy(),
                self.c["l_version"][:self.n].copy())

    # ——— expected read results ———

    def _sums(self, mask):
        cnt = int(mask.sum())
        if cnt == 0:
            return [0, None, None]
        return [cnt, float(self.c["l_quantity"][:self.n][mask].sum()),
                int(self.c["l_version"][:self.n][mask].sum())]

    def expect(self, op, snap=None):
        n = self.n
        alive = self.alive[:n]
        if op["kind"] == "point":
            i = self.slot.get((op["k"], op["n"]))
            if i is None or not self.alive[i]:
                return []
            return [[float(self.c["l_quantity"][i]), int(self.c["l_version"][i])]]
        if op["kind"] == "range":
            sd = self.c["l_shipdate"][:n]
            m = alive & (sd >= np.datetime64(op["d0"])) & (sd < np.datetime64(op["d1"])) & \
                (self.c["l_discount"][:n] >= 0.05)
            return [self._sums(m)]
        if op["kind"] == "agg":
            m = alive & (self.mcode[:n] == self.code[op["month"]])
            if not m.any():
                return [[0, None, None]]
            k = self.c["l_orderkey"][:n][m]
            return [[int(m.sum()), int(k.min()), int(k.max())]]
        if op["kind"] == "mor":
            return [self._sums(alive & np.isin(self.mcode[:n], [self.code[m] for m in op["months"]]))]
        if op["kind"] == "asof":
            sn, salive, sq, sv = snap
            m = salive & (self.mcode[:sn] == self.code[op["month"]])
            cnt = int(m.sum())
            return [[cnt, float(sq[m].sum()), int(sv[m].sum())] if cnt else [0, None, None]]
        raise ValueError(op["kind"])

    @staticmethod
    def change_counts(a, b):
        """Change-feed row counts by type between two snapshots."""
        n = b[0]
        pa_, pq_, pv = (np.concatenate([x, np.zeros(n - a[0], x.dtype)]) for x in a[1:])
        ba, bq, bv = b[1:]
        ins = int((~pa_ & ba).sum())
        dele = int((pa_ & ~ba).sum())
        upd = int((pa_ & ba & ((pq_ != bq) | (pv != bv))).sum())
        out = {"insert": ins, "delete": dele, "update_preimage": upd, "update_postimage": upd}
        return {k: v for k, v in out.items() if v}


def generate(root, seed, seconds):
    """Preload table, op sequence and commit files under `root`; returns the spec."""
    os.makedirs(os.path.join(root, "ops"), exist_ok=True)
    wl_query.generate(os.path.join(root, "gen"), seed, only=["lineitem"])
    preload = os.path.join(root, "preload.parquet")
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(f"""COPY (SELECT *, 0::BIGINT AS l_version,
                               strftime(l_shipdate, '%Y-%m') AS l_shipmonth,
                               false AS l_deleted
                        FROM '{root}/gen/lineitem.parquet'
                        WHERE l_orderkey % {PRELOAD_ORDER_MOD} = 0
                          AND l_shipdate >= TIMESTAMP '{SHIP_FROM}'
                          AND l_shipdate < TIMESTAMP '{SHIP_TO}')
                    TO '{preload}' (FORMAT parquet)""")
    con.close()
    model = Model(preload)
    rng = np.random.default_rng(seed)
    ops = []
    months = model.months

    def alive_in(ms):
        m = model.alive[:model.n] & np.isin(model.mcode[:model.n], [model.code[x] for x in ms])
        return np.flatnonzero(m)

    def new_rows(k, month):
        """`k` lines of fresh orders shipped in `month`."""
        slots = rng.choice(model.n, size=k, replace=False)
        t = model.rows(slots)
        keys = np.array([model.next_key + j // 4 for j in range(k)], dtype=np.int64)
        model.next_key += k // 4 + 1
        day = np.datetime64(month + "-01") + rng.integers(0, 28, size=k).astype("timedelta64[D]")
        return t.set_column(0, "l_orderkey", pa.array(keys)) \
            .set_column(3, "l_linenumber", pa.array(np.arange(k, dtype=np.int32) % 4 + 1)) \
            .set_column(10, "l_shipdate", pa.array(day.astype("datetime64[us]"))) \
            .set_column(12, "l_shipmonth", pa.array([month] * k)) \
            .set_column(13, "l_deleted", pa.array(np.zeros(k, dtype=bool)))

    def write(i, table):
        path = os.path.join(root, "ops", f"op{i:05d}.parquet")
        pq.write_table(table, path)
        model.apply(table)
        return path

    for i in range(len(CYCLE) * max(1, round(seconds / CYCLE_SECONDS))):
        v = i + 1
        kind = CYCLE[i % len(CYCLE)]
        if kind in COMMIT_KINDS:
            if kind in ("upsert", "merge"):
                rows, new = (UPSERT_ROWS, UPSERT_NEW) if kind == "upsert" else (MERGE_ROWS, MERGE_NEW)
                ms = list(rng.choice(months, size=2 if kind == "upsert" else 1, replace=False))
                pool = alive_in(ms)
                slots = rng.choice(pool, size=min(rows, len(pool)), replace=False)
                old = model.rows(slots, l_quantity=rng.integers(1, 51, size=len(slots)).astype(float),
                                 l_version=np.full(len(slots), v, dtype=np.int64))
                fresh = new_rows(new, ms[0])
                fresh = fresh.set_column(11, "l_version", pa.array(np.full(new, v, dtype=np.int64)))
                ops.append({"kind": kind, "file": write(i, pa.concat_tables([old, fresh]))})
            elif kind == "delete":
                pool = alive_in(months)
                keys = sorted({int(model.c["l_orderkey"][j]) for j in rng.choice(pool, DELETE_ORDERS)})
                m = model.alive[:model.n] & np.isin(model.c["l_orderkey"][:model.n], keys)
                slots = np.flatnonzero(m)
                t = model.rows(slots, l_version=np.full(len(slots), v, dtype=np.int64),
                               l_deleted=np.ones(len(slots), dtype=bool))
                ops.append({"kind": "delete", "orderkeys": keys, "file": write(i, t)})
            else:
                month = str(rng.choice(months))
                # the residue of a live key of the month, so the UPDATE
                # always changes rows (preloaded keys are multiples of
                # PRELOAD_ORDER_MOD: half the residues of UPDATE_MOD have none)
                rem = int(model.c["l_orderkey"][rng.choice(alive_in([month]))] % UPDATE_MOD)
                n = model.n
                m = model.alive[:n] & (model.mcode[:n] == model.code[month]) & \
                    (model.c["l_orderkey"][:n] % UPDATE_MOD == rem)
                slots = np.flatnonzero(m)
                t = model.rows(slots, l_quantity=model.c["l_quantity"][slots] + 1,
                               l_version=np.full(len(slots), v, dtype=np.int64))
                ops.append({"kind": "update", "month": month, "mod": UPDATE_MOD, "rem": rem,
                            "v": v, "file": write(i, t)})
        else:
            if kind == "point":
                j = int(rng.integers(0, model.n))
                ops.append({"kind": "point", "k": int(model.c["l_orderkey"][j]),
                            "n": int(model.c["l_linenumber"][j])})
            elif kind == "range":
                d0 = np.datetime64(SHIP_FROM) + int(rng.integers(0, 700))
                ops.append({"kind": "range", "d0": str(d0), "d1": str(d0 + 20)})
            elif kind in ("agg", "asof"):
                ops.append({"kind": kind, "month": str(rng.choice(months))})
            elif kind == "mor":
                ops.append({"kind": "mor", "months": [str(x) for x in rng.choice(months, 2, replace=False)]})
            else:
                ops.append({"kind": "cdf"})
    return {"preload": preload, "ops": ops,
            "cow_path": os.path.join(root, "tables", "cow"),
            "mor_path": os.path.join(root, "tables", "mor"),
            "dump_dir": os.path.join(root, "dump")}


def _same(a, b):
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    if isinstance(a, float) or isinstance(b, float):
        return a is not None and b is not None and math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)
    return a == b


def check(spec, raw):
    """Replay the executed prefix on a fresh model and check every read
    and the final tables. Returns ({op index: problem}, [final problems])."""
    model = Model(spec["preload"])
    ops = spec["ops"]
    snaps = {-1: model.snapshot()}
    by_op = {}
    for r in raw["records"]:
        by_op.setdefault(r["i"], []).append(r)
    bad = {}
    for i in range(raw["executed"]):
        op = ops[i]
        recs = by_op.get(i, [])
        err = next((r["error"] for r in recs if r.get("error")), None)
        if op["kind"] in COMMIT_KINDS:
            model.apply(pq.read_table(op["file"]))
            snaps[i] = model.snapshot()
            for old in [k for k in snaps if k < i][:-3]:
                del snaps[old]
            if err:
                bad[i] = err
            continue
        if err:
            bad[i] = err
            continue
        r = recs[0]
        if r.get("skipped"):
            continue
        try:
            if op["kind"] == "cdf":
                want = Model.change_counts(snaps[r["since"]], snaps[r["until"]])
                got = {t: c for t, c in r["result"]}
            elif op["kind"] == "asof":
                want, got = model.expect(op, snaps[r["at"]]), r["result"]
            else:
                want, got = model.expect(op), r["result"]
        except KeyError as e:
            bad[i] = f"no model state for commit of op {e}"
            continue
        if not (want == got if isinstance(want, dict) else _same(want, got)):
            bad[i] = f"{op['kind']}: got {got}, model {want}"
    final = []
    n = model.n
    alive = model.alive[:n]
    want = sorted(zip(model.c["l_orderkey"][:n][alive].tolist(), model.c["l_linenumber"][:n][alive].tolist(),
                      model.c["l_quantity"][:n][alive].tolist(), model.c["l_version"][:n][alive].tolist()))
    con = duckdb.connect()
    for t in ("cow", "mor"):
        got = sorted(con.sql(f"SELECT l_orderkey, l_linenumber, l_quantity, l_version "
                             f"FROM '{spec['dump_dir']}/{t}/*.parquet'").fetchall())
        if got != want:
            diff = next((x for x in zip(got, want) if x[0] != x[1]), None)
            final.append(f"{t} table != model ({len(got)} vs {len(want)} rows; first diff {diff})")
    con.close()
    return bad, final
