"""Seeded workload plans and the independent reference that checks them.

A plan is what the benchmark process runs: tab-separated records, the
first field naming the record. The checks replay the same plan in DuckDB
over the same generated parquet and compare every result the benchmark
read.
"""
import math
import os
import shutil

import duckdb
import numpy as np
import pandas as pd

import gen

HISTORY = [90_000, 110_000, 130_000, 150_000]
# Travel reads the snapshots before the last append; the last append holds
# every key, as does the current (clustered) snapshot.
TRAVEL_SNAPSHOTS = [0, 1, 2]
# Known to fail with an internal Catalyst error at the time this benchmark
# was written; run once per scan run as a probe, outside the timed mix.
PROBE_SQL = ("SELECT count(*) AS n, sum(l_extendedprice) AS s FROM lineitem "
             "WHERE l_shipdate >= DATE'{lo}' AND l_shipdate < DATE'{hi}'")

# Two gates from each operator module, each with a DuckDB oracle.
GATES = ["d01_dedup_exact", "d04_simhash", "s01_ann_bruteforce", "s03_ann_ivf",
         "x01_token_count", "x03_langid", "m01_multimodal_pipeline", "m04_jpeg_blocks"]

# One commit of each kind per block, in seeded order; the view refresh and
# a maintenance step close each block.
INGEST_BLOCK = ["append", "upsert_mor", "delete", "update", "merge"]
INGEST_OPS = 100


def month_start(i):
    """First day of the i-th month counted from 1995-01."""
    return f"{1995 + i // 12}-{i % 12 + 1:02d}-01"


def tables_for(workload):
    return {"scan": ["lineitem", "orders"],
            "ingest": ["orders"],
            "pipeline": ["documents", "embeddings"]}[workload]


def scan_plan(rng):
    """Nine distinct queries in three classes; the timed order walks seeded
    permutations of the pool, so every class keeps its share. The seed picks
    months, years and key ranges; every choice reads the same amount of
    data (whole months and years, fixed-width key ranges), so seeds differ
    in values, not in cost."""
    qs = []
    for _ in range(2):
        m = int(rng.integers(0, 82))
        f = (f"l_shipdate >= TIMESTAMP '{month_start(m)} 00:00:00' AND "
             f"l_shipdate < TIMESTAMP '{month_start(m + 1)} 00:00:00'")
        qs.append(("selective", "sel", f"lineitem|{f}|l_extendedprice"))
    for _ in range(2):
        lo = int(rng.integers(0, 148_000))
        qs.append(("selective", "sel", f"orders|o_orderkey BETWEEN {lo} AND {lo + 2_000}|o_totalprice"))
    y = int(rng.integers(1995, 2001))
    qs.append(("analytic", "sql",
               "SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS q "
               f"FROM lineitem WHERE year(l_shipdate) = {y} GROUP BY l_returnflag, l_linestatus"))
    y, m = int(rng.integers(1995, 2001)), int(rng.integers(1, 13))
    qs.append(("analytic", "sql",
               "SELECT o_orderpriority, count(*) AS n, sum(l_extendedprice) AS s "
               "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
               f"WHERE year(l_shipdate) = {y} AND month(l_shipdate) = {m} GROUP BY o_orderpriority"))
    lo = int(rng.integers(0, 148_000))
    key_range = f"o_orderkey BETWEEN {lo} AND {lo + 2_000}"
    qs.append(("analytic", "sql", "SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS s "
                                  f"FROM orders WHERE {key_range} GROUP BY o_orderstatus"))
    sql_range = len(qs) - 1
    travel = rng.permutation(TRAVEL_SNAPSHOTS)
    qs.append(("travel", "asof", str(int(travel[0]))))
    qs.append(("travel", "sqltime", str(int(travel[1]))))
    order = np.concatenate([rng.permutation(len(qs)) for _ in range(200)])
    m = int(rng.integers(0, 82))
    probe = PROBE_SQL.format(lo=month_start(m), hi=month_start(m + 1))
    lines = ["history\t" + "\t".join(map(str, HISTORY))]
    lines += [f"q\t{i}\t{c}\t{k}\t{p}" for i, (c, k, p) in enumerate(qs)]
    lines.append("order\t" + "\t".join(map(str, order)))
    lines.append(f"probe\t{probe}")
    # the key-range SQL query, next to the files toDF plans for its filter
    lines.append(f"sqlrange\t{sql_range}\t{key_range}")
    return lines, {"queries": qs, "probe": probe}


def ingest_plan(rng, data_dir):
    """A DML stream in seeded blocks of one commit of each kind; batches land as
    parquet files under `<data_dir>/batches`."""
    os.makedirs(f"{data_dir}/batches", exist_ok=True)
    lines = [f"ingest\t{len(INGEST_BLOCK)}"]
    ops = []
    next_key = gen.N_ORDERS
    while len(ops) < INGEST_OPS:
        for kind in rng.permutation(INGEST_BLOCK):
            i = len(ops)
            if kind == "append":
                arg = f"b{i}.parquet"
                gen.pq.write_table(gen.orders(rng, 2_000, next_key), f"{data_dir}/batches/{arg}")
                next_key += 2_000
            elif kind in ("upsert_mor", "merge"):
                arg = f"b{i}.parquet"
                gen.pq.write_table(gen.orders(rng, 1_000, int(rng.integers(0, gen.N_ORDERS - 1_000))),
                                   f"{data_dir}/batches/{arg}")
            else:
                lo = int(rng.integers(0, gen.N_ORDERS - 500))
                arg = f"{lo}|{lo + (300 if kind == 'delete' else 500)}"
            rlo = int(rng.integers(0, gen.N_ORDERS - 2_000))
            ops.append((i, str(kind), arg, f"{rlo}|{rlo + 2_000}"))
    lines += ["op\t" + "\t".join(map(str, op)) for op in ops]
    return lines, {"ops": ops}


def pipeline_plan(_rng):
    return ["gates\t" + "\t".join(GATES)], {"gates": GATES}


def make(workload, seed, data_dir, plan_file, inputs=None):
    """Generate inputs (or copy them from the corpus directory `inputs`)
    and the plan for one run; returns the plan spec."""
    if inputs:
        for t in tables_for(workload):
            shutil.copyfile(f"{inputs}/{t}.parquet", f"{data_dir}/{t}.parquet")
    else:
        gen.write_tables(data_dir, tables_for(workload), seed)
    rng = np.random.default_rng([seed, 1000])
    if workload == "scan":
        lines, spec = scan_plan(rng)
    elif workload == "ingest":
        lines, spec = ingest_plan(rng, data_dir)
    else:
        lines, spec = pipeline_plan(rng)
    with open(plan_file, "w") as f:
        f.write("\n".join(lines) + "\n")
    return spec


# ------------------------------------------------------------------ checks

def _close(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-6)
    return a == b


def same_rows(got, want):
    """Order-insensitive row comparison; floats within 1e-9 relative."""
    if len(got) != len(want):
        return False
    key = lambda r: tuple(str(v) for v in r if not isinstance(v, float))
    g = sorted((list(r) for r in got), key=key)
    w = sorted((list(r) for r in want), key=key)
    return all(len(x) == len(y) and all(_close(p, q) for p, q in zip(x, y)) for x, y in zip(g, w))


def _rows(con, sql):
    return [[None if (isinstance(v, float) and math.isnan(v)) else
             (float(v) if hasattr(v, "as_tuple") else v) for v in r]
            for r in con.execute(sql).fetchall()]


def _connect(data_dir, names):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in names:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def check_scan(spec, data_dir, res):
    """Returns the ids of queries whose results are wrong, and problems."""
    con = _connect(data_dir, ["lineitem", "orders"])
    checks = res["checks"]
    wrong, problems = [], []
    for i, (cls, kind, payload) in enumerate(spec["queries"]):
        got = checks["results"].get(str(i))
        if got is None:
            continue
        if kind == "sel":
            t, f, m = payload.split("|")
            want = _rows(con, f"SELECT count(*), sum({m}) FROM {t} WHERE {f}")
        elif kind == "sql":
            want = _rows(con, payload)
        else:
            bound = HISTORY[int(payload)]
            want = _rows(con, "SELECT count(*), sum(o_totalprice), sum(o_orderkey) FROM orders "
                              f"WHERE o_orderkey < {bound}")
        if not same_rows(got, want):
            wrong.append(i)
            problems.append(f"query {i} ({kind}): got {got} want {want}")
    for i in checks["mismatched"]:
        wrong.append(i)
        problems.append(f"query {i} returned different rows on repeats")
    probe = checks.get("probe", {})
    if probe.get("rows") is not None:
        want = _rows(con, spec["probe"])
        if not same_rows(probe["rows"], want):
            problems.append(f"probe: got {probe['rows']} want {want}")
    return sorted(set(wrong)), problems


def check_ingest(spec, data_dir, res):
    checks = res["checks"]
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"CREATE TABLE t AS SELECT * FROM read_parquet('{data_dir}/orders.parquet')")
    reads = {i: rows for i, rows in checks["reads"]}
    view_want = None
    wrong, problems = [], []
    for n, (i, kind, arg, read) in enumerate(spec["ops"][:checks["commits"]], start=1):
        if kind == "append":
            con.execute(f"INSERT INTO t SELECT * FROM read_parquet('{data_dir}/batches/{arg}')")
        elif kind in ("upsert_mor", "merge"):
            b = f"read_parquet('{data_dir}/batches/{arg}')"
            con.execute(f"DELETE FROM t WHERE o_orderkey IN (SELECT o_orderkey FROM {b})")
            con.execute(f"INSERT INTO t SELECT * FROM {b}")
        else:
            lo, hi = arg.split("|")
            cond = f"o_orderkey BETWEEN {lo} AND {hi}"
            con.execute(f"DELETE FROM t WHERE {cond}" if kind == "delete" else
                        f"UPDATE t SET o_totalprice = o_totalprice + 1.0 WHERE {cond}")
        if n in reads:
            lo, hi = read.split("|")
            want = _rows(con, f"SELECT count(*), sum(o_totalprice) FROM t "
                              f"WHERE o_orderkey BETWEEN {lo} AND {hi}")
            if not same_rows(reads[n], want):
                wrong.append(n)
                problems.append(f"read after commit {n}: got {reads[n]} want {want}")
        if n == checks["view_commits"]:
            view_want = _rows(con, "SELECT o_orderpriority, count(*), "
                                   "sum(CAST(o_totalprice AS DECIMAL(28,6))) FROM t GROUP BY 1")
    want = _rows(con, "SELECT count(*), sum(o_totalprice), sum(o_orderkey) FROM t")
    if not same_rows([checks["final"]], want):
        problems.append(f"final table: got {checks['final']} want {want}")
    got = [[k, c, float(s)] for k, c, s in checks["view"]]
    if view_want is None or not same_rows(got, view_want):
        problems.append(f"view after commit {checks['view_commits']}: got {got} want {view_want}")
    return wrong, problems


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def check_pipeline(spec, data_dir, res):
    """Each gate's output against its DuckDB oracle (rows > 0 where a gate
    has none), and the per-gate output hash equal on every pass."""
    checks = res["checks"]
    con = _connect(data_dir, tables_for("pipeline"))
    wrong, problems = [], []
    for g in spec["gates"]:
        got = pd.read_parquet(f"{checks['out_dir']}/{g}")
        sql = checks["oracles"].get(g)
        ok = len(got) > 0
        if ok and sql:
            want = con.execute(sql).df()
            g2, w2 = _canon(got), _canon(want)
            try:
                ok = list(g2.columns) == list(w2.columns) and len(g2) == len(w2)
                if ok:
                    pd.testing.assert_frame_equal(g2, w2, check_dtype=False, check_exact=True)
            except AssertionError:
                ok = False
        if not ok:
            wrong.append(g)
            problems.append(f"gate {g}: output differs from its oracle")
    for g in checks["mismatched"]:
        wrong.append(g)
        problems.append(f"gate {g}: output fingerprint differs between passes")
    return sorted(set(wrong)), problems


CHECKS = {"scan": check_scan, "ingest": check_ingest, "pipeline": check_pipeline}
