"""Input generation and output checks for the four workloads.

Each ``gen_<workload>`` turns the sf testdata and a seed into the inputs the
benchmark JVM receives (parquet files under the work dir and a list of
statements) and returns ``(plan, state)``: the plan goes to the JVM, the
state stays here for ``check_<workload>``. Every check computes the expected answer
independently with DuckDB over the same input files; it never reads the
program's own tables except through the dumps the benchmark JVM writes."""
import io
import json
import math
import os
import random

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DAY_US = 86_400_000_000


def _utc(table, cols):
    """Timestamps as UTC instants, so Spark reads them as TIMESTAMP."""
    for c in cols:
        i = table.schema.get_field_index(c)
        table = table.set_column(i, c, table.column(c).cast(pa.timestamp("us", tz="UTC")))
    return table


def _read(sf_dir, name, ts_cols=()):
    # without the source's pandas schema metadata, which every written
    # slice or chunk would otherwise repeat
    t = pq.read_table(os.path.join(sf_dir, f"{name}.parquet")).replace_schema_metadata(None)
    return _utc(t, ts_cols)


def _write_slices(table, n, rng, out_dir, stem, jitter=0.1):
    """Cut a sorted table into n slices of about equal size (boundaries
    moved by up to `jitter` of a slice, from the seed)."""
    os.makedirs(out_dir, exist_ok=True)
    rows = table.num_rows
    size = rows / n
    cuts = [0] + [int(k * size + rng.uniform(-jitter, jitter) * size) for k in range(1, n)] + [rows]
    paths = []
    for k in range(n):
        p = os.path.join(out_dir, f"{stem}_{k:03d}.parquet")
        pq.write_table(table.slice(cuts[k], cuts[k + 1] - cuts[k]), p)
        paths.append(p)
    return paths, cuts


def _con():
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=2")
    return con


def _files_sql(paths):
    return "read_parquet([" + ",".join(f"'{p}'" for p in paths) + "])"


def _ts_lit(us):
    import datetime as dt
    t = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=us)
    return t.strftime("%Y-%m-%d %H:%M:%S")


# ---------------------------------------------------------------- comparison

def _cell_eq(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)
    return str(a) == str(b)


def rows_equal(got, exp):
    """Row multisets equal, cell by cell, floats within 1e-9 relative
    (sums of doubles depend on the addition order)."""
    if len(got) != len(exp):
        return False, f"row count {len(got)} vs {len(exp)}"
    key = lambda r: tuple((x is None, str(x) if not isinstance(x, (int, float)) else float(x)) for x in r)
    g, e = sorted(got, key=key), sorted(exp, key=key)
    for rg, re_ in zip(g, e):
        if len(rg) != len(re_) or not all(_cell_eq(a, b) for a, b in zip(rg, re_)):
            return False, f"row {rg} vs {re_}"
    return True, ""


def _tables_equal(con, got_sql, exp_sql):
    """Exact multiset equality of two relations, both directions."""
    n1 = con.execute(f"SELECT count(*) FROM (({got_sql}) EXCEPT ALL ({exp_sql}))").fetchone()[0]
    n2 = con.execute(f"SELECT count(*) FROM (({exp_sql}) EXCEPT ALL ({got_sql}))").fetchone()[0]
    return n1 == 0 and n2 == 0, f"{n1} rows only in the program's table, {n2} only in the model"


# ---------------------------------------------------------------- lake_query

LINEITEM_SLICES = 12
# time travel reads one version replayed without a checkpoint and one just
# past the checkpoint at 10; fixed, so the seed varies only the filters
TRAVEL_SQL_VERSION, TRAVEL_JSON_VERSION = 9, 11
# the SparkEntry query each lake_query cycle runs over the sf testdata, so
# the operators layer (graft.operators.Dedup and the fingerprint function)
# is measured on a listed workload
CYCLE_OPERATOR = "q_dedup_exact"


def gen_lake_query(sf_dir, work, seed, n_ops=600):
    rng = random.Random(f"lake_query:{seed}")
    inp = os.path.join(work, "inputs")
    li = _read(sf_dir, "lineitem", ["l_shipdate"])
    li = li.sort_by([("l_shipdate", "ascending"), ("l_orderkey", "ascending"), ("l_linenumber", "ascending")])
    orders = _read(sf_dir, "orders", ["o_orderdate"]).sort_by("o_orderkey")
    cust = _read(sf_dir, "customer").sort_by("c_custkey")
    li_paths, cuts = _write_slices(li, LINEITEM_SLICES, rng, inp, "lineitem")
    o_paths, _ = _write_slices(orders, 4, rng, inp, "orders", jitter=0)
    c_paths, _ = _write_slices(cust, 1, rng, inp, "customer", jitter=0)
    ship = li.column("l_shipdate").cast(pa.int64())
    # each slice's whole days, so a date window sits inside one slice and
    # a lookup touches the same share of the table whatever the seed
    days = [((ship[cuts[k]].as_py() // DAY_US + 1) * DAY_US, (ship[cuts[k + 1] - 1].as_py() // DAY_US) * DAY_US)
            for k in range(LINEITEM_SLICES)]
    n_orders = orders.num_rows
    stats_cols = ["l_extendedprice", "l_quantity", "l_discount", "l_orderkey", "l_tax"]
    prios = sorted(set(orders.column("o_orderpriority").to_pylist()))

    def window(length_days):
        lo, hi = days[rng.randrange(LINEITEM_SLICES)]
        d0 = lo + rng.randrange(max(1, (hi - lo) // DAY_US - length_days)) * DAY_US
        return d0, d0 + length_days * DAY_US

    def li_at(v):
        return _files_sql(li_paths[:v])

    full_li, full_o, full_c = _files_sql(li_paths), _files_sql(o_paths), _files_sql(c_paths)
    cycle = ["date_window", "stats", "scan_agg", "key_range", "travel_sql",
             "date_window", "scan_join", "stats", "travel_json", "scan_window_join", "operator"]
    ops = []
    for i in range(n_ops):
        t = cycle[i % len(cycle)]
        if t == "date_window":
            d0, d1 = window(7)
            pred = f"l_shipdate >= TIMESTAMP '{_ts_lit(d0)}' AND l_shipdate < TIMESTAMP '{_ts_lit(d1)}'"
            sel = "SELECT count(*) AS n, sum(l_quantity) AS q, min(l_extendedprice) AS lo, max(l_extendedprice) AS hi"
            op = dict(kind="lookup", api="sql", text=f"{sel} FROM lineitem WHERE {pred}",
                      expect=f"{sel} FROM {full_li} WHERE {pred.replace('TIMESTAMP', 'TIMESTAMPTZ')}")
        elif t == "stats":
            c = rng.choice(stats_cols)
            v = rng.choice([0, 0, rng.randint(2, LINEITEM_SLICES)])
            req = {"table_name": "lineitem", "version": v, "aggregates": [
                {"function": "count", "column": "*", "alias": "n"},
                {"function": "min", "column": c, "alias": "lo"},
                {"function": "max", "column": c, "alias": "hi"}]}
            src = li_at(v) if v else full_li
            op = dict(kind="lookup", api="json", text=json.dumps(req),
                      expect=f"SELECT count(*), min({c}), max({c}) FROM {src}")
        elif t == "key_range":
            a = rng.randint(0, n_orders - 50)
            q = ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders "
                 f"WHERE o_orderkey BETWEEN {a} AND {a + 40}")
            op = dict(kind="lookup", api="lakesql", text=q, expect=q.replace("FROM orders", f"FROM {full_o}"))
        elif t == "scan_agg":
            d = rng.choice([0.0, 0.02, 0.04, 0.06])
            q = ("SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS q, "
                 "round(sum(l_extendedprice * (1 - l_discount)), 2) AS rev FROM {t} "
                 f"WHERE l_discount >= {d} GROUP BY l_returnflag, l_linestatus")
            op = dict(kind="scan", api="sql", text=q.format(t="lineitem"), expect=q.format(t=full_li))
        elif t == "scan_join":
            p = rng.choice(prios)
            q = ("SELECT c_mktsegment, count(*) AS n, round(sum(o_totalprice), 2) AS s "
                 "FROM {o} JOIN {c} ON o_custkey = c_custkey "
                 f"WHERE o_orderpriority = '{p}' GROUP BY c_mktsegment")
            op = dict(kind="scan", api="sql", text=q.format(o="orders", c="customer"),
                      expect=q.format(o=full_o + " AS o", c=full_c + " AS c"))
        elif t == "scan_window_join":
            d0, d1 = window(90)
            pred = f"l_shipdate >= TIMESTAMP '{_ts_lit(d0)}' AND l_shipdate < TIMESTAMP '{_ts_lit(d1)}'"
            q = ("SELECT o_orderpriority, count(*) AS n, sum(l_quantity) AS q "
                 "FROM {l} JOIN {o} ON l_orderkey = o_orderkey WHERE {p} GROUP BY o_orderpriority")
            op = dict(kind="scan", api="sql", text=q.format(l="lineitem", o="orders", p=pred),
                      expect=q.format(l=full_li + " AS l", o=full_o + " AS o", p=pred.replace("TIMESTAMP", "TIMESTAMPTZ")))
        elif t == "travel_sql":
            v = TRAVEL_SQL_VERSION
            tax = rng.choice([0.0, 0.02, 0.04, 0.06])
            sel = "SELECT count(*) AS n, sum(l_quantity) AS q, max(l_extendedprice) AS hi"
            op = dict(kind="travel", api="lakesql",
                      text=f"{sel} FROM lineitem VERSION AS OF {v} WHERE l_tax >= {tax}",
                      expect=f"{sel} FROM {li_at(v)} WHERE l_tax >= {tax}")
        elif t == "operator":
            op = dict(kind="operator", api="operator", text=CYCLE_OPERATOR)
        else:  # travel_json
            v = TRAVEL_JSON_VERSION
            qty = rng.randint(10, 45)
            req = {"table_name": "lineitem", "version": v, "filter": f"l_quantity > {qty}",
                   "aggregates": [{"function": "count", "column": "*", "alias": "n"},
                                  {"function": "max", "column": "l_discount", "alias": "hi"}]}
            op = dict(kind="travel", api="json", text=json.dumps(req),
                      expect=f"SELECT count(*), max(l_discount) FROM {li_at(v)} WHERE l_quantity > {qty}")
        op["id"] = f"q{i}"
        ops.append(op)
    # two warm-up cycles: in the first timed cycle after a single one, the
    # JIT is still speeding some op kinds up
    plan = dict(lineitem_slices=li_paths, orders_slices=o_paths, customer_slices=c_paths,
                ops=[{k: o[k] for k in ("id", "kind", "api", "text")} for o in ops],
                cycle=len(cycle), warmup=2 * len(cycle), trace_ops=len(cycle))
    return plan, dict(ops=ops)


def check_lake_query(state, result, out_dir, sf_dir):
    con = _con()
    bad = check_operators(result, out_dir, sf_dir)
    for r in result["ops"]:
        if not r["ok"] or r["kind"] == "operator":
            continue
        exp = con.execute(state["ops"][r["idx"]]["expect"]).fetchall()
        ok, why = rows_equal([tuple(x) for x in r["result"]["rows"]], [tuple(x) for x in exp])
        if not ok:
            bad[r["idx"]] = why
    return bad, []


# ---------------------------------------------------------------- lake_dml

N_BLOCKS = 300     # key blocks of orders (500 keys each at sf0.1)
INIT_BLOCKS = 60
DML_COLS = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"
BATCH_ROWS = 1000  # events rows per micro-batch of the lake_dml stream sink


def gen_lake_dml(sf_dir, work, seed, n_ops=300):
    rng = random.Random(f"lake_dml:{seed}")
    inp = os.path.join(work, "inputs")
    orders = _read(sf_dir, "orders", ["o_orderdate"]).sort_by("o_orderkey")
    keys = orders.column("o_orderkey").to_pylist()
    assert keys == list(range(len(keys))), "orders keys are expected dense from 0"
    block = len(keys) // N_BLOCKS
    src_paths, _ = _write_slices(orders, 4, rng, inp, "orders_src", jitter=0)
    init = orders.slice(0, INIT_BLOCKS * block)
    init_paths, _ = _write_slices(init, 6, rng, inp, "ord_init", jitter=0)
    fresh = list(range(INIT_BLOCKS, N_BLOCKS))
    rng.shuffle(fresh)
    # writes favour recent keys: MERGE, UPDATE and DELETE hit the newest
    # inserted block, so their cost does not hang on which file the seed
    # happens to pick (a compacted one or a fresh one)
    newest = INIT_BLOCKS - 1
    cycle = ["insert", "merge", "update", "delete", "optimize", "insert", "batch"]
    # the stream sink's micro-batches: consecutive time-ordered events
    # chunks from a seeded offset
    ev = _read(sf_dir, "events", ["ts"]).sort_by([("ts", "ascending"), ("event_id", "ascending")])
    n_batches = sum(1 for i in range(n_ops) if cycle[i % len(cycle)] == "batch")
    size = min(BATCH_ROWS, ev.num_rows // n_batches)
    offset = rng.randrange(ev.num_rows - n_batches * size + 1)
    chunk_dir = os.path.join(work, "chunks")
    os.makedirs(chunk_dir, exist_ok=True)
    chunks = []
    ops = []
    for i in range(n_ops):
        t = cycle[i % len(cycle)]
        if t == "batch":
            p = os.path.join(chunk_dir, f"chunk_{len(chunks):05d}.parquet")
            chunks.append(ev.slice(offset + len(chunks) * size, size))
            pq.write_table(chunks[-1], p)
            op = dict(kind="batch", chunk=p)
        elif t == "insert":
            newest = fresh.pop()
            lo, hi = newest * block, newest * block + block - 1
            sel = f"SELECT * FROM orders_src WHERE o_orderkey BETWEEN {lo} AND {hi}"
            op = dict(kind="insert", text=f"INSERT INTO ord {sel}", supplied=sel)
        elif t == "merge":
            # the upper 40% of the newest block and the lower 40% of the next
            a = newest * block + block * 6 // 10
            sel = ("SELECT o_orderkey, o_custkey, 'M' AS o_orderstatus, o_totalprice + 100.0 AS o_totalprice, "
                   f"o_orderdate, o_orderpriority FROM orders_src WHERE o_orderkey BETWEEN {a} AND {a + block * 8 // 10 - 1}")
            op = dict(kind="merge", text=f"MERGE INTO ord USING ({sel}) ON o_orderkey", supplied=sel)
        elif t == "update":
            a = newest * block + rng.randint(0, block - block * 2 // 5)
            op = dict(kind="update", text=("UPDATE ord SET o_totalprice = o_totalprice + 1.5, o_orderstatus = 'U' "
                                           f"WHERE o_orderkey BETWEEN {a} AND {a + block * 2 // 5 - 1}"))
        elif t == "delete":
            a = newest * block + rng.randint(0, block - block * 3 // 10)
            op = dict(kind="delete", text=f"DELETE FROM ord WHERE o_orderkey BETWEEN {a} AND {a + block * 3 // 10 - 1}")
        else:
            op = dict(kind="optimize", text="OPTIMIZE ord")
        op["id"] = f"d{i}"
        ops.append(op)
    plan = dict(src_slices=src_paths, init_slices=init_paths,
                ops=[{k: o[k] for k in ("id", "kind", "text", "chunk") if k in o} for o in ops],
                cycle=len(cycle), warmup=2 * len(cycle), trace_ops=len(cycle))  # as lake_query
    chunk_of = {o["id"]: k for k, o in enumerate(o for o in ops if o["kind"] == "batch")}
    return plan, dict(ops=ops, src_paths=src_paths, init_paths=init_paths, chunks=chunks, chunk_of=chunk_of)


def _model_apply(con, op):
    if op["kind"] == "insert":
        con.execute(f"INSERT INTO ord {op['supplied'].replace('SELECT *', 'SELECT ' + DML_COLS)}")
    elif op["kind"] == "merge":
        con.execute(f"DELETE FROM ord WHERE o_orderkey IN (SELECT o_orderkey FROM ({op['supplied']}))")
        con.execute(f"INSERT INTO ord {op['supplied']}")
    elif op["kind"] in ("update", "delete"):
        con.execute(op["text"])


def supplied_bytes(con, sql):
    """Parquet bytes of the rows a statement supplies (pyarrow writer,
    snappy, one file)."""
    buf = io.BytesIO()
    pq.write_table(con.execute(sql).arrow(), buf)
    return buf.tell()


def check_lake_dml(state, result, out_dir):
    """Replays the executed statements on a DuckDB model of the table and
    compares it with the program's table at the versions the benchmark JVM
    dumped (two earlier ones and the final one); a mismatch fails every
    statement since the last version that matched. The stream sink's table
    is recomputed in batch from the chunks its micro-batches took; a
    mismatch fails every micro-batch."""
    con = _con()
    con.execute(f"CREATE VIEW orders_src AS SELECT {DML_COLS} FROM {_files_sql(state['src_paths'])}")
    con.execute(f"CREATE TABLE ord AS SELECT {DML_COLS} FROM {_files_sql(state['init_paths'])}")
    checks = {c["after_op"]: c for c in result["finish"]["checks"]}
    bad = {}
    supplied = 0
    since_match = []
    for r in result["ops"]:
        op = state["ops"][r["idx"]]
        if op["kind"] == "batch":
            continue
        since_match.append(r["idx"])
        if r["ok"]:
            _model_apply(con, op)
            if "supplied" in op:
                supplied += supplied_bytes(con, op["supplied"])
        c = checks.get(r["idx"])
        if c:
            got = f"SELECT {DML_COLS} FROM read_parquet('{out_dir}/check/{c['name']}/*.parquet')"
            ok, why = _tables_equal(con, got, f"SELECT {DML_COLS} FROM ord")
            if not ok:
                bad.update((i, f"ord at version {c['version']} (after op {r['idx']}): {why}") for i in since_match)
            since_match = []
    fed = [r for r in result["ops"] if r["kind"] == "batch" and r["ok"]]
    why = _check_agg_sink(con, [state["chunks"][state["chunk_of"][r["id"]]] for r in fed], out_dir)
    if why:
        bad.update((r["idx"], f"ev_agg: {why}") for r in fed)
    return bad, [], supplied


# ---------------------------------------------------------------- stream_ingest

N_CHUNKS = 100    # events chunk files (1000 rows each at sf0.1)
LATENESS_MS = 6 * 3600 * 1000
SINKS = ["raw", "agg", "late"]
PHASE = 2         # batches a sink takes in a row


def gen_stream_ingest(sf_dir, work, seed):
    rng = random.Random(f"stream_ingest:{seed}")
    ev = _read(sf_dir, "events", ["ts"]).sort_by([("ts", "ascending"), ("event_id", "ascending")])
    n_chunks = N_CHUNKS
    chunk_rows = ev.num_rows // n_chunks
    # each row arrives with its time chunk, except a seeded 5% that arrive
    # one to four chunks late, so the late-routing sink has late rows
    target = []
    for k in range(n_chunks):
        for _ in range(chunk_rows):
            target.append(k + (rng.randint(1, 4) if k >= 2 and rng.random() < 0.05 else 0))
    target += [n_chunks - 1] * (ev.num_rows - len(target))
    target = [min(t, n_chunks - 1) for t in target]
    idx_by_chunk = [[] for _ in range(n_chunks)]
    for i, t in enumerate(target):
        idx_by_chunk[t].append(i)
    d = os.path.join(work, "chunks")
    os.makedirs(d, exist_ok=True)
    chunks, ops = [], []
    # warm-up: one batch per sink; then the sinks take turns in phases
    kinds = SINKS + [SINKS[j // PHASE % len(SINKS)] for j in range(n_chunks - len(SINKS))]
    for k in range(n_chunks):
        t = ev.take(pa.array(idx_by_chunk[k], pa.int64()))
        p = os.path.join(d, f"chunk_{k:05d}.parquet")
        pq.write_table(t, p)
        chunks.append(t)
        ops.append(dict(id=f"b{k}", kind=kinds[k], chunk=p))
    plan = dict(ops=ops, cycle=PHASE * len(SINKS), warmup=len(SINKS), trace_ops=PHASE * len(SINKS),
                lateness_ms=LATENESS_MS)
    return plan, dict(chunks=chunks)


def _check_agg_sink(con, chunks, out_dir):
    """The per-user aggregate sink's table against a batch group-by over
    the chunks it took; None if equal, else the difference."""
    dump = f"read_parquet('{out_dir}/check/ev_agg/*.parquet')"
    if not chunks:
        n = con.execute(f"SELECT count(*) FROM {dump}").fetchone()[0]
        return None if n == 0 else f"{n} rows from no input"
    con.register("agg_in", pa.concat_tables(chunks))
    ok, why = _tables_equal(con, f"SELECT user_id, n, vmax, last_ts FROM {dump}",
                            "SELECT user_id, count(*) AS n, max(value) AS vmax, max(ts) AS last_ts "
                            "FROM agg_in GROUP BY user_id")
    return None if ok else why


def check_stream_ingest(state, result, out_dir):
    """Recomputes every sink table in batch from the chunks each sink was
    given, in the order it got them; a mismatch fails every micro-batch of
    that sink."""
    con = _con()
    got = {s: [] for s in SINKS}
    for r in result["ops"]:
        if r["ok"]:
            got[r["kind"]].append(state["chunks"][int(r["id"][1:])])
    problems = []

    def dump(t):
        return f"read_parquet('{out_dir}/check/{t}/*.parquet')"

    def table(name, ts):
        if ts:
            con.register(name, pa.concat_tables(ts))
        else:
            con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM {dump('ev_raw')} LIMIT 0")

    cols = "event_id, ts, user_id, event_type, value, props"
    table("raw_in", got["raw"])
    ok, why = _tables_equal(con, f"SELECT {cols} FROM {dump('ev_raw')}", f"SELECT {cols} FROM raw_in")
    if not ok:
        problems.append(("raw", f"ev_raw: {why}"))
    why = _check_agg_sink(con, got["agg"], out_dir)
    if why:
        problems.append(("agg", f"ev_agg: {why}"))
    # late routing: a row is late when older than the running max event
    # time of the EARLIER batches minus the lateness
    on, late, wm = [], [], []
    prev = None
    for b, t in enumerate(got["late"]):
        ts = t.column("ts").cast(pa.int64())
        mask = pc.less(ts, prev - LATENESS_MS * 1000) if prev is not None else pa.array([False] * t.num_rows)
        late.append(t.filter(mask))
        on.append(t.filter(pc.invert(mask)))
        bmax = pc.max(ts).as_py()
        prev = bmax if prev is None or (bmax is not None and bmax > prev) else prev
        wm.append((b, prev))
    for name, ts in (("ontime_in", on), ("late_in", late)):
        table(name, ts)
    for t, model in (("ev_ontime", "ontime_in"), ("ev_late", "late_in")):
        ok, why = _tables_equal(con, f"SELECT {cols} FROM {dump(t)}", f"SELECT {cols} FROM {model}")
        if not ok:
            problems.append(("late", f"{t}: {why}"))
    got_wm = con.execute(f"SELECT batch_id, epoch_us(max_ts) FROM {dump('ev_wm')} ORDER BY batch_id").fetchall()
    if [tuple(x) for x in got_wm] != wm:
        problems.append(("late", f"ev_wm: {len(got_wm)} rows differ from the running max over {len(wm)} batches"))
    bad = {}
    for sink, why in problems:
        bad.update((r["idx"], why) for r in result["ops"] if r["ok"] and r["kind"] == sink)
    rows = {f"b{k}": t.num_rows for k, t in enumerate(state["chunks"])}
    return bad, [], rows


# ---------------------------------------------------------------- operator_suite

# dedup, search, LM/DSIR, graph, clustering and top-k families; no lake or
# streaming queries
OPERATOR_QUERIES = [
    "q_dedup_exact", "q_dedup_cc", "q_search_phrase", "q_vocab_coverage", "q_dsir",
    "q_lineage", "q_bfs_depth", "q_cluster_kmeans", "q_source_cap", "q_sort_limit",
    "q_window_rank", "q_heavy_hitters",
]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def gen_operator_suite(sf_dir, work, seed, n_ops=600):
    # the seed rotates where in the fixed list the run starts
    start = random.Random(f"operator_suite:{seed}").randrange(len(OPERATOR_QUERIES))
    order = OPERATOR_QUERIES[start:] + OPERATOR_QUERIES[:start]
    ops = [dict(id=order[i % len(order)], kind="query") for i in range(n_ops)]
    plan = dict(ops=ops, tables=TABLES, cycle=len(order), warmup=len(order), trace_ops=len(order))
    return plan, {}


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def oracle_compare(got, exp):
    """The oracle gate's comparison: columns by name, rows sorted, floats
    exact, integer and float kinds not mixed."""
    import numpy as np
    import pandas as pd
    g, e = _canon(got), _canon(exp)
    if list(g.columns) != list(e.columns):
        return f"columns differ: {list(g.columns)} vs {list(e.columns)}"
    if len(g) != len(e):
        return f"row count {len(g)} vs {len(e)}"
    for c in g.columns:
        gv, ev = g[c], e[c]
        if (gv.dtype.kind in "iu") != (ev.dtype.kind in "iu") and {gv.dtype.kind, ev.dtype.kind} & {"f"}:
            return f"col {c}: dtype kind skew ({gv.dtype} vs {ev.dtype})"
        if gv.dtype.kind == "f" or ev.dtype.kind == "f":
            ga, ea = gv.astype(float).to_numpy(), ev.astype(float).to_numpy()
            if not ((ga == ea) | (np.isnan(ga) & np.isnan(ea))).all():
                return f"col {c}: float values differ"
        elif gv.dtype.kind == "M" or ev.dtype.kind == "M":
            if not (pd.to_datetime(gv).astype("datetime64[us]") == pd.to_datetime(ev).astype("datetime64[us]")).all():
                return f"col {c}: timestamp mismatch"
        elif not (gv.astype(str).to_numpy() == ev.astype(str).to_numpy()).all():
            return f"col {c}: values differ"
    return None


def check_operator_suite(state, result, out_dir, sf_dir):
    return check_operators(result, out_dir, sf_dir), []


def check_operators(result, out_dir, sf_dir):
    """Each SparkEntry query's first result against its oracleSql in DuckDB
    over the sf testdata. A mismatching query stays in the mix; its ops
    count as failed."""
    import pandas as pd
    ran = [r for r in result["ops"] if r["ok"] and "query" in r["extra"]]
    if not ran:
        return {}
    con = _con()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = result["finish"]["oracle_sql"]
    verdict = {}
    for name in {r["extra"]["query"] for r in ran}:
        if name not in oracle:
            verdict[name] = "no oracle SQL"
            continue
        got = pd.read_parquet(os.path.join(out_dir, "check", name))
        try:
            verdict[name] = oracle_compare(got, con.execute(oracle[name]).df())
        except Exception as e:  # noqa: BLE001 - reported as a mismatch
            verdict[name] = f"oracle error: {e}"
    return {r["idx"]: verdict[r["extra"]["query"]] for r in ran if verdict.get(r["extra"]["query"])}
