"""Seeded inputs and output checks for the three benchmark workloads.

Each workload has two halves:

* ``plan_<workload>(rng, dirs)`` returns the workload's part of the plan
  the JVM harness runs: the op streams of every pass, the warm pass and
  the DDL that registers its sources. The seed decides the order of the
  ops and their parameters; the mix of op kinds in a pass is fixed, so
  every seed measures the same kind of work.
* ``check_<workload>(plan, result, dirs)`` returns the set of op indexes
  whose output was wrong, judged against DuckDB or against a model.
"""
import hashlib
import json
import math
import os

import duckdb
import pyarrow.parquet as pq

# The pipeline operators: the five DistributedRank queries (ROADMAP
# direction 3), the dHash near-dup join, and the two eager-builder
# queries q148 (BPE training) and q162 (PageRank) from the job-floor list
# (direction 5). The heavier pipeline queries, among them the open
# regressions q43, q81 and q89, are left out so that a run stays under a
# minute and steady; see README.md.
PIPELINE_QUERIES = [
    "q99_distributed_rank", "q102_sequence_packing", "q123_corpus_shuffle",
    "q133_source_cap", "q138_token_budget", "q143_dhash_neardup", "q148_bpe_train",
    "q162_pagerank_centrality",
]

CORPUS_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                 "lineitem", "events", "documents", "embeddings"]

# op streams are made for this many passes; a run makes the passes that
# fit in --seconds, at least the workload's minimum
MAX_PASSES = 12

HERE = os.path.dirname(os.path.abspath(__file__))


def duck(corpus_dir):
    """A DuckDB connection with the corpus tables as views."""
    con = duckdb.connect()
    for t in CORPUS_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{corpus_dir}/{t}.parquet'")
    return con


# --------------------------------------------------------------------------
# pipeline_heavy

def plan_pipeline_heavy(rng, dirs):
    # the first pass after the warm pass still runs 10-15% slower while
    # the JIT compiles the queries' generated code, so it is run untimed
    warm_passes = 1
    passes = []
    for k in range(MAX_PASSES):
        order = [{"q": q, "trace_pass": i % 2} for i, q in enumerate(PIPELINE_QUERIES)]
        if k >= warm_passes:
            rng.shuffle(order)
        passes.append(order)
    # the warm-up (the warm pass and the untimed pass) runs in a fixed
    # order, so the code the JIT compiles during it does not depend on the
    # seed; the seed orders every timed pass
    warm = list(PIPELINE_QUERIES)
    # one pass has only eight ops, whose latencies depend on their order:
    # at least two passes give the medians sixteen
    return {"passes": passes, "warm": warm, "warm_passes": warm_passes, "min_passes": 2}


def _norm_cell(v):
    # equal numbers must print alike whichever engine typed them
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v.is_integer():
            return int(v)
    return v


def fingerprint(rel):
    """Row count and sha256 of a relation: columns sorted by name, rows
    sorted by value, the comparison scripts/check_oracle.py makes."""
    cols = list(rel.columns)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(_norm_cell(r[i]) for i in order) for r in rel.fetchall()]
    rows.sort(key=lambda t: tuple((x is None, str(type(x)), x) for x in t))
    h = hashlib.sha256(repr(([cols[i] for i in order], rows)).encode())
    return {"rows": len(rows), "sha256": h.hexdigest()}


def expected_pipeline():
    with open(os.path.join(HERE, "expected", "pipeline_heavy.json")) as f:
        return json.load(f)


def check_pipeline_heavy(plan, result, dirs):
    """Each query's warm-pass output must match its pinned fingerprint;
    a wrong query fails every timed op that ran it."""
    want = expected_pipeline()
    con = duckdb.connect()
    wrong = set()
    for q in PIPELINE_QUERIES:
        try:
            got = fingerprint(con.sql(f"SELECT * FROM '{dirs['out']}/{q}/*.parquet'"))
        except Exception as e:  # a missing or unreadable output is wrong
            print(f"[perfbench] {q}: no readable output ({e})")
            got = None
        if got != want[q]:
            print(f"[perfbench] {q}: output {got} != pinned {want[q]}")
            wrong.add(q)
    return {i for i, op in enumerate(result["ops"]) if op["name"] in wrong}


# --------------------------------------------------------------------------
# interactive_sql

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ORDERS_DELTA_KEYS = 30000  # orders_delta holds the orders with smaller keys
DML_KEYS = 30000  # the DML table t starts with the orders with smaller keys
INSERT_CHUNK = 1500
# versions each Delta table's history holds after set-up
HISTORY = {"orders_delta": 1, "customer_dv": 3, "part_cp": 2}
# the columns of the NDJSON copy of events
EVENTS_JSON_COLUMNS = ["event_id", "user_id", "event_type", "value"]
DV_DELETED = "c_custkey % 7 = 0"  # the set-up DELETE on customer_dv
CHECKSUM = ("SELECT count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS k,"
            " CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS c FROM {}")

# the corpus table (and filter) each registered table holds
SOURCE_OF = {
    "customer_csv": ("customer", None), "events_json": ("events", None),
    "supplier_arrow": ("supplier", None),
    "orders_delta": ("orders", f"o_orderkey < {ORDERS_DELTA_KEYS}"),
    "customer_dv": ("customer", f"NOT ({DV_DELETED})"), "part_cp": ("part", None),
}


def interactive_ddl(data):
    sf = f"{data}/sf0.1"
    ddl = [f"CREATE EXTERNAL TABLE {t} STORED AS PARQUET LOCATION '{sf}/{t}.parquet'"
           for t in ["orders", "lineitem", "customer", "nation", "part", "supplier",
                     "events"]]
    ddl += [
        f"CREATE EXTERNAL TABLE customer_csv STORED AS CSV LOCATION '{data}/customer_csv'",
        f"CREATE EXTERNAL TABLE events_json STORED AS NDJSON LOCATION '{data}/events_json'",
        f"CREATE EXTERNAL TABLE supplier_arrow STORED AS ARROW LOCATION '{data}/supplier_arrow'",
    ]
    ddl += [f"CREATE EXTERNAL TABLE {t} STORED AS DELTA LOCATION '{data}/{t}'"
            for t in ["orders_delta", "customer_dv", "part_cp", "t"]]
    return ddl


def _templates(rng, data):
    """One CLI statement per template, as (verb, kind, sql, check)."""
    r = rng.randrange
    y = r(1995, 2001)
    out = []

    def sel(verb, sql):
        # the oracle reads the corpus table each registered table holds
        d = sql
        for t, (src, flt) in SOURCE_OF.items():
            d = d.replace(f" {t} ", f" (SELECT * FROM {src}"
                          + (f" WHERE {flt}" if flt else "") + f") {t} ")
        if verb == "view":
            d += " LIMIT 50"
        out.append((verb, "select", sql, {"type": "rows", "duck": d}))

    t = rng.choice(["orders", "orders_delta"])
    sel("execute",
        f"SELECT o_orderstatus, count(*) AS n, CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS cents"
        f" FROM {t} WHERE o_orderdate >= TIMESTAMP '{y}-01-01 00:00:00'"
        f" AND o_orderdate < TIMESTAMP '{y + 1}-01-01 00:00:00'"
        f" GROUP BY o_orderstatus ORDER BY o_orderstatus")
    sel("execute",
        f"SELECT l_returnflag, l_linestatus, count(*) AS n, CAST(sum(l_quantity) AS BIGINT) AS qty"
        f" FROM lineitem WHERE l_shipdate < TIMESTAMP '{y}-0{r(1, 10)}-01 00:00:00'"
        f" GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus")
    sel("execute",
        f"SELECT n.n_name, count(*) AS n FROM customer c JOIN nation n"
        f" ON c.c_nationkey = n.n_nationkey WHERE c.c_mktsegment = '{rng.choice(SEGMENTS)}'"
        f" GROUP BY n.n_name ORDER BY n.n_name")
    sel("execute",
        f"SELECT c.c_mktsegment, count(*) AS n FROM orders o JOIN customer c"
        f" ON o.o_custkey = c.c_custkey WHERE o.o_orderpriority = '{rng.choice(PRIORITIES)}'"
        f" GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment")
    sel("execute",
        f"SELECT c_mktsegment, count(*) AS n FROM customer_csv WHERE c_nationkey = {r(25)}"
        f" GROUP BY c_mktsegment ORDER BY c_mktsegment")
    m = r(5, 40)
    sel("execute",
        f"SELECT event_type, count(*) AS n, CAST(sum(round(value * 100)) AS BIGINT) AS v"
        f" FROM events_json WHERE user_id % {m} = {r(m)} GROUP BY event_type ORDER BY event_type")
    sel("execute",
        f"SELECT s_nationkey, count(*) AS n FROM supplier_arrow WHERE s_acctbal > {r(-900, 9000)}"
        f" GROUP BY s_nationkey ORDER BY s_nationkey")
    sel("execute",
        f"SELECT c_nationkey, count(*) AS n FROM customer_dv WHERE c_acctbal > {r(-900, 9000)}"
        f" GROUP BY c_nationkey ORDER BY c_nationkey")
    a = r(1, 40)
    sel("execute",
        f"SELECT p_brand, count(*) AS n FROM part_cp WHERE p_size BETWEEN {a} AND {a + r(1, 10)}"
        f" GROUP BY p_brand ORDER BY p_brand")
    sel("view", f"SELECT o_orderkey, o_custkey, o_orderstatus FROM orders"
                f" WHERE o_custkey = {r(15000)} ORDER BY o_orderkey")
    sel("view", f"SELECT l_orderkey, l_linenumber, l_partkey FROM lineitem"
                f" WHERE l_partkey = {r(20000)} ORDER BY l_orderkey, l_linenumber")
    sel("view", f"SELECT o_orderkey, o_orderpriority FROM orders_delta"
                f" WHERE o_orderkey >= {r(ORDERS_DELTA_KEYS - 100)} ORDER BY o_orderkey")
    sel("view", f"SELECT event_id, event_type FROM events_json"
                f" WHERE user_id = {r(1500)} ORDER BY event_id")
    sel("view", f"SELECT c_custkey, c_name FROM customer_dv"
                f" WHERE c_nationkey = {r(25)} ORDER BY c_custkey")

    prefix = rng.choice(["orders", "customer", "part", "supplier", "events"])
    out.append(("execute", "meta",
                f"SELECT table_name FROM information_schema.tables"
                f" WHERE table_name LIKE '{prefix}%' ORDER BY table_name",
                {"type": "tables", "prefix": prefix}))
    t = rng.choice(sorted(SOURCE_OF))
    out.append(("execute", "meta",
                f"SELECT column_name FROM information_schema.columns"
                f" WHERE table_name = '{t}' ORDER BY ordinal_position",
                {"type": "columns", "table": t}))
    t = rng.choice(["orders", "lineitem", "part"] + sorted(SOURCE_OF))
    out.append(("schema", "meta", f"describe {t}", {"type": "columns", "table": t}))
    out.append(("execute", "meta", "SHOW TBLPROPERTIES customer_dv",
                {"type": "contains", "row": ["delta.enableDeletionVectors", "true"]}))
    t = rng.choice(sorted(HISTORY))
    out.append(("execute", "meta", f"DESCRIBE HISTORY {t}",
                {"type": "count", "n": HISTORY[t]}))
    out.append(("execute", "ddl",
                f"CREATE EXTERNAL TABLE alias_{r(10 ** 6)} STORED AS PARQUET"
                f" LOCATION '{data}/sf0.1/nation.parquet'", {"type": "empty"}))
    # a traced run traces each template in one of its two passes
    return [{"verb": v, "kind": k, "sql": q, "check": c, "trace_pass": i % 2}
            for i, (v, k, q, c) in enumerate(out)]


def _dml(rng, state, table, kind):
    """One write of `kind` on `table` plus its checksum read.
    `state["frontier"]` is the first order key not yet inserted: inserts
    add the next chunk, merges straddle the frontier so they both update
    and insert."""
    m = rng.randrange(50, 120)
    r = rng.randrange(m)
    f = state["frontier"]
    if kind == "checkpoint":
        w = {"sql": ""}
    elif kind == "insert":
        w = {"lo": f, "hi": f + INSERT_CHUNK,
             "sql": f"INSERT INTO {table} SELECT * FROM orders"
                    f" WHERE o_orderkey >= {f} AND o_orderkey < {f + INSERT_CHUNK}"}
        state["frontier"] = f + INSERT_CHUNK
    elif kind == "delete_dv":
        w = {"m": m, "r": r, "sql": f"DELETE FROM {table} WHERE o_custkey % {m} = {r}"}
    elif kind == "update":
        w = {"m": m, "r": r, "sql": f"UPDATE {table} SET o_totalprice = o_totalprice + 1"
                                    f" WHERE o_custkey % {m} = {r}"}
    else:
        lo, hi = f - INSERT_CHUNK // 2, f + INSERT_CHUNK // 2
        w = {"lo": lo, "hi": hi,
             "sql": f"MERGE INTO {table} USING (SELECT * FROM orders"
                    f" WHERE o_orderkey >= {lo} AND o_orderkey < {hi}) s"
                    f" ON {table}.o_orderkey = s.o_orderkey"
                    f" WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"}
        state["frontier"] = hi
    tp = WRITE_KINDS.index(kind) % 2
    w.update(verb="write", kind=kind, table=table, trace_pass=tp)
    return [w, {"verb": "read", "kind": "checksum", "sql": CHECKSUM.format(table),
                "check": {"type": "model"}, "trace_pass": tp}]


WRITE_KINDS = ["insert", "delete_dv", "update", "merge", "checkpoint"]


def plan_interactive_sql(rng, dirs):
    """Each pass: every CLI template once and one write of each kind on t,
    each write followed by its read, in seeded order."""
    state = {"frontier": DML_KEYS}
    passes = []
    for _ in range(MAX_PASSES):
        units = [[s] for s in _templates(rng, dirs["data"])]
        units += WRITE_KINDS
        rng.shuffle(units)
        # writes take their key ranges in the order they run
        passes.append([s for u in units
                       for s in (_dml(rng, state, "t", u) if isinstance(u, str) else u)])
    # the warm pass writes t too, above every key the timed passes insert
    wstate = {"frontier": 140000}
    warm = _templates(rng, dirs["data"])
    warm += [s for k in WRITE_KINDS for s in _dml(rng, wstate, "t", k)]
    # the warm pass already runs every template and DML kind, so no op
    # pass is untimed; two timed passes give the medians sixty ops
    return {"passes": passes, "warm": warm, "ddl": interactive_ddl(dirs["data"]),
            "orders_delta_keys": ORDERS_DELTA_KEYS, "dml_keys": DML_KEYS,
            "warm_passes": 0, "min_passes": 2}


def make_interactive_inputs(corpus_dir, inputs):
    """CSV, NDJSON and Arrow copies of corpus tables, made with DuckDB and
    pyarrow so the program only reads them."""
    import pyarrow.ipc as ipc
    con = duck(corpus_dir)
    for d in ["customer_csv", "events_json", "supplier_arrow"]:
        os.makedirs(f"{inputs}/{d}", exist_ok=True)
    con.sql(f"COPY (SELECT * FROM customer ORDER BY c_custkey)"
            f" TO '{inputs}/customer_csv/customer.csv' (HEADER)")
    con.sql(f"COPY (SELECT {', '.join(EVENTS_JSON_COLUMNS)} FROM events ORDER BY event_id)"
            f" TO '{inputs}/events_json/events.json' (FORMAT JSON)")
    table = pq.read_table(f"{corpus_dir}/supplier.parquet")
    with ipc.new_file(f"{inputs}/supplier_arrow/supplier.arrow", table.schema) as w:
        for batch in table.to_batches(max_chunksize=(table.num_rows + 1) // 2):
            w.write_batch(batch)


def parse_box(text):
    """Rows of an Output.format table: [header, row, ...] as strings."""
    rows = []
    for line in text.split("\n"):
        if line.startswith("| "):
            rows.append([c.strip() for c in line[2:-2].split(" | ")])
    return rows


def _cell(v):
    return "" if v is None else str(v)


class TableModel:
    """The benchmark's own model of the DML table: order key ->
    (customer key, total price), replayed from the executed writes."""

    def __init__(self, corpus_dir):
        o = pq.read_table(f"{corpus_dir}/orders.parquet",
                          columns=["o_orderkey", "o_custkey", "o_totalprice"]).to_pydict()
        self.src = {k: (c, p) for k, c, p in
                    zip(o["o_orderkey"], o["o_custkey"], o["o_totalprice"])}
        self.rows = {k: v for k, v in self.src.items() if k < DML_KEYS}

    def apply(self, w):
        kind = w["kind"]  # a checkpoint changes no row
        if kind in ("insert", "merge"):
            for key in range(w["lo"], w["hi"]):
                self.rows[key] = self.src[key]
        elif kind == "delete_dv":
            self.rows = {k: x for k, x in self.rows.items() if x[0] % w["m"] != w["r"]}
        elif kind == "update":
            self.rows = {k: ((x[0], x[1] + 1.0) if x[0] % w["m"] == w["r"] else x)
                         for k, x in self.rows.items()}

    def checksum(self):
        return (f"{len(self.rows)},{sum(self.rows)},"
                f"{sum(int(round(x[1] * 100)) for x in self.rows.values())}")


def check_interactive_sql(plan, result, dirs):
    """CLI statements are checked against DuckDB over the corpus (or the
    registered names and schemas); each checksum read against the model
    of table t after the writes that ran before it. A wrong read also
    fails the write before it."""
    con = duck(dirs["corpus"])
    ddl_names = {d.split()[3] for d in plan["ddl"]}
    model = TableModel(dirs["corpus"])
    cache = {}

    def columns(t):
        if t == "events_json":
            return EVENTS_JSON_COLUMNS
        src, _ = SOURCE_OF.get(t, (t, None))
        return [r[0] for r in con.sql(f"DESCRIBE {src}").fetchall()]

    # the writes of the warm pass and the untimed passes ran before the
    # timed ones; a warm write that failed shows as a wrong read later
    for st in plan["warm"] + [s for p in plan["passes"][:plan["warm_passes"]] for s in p]:
        if st["verb"] == "write":
            model.apply(st)
    wrong = set()
    last_write = None
    for i, op in enumerate(result["ops"]):
        k = sum(1 for o in result["ops"][:i] if o["pass"] == op["pass"])
        st = plan["passes"][op["pass"]][k]
        if st["verb"] == "write":
            last_write = i
            if op["ok"]:
                model.apply(st)
            continue
        if not op["ok"]:
            continue
        chk = st["check"]
        got = parse_box(op["out"])
        body = got[1:]
        if chk["type"] == "model":
            ok = op["out"] == model.checksum()
            if not ok and last_write is not None:
                wrong.add(last_write)
        elif chk["type"] == "rows":
            if chk["duck"] not in cache:
                rel = con.sql(chk["duck"])
                cache[chk["duck"]] = [list(rel.columns)] + [
                    [_cell(v) for v in row] for row in rel.fetchall()]
            ok = got == cache[chk["duck"]]
        elif chk["type"] == "tables":
            ok = [r[0] for r in body] == sorted(n for n in ddl_names
                                                if n.startswith(chk["prefix"]))
        elif chk["type"] == "columns":
            ok = sorted(r[0] for r in body) == sorted(columns(chk["table"]))
        elif chk["type"] == "contains":
            ok = chk["row"] in body
        elif chk["type"] == "count":
            ok = len(body) == chk["n"]
        else:
            ok = op["out"] == "++\n++"
        if not ok:
            wrong.add(i)
            if len(wrong) <= 3:
                print(f"[perfbench] wrong output for: {st['sql']}\n{op['out'][:400]}")
    return wrong
