"""The three workloads: set-up statements, seeded operation lists, and the
oracle or model that says what every answer must be.

Each builder returns a `Workload`. Its `plan` goes to the runner JVM;
its `expect` maps an operation id to the answer graft must give, and is
evaluated only after the run, for the operations that ran.

Every statement is generated here from the seed. graft receives only
these statements and the generated parquet tables; the answers come
from DuckDB over the same parquet files or from this file's own model
of the writes, never from graft.
"""
import os
import random
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

# Enough operations that no run reaches the end of its list.
OPS_PER_RUN = 4000

LINEITEM_COLS = ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, "
                 "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, "
                 "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, "
                 "l_linestatus STRING, l_shipdate TIMESTAMP")
LINEITEM_SELECT = ("l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, "
                   "l_extendedprice, l_discount, l_tax, l_returnflag, "
                   "l_linestatus, CAST(l_shipdate AS TIMESTAMP)")


@dataclass
class Workload:
    name: str
    sf: float
    plan: dict
    # op id -> ("duck", sql) | ("rows", rows) | ("set", column, values) | ("ok",)
    expect: dict = field(default_factory=dict)


def _op(ops, cls, **kw):
    ops.append(dict(id=len(ops), cls=cls, **kw))
    return ops[-1]["id"]


def _deck(rng, counts):
    """A shuffled deck holding each template `counts[t]` times, so every
    run sees the same mix whatever the seed."""
    deck = [t for t, n in counts.items() for _ in range(n)]
    rng.shuffle(deck)
    return deck


def _schedule(rng, mix, make, n_ops, extra_warmup=(), trail=lambda deck: None):
    """Warm-up operations (ids below zero) and whole decks of measured
    operations. The warm-up runs each kind once and then one whole deck:
    after a single pass, the first measured deck still ran 10-20% slower
    than the next. Each measured operation carries its deck number; a run
    stops only between decks, so every run holds the same mix.
    `trail(deck)` may name one more kind to end a deck with."""
    warmup, ops, expect = [], [], {}
    for kind in list(extra_warmup) + list(mix) + _deck(rng, mix):
        make(kind, warmup, {})
    for w in warmup:
        w["id"] = -1 - w["id"]
    deck = 0
    while len(ops) < n_ops:
        first = len(ops)
        kinds = _deck(rng, mix)
        if trail(deck):
            kinds.append(trail(deck))
        for kind in kinds:
            make(kind, ops, expect)
        for o in ops[first:]:
            o["deck"] = deck
        deck += 1
    return warmup, ops, expect


def _months():
    out = []
    for y in range(1995, 2002):
        for m in range(1, 13):
            out.append(f"{y}-{m:02d}-01")
    return out[:83]  # 1995-01 .. 2001-11: the shipdate range


def _plan(catalog, views, setup, warmup, ops, end_tables=(), history_tables=(),
          snapshot_tables=()):
    return dict(catalog=catalog, views=views, setup=setup, warmup=warmup,
                ops=ops, end_tables=list(end_tables),
                history_tables=list(history_tables),
                snapshot_tables=list(snapshot_tables))


# ------------------------------------------------------------------ kernels

FAMILIES = ("q", "pt", "dd", "ann", "ta", "ev", "pipeline", "mm")


def family(key):
    head = key.split("_")[0]
    return "q" if head[0] == "q" and head[1:].isdigit() else head


# One SparkEntry operator key per family, run by every traced run after
# its closed loop: twice each in a seeded order, the first pass as warm-up
# and oracle answer. Keys whose DuckDB oracle alone takes
# seconds (the all-pairs dedup ones) are left out so a new seed's oracle
# stays cheap.
KERNEL_KEYS = ("q03_join_agg_topn", "pt_zorder", "dd_simhash", "ann_lsh_topk",
               "ta_bm25", "ev_sessionize", "pipeline_decontaminate", "mm_image_dedup")
KERNEL_SF = 0.01
KERNEL_ID0 = 1_000_000


def kernel_ops(seed):
    """Operator-key operations for the traced run: ids from KERNEL_ID0."""
    order = list(KERNEL_KEYS)
    random.Random(seed).shuffle(order)
    return [dict(id=KERNEL_ID0 + i, cls="read", key=k) for i, k in enumerate(order + order)]


# ---------------------------------------------------------------- analytics

ANALYTICS_APPENDS = 8
ORDERS_APPENDS = 2


def analytics_read(seed, data_dir):
    """Read-only analytics over a lineitem table built by 8 time-ordered
    appends (about ten month partitions each) and an orders table built
    by 2 key-range appends, so key lookups can prune on file stats."""
    rng = random.Random(seed)
    months = _months()
    n_orders = pq.read_metadata(f"{data_dir}/orders.parquet").num_rows
    # The appends read a copy of lineitem sorted by ship date in small row
    # groups, so each append reads only its own months of the source.
    by_date = f"{data_dir}/lineitem_by_shipdate.parquet"
    if not os.path.exists(by_date):
        t = pq.read_table(f"{data_dir}/lineitem.parquet").sort_by("l_shipdate")
        pq.write_table(t, by_date + ".tmp", row_group_size=8192)
        os.replace(by_date + ".tmp", by_date)
    if not os.path.exists(f"{data_dir}/orders_rg.parquet"):
        pq.write_table(pq.read_table(f"{data_dir}/orders.parquet"),
                       f"{data_dir}/orders_rg.parquet.tmp", row_group_size=8192)
        os.replace(f"{data_dir}/orders_rg.parquet.tmp", f"{data_dir}/orders_rg.parquet")
    bounds = [months[round(i * (len(months) - 1) / ANALYTICS_APPENDS)]
              for i in range(ANALYTICS_APPENDS + 1)]
    setup = ["CREATE NAMESPACE IF NOT EXISTS {cat}.db",
             f"CREATE TABLE {{cat}}.db.lineitem ({LINEITEM_COLS}) "
             "PARTITIONED BY (months(l_shipdate))"]
    for a, b in zip(bounds, bounds[1:]):
        setup.append(f"INSERT INTO {{cat}}.db.lineitem SELECT {LINEITEM_SELECT} "
                     f"FROM src_lineitem WHERE l_shipdate >= TIMESTAMP '{a}' "
                     f"AND l_shipdate < TIMESTAMP '{b}'")
    setup.append("CREATE TABLE {cat}.db.orders (o_orderkey BIGINT, "
                 "o_custkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE, "
                 "o_orderdate TIMESTAMP, o_orderpriority STRING)")
    step = -(-n_orders // ORDERS_APPENDS)
    for i in range(ORDERS_APPENDS):
        setup.append("INSERT INTO {cat}.db.orders SELECT o_orderkey, o_custkey, "
                     "o_orderstatus, o_totalprice, CAST(o_orderdate AS TIMESTAMP), "
                     f"o_orderpriority FROM src_orders WHERE o_orderkey >= {i * step} "
                     f"AND o_orderkey < {(i + 1) * step}")

    T, O = "{cat}.db.lineitem", "{cat}.db.orders"
    n_li = pq.read_metadata(f"{data_dir}/lineitem.parquet").num_rows

    def make(kind, ops, expect):
        if kind == "range":
            i = rng.randrange(len(months) - 4)
            a, b = months[i], months[i + rng.randint(1, 3)]
            where = f"l_shipdate >= TIMESTAMP '{a}' AND l_shipdate < TIMESTAMP '{b}'"
            q = f"SELECT count(*), sum(l_quantity), sum(l_extendedprice) FROM {{t}} WHERE {where}"
            oid = _op(ops, "read", sql=q.format(t=T))
            expect[oid] = ("duck", q.format(t="lineitem"))
        elif kind == "groupby":
            cut = months[rng.randrange(60, len(months) - 1)]
            q = ("SELECT l_returnflag, l_linestatus, count(*), sum(l_quantity), "
                 "sum(l_extendedprice * (1 - l_discount)) FROM {t} "
                 f"WHERE l_shipdate < TIMESTAMP '{cut}' GROUP BY l_returnflag, l_linestatus")
            oid = _op(ops, "read", sql=q.format(t=T))
            expect[oid] = ("duck", q.format(t="lineitem"))
        elif kind == "join":
            i = rng.randrange(len(months) - 4)
            a, b = months[i], months[i + 3]
            q = ("SELECT o.o_orderpriority, count(*), sum(l.l_extendedprice) "
                 "FROM {t} l JOIN {o} o ON l.l_orderkey = o.o_orderkey "
                 f"WHERE l.l_shipdate >= TIMESTAMP '{a}' AND l.l_shipdate < TIMESTAMP '{b}' "
                 "GROUP BY o.o_orderpriority")
            oid = _op(ops, "read", sql=q.format(t=T, o=O))
            expect[oid] = ("duck", q.format(t="lineitem", o="orders"))
        elif kind == "lookup":
            k = rng.randrange(n_orders)
            q = f"SELECT o_custkey, o_orderstatus, o_totalprice FROM {{o}} WHERE o_orderkey = {k}"
            oid = _op(ops, "read", sql=q.format(o=O))
            expect[oid] = ("duck", q.format(o="orders"))
        elif kind == "version":
            j = rng.randrange(2, ANALYTICS_APPENDS)
            oid = _op(ops, "read", sql=f"SELECT count(*), sum(l_quantity) FROM {T} "
                                       f"VERSION AS OF {{snap0:{j}}}")
            expect[oid] = ("duck", "SELECT count(*), sum(l_quantity) FROM lineitem "
                                   f"WHERE l_shipdate < TIMESTAMP '{bounds[j + 1]}'")
        elif kind == "minmax":
            oid = _op(ops, "read", sql="SELECT count(*), unix_micros(min(l_shipdate)), "
                                       f"unix_micros(max(l_shipdate)) FROM {T}")
            expect[oid] = ("duck", "SELECT count(*), epoch_us(min(l_shipdate)), "
                                   "epoch_us(max(l_shipdate)) FROM lineitem")
        elif kind == "snapshots":
            oid = _op(ops, "read", sql=f"SELECT count(*) FROM {T}.snapshots "
                                       "WHERE operation = 'append'")
            expect[oid] = ("rows", [[ANALYTICS_APPENDS]])
        elif kind == "files":
            oid = _op(ops, "read", sql=f"SELECT sum(records) FROM {T}.files WHERE content = 0")
            expect[oid] = ("rows", [[n_li]])

    mix = dict(range=5, groupby=2, join=2, lookup=4, version=2, minmax=2,
               snapshots=1, files=2)
    warmup, ops, expect = _schedule(rng, mix, make, OPS_PER_RUN)
    plan = _plan("warehouse", {"src_lineitem": "lineitem_by_shipdate.parquet",
                               "src_orders": "orders_rg.parquet"},
                 setup, warmup, ops, end_tables=[T, O], history_tables=[T, O],
                 snapshot_tables=[T])
    return Workload("analytics_read", 0.1, plan, expect)


# ------------------------------------------------------------------- ingest

INGEST_SHIFT = 10_000_000
# Orders per INSERT batch, one size per stratum: the geometric middles of
# four strata spanning 1k..50k rows (about 4 rows per order). Sizes are
# fixed, not drawn, so every seed writes the same amount: with sizes
# drawn within the strata, runs of one seed were 15-20% slower than runs
# of another.
INGEST_BATCH_ORDERS = tuple(round(250 * 50 ** ((i + 0.5) / 4)) for i in range(4))
# Orders a MERGE updates (line numbers 1-2 of each) and inserts, and
# orders a DELETE removes; every batch holds at least this many.
MERGE_ORDERS = 250
DELETE_ORDERS = 100


class IngestModel:
    """The benchmark's own model of the ingest table. Keys are
    (l_orderkey + shift) * 8 + l_linenumber with a fresh shift per batch,
    so batches never share a key; each batch keeps its rows as sorted
    arrays with a live mask, and running totals make every read O(1)."""

    def __init__(self, li):
        self.okey = li["l_orderkey"]
        self.line = li["l_linenumber"].astype(np.int64)
        self.qty = li["l_quantity"]
        self.year = li["l_shipdate"].astype("datetime64[Y]").astype(np.int64) + 1970
        self.batches = {}   # shift -> dict of row arrays
        self.count, self.sum_k, self.sum_q = 0, 0, 0.0
        self.years = {}     # year -> [count, qty sum]

    def _account(self, b, mask, sign):
        k, q, y = b["k"][mask], b["qty"][mask], b["year"][mask]
        self.count += sign * len(k)
        self.sum_k += sign * int(k.sum())
        self.sum_q += sign * float(q.sum())
        for yy in np.unique(y):
            m = y == yy
            c = self.years.setdefault(int(yy), [0, 0.0])
            c[0] += sign * int(m.sum())
            c[1] += sign * float(q[m].sum())

    def insert(self, a, b, shift):
        lo, hi = np.searchsorted(self.okey, [a, b])
        rows = slice(lo, hi)
        batch = dict(k=(self.okey[rows] + shift) * 8 + self.line[rows],
                     src_qty=self.qty[rows], qty=self.qty[rows].copy(),
                     year=self.year[rows], line=self.line[rows],
                     live=np.ones(hi - lo, dtype=bool))
        self.batches[shift] = batch
        self._account(batch, batch["live"], 1)

    def merge(self, upd, new):
        """Rows of orders [a, b) of the batch with that shift, `upd` =
        (a, b, shift), with line number <= 2 get qty + 1 (and come back if
        deleted); batch `new` is inserted."""
        a, z, shift = upd
        b = self.batches[shift]
        m = (b["line"] <= 2) & (b["k"] >= (a + shift) * 8) & (b["k"] < (z + shift) * 8)
        self._account(b, m & b["live"], -1)
        b["qty"][m] = b["src_qty"][m] + 1.0
        b["live"][m] = True
        self._account(b, m, 1)
        self.insert(*new)

    def delete(self, shift, lo, hi):
        b = self.batches[shift]
        i, j = np.searchsorted(b["k"], [lo, hi])
        m = np.zeros(len(b["k"]), dtype=bool)
        m[i:j] = b["live"][i:j]
        self._account(b, m, -1)
        b["live"][m] = False

    def totals(self):
        return [[self.count, self.sum_k, self.sum_q]]

    def by_year(self, with_qty):
        return [[y, n, q] if with_qty else [y, n]
                for y, (n, q) in sorted(self.years.items()) if n]


def ingest_commit(seed, data_dir):
    """Write-heavy ingest into a partitioned merge-on-read table that grows
    during the run: INSERT batches of 1.6k-31k rows, MERGE upserts, DELETEs,
    periodic compaction and snapshot expiry, and MV refresh + re-query.
    Reads check count, key sum and per-year counts against the model."""
    rng = random.Random(seed)
    li = pq.read_table(f"{data_dir}/lineitem.parquet",
                       columns=["l_orderkey", "l_linenumber", "l_quantity",
                                "l_shipdate"]).to_pandas()
    model = IngestModel({c: li[c].to_numpy() for c in li.columns})
    n_orders = int(li["l_orderkey"].max()) + 1
    T = "{cat}.db.ing"
    batches = []

    def batch_select(a, b, shift, qty="l_quantity", extra=""):
        return (f"SELECT (l_orderkey + {shift}) * 8 + l_linenumber AS k, {qty} AS qty, "
                "l_extendedprice AS price, CAST(l_shipdate AS TIMESTAMP) AS shipdate "
                f"FROM src_lineitem WHERE l_orderkey >= {a} AND l_orderkey < {b}{extra}")

    def new_batch(n_orders_in_batch):
        a = rng.randrange(n_orders - n_orders_in_batch)
        shift = (len(batches) + 1) * INGEST_SHIFT
        batches.append((a, a + n_orders_in_batch, shift))
        return batches[-1]

    a0, b0, s0 = new_batch(12_500)
    model.insert(a0, b0, s0)
    setup = ["CREATE NAMESPACE IF NOT EXISTS {cat}.db",
             f"CREATE TABLE {T} (k BIGINT, qty DOUBLE, price DOUBLE, shipdate TIMESTAMP) "
             "PARTITIONED BY (years(shipdate)) "
             "TBLPROPERTIES ('write.delete.mode'='merge-on-read')",
             f"INSERT INTO {T} {batch_select(a0, b0, s0)}",
             f"CREATE MATERIALIZED VIEW {T}_mv AS SELECT year(shipdate) AS y, "
             f"count(*) AS n, sum(qty) AS q FROM {T} GROUP BY year(shipdate)"]

    def make(kind, ops, expect):
        if kind.startswith("insert"):
            a, b, shift = new_batch(INGEST_BATCH_ORDERS[int(kind[-1])])
            _op(ops, "write", sql=f"INSERT INTO {T} {batch_select(a, b, shift)}")
            model.insert(a, b, shift)
        elif kind == "merge":
            a, b, shift = batches[rng.randrange(len(batches))]
            a += rng.randrange(b - a - MERGE_ORDERS + 1)
            upd = (a, a + MERGE_ORDERS, shift)
            new = new_batch(MERGE_ORDERS)
            src = (batch_select(*upd, qty="l_quantity + 1", extra=" AND l_linenumber <= 2")
                   + " UNION ALL " + batch_select(*new))
            _op(ops, "write", sql=f"MERGE INTO {T} t USING ({src}) s ON t.k = s.k "
                                  "WHEN MATCHED THEN UPDATE SET t.qty = s.qty "
                                  "WHEN NOT MATCHED THEN INSERT *")
            model.merge(upd, new)
        elif kind == "delete":
            a, b, shift = batches[rng.randrange(len(batches))]
            lo = (a + shift + rng.randrange(b - a - DELETE_ORDERS + 1)) * 8
            hi = lo + DELETE_ORDERS * 8
            _op(ops, "write", sql=f"DELETE FROM {T} WHERE k >= {lo} AND k < {hi}")
            model.delete(shift, lo, hi)
        elif kind == "totals":
            oid = _op(ops, "read", sql=f"SELECT count(*), sum(k), sum(qty) FROM {T}")
            expect[oid] = ("rows", model.totals())
        elif kind == "years":
            oid = _op(ops, "read", sql=f"SELECT year(shipdate), count(*) FROM {T} "
                                       "GROUP BY year(shipdate)")
            expect[oid] = ("rows", model.by_year(False))
        elif kind == "mv":
            expect[_op(ops, "maint", sql=f"REFRESH MATERIALIZED VIEW {T}_mv")] = ("ok",)
            oid = _op(ops, "read", sql=f"SELECT y, n, q FROM {T}_mv")
            expect[oid] = ("rows", model.by_year(True))
        elif kind == "maint":
            expect[_op(ops, "maint", sql="CALL {cat}.system.rewrite_data_files(table => 'db.ing')")] = ("ok",)
            expect[_op(ops, "maint", sql="CALL {cat}.system.expire_snapshots("
                                         "table => 'db.ing', keep_last => 5)")] = ("ok",)

    # Compaction and expiry end every third deck (about 20 commits),
    # starting with the second: a 6 s run then always measures the first
    # deck, runs into the second and stops after it, so every run holds
    # the same two decks and one compaction.
    mix = dict(insert0=1, insert1=1, insert2=1, insert3=1, merge=1, delete=1,
               totals=3, years=1, mv=1)
    warmup, ops, expect = _schedule(rng, mix, make, OPS_PER_RUN // 4, ["maint"],
                                    lambda deck: "maint" if deck % 3 == 1 else None)
    plan = _plan("warehouse", {"src_lineitem": "lineitem.parquet"}, setup, warmup,
                 ops, end_tables=[T], history_tables=[T])
    return Workload("ingest_commit", 0.1, plan, expect)


# --------------------------------------------------------------------- rest

REST_NAMESPACES = 8
# About as many tables as a run's skewed picks touch: with 264 tables, a
# run (warm-up and measured loop) touched 61 of them.
REST_TABLES = 64


def rest_catalog(seed, data_dir):
    """Metadata-dominated traffic through the REST catalog over many small
    tables, picked with seeded skew. Tables start empty; inserts copy
    small slices of supplier into them."""
    rng = random.Random(seed)
    sup = pq.read_table(f"{data_dir}/supplier.parquet").to_pylist()
    # name -> {"ns": i, "added": columns added, "rows": {k: row}}
    tables = {f"ns{t % REST_NAMESPACES}.t{t}": dict(ns=t % REST_NAMESPACES, added=0, rows={})
              for t in range(REST_TABLES)}
    setup = [f"CREATE NAMESPACE IF NOT EXISTS {{cat}}.ns{i}" for i in range(REST_NAMESPACES)]
    setup += [f"CREATE TABLE {{cat}}.{n} (k BIGINT, name STRING, nation INT, bal DOUBLE)"
              for n in tables]
    names = list(tables)
    rng.shuffle(names)
    # Zipf-like skew: a few hot tables and a long tail.
    weights = [1.0 / (r + 1) ** 0.9 for r in range(len(names))]
    counter = [0]

    def pick():
        return rng.choices(names, weights)[0]

    weight_of = dict(zip(names, weights))

    def pick_filled():
        """A table that has rows, with the same skew: a point read, update
        or delete then always finds its row. On an empty table they did
        no work, and how many did so varied by a factor of two between
        seeds."""
        filled = [n for n in names if tables[n]["rows"]]
        if not filled:
            return pick()
        return rng.choices(filled, [weight_of[n] for n in filled])[0]

    def fresh():
        counter[0] += 1
        return counter[0]

    def some_key(t):
        rows = tables[t]["rows"]
        return rng.choice(sorted(rows)) if rows else 0

    def make(kind, ops, expect):
        if kind == "agg":
            t = pick()
            oid = _op(ops, "read", sql=f"SELECT count(*), sum(k), sum(bal) FROM {{cat}}.{t}")
            rows = tables[t]["rows"].values()
            expect[oid] = ("rows", [[len(rows), sum(r[0] for r in rows),
                                     sum(r[3] for r in rows)] if rows else [0, None, None]])
        elif kind == "point":
            t = pick_filled()
            k = some_key(t)
            oid = _op(ops, "read", sql=f"SELECT * FROM {{cat}}.{t} WHERE k = {k}")
            r = tables[t]["rows"].get(k)
            expect[oid] = ("rows", [r + [None] * tables[t]["added"]] if r else [])
        elif kind == "insert":
            t = pick()
            n = rng.randrange(5, 40)
            a = rng.randrange(len(sup) - n)
            off = fresh() * 100_000
            for r in sup[a:a + n]:
                k = r["s_suppkey"] + off
                tables[t]["rows"][k] = [k, r["s_name"], r["s_nationkey"], r["s_acctbal"]]
            _op(ops, "write", sql=f"INSERT INTO {{cat}}.{t} (k, name, nation, bal) "
                                  f"SELECT s_suppkey + {off}, s_name, s_nationkey, s_acctbal "
                                  f"FROM src_supplier WHERE s_suppkey >= {a} AND s_suppkey < {a + n}")
        elif kind == "update":
            t = pick_filled()
            k = some_key(t)
            _op(ops, "write", sql=f"UPDATE {{cat}}.{t} SET bal = bal + 1 WHERE k = {k}")
            if k in tables[t]["rows"]:
                tables[t]["rows"][k][3] = tables[t]["rows"][k][3] + 1
        elif kind == "delete":
            t = pick_filled()
            k = some_key(t)
            _op(ops, "write", sql=f"DELETE FROM {{cat}}.{t} WHERE k = {k}")
            tables[t]["rows"].pop(k, None)
        elif kind == "add_column":
            t = pick()
            tables[t]["added"] += 1
            _op(ops, "ddl", sql=f"ALTER TABLE {{cat}}.{t} ADD COLUMN c{tables[t]['added']} STRING")
        elif kind == "props":
            t = pick()
            _op(ops, "ddl", sql=f"ALTER TABLE {{cat}}.{t} SET TBLPROPERTIES "
                                f"('bench.touch' = '{rng.randrange(10 ** 6)}')")
        elif kind == "create_drop":
            name = f"{{cat}}.ns{rng.randrange(REST_NAMESPACES)}.tmp{fresh()}"
            _op(ops, "ddl", sql=f"CREATE TABLE {name} (a BIGINT, b STRING)")
            _op(ops, "ddl", sql=f"DROP TABLE {name}")
        elif kind == "view":
            t = pick()
            _op(ops, "ddl", sql=f"CREATE VIEW {{cat}}.ns{tables[t]['ns']}.v{fresh()} AS "
                                f"SELECT k, bal FROM {{cat}}.{t} WHERE bal > 0")
        elif kind == "show":
            ns = rng.randrange(REST_NAMESPACES)
            oid = _op(ops, "ddl", sql=f"SHOW TABLES IN {{cat}}.ns{ns}")
            expect[oid] = ("set", 1, sorted(n.split(".")[1] for n in tables
                                             if tables[n]["ns"] == ns))

    mix = dict(agg=8, point=4, insert=5, update=3, delete=2, add_column=1,
               props=2, create_drop=2, view=1, show=1)
    warmup, ops, expect = _schedule(rng, mix, make, OPS_PER_RUN)
    plan = _plan("rest", {"src_supplier": "supplier.parquet"}, setup, warmup, ops,
                 end_tables=[f"{{cat}}.{n}" for n in tables])
    return Workload("rest_catalog", 0.1, plan, expect)


BUILDERS = {
    "analytics_read": analytics_read,
    "ingest_commit": ingest_commit,
    "rest_catalog": rest_catalog,
}
