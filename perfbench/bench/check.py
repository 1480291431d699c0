"""Checks every answer graft gave against the workload's oracle or model.

A statement that raised, or whose answer differs from the expected one,
is a failed operation. Numbers compare with a relative tolerance of
1e-6, which absorbs floating-point summation order and nothing else.
"""
import datetime
import decimal
import math
import os
import pickle

import duckdb

from . import gen

REL_TOL = 1e-6


def norm(v):
    """Engine-neutral form of one value."""
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, (int, float, decimal.Decimal)):
        return float(v)
    if hasattr(v, "item") and not isinstance(v, (list, tuple)):
        return norm(v.item())
    if isinstance(v, datetime.datetime):
        # microseconds since the epoch; naive values are UTC, as in the
        # runner's session
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return float((v - datetime.datetime(1970, 1, 1)) // datetime.timedelta(microseconds=1))
    if isinstance(v, datetime.date):
        return float((v - datetime.date(1970, 1, 1)).days)
    if isinstance(v, dict):
        return tuple(sorted((str(k), norm(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)) or hasattr(v, "tolist"):
        return tuple(norm(x) for x in (v.tolist() if hasattr(v, "tolist") else v))
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _sort_key(v):
    if isinstance(v, float):
        return f"{v:.5e}"
    if isinstance(v, tuple):
        return "(" + ",".join(_sort_key(x) for x in v) + ")"
    return str(v)


def canon(rows):
    return sorted((tuple(norm(x) for x in r) for r in rows),
                  key=lambda r: tuple(_sort_key(x) for x in r))


def close(a, b):
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return abs(a - b) <= REL_TOL * max(1.0, abs(a), abs(b))
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(close(x, y) for x, y in zip(a, b))
    return a == b


def same_rows(expected, got):
    """None when equal, else a one-line reason."""
    e, g = canon(expected), canon(got)
    if len(e) != len(g):
        return f"{len(g)} rows, expected {len(e)}"
    for i, (x, y) in enumerate(zip(e, g)):
        if not close(x, y):
            return f"row {i}: got {y!r}, expected {x!r}"
    return None


class Oracle:
    """DuckDB over the generated parquet tables, with answers cached per
    data directory (they depend only on the data)."""

    def __init__(self, data_dir):
        self.data_dir = data_dir
        self.con = None
        self.cache_dir = os.path.join(data_dir, "oracle_cache")
        self.memo = {}

    def _connect(self):
        if self.con is None:
            self.con = duckdb.connect()
            for t in gen.TABLES:
                self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"'{self.data_dir}/{t}.parquet'")
        return self.con

    def rows(self, sql, cache_name=None):
        if sql in self.memo:
            return self.memo[sql]
        path = cache_name and os.path.join(self.cache_dir, cache_name + ".pkl")
        if path and os.path.exists(path):
            with open(path, "rb") as f:
                cached_sql, rows = pickle.load(f)
            if cached_sql == sql:
                self.memo[sql] = rows
                return rows
        t = self._connect().sql(sql).arrow()
        rows = canon([list(r.values()) for r in t.to_pylist()])
        cols = sorted(t.column_names)
        rows = (cols, rows, t.column_names)
        if path:
            os.makedirs(self.cache_dir, exist_ok=True)
            with open(path, "wb") as f:
                pickle.dump((sql, rows), f)
        self.memo[sql] = rows
        return rows


def check_key(oracle, oracles, first, key):
    """Compares the first (warm-up) answer of an operator key with its
    oracle. Columns are matched by name, in sorted order, as the repo's
    own oracle gate does."""
    sql = oracles.get(key)
    if sql is None:
        return f"{key}: no oracle"
    if first is None or not first.get("ok"):
        return f"{key}: no first answer ({first and first.get('err')})"
    names, rows = first["columns"], first["rows"]
    exp_sorted, exp_rows, exp_names = oracle.rows(sql, cache_name=key)
    if sorted(names) != exp_sorted:
        return f"{key}: columns {sorted(names)} != {exp_sorted}"
    gi = [names.index(c) for c in exp_sorted]
    ei = [exp_names.index(c) for c in exp_sorted]
    reason = same_rows([[r[i] for i in ei] for r in exp_rows],
                       [[r[i] for i in gi] for r in rows])
    return reason and f"{key}: {reason}"


def check_kernels(workload, result, kernel_dir, oracles):
    """Verdicts of the operator keys a traced run timed: the first pass
    against each key's oracle, the second against the first."""
    oracle = Oracle(kernel_dir)
    key_of = {o["id"]: o["key"] for o in workload.plan["kernel_ops"]}
    first = {key_of[r["id"]]: r for r in result.get("kernel_warmup", [])}
    out = {}
    for rec in result.get("kernel_ops", []):
        k = key_of[rec["id"]]
        reason = rec.get("err") if not rec.get("ok") else check_key(oracle, oracles, first.get(k), k)
        if reason is None:
            again = same_rows(first[k]["rows"], rec.get("rows", []))
            reason = again and f"{k}: differs from its first run: {again}"
        out[rec["id"]] = reason
    return out


def check(workload, result, data_dir):
    """Returns {op id: None if correct, else the reason it failed}."""
    oracle = Oracle(data_dir)
    out = {}
    for rec in result["ops"]:
        oid = rec["id"]
        if not rec.get("ok"):
            out[oid] = rec.get("err", "failed")
            continue
        exp = workload.expect.get(oid)
        reason = None
        if exp is None or exp[0] == "ok":
            pass
        elif exp[0] == "rows":
            reason = same_rows(exp[1], rec.get("rows", []))
        elif exp[0] == "duck":
            reason = same_rows(oracle.rows(exp[1])[1], rec.get("rows", []))
        elif exp[0] == "set":
            got = sorted(str(r[exp[1]]) for r in rec.get("rows", []))
            if got != exp[2]:
                reason = f"listed {len(got)} names, expected {len(exp[2])}"
        out[oid] = reason
    return out
