"""Reference results for the benchmark's correctness gate, from DuckDB.

`catalog(...)` runs the oracle SQL graft ships with each catalog query
(`SparkEntry.oracleSql`, dumped by `perfbench.Main oracle`) over the
fixture tables and writes one `<query>.json` per query: its column names
and rows, with every value in a form `Check.scala` reads back exactly.
`tiers(...)` computes the v1 tier aggregates over the 10x lineitem copy
from the base table, so the reference never touches the path it checks.
"""
import datetime as dt
import decimal
import json
import math
import os
import random

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _connect(fixture):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{fixture}/{t}.parquet'")
    return con


def _cell(v):
    if v is None or isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, float):
        return v if math.isfinite(v) else repr(v).replace("inf", "Infinity").replace("nan", "NaN")
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, dict):
        return {k: _cell(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_cell(x) for x in v]
    return str(v)


def catalog(fixture, sql_json, out_dir):
    con = _connect(fixture)
    os.makedirs(out_dir, exist_ok=True)
    for name, sql in json.load(open(sql_json)).items():
        tab = con.execute(sql).fetch_arrow_table()
        cols = tab.column_names
        data = [tab.column(c).to_pylist() for c in cols]
        rows = [[_cell(v) for v in r] for r in zip(*data)] if cols else []
        with open(os.path.join(out_dir, f"{name}.json"), "w") as f:
            json.dump({"cols": cols, "rows": rows}, f)


def tiers(fixture, seed, copies=10):
    """Four `l_extendedprice > t` tiers from keep-everything to keep-nothing.
    The two inner thresholds are quantiles at fractions the seed draws, one
    from each half, so every seed prunes about as much in total."""
    con = _connect(fixture)
    lo, hi = con.execute("SELECT MIN(l_extendedprice), MAX(l_extendedprice) FROM lineitem").fetchone()
    r = random.Random(seed)
    fracs = [r.uniform(0.1, 0.4), r.uniform(0.6, 0.9)]
    qs = con.execute("SELECT quantile_disc(l_extendedprice, ?) FROM lineitem", [fracs]).fetchone()[0]
    thresholds = [round(lo - 1.0, 2)] + [float(q) for q in qs] + [round(hi + 1.0, 2)]
    out = []
    for i, t in enumerate(thresholds):
        s, mn, mx, n = con.execute(
            "SELECT SUM(CAST(l_extendedprice AS DECIMAL(38,2))), MIN(l_extendedprice), "
            "MAX(l_extendedprice), COUNT(l_extendedprice) FROM lineitem WHERE l_extendedprice > ?",
            [t]).fetchone()
        total = None if s is None else float(s * copies)
        out.append({"name": f"tier{i}", "threshold": t, "sum": total,
                    "avg": None if s is None else float(s / n),
                    "min": mn, "max": mx, "count": n * copies})
    return out
