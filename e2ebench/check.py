"""Output checks for the end-to-end benchmark.

- Scrape batches (lifecycle_feed): every batch against `expect.json`,
  which gen.py derives from the committed `*_golden.jsonl` fixtures
  through the same tags it put on the inputs.
- Registered queries (both workloads): every output against its
  `SparkEntry.oracleSql` statement, run in DuckDB on the same generated
  parquet (cached per input set and statement).
- The compacted feed (lifecycle_feed) against the appended rows.
"""
import hashlib
import json
import math
import os

import duckdb
import pandas as pd
import pyarrow.parquet as pq


def _tree(root):
    files = size = 0
    for dirpath, _, names in os.walk(root):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return {"files": files, "bytes": size}


def _rows(path, cols=None):
    return pq.read_table(path, columns=cols).to_pylist()


def _norm(row):
    """Comparable form of one record: nulls dropped, lists as tuples,
    partition values as strings."""
    out = {}
    for k, v in row.items():
        if v is None:
            continue
        out[k] = tuple(v) if isinstance(v, list) else v
    return tuple(sorted(out.items()))


def _same(got, exp):
    return sorted(map(_norm, got)) == sorted(map(_norm, exp))


def check_lifecycle(data, inputs):
    bad = []
    for b in sorted(n for n in os.listdir(inputs) if n.startswith("batch-")):
        out = os.path.join(data, b)
        with open(os.path.join(inputs, b, "expect.json")) as f:
            exp = json.load(f)
        try:
            stats = _rows(os.path.join(out, "stats"), ["team"])
            if (len(stats) != exp["roster_rows"] or
                    sorted({str(r["team"]) for r in stats}) != sorted(exp["roster_teams"])):
                bad.append(f"{b}: stats rows/teams differ from the fixture's")
            dvp = sorted(_rows(os.path.join(out, "dvp", "data")), key=lambda r: r["row_idx"])
            if [r["canonical"] for r in dvp] != exp["dvp_canonical"]:
                bad.append(f"{b}: dvp canonical teams differ from the golden mapping")
            with open(os.path.join(out, "dvp", "_meta", "part-00000.json")) as f:
                if json.load(f)["record_count"] != len(exp["dvp_canonical"]):
                    bad.append(f"{b}: dvp envelope record_count wrong")
            cube = _rows(os.path.join(out, "dvp_cube", "data"))
            if len(cube) != 30 * 5:
                bad.append(f"{b}: dvp cube has {len(cube)} rows, expected 150")
            props = [dict(r, match_id=str(r["match_id"]))
                     for r in _rows(os.path.join(out, "props"))]
            if not _same(props, exp["props"]):
                bad.append(f"{b}: props differ from props_golden.jsonl")
            if not _same(_rows(os.path.join(out, "insights", "data")), exp["insights"]):
                bad.append(f"{b}: insights differ from insights_golden.jsonl")
            html = [dict(r, page=str(r["page"])) for r in _rows(os.path.join(out, "html"))]
            if not _same(html, exp["html_cells"]):
                bad.append(f"{b}: html cells differ from html_golden.jsonl")
            summary = pd.read_json(
                [os.path.join(out, "summary", n) for n in os.listdir(os.path.join(out, "summary"))
                 if n.endswith(".json")][0], lines=True)
            if summary.to_dict("records") != [{"status": "done", "n": 5}]:
                bad.append(f"{b}: run summary wrong")
        except Exception as e:  # a missing or unreadable output is a mismatch
            bad.append(f"{b}: {type(e).__name__}: {str(e)[:200]}")
    return bad


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)

    def key(v):
        if isinstance(v, float) and math.isnan(v):
            return "\x00NULL"
        return "\x00NULL" if v is None else str(v)
    if len(df):
        df = df.sort_values(by=list(df.columns), key=lambda s: s.map(key))
    return df.reset_index(drop=True)


def _cell_eq(a, b):
    if hasattr(a, "__len__") and not isinstance(a, str) or \
            hasattr(b, "__len__") and not isinstance(b, str):
        return str(list(a) if a is not None else None) == str(list(b) if b is not None else None)
    a_nan = isinstance(a, float) and math.isnan(a)
    b_nan = isinstance(b, float) and math.isnan(b)
    if a_nan or b_nan:
        return a_nan and b_nan
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        return float(a) == float(b)
    return str(a) == str(b)


def _family(s):
    k = s.dtype.kind
    if k in "iu":
        return "int"
    if k in "fMb":
        return k
    if k == "O" and len(s) and type(s.iloc[0]).__name__ == "Decimal":
        return "decimal"
    return "object"


def check_oracle(data, inputs, sqls, cache):
    bad = []
    con = None
    for name, sql in sorted(sqls.items()):
        key = hashlib.sha256(f"{inputs}\0{sql}".encode()).hexdigest()[:20]
        cached = os.path.join(cache, f"{name}-{key}.pkl")
        if os.path.exists(cached):
            exp = pd.read_pickle(cached)
        else:
            if con is None:
                con = duckdb.connect()
                con.sql("SET threads TO 2")
                for fn in os.listdir(inputs):
                    if fn.endswith(".parquet"):
                        con.sql(f"CREATE VIEW {fn[:-8]} AS SELECT * FROM "
                                f"'{os.path.join(inputs, fn)}'")
            try:
                exp = con.sql(sql).df()
            except Exception as e:
                bad.append(f"{name}: oracle error {str(e)[:200]}")
                continue
            os.makedirs(cache, exist_ok=True)
            exp.to_pickle(cached)
        try:
            got = pd.read_parquet(os.path.join(data, name))
        except Exception as e:
            bad.append(f"{name}: no output ({str(e)[:200]})")
            continue
        g, e = _canon(got), _canon(exp)
        if list(g.columns) != list(e.columns):
            bad.append(f"{name}: columns {list(g.columns)} vs oracle {list(e.columns)}")
        elif [_family(g[c]) for c in g.columns] != [_family(e[c]) for c in e.columns]:
            bad.append(f"{name}: column types differ from the oracle's")
        elif len(g) != len(e):
            bad.append(f"{name}: {len(g)} rows vs oracle {len(e)}")
        else:
            for c in g.columns:
                diff = next((i for i, (x, y) in enumerate(zip(g[c].tolist(), e[c].tolist()))
                             if not _cell_eq(x, y)), None)
                if diff is not None:
                    bad.append(f"{name}: row {diff} col {c}: {g[c].iloc[diff]!r} vs oracle "
                               f"{e[c].iloc[diff]!r}")
                    break
    return bad


def check_feed(data, inputs):
    feed = sorted(r["event_id"] for r in _rows(os.path.join(data, "feed"), ["event_id"]))
    events = sorted(r["event_id"] for r in _rows(os.path.join(inputs, "events.parquet"),
                                                 ["event_id"]))
    return [] if feed == events else ["feed: compacted rows differ from the appended events"]


def check(workload, inputs, res, cache):
    """(mismatch messages, {files, bytes} of the pass's outputs)."""
    data = res["out"]
    bad = check_oracle(data, inputs, res["oracle_sql"], cache)
    if workload == "lifecycle_feed":
        bad += check_lifecycle(data, inputs) + check_feed(data, inputs)
    return bad, _tree(data)
