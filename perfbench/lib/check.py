"""Output checks, run after the timed work: registry results against the
DuckDB oracles the program registers, ETL tables against a DuckDB
computation over the same seeded stub rows."""
import datetime as dt
import decimal
import glob
import hashlib
import json
import os
import re

import duckdb
import pandas as pd
import pyarrow.parquet as pq

from .fixture import TABLES


def _norm(df):
    """Columns sorted by name, values made comparable, rows sorted: the
    oracle comparison tools/selfcheck.py makes."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].map(lambda v: str(v) if v is not None else None)
    df = df.sort_values(by=list(df.columns), kind="mergesort", na_position="first")
    return df.reset_index(drop=True)


def result_rows(path):
    return sum(pq.ParquetFile(f).metadata.num_rows
               for f in glob.glob(os.path.join(path, "*.parquet")))


def queries(fixture, ops, oracles, cache_dir):
    """Outcome per op: ok / failed / wrong / guard_skipped, plus the row
    count of each checked result."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{fixture}/{t}.parquet'")
    with open(os.path.join(fixture, "manifest.json"), "rb") as f:
        fixture_key = hashlib.sha256(f.read()).hexdigest()
    os.makedirs(cache_dir, exist_ok=True)
    outcomes, rows, notes = [], [], []
    for op in ops:
        name, status = op["name"], op["status"]
        if status != "ok" or "check_error" in op:
            outcomes.append("guard_skipped" if status == "guard_skipped" else "failed")
            rows.append(0)
            notes.append(f"{name}: {op.get('error') or op.get('check_error') or status}")
            continue
        n = result_rows(op["result"])
        rows.append(n)
        sql = oracles.get(name)
        if sql is None:
            ok = n > 0
            if not ok:
                notes.append(f"{name}: returned no rows")
        else:
            key = hashlib.sha256((fixture_key + sql).encode()).hexdigest()[:24]
            cached = os.path.join(cache_dir, key + ".pkl")
            if os.path.exists(cached):
                theirs = pd.read_pickle(cached)
            else:
                theirs = _norm(con.sql(sql).df())
                theirs.to_pickle(cached)
            mine = _norm(pd.read_parquet(op["result"]))
            ok = list(mine.columns) == list(theirs.columns) and mine.equals(theirs)
            if not ok:
                notes.append(f"{name}: differs from its oracle ({len(mine)} vs {len(theirs)} rows)")
        outcomes.append("ok" if ok else "wrong")
    return outcomes, rows, notes


# --- etl-loopback -----------------------------------------------------------

MACRO = re.compile(r"\{\{\s*nDaysAgo\s+(\d+)\s*\}\}")
TAGS = "lfm.content.tags"


def _resolve(s, today):
    if re.fullmatch(r"\d{4}-\d{2}-\d{2}", s):
        return s
    return (today - dt.timedelta(days=int(MACRO.fullmatch(s).group(1)))).isoformat()


def _fold_tags(tags):
    out = {}
    for t in tags:
        if ":" in t:
            k, v = t.split(":", 1)
            key, val = f"{TAGS}.{k.strip().replace(' ', '_')}", v.strip()
        else:
            key, val = f"{TAGS}.untitled", t.strip()
        if key in out:
            val = out.pop(key) + "//" + val
        out[key] = val
    return out


def _expected_load(con, cfg, body, today):
    """Rows (dicts keyed by sanitized column name) one config loads."""
    start, end = _resolve(body["start_date"], today), _resolve(body["end_date"], today)
    if "content" in cfg["dataset_id"]:
        start = max(start, (today - dt.timedelta(days=365)).isoformat())
    groups = list(cfg["group_by"]) + list(cfg["meta_dimensions"])
    sel = []
    for m in cfg["metrics"]:
        fn = m.split(":", 1)[0]
        expr = {"sum": 'CAST(sum(CAST(metric AS DECIMAL(28,4))) AS VARCHAR)',
                "count": "count(metric)", "max": "max(metric)"}[fn]
        sel.append(f'{expr} AS "{m}"')
    colmap = {"lfm.brand_view.id": "f.brand", "lfm.fact.date_str": "f.date_str"}
    gsel = [f'{colmap.get(g, "d." + chr(34) + g + chr(34))} AS "{g}"' for g in groups]
    brands = ",".join(str(b) for b in cfg["brands"])
    sql = (f"SELECT {', '.join(gsel + sel)} FROM corpus f LEFT JOIN dim d ON f.brand = d.brand_key "
           f"WHERE f.brand IN ({brands}) AND f.date_str BETWEEN '{start}' AND '{end}' GROUP BY ALL")
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    out = []
    for tup in cur.fetchall():
        r = dict(zip(names, tup))
        if any(v == "unauthorized" for v in r.values() if isinstance(v, str)):
            continue
        row = {}
        for k, v in r.items():
            dtype = cfg["metrics"].get(k) or cfg["group_by"].get(k) or cfg["meta_dimensions"].get(k)
            if k == TAGS:
                row.update(_fold_tags(list(v)))
            elif k.startswith("sum:"):
                row[k] = float(decimal.Decimal(v))
            elif dtype == "datetime64[ns]":
                row[k] = v if k in cfg["group_by"] else v.replace(" ", "T")
            elif dtype == "int64":
                row[k] = int(v)
            else:
                row[k] = v
        out.append(row)
    tag_keys = sorted({k for r in out for k in r if k.startswith(TAGS + ".")})
    cols = [c for c in list(cfg["group_by"]) + list(cfg["meta_dimensions"]) + list(cfg["metrics"])
            if c != TAGS] + tag_keys
    return [{c.replace(".", "&"): r.get(c) for c in cols} for r in out], [c.replace(".", "&") for c in cols]


def _canon(v):
    if v is None:
        return ("null",)
    if isinstance(v, float):
        return ("num", repr(float(v)))
    if isinstance(v, int):
        return ("num", repr(float(v)))
    return ("str", str(v))


def _table_matches(con, path, cols, rows):
    """True iff the parquet files under `path`, read as one table with
    columns unioned by name, hold exactly `rows` under exactly `cols`."""
    try:
        got = con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet', union_by_name=true)")
    except duckdb.Error:
        return False, 0
    names = [d[0] for d in got.description]
    have = sorted(tuple(_canon(r.get(c)) for c in sorted(names))
                  for r in (dict(zip(names, t)) for t in got.fetchall()))
    want = sorted(tuple(_canon(r.get(c)) for c in sorted(cols)) for r in rows)
    return sorted(names) == sorted(cols) and have == want, len(have)


def etl(plan, result):
    """Outcome per attempted config and per table after every trigger
    (each trigger's copy of the tables against the loads applied so far:
    truncate replaces, append adds rows and columns, older rows null in
    the new columns), the rows the configs should have loaded, their size
    as JSON lines (the records a load job receives), and notes on every
    mismatch."""
    today = dt.date.fromisoformat(plan["today"])
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"CREATE TABLE corpus AS SELECT * FROM read_csv('{plan['corpus']}', header=false, "
                "columns={'brand': 'BIGINT', 'date_str': 'VARCHAR', 'metric': 'DOUBLE'})")
    con.execute(f"CREATE TABLE dim AS SELECT * FROM '{plan['dim']}'")
    done = {(c["trigger"], c["config"]): c for c in result["configs"]}
    table_dir = {c["config"]: os.path.basename(c["table"]) for c in result["configs"]}
    outcomes, notes = [], []
    tables = {}  # config id -> (columns, rows) after the triggers so far
    expected_rows = user_bytes = 0
    for i, tr in enumerate(result["triggers"]):
        spec, body = plan["triggers"][i], json.loads(plan["triggers"][i]["body"])
        configs = json.loads(spec["configs"])
        m = re.search(r"Processed (\d+) export", tr["body"])
        if tr["code"] != 200 or not m or int(m.group(1)) != len(configs):
            notes.append(f"trigger {i}: HTTP {tr['code']} {tr['body'][:200]}")
        for cid, cfg in configs.items():
            rows, cols = _expected_load(con, cfg, body, today)
            if (i, cid) not in done:
                outcomes.append("refused" if tr["code"] == 200 else "failed")
                notes.append(f"trigger {i} {cid}: not processed")
                continue
            expected_rows += len(rows)
            user_bytes += sum(len(json.dumps(r)) + 1 for r in rows)
            old_cols, old_rows = tables.get(cid, ([], []))
            if spec["disposition"] == "WRITE_TRUNCATE" or not old_cols:
                tables[cid] = (cols, rows)
            else:
                tables[cid] = (old_cols + [c for c in cols if c not in old_cols], old_rows + rows)
            outcomes.append("ok" if done[(i, cid)]["rows"] == len(rows) else "wrong")
            if outcomes[-1] == "wrong":
                notes.append(f"trigger {i} {cid}: loaded {done[(i, cid)]['rows']} rows, expected {len(rows)}")
        for cid, (cols, rows) in tables.items():
            same, n = _table_matches(con, os.path.join(tr["snapshot"], table_dir[cid]), cols, rows)
            outcomes.append("ok" if same else "wrong")
            if not same:
                notes.append(f"table {cid} after trigger {i}: contents differ from the expected "
                             f"loads ({n} vs {len(rows)} rows)")
    return outcomes, expected_rows, user_bytes, notes
