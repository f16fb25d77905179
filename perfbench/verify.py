"""Output checks of a benchmark run, done with DuckDB outside the timed
region.

* ``check_queries``: every operation result dumped by the harness is
  compared with its registered oracle SQL run by DuckDB over the same
  parquet tables (column names, row multiset, values; floats to a 1e-9
  relative tolerance, FLOAT columns at float32 precision).
* ``check_etl``: the reference job's sinks are compared with DuckDB run
  over the same CSV: raw row count, per-key count and sum, and the
  dead-letter count, which must also equal the planted malformed lines.
"""
import datetime
import decimal
import json
import math
import os
import struct

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _f32(x):
    return struct.unpack("f", struct.pack("f", x))[0]


def _epoch_us(v):
    if isinstance(v, str):
        v = datetime.datetime.fromisoformat(v.replace("Z", "+00:00"))
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=datetime.timezone.utc)
        return int(round(v.timestamp() * 1e6))
    return v


def _norm(v, f32):
    if isinstance(v, bool) or v is None or isinstance(v, (int, str)):
        return v
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return _f32(v) if f32 else v
    if isinstance(v, datetime.datetime):
        return _epoch_us(v)
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return [_norm(x, f32) for x in v]
    if isinstance(v, dict):
        return {str(k): _norm(x, f32) for k, x in sorted(v.items())}
    return str(v)


def _key(v):
    if v is None:
        return (0, "")
    if isinstance(v, (int, float)) and not isinstance(v, bool):
        return (1, f"{float(v):.9e}")
    return (2, json.dumps(v, sort_keys=True, default=str))


def _same(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if isinstance(a, (int, float)) and isinstance(b, (int, float)):
            return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
        return False
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(_same(a[k], b[k]) for k in a)
    return a == b


def _canon(cols, rows, types):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            t = types.get(cols[i], "")
            v = r[i]
            if "TIMESTAMP" in t:
                v = _epoch_us(v)
            elif t == "DATE" and isinstance(v, str):
                v = v[:10]
            vals.append(_norm(v, "FLOAT" in t and "DOUBLE" not in t))
        out.append(vals)
    out.sort(key=lambda r: [_key(v) for v in r])
    return [cols[i] for i in order], out


def _connect(tables_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(tables_dir, t)}.parquet')")
    return con


def check_queries(tables_dir, results_dir, names, oracle):
    """Returns {name: None if the result matches, else a reason}."""
    con = _connect(tables_dir)
    verdicts = {}
    for name in names:
        path = os.path.join(results_dir, f"{name}.jsonl")
        if not os.path.exists(path):
            verdicts[name] = "no result dumped"
            continue
        with open(path, encoding="utf-8") as f:
            cols = json.loads(f.readline())
            got = [[json.loads(line).get(c) for c in cols] for line in f]
        if name not in oracle:
            verdicts[name] = None     # no oracle: the run itself is the check
            continue
        try:
            cur = con.execute(oracle[name])
            wcols = [d[0] for d in cur.description]
            types = {d[0]: str(d[1]).upper() for d in cur.description}
            want = cur.fetchall()
        except Exception as e:  # noqa: BLE001 - any oracle failure is a verdict
            verdicts[name] = f"oracle error: {e}"[:200]
            continue
        gc, g = _canon(cols, got, types)
        wc, w = _canon(wcols, want, types)
        if gc != wc:
            verdicts[name] = f"columns {gc} vs {wc}"[:200]
        elif len(g) != len(w):
            verdicts[name] = f"rows {len(g)} vs {len(w)}"
        else:
            bad = next((i for i, (a, b) in enumerate(zip(g, w))
                        if not _same(a, b)), None)
            verdicts[name] = (None if bad is None else
                              f"row {bad}: {g[bad]} vs {w[bad]}"[:200])
    return verdicts


def check_etl(csv_path, sink_dir, typed_columns, key_col, sum_col, planted):
    """Returns a list of failed-check descriptions (empty when correct)."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW src AS SELECT * FROM read_csv('{csv_path}', "
                "header=true, all_varchar=true, quote='\"', escape='\"', "
                "delim=',')")
    ok = " AND ".join(f"TRY_CAST({c} AS {t}) IS NOT NULL"
                      for c, t in typed_columns)
    total = con.execute("SELECT count(*) FROM src").fetchone()[0]
    good = con.execute(f"SELECT count(*) FROM src WHERE {ok}").fetchone()[0]
    want_agg = dict((k, (n, s)) for k, n, s in con.execute(
        f"SELECT {key_col}, count(*), sum(TRY_CAST({sum_col} AS DECIMAL(12,2))) "
        f"FROM src WHERE {ok} GROUP BY 1").fetchall())
    raw = con.execute(f"SELECT count(*) FROM read_parquet("
                      f"'{sink_dir}/raw/*.parquet')").fetchone()[0]
    got_agg = dict((k, (n, s)) for k, n, s in con.execute(
        f"SELECT {key_col}, n, total FROM read_parquet("
        f"'{sink_dir}/agg/*.parquet')").fetchall())
    dead = con.execute(f"SELECT count(*) FROM read_json_auto("
                       f"'{sink_dir}/dead_letter/*.json')").fetchone()[0]
    fails = []
    if raw != good:
        fails.append(f"raw rows {raw} vs duckdb {good}")
    if got_agg != want_agg:
        diff = [k for k in set(got_agg) | set(want_agg)
                if got_agg.get(k) != want_agg.get(k)]
        fails.append(f"per-key count/sum differ on {len(diff)} keys, e.g. {diff[:2]}")
    if dead != total - good or dead != planted:
        fails.append(f"dead letters {dead} vs duckdb {total - good}, planted {planted}")
    return fails
