"""Seeded input generators for the benchmark.

Two inputs:

* ``tables(out_dir, scale)`` writes the star-schema tables every
  registered operator reads (``region nation customer supplier part orders
  lineitem events documents embeddings``), one single-row-group parquet
  file each, with the column names, types and value domains the engine's
  operators and their DuckDB oracles expect. ``scale`` is the TPC-H-style
  scale factor (lineitem holds about ``6e6 * scale`` rows). The tables use
  a fixed seed: the benchmark seed only reorders the operations that read
  them, so every run measures the same data.

* ``listings_csv(path, seed, rows)`` writes a listings-shaped CSV with a
  header, quoted fields holding commas and doubled quotes, non-ASCII
  UTF-8 text, a Zipf-skewed group key and a small share of planted
  malformed lines. The seed moves the key skew, the quoting share and the
  malformed share within narrow ranges (so runs with different seeds stay
  comparable); the row count is fixed. Returns
  the planted-line count, which the correctness check compares with the
  dead-letter sink.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 20240101


def _write(out_dir, name, table):
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                   row_group_size=max(1, table.num_rows))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n).astype("datetime64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "the",
         "row", "agg", "key", "query", "a", "scan", "batch"]


def tables(out_dir, scale):
    """Write the operator tables at ``scale`` into ``out_dir``."""
    rng = np.random.default_rng(TABLE_SEED)
    os.makedirs(out_dir, exist_ok=True)
    n = lambda base: max(1, int(round(base * scale)))

    _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}))
    _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))

    nc = n(150000)
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    _write(out_dir, "customer", pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": segs[rng.integers(0, 5, nc)]}))

    ns = n(10000)
    _write(out_dir, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)}))

    npart = n(200000)
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    names = np.array([f"{a} {b}" for a in adj for b in noun])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                      "STANDARD"])
    keys = np.arange(npart)
    _write(out_dir, "part", pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": names[rng.integers(0, len(names), npart)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": types[rng.integers(0, len(types), npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1)}))

    no = n(1500000)
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                     "5-LOW"])
    _write(out_dir, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
        "o_orderpriority": prio[rng.integers(0, 5, no)]}))

    nl = n(6000000)
    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl)}))

    ne = n(1000000)
    nu = n(15000)
    span_us = 30 * 86400 * 1000000
    ts = np.sort(rng.integers(0, span_us, ne))
    t0 = np.datetime64("2024-01-01T00:00:00.000000")
    etypes = np.array(["click", "error", "purchase", "signup", "view"])
    _write(out_dir, "events", pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(t0 + ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, nu, ne), pa.int64()),
        "event_type": etypes[rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, ne)]}))

    nd = n(50000)
    langs = ["en"] * 41 + ["zh"] * 15 + ["fr"] * 15 + ["es"] * 15 + ["de"] * 14
    vocab = np.array(VOCAB)
    texts, lang_col, src_col = [], [], []
    for i in range(nd):
        r = rng.random()
        if i > 10 and r < 0.048:      # near-duplicate of an earlier doc
            j = int(rng.integers(0, i))
            toks = texts[j].split(" ")
            for _ in range(int(rng.integers(1, 4))):
                toks[int(rng.integers(0, len(toks)))] = "dup"
            texts.append(" ".join(toks))
            lang_col.append(lang_col[j])
            src_col.append(src_col[j])
        elif i > 10 and r < 0.050:    # exact duplicate of an earlier doc
            j = int(rng.integers(0, i))
            texts.append(texts[j])
            lang_col.append(lang_col[j])
            src_col.append(src_col[j])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), k)]))
            lang_col.append(langs[int(rng.integers(0, len(langs)))])
            src_col.append(f"src{int(rng.integers(0, 20))}")
    _write(out_dir, "documents", pa.table({
        "doc_id": pa.array(range(nd), pa.int64()), "text": texts,
        "lang": lang_col, "source": src_col,
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}))

    nv = n(20000)
    m = rng.standard_normal((nv, 64))
    m = (m / np.linalg.norm(m, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(m), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32())}))


# Listings CSV ---------------------------------------------------------------

LISTING_COLUMNS = [("listing_id", "long"), ("host_id", "long"),
                   ("name", "string"), ("neighbourhood", "string"),
                   ("room_type", "string"), ("price", "decimal(12,2)"),
                   ("minimum_nights", "int"), ("number_of_reviews", "int")]
KEY_COLUMN = "neighbourhood"
SUM_COLUMN = "price"

_WORDS = ["cosy", "sunny", "loft", "studio", "garden", "view", "quiet",
          "central", "flat", "room", "près", "du", "métro", "Straße",
          "Altbau", "日本橋", "駅近", "café", "niño", "über", "🏠", "★",
          "old town", "near park"]
_ROOMS = ["Entire home/apt", "Private room", "Shared room", "Hotel room"]
_N_KEYS = 400


def _quote(s):
    return '"' + s.replace('"', '""') + '"'


def listings_csv(path, seed, rows):
    """Write the seeded listings CSV; returns its metadata dict."""
    rng = np.random.default_rng(seed)
    skew = 1.08 + 0.04 * rng.random()         # Zipf exponent of the key
    quoted_share = 0.23 + 0.04 * rng.random()  # names that need quoting
    bad_share = 0.0009 + 0.0002 * rng.random()

    ranks = np.arange(1, _N_KEYS + 1)
    p = ranks ** -skew
    p /= p.sum()
    keys = rng.choice(_N_KEYS, rows, p=p)
    key_names = [f"Quartier-{k:03d}" if k % 7 else f"Bezirk-{k:03d} Süd"
                 for k in range(_N_KEYS)]
    words = np.array(_WORDS)
    w = rng.integers(0, len(words), (rows, 3))
    quoted = rng.random(rows) < quoted_share
    cents = rng.integers(1500, 99999, rows)
    nights = rng.integers(1, 31, rows)
    reviews = rng.integers(0, 600, rows)
    hosts = rng.integers(1, 1 << 30, rows)
    rooms = rng.integers(0, len(_ROOMS), rows)
    n_bad = max(1, int(round(rows * bad_share)))
    bad_rows = set(rng.choice(rows, n_bad, replace=False).tolist())
    bad_kind = rng.integers(0, 3, rows)

    names = [f"{a} {b} {c}" for a, b, c in words[w].tolist()]
    third = words[w[:, 2]].tolist()
    key_col = [key_names[k] for k in keys.tolist()]
    room_col = [_ROOMS[r] for r in rooms.tolist()]
    bad_kind = bad_kind.tolist()
    lines = [",".join(c for c, _ in LISTING_COLUMNS)]
    for i, (q, c, n, rv, h) in enumerate(zip(quoted.tolist(), cents.tolist(),
                                             nights.tolist(), reviews.tolist(),
                                             hosts.tolist())):
        name = names[i]
        if q:
            # embedded comma and doubled quotes inside a quoted field
            name = _quote(f'{name}, "{third[i]}" {i % 97}')
        price = f"{c // 100}.{c % 100:02d}"
        nights_s, lid = str(n), str(i)
        if i in bad_rows:
            k = bad_kind[i]
            if k == 0:
                price = f"{price}.x"
            elif k == 1:
                nights_s = "many"
            else:
                lid = f"L{i}"
        lines.append(f"{lid},{h},{name},{key_col[i]},{room_col[i]},"
                     f"{price},{nights_s},{rv}")
    with open(path, "w", encoding="utf-8", newline="") as f:
        f.write("\n".join(lines) + "\n")
    meta = {"rows": rows, "planted_bad": n_bad, "seed": seed,
            "zipf_exponent": skew, "quoted_share": quoted_share}
    with open(path + ".json", "w", encoding="utf-8") as f:
        json.dump(meta, f)
    return meta
