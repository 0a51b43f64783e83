"""Seeded input generators for the lake benchmark.

Two kinds of input, both written under the checkout:

* ``tables(out, sf, seed)`` writes the ten star-schema tables the registered
  queries read (region .. embeddings), one parquet file with one row group
  each, with the column types, value ranges and row counts per scale factor of
  the engine's reference test data (TESTDATA.md): lineitem is 6M x sf rows,
  events fall in January 2024, documents draw from a 30-word vocabulary with
  5% " dup"-suffixed near-duplicates, embeddings are unit 64-d vectors.

* ``raw_lake(out, seed, ...)`` writes a Bronze raw layer in the reference's
  ingestion shape (pretty-printed JSON arrays under
  ``raw/<source>/<table>/YYYY-MM-DD/<table>.json``) for a backfill plus K
  daily partitions, and returns the facts the daily_lake checks assert.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row agg key query scan batch").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]
PART_ADJ = ["large", "small", "hot", "cold", "blue", "red", "old", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "nut", "screw", "valve"]
PART_TYPES = ["PROMO", "LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "en", "de", "fr", "es", "zh"]


def _write(out, name, cols):
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out, f"{name}.parquet"),
                   compression="snappy", row_group_size=1 << 30)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    """Midnight timestamps uniform over [start, end] as numpy datetime64[us]."""
    span = (end - start).days
    d = rng.integers(0, span + 1, n)
    return (np.datetime64(start, "us") + d.astype("timedelta64[D]")).astype("datetime64[us]")


def tables(out, sf, seed):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150000 * sf), max(10, int(10000 * sf)), int(200000 * sf)
    n_ord, n_li, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_docs, n_vec = max(500, int(50000 * sf)), max(500, int(20000 * sf))
    i32 = lambda x: pa.array(x, pa.int32())
    i64 = lambda x: pa.array(x, pa.int64())

    _write(out, "region", {"r_regionkey": i32(range(5)), "r_name": REGIONS})
    _write(out, "nation", {"n_nationkey": i32(range(25)),
                           "n_name": [f"NATION_{i}" for i in range(25)],
                           "n_regionkey": i32([i % 5 for i in range(25)])})
    _write(out, "customer", {
        "c_custkey": i64(np.arange(n_cust)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": list(rng.choice(SEGMENTS, n_cust))})
    _write(out, "supplier", {
        "s_suppkey": i64(np.arange(n_supp)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    _write(out, "part", {
        "p_partkey": i64(np.arange(n_part)),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": list(rng.choice(PART_TYPES, n_part)),
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)})
    _write(out, "orders", {
        "o_orderkey": i64(np.arange(n_ord)),
        "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": list(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(_days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord)),
        "o_orderpriority": list(rng.choice(PRIORITIES, n_ord))})
    _write(out, "lineitem", {
        "l_orderkey": i64(rng.integers(0, n_ord, n_li)),
        "l_partkey": i64(rng.integers(0, n_part, n_li)),
        "l_suppkey": i64(rng.integers(0, n_supp, n_li)),
        "l_linenumber": i32(rng.integers(1, 8, n_li)),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": list(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": list(rng.choice(["O", "F"], n_li)),
        "l_shipdate": pa.array(_days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_li))})
    month_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, month_us, n_ev)) + np.datetime64("2024-01-01", "us").astype(np.int64)
    _write(out, "events", {
        "event_id": i64(np.arange(n_ev)),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": i64(rng.integers(0, max(10, int(15000 * sf)), n_ev)),
        "event_type": list(rng.choice(EVENT_TYPES, n_ev)),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    _write(out, "documents", {
        "doc_id": i64(np.arange(n_docs)), "text": texts,
        "lang": list(rng.choice(LANGS, n_docs)),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": i64([len(t) for t in texts])})
    emb = rng.normal(size=(n_vec, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": i64(np.arange(n_vec)),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, n_vec))})


# ------------------------------------------------------------ raw lake
def _business_days(start, n):
    out, d = [], start
    while len(out) < n:
        if d.weekday() < 5:
            out.append(d)
        d += dt.timedelta(days=1)
    return out


def _dump(path, rows):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(rows, f, indent=2)


def raw_lake(out, seed, n_symbols, n_history, n_days):
    """Write the backfill partition plus ``n_days`` daily partitions.

    Each partition is a full-history re-fetch (every symbol's closes from the
    first trading day up to that partition's day), so ``(symbol, date)``
    repeats across partitions exactly as the reference's daily full refresh
    leaves it. News carries duplicate ids and pre-2020 rows; the last symbol
    is an orphan with no company_info row; one symbol has fewer than 60 days.
    Returns the partition names (backfill first) and the facts the checks
    assert.
    """
    rng = np.random.default_rng(seed)
    symbols = [f"S{i:03d}" for i in range(n_symbols)]
    orphan, short = symbols[-1], symbols[-2]
    days = _business_days(dt.date(2020, 1, 6), n_history + n_days)
    first = {s: (n_history - 40 if s == short else 0) for s in symbols}
    closes = {s: 50.0 + 150.0 * rng.random() for s in symbols}
    price = {}
    for d_i, d in enumerate(days):
        for s in symbols:
            if d_i < first[s]:
                continue
            c0 = closes[s]
            o = round(c0 * (0.99 + 0.02 * rng.random()), 4)
            c = round(max(1.0, o * (0.97 + 0.06 * rng.random())), 4)
            hi = round(max(o, c) * (1 + 0.01 * rng.random()), 4)
            lo = round(min(o, c) * (1 - 0.01 * rng.random()), 4)
            price[(s, d)] = (o, hi, lo, c, int(1e6 + 9e6 * rng.random()))
            closes[s] = c
    parts = [days[n_history - 1]] + days[n_history:]
    news_id = 0
    expected_pairs, n_pairs = set(), []
    for p_i, pday in enumerate(parts):
        pname = pday.isoformat()
        fetched = f"{pname}T22:00:00+00:00"
        rows = []
        for (s, d), (o, hi, lo, c, v) in price.items():
            if d <= pday:
                # a re-fetched row repeats byte for byte: the serving upsert
                # keeps an arbitrary one of same-key rows
                rows.append({"symbol": s, "date": d.isoformat(), "open": o, "high": hi,
                             "low": lo, "close": c, "volume": v,
                             "fetched_at": f"{d.isoformat()}T22:00:00+00:00"})
                expected_pairs.add((s, d.isoformat()))
        _dump(f"{out}/yahoo/stocks/{pname}/stocks.json", rows)
        n_pairs.append(len(expected_pairs))
        if p_i == 0:  # company info is fetched once, with the backfill
            _dump(f"{out}/yahoo/company_info/{pname}/company_info.json", [
                {"symbol": s, "name": f"{s} Corp", "sector": ["Tech", "Energy", "Health"][i % 3],
                 "industry": "Industry", "country": "US", "market_cap": int(1e9 * (i + 1)),
                 "currency": "USD", "fetched_at": fetched}
                for i, s in enumerate(symbols) if s != orphan])
        window = days[:n_history] if p_i == 0 else [pday]
        news = []
        for d in window:
            for s in symbols:
                if rng.random() < 0.5:
                    score = round(float(rng.uniform(-1, 1)), 4)
                    news.append({"id": f"n{news_id}", "symbol": s, "title": f"{s} update",
                                 "summary": "" if news_id % 7 == 0 else "market news",
                                 "pub_date": f"{d.isoformat()}T14:30:00+00:00",
                                 "provider": "Wire", "url": f"https://example.com/{news_id}",
                                 "category": "company", "image": "",
                                 "sentiment_score": score,
                                 "sentiment_label": "positive" if score >= 0.05 else
                                 "negative" if score <= -0.05 else "neutral",
                                 "fetched_at": fetched})
                    news_id += 1
        news += [dict(r) for r in news[:3]]  # duplicate ids within the partition
        news.append({"id": f"old{p_i}", "symbol": symbols[0], "title": "archive",
                     "summary": "pre-2020", "pub_date": "2019-06-01T10:00:00+00:00",
                     "provider": "Wire", "url": "https://example.com/old", "category": "company",
                     "image": "", "sentiment_score": 0.1, "sentiment_label": "positive",
                     "fetched_at": fetched})
        _dump(f"{out}/finnhub/news/{pname}/news.json", news)
    n_rows = {s: sum(1 for (t, _) in price if t == s) for s in symbols}
    return {
        "partitions": [p.isoformat() for p in parts],
        "symbols": symbols, "orphan": orphan,
        "n_pairs": n_pairs,  # distinct (symbol, date) pairs after each partition
        "forecast_symbols": sorted(s for s in symbols if n_rows[s] >= 60),
        "short_symbols": sorted(s for s in symbols if n_rows[s] < 60),
    }
