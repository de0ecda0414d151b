"""Seeded input generator for the benchmark workloads.

Everything a run reads is produced here from ``--seed`` before the timed
phase starts; the engine sees only the files written below. Column names,
types and value domains follow the fixture star schema (region .. lineitem,
events, documents, embeddings), so every analytic query keeps its meaning:
the same brands, nations, regions, date ranges, event types and document
vocabulary appear, drawn uniformly like the fixture draws them.

Layout of a generated lake: ``<lake>/<table>.parquet/part-00000.parquet`` --
each table is a directory, so replication rounds can land a batch as one more
file next to the first.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ORDER_STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]  # en ~40% as in the fixture
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()

ORDER_DAY0 = dt.datetime(1995, 1, 1)
ORDER_DAYS = (dt.datetime(2001, 8, 1) - ORDER_DAY0).days + 1
SHIP_DAY0 = dt.datetime(1995, 1, 2)
SHIP_DAYS = (dt.datetime(2001, 11, 4) - SHIP_DAY0).days + 1
EVENT_T0_US = int(dt.datetime(2024, 1, 1).replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)
EVENT_SPAN_US = 30 * 86400 * 10**6  # fixture events cover 2024-01-01 .. 2024-01-30

TS = pa.timestamp("us")


def _days_to_us(day0, days):
    base = int(day0.replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)
    return base + days.astype(np.int64) * 86400 * 10**6


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def write_table(lake, name, table, part=0):
    d = os.path.join(lake, f"{name}.parquet")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"part-{part:05d}.parquet")
    pq.write_table(table, path)
    return path


# --------------------------------------------------------------- star schema

def dims(rng, n_cust=15000, n_supp=1000, n_part=20000):
    region = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                       "r_name": REGIONS})
    nation = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                       "n_name": [f"NATION_{i}" for i in range(25)],
                       "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part)
    part = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part}


def orders(rng, keys, n_cust=15000, day_lo=0, day_hi=ORDER_DAYS):
    n = len(keys)
    return pa.table({
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n), pa.int64()),
        "o_orderstatus": np.array(ORDER_STATUS)[rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": pa.array(_days_to_us(ORDER_DAY0, rng.integers(day_lo, day_hi, n)), TS),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)]})


def lineitem(rng, orderkeys, linenumbers, n_part=20000, n_supp=1000):
    n = len(orderkeys)
    return pa.table({
        "l_orderkey": pa.array(orderkeys, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
        "l_linenumber": pa.array(linenumbers, pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": pa.array(_days_to_us(SHIP_DAY0, rng.integers(0, SHIP_DAYS, n)), TS)})


def lines_for(orderkeys, rng, max_lines=7):
    """Unique (l_orderkey, l_linenumber) keys: 1..k lines per order."""
    per = rng.integers(1, max_lines + 1, len(orderkeys))
    ok = np.repeat(orderkeys, per)
    starts = np.repeat(np.cumsum(per) - per, per)
    ln = np.arange(len(ok)) - starts + 1
    return ok, ln


def events(rng, ids, ts_us, n_users=1500):
    n = len(ids)
    value = np.minimum(np.round(rng.exponential(50.0, n), 2), 560.0)
    return pa.table({
        "event_id": pa.array(ids, pa.int64()),
        "ts": pa.array(ts_us, TS),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": value,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def doc_text(rng, n_words):
    return " ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), n_words)])


def documents(rng, ids, texts):
    n = len(ids)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def embeddings(rng, n=2000, dim=64, labels=10):
    centers = rng.normal(0, 1, (labels, dim))
    lab = rng.integers(0, labels, n)
    v = centers[lab] + rng.normal(0, 0.8, (n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(lab, pa.int32())})


def corpus(rng, n, id0=0):
    texts = [doc_text(rng, int(k)) for k in rng.integers(10, 101, n)]
    return documents(rng, np.arange(id0, id0 + n), texts)


# ----------------------------------------------------------------- manifest

def table_props(lake, name):
    d = os.path.join(lake, f"{name}.parquet")
    files = sorted(os.listdir(d))
    rows = sum(pq.ParquetFile(os.path.join(d, f)).metadata.num_rows for f in files)
    size = sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return {"rows": rows, "bytes": size, "files": len(files)}


def skew(values):
    """Key skew as (max rows per key) / (mean rows per key)."""
    _, counts = np.unique(np.asarray(values), return_counts=True)
    return round(float(counts.max() / counts.mean()), 3)


# ----------------------------------------------------------------- analyst

def analyst(root, seed, scale=1.0):
    """An sf0.1-sized lake (scale 1.0) of all fixture tables."""
    rng = np.random.default_rng([seed, 1])
    lake = os.path.join(root, "lake")
    for name, t in dims(rng).items():
        write_table(lake, name, t)
    n_orders = int(150000 * scale)
    o = orders(rng, np.arange(n_orders))
    write_table(lake, "orders", o)
    # The fixture's lineitem averages four lines per order.
    ok, ln = lines_for(np.arange(n_orders), rng)
    li = lineitem(rng, ok, ln)
    write_table(lake, "lineitem", li)
    n_ev = int(100000 * scale)
    ts = np.sort(EVENT_T0_US + rng.integers(0, EVENT_SPAN_US, n_ev))
    ev = events(rng, np.arange(n_ev), ts)
    write_table(lake, "events", ev)
    write_table(lake, "documents", corpus(rng, 5000))
    write_table(lake, "embeddings", embeddings(rng))
    tables = ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]
    return {
        "lake": lake,
        "tables": {t: table_props(lake, t) for t in tables},
        "key_skew": {"orders.o_custkey": skew(o["o_custkey"]),
                     "events.user_id": skew(ev["user_id"]),
                     "lineitem.l_orderkey": skew(li["l_orderkey"])},
    }


# --------------------------------------------------------------- replicate

REPLICATE_DIMS = ("nation", "customer")


def replicate(root, seed, rounds, scale=0.25, batch_rows=400, tie_share=0.05):
    """A lake whose incremental tables hold the first part of the fixture's
    key/time domain; each of ``rounds`` batches extends it with fresh rows
    plus rows tied with the previous round's watermark (the inclusive
    boundary), written under ``batches/<round>/<table>.parquet``. The
    ``documents`` table and its batches come from :func:`documents_batches`.
    """
    rng = np.random.default_rng([seed, 2])
    lake = os.path.join(root, "lake")
    for name, t in dims(rng).items():
        if name in REPLICATE_DIMS:
            write_table(lake, name, t)
    n_orders = int(150000 * scale)
    n_ev = int(100000 * scale)
    # Base data covers the first 60% of the time domains; rounds fill the rest.
    ev_base_span = int(EVENT_SPAN_US * 0.6)
    ev_round_span = (EVENT_SPAN_US - ev_base_span) // (rounds + 1)
    od_base = int(ORDER_DAYS * 0.6)
    od_round = max(1, (ORDER_DAYS - od_base) // (rounds + 1))

    write_table(lake, "orders", orders(rng, np.arange(n_orders), day_hi=od_base))
    ok, ln = lines_for(np.arange(n_orders), rng)
    write_table(lake, "lineitem", lineitem(rng, ok, ln))
    ts = np.sort(EVENT_T0_US + rng.integers(0, ev_base_span, n_ev))
    write_table(lake, "events", events(rng, np.arange(n_ev), ts))

    ev_max, ev_next = int(ts.max()), n_ev
    li_max, li_lines = n_orders - 1, int(ln[ok == n_orders - 1].max())
    o_next = n_orders
    per_round = []
    for r in range(rounds):
        b = os.path.join(root, "batches", f"{r:04d}")
        n_tie = max(1, int(batch_rows * tie_share))
        # events: fresh rows after the watermark plus rows AT it.
        lo = EVENT_T0_US + ev_base_span + r * ev_round_span
        fresh = np.sort(lo + 1 + rng.integers(0, ev_round_span, batch_rows - n_tie))
        ts_b = np.concatenate([np.full(n_tie, ev_max, np.int64), fresh])
        write_table(b, "events", events(rng, np.arange(ev_next, ev_next + len(ts_b)), ts_b))
        ev_next += len(ts_b)
        ev_max = int(ts_b.max())
        # lineitem: new lines of the watermark order (free line numbers
        # only -- the key stays unique), then whole new orders.
        n_li_tie = min(7 - li_lines, n_tie)
        tie_ok = np.full(n_li_tie, li_max)
        tie_ln = np.arange(li_lines + 1, li_lines + 1 + n_li_tie)
        new_orders = np.arange(li_max + 1, li_max + 1 + batch_rows // 4)
        nok, nln = lines_for(new_orders, rng)
        # The last new order keeps free line numbers for the next round's ties.
        last = nok == new_orders[-1]
        keep = ~last | (nln <= 2)
        nok, nln = nok[keep], nln[keep]
        write_table(b, "lineitem", lineitem(rng, np.concatenate([tie_ok, nok]),
                                            np.concatenate([tie_ln, nln])))
        li_max, li_lines = int(new_orders[-1]), int(nln[nok == new_orders[-1]].max())
        # orders: the custom_query table, incremental on its unique key.
        n_o = batch_rows // 2
        write_table(b, "orders", orders(rng, np.arange(o_next, o_next + n_o),
                                        day_lo=od_base + r * od_round,
                                        day_hi=od_base + (r + 1) * od_round))
        o_next += n_o
        per_round.append({"events": len(ts_b), "events_tied": n_tie,
                          "lineitem": n_li_tie + len(nok), "lineitem_tied": n_li_tie,
                          "orders": n_o})
    docs = documents_batches(root, seed, rounds)
    tables = list(REPLICATE_DIMS) + ["orders", "lineitem", "events", "documents"]
    tied = sum(p["events_tied"] + p["lineitem_tied"] for p in per_round)
    fresh_rows = sum(p["events"] + p["lineitem"] + p["orders"] for p in per_round)
    return {
        "lake": lake,
        "tables": {t: table_props(lake, t) for t in tables},
        "rounds": rounds,
        "batch_rows_per_round": per_round[0],
        "tied_row_share": round(tied / fresh_rows, 4),
        "key_skew": {"lineitem.l_orderkey": skew(ok)},
        "documents": docs,
    }


# ------------------------------------------------------- curated documents

def _shingles(words, k=3):
    return {" ".join(words[i:i + k]) for i in range(max(len(words) - k + 1, 1))}


def jaccard(a, b):
    sa, sb = _shingles(a.split()), _shingles(b.split())
    return len(sa & sb) / len(sa | sb)


def near_dup(rng, text, min_jaccard=0.8):
    """A word-edit variant of ``text``: substitute one word per 50, retrying
    until the word-3-shingle Jaccard with the original is at least
    ``min_jaccard`` and the text actually changed."""
    words = text.split()
    edits = max(1, len(words) // 50)
    while True:
        w = list(words)
        for i in rng.choice(len(w), edits, replace=False):
            w[i] = VOCAB[(VOCAB.index(w[i]) + 1 + int(rng.integers(0, len(VOCAB) - 1))) % len(VOCAB)]
        t = " ".join(w)
        if t != text and jaccard(text, t) >= min_jaccard:
            return t


def documents_batches(root, seed, batches, history=1000, batch_docs=100,
                      exact_share=0.1, near_share=0.1):
    """A history corpus (``doc_id`` 0 .. history-1, in the lake from the
    start) and ``batches`` document batches. Each batch carries ``exact_share`` exact copies and
    ``near_share`` word-edit near-duplicates, half of each against the
    batch's own earlier documents and half against history; the rest is
    unique. Ground truth per batch goes to ``truth.json``.
    """
    rng = np.random.default_rng([seed, 3])
    lake = os.path.join(root, "lake")
    texts = [doc_text(rng, int(k)) for k in rng.integers(10, 101, history)]
    write_table(lake, "documents", documents(rng, np.arange(history), texts))
    long_hist = [i for i, t in enumerate(texts) if len(t.split()) >= 40]
    next_id = history
    truth = []
    n_exact = int(batch_docs * exact_share)
    n_near = int(batch_docs * near_share)
    n_uniq = batch_docs - n_exact - n_near
    for b in range(batches):
        uniq = [doc_text(rng, int(k)) for k in rng.integers(10, 101, n_uniq)]
        uniq_long = [i for i, t in enumerate(uniq) if len(t.split()) >= 40]
        kinds = {"unique": [], "exact_batch": [], "exact_history": [],
                 "near_batch": [], "near_history": []}
        out = []
        for t in uniq:
            kinds["unique"].append(next_id); out.append(t); next_id += 1
        # Copies and variants get higher ids than their originals, so the
        # original is the one the sink keeps.
        for j in range(n_exact):
            if j % 2 == 0:
                t, k = uniq[int(rng.integers(0, n_uniq))], "exact_batch"
            else:
                t, k = texts[int(rng.integers(0, history))], "exact_history"
            kinds[k].append(next_id); out.append(t); next_id += 1
        for j in range(n_near):
            if j % 2 == 0:
                t, k = near_dup(rng, uniq[uniq_long[int(rng.integers(0, len(uniq_long)))]]), "near_batch"
            else:
                t, k = near_dup(rng, texts[long_hist[int(rng.integers(0, len(long_hist)))]]), "near_history"
            kinds[k].append(next_id); out.append(t); next_id += 1
        ids = np.arange(next_id - len(out), next_id)
        bdir = os.path.join(root, "batches", f"{b:04d}")
        write_table(bdir, "documents", documents(rng, ids, out))
        # Later batches may copy this batch's unique docs as "history" too.
        texts.extend(uniq)
        long_hist.extend(len(texts) - n_uniq + i for i in uniq_long)
        truth.append(kinds)
    with open(os.path.join(root, "truth.json"), "w") as f:
        json.dump({"history": history, "batches": truth}, f)
    return {
        "history_docs": history,
        "batch_docs": batch_docs,
        "exact_dup_share": exact_share,
        "near_dup_share": near_share,
        "near_dup_min_jaccard": 0.8,
    }
