"""Seeded synthetic corpus for the benchmark workloads.

The tables have the engine's schemas (`graft.sources.Tables`) and the
column domains of the project's reference test data: uniform keys and
categories, exponential event values over one month, a 30-word document
vocabulary with ~5% near-duplicate documents, unit-norm 64-d
embeddings. Each table is a directory `<name>.parquet` holding one part
file, with time-zone-naive microsecond timestamps as in the reference
data. The same seed always gives the same rows.
"""
import datetime
import math
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the dashboard and batch corpus, and of the pipeline's
# base events table (one month of history over the 500-ticker universe).
ANALYTICS = dict(customers=300, suppliers=20, parts=400, orders=3000,
                 lineitems=12000, events=2000, users=30, documents=500,
                 embeddings=500)
TICKERS = 500
TICK_EVENTS = 2000

EVENTS_START = datetime.datetime(2024, 1, 1)
EVENT_DAYS = 30
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
VOCABULARY = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
              "filter", "group", "hash", "join", "key", "line", "merge",
              "order", "part", "query", "row", "scan", "slow", "small", "sort",
              "spark", "stream", "table", "the", "value", "vector", "window"]

I32, I64, F64, STR = pa.int32(), pa.int64(), pa.float64(), pa.string()
TS = pa.timestamp("us")


def _save(dir_, name, fields, columns):
    table = pa.table(columns, schema=pa.schema(fields))
    os.makedirs(os.path.join(dir_, f"{name}.parquet"))
    pq.write_table(table, os.path.join(dir_, f"{name}.parquet", "part-00000.parquet"))


def _rng(seed, salt):
    return random.Random(seed * 1000003 + salt)


def _money(r, lo, hi):
    return round(lo + r.random() * (hi - lo), 2)


def _day(r, start, span):
    return datetime.datetime(*start) + datetime.timedelta(days=r.randrange(span))


def events(dir_, seed, n, users):
    r = _rng(seed, 6)
    span = EVENT_DAYS * 86400 * 1000000
    offsets = sorted(r.randrange(span) for _ in range(n))
    ids, ts, user, kind, value, props = [], [], [], [], [], []
    for i, off in enumerate(offsets):
        ids.append(i)
        ts.append(EVENTS_START + datetime.timedelta(microseconds=off))
        user.append(r.randrange(users))
        kind.append(r.choice(EVENT_TYPES))
        value.append(round(-50.0 * math.log(1.0 - r.random()), 2))
        props.append('{"k": %d}' % r.randrange(100))
    _save(dir_, "events", [("event_id", I64), ("ts", TS), ("user_id", I64),
                           ("event_type", STR), ("value", F64), ("props", STR)],
          [ids, ts, user, kind, value, props])


def analytics(dir_, seed, size=ANALYTICS):
    """Every table of the dashboard and batch corpus."""
    os.makedirs(dir_)
    _save(dir_, "region", [("r_regionkey", I32), ("r_name", STR)],
          [list(range(5)), REGIONS])
    _save(dir_, "nation", [("n_nationkey", I32), ("n_name", STR),
                           ("n_regionkey", I32)],
          [list(range(25)), [f"NATION_{i}" for i in range(25)],
           [i % 5 for i in range(25)]])
    r = _rng(seed, 1)
    n = size["customers"]
    _save(dir_, "customer", [("c_custkey", I64), ("c_name", STR),
                             ("c_nationkey", I32), ("c_acctbal", F64),
                             ("c_mktsegment", STR)],
          [list(range(n)), [f"Customer#{i:09d}" for i in range(n)],
           [r.randrange(25) for _ in range(n)],
           [_money(r, -1000, 10000) for _ in range(n)],
           [r.choice(SEGMENTS) for _ in range(n)]])
    r = _rng(seed, 2)
    n = size["suppliers"]
    _save(dir_, "supplier", [("s_suppkey", I64), ("s_name", STR),
                             ("s_nationkey", I32), ("s_acctbal", F64)],
          [list(range(n)), [f"Supplier#{i:09d}" for i in range(n)],
           [r.randrange(25) for _ in range(n)],
           [_money(r, -1000, 10000) for _ in range(n)]])
    r = _rng(seed, 3)
    n = size["parts"]
    _save(dir_, "part", [("p_partkey", I64), ("p_name", STR), ("p_brand", STR),
                         ("p_type", STR), ("p_size", I32),
                         ("p_retailprice", F64)],
          [list(range(n)),
           [f"{r.choice(ADJECTIVES)} {r.choice(NOUNS)}" for _ in range(n)],
           [f"Brand#{1 + r.randrange(25)}" for _ in range(n)],
           [r.choice(PART_TYPES) for _ in range(n)],
           [1 + r.randrange(50) for _ in range(n)],
           [900.0 + (i % 1000) / 10.0 for i in range(n)]])
    r = _rng(seed, 4)
    n = size["orders"]
    _save(dir_, "orders", [("o_orderkey", I64), ("o_custkey", I64),
                           ("o_orderstatus", STR), ("o_totalprice", F64),
                           ("o_orderdate", TS), ("o_orderpriority", STR)],
          [list(range(n)),
           [r.randrange(size["customers"]) for _ in range(n)],
           [r.choice("FOP") for _ in range(n)],
           [_money(r, 1000, 500000) for _ in range(n)],
           [_day(r, (1995, 1, 1), 2404) for _ in range(n)],
           [r.choice(PRIORITIES) for _ in range(n)]])
    r = _rng(seed, 5)
    n = size["lineitems"]
    _save(dir_, "lineitem", [("l_orderkey", I64), ("l_partkey", I64),
                             ("l_suppkey", I64), ("l_linenumber", I32),
                             ("l_quantity", F64), ("l_extendedprice", F64),
                             ("l_discount", F64), ("l_tax", F64),
                             ("l_returnflag", STR), ("l_linestatus", STR),
                             ("l_shipdate", TS)],
          [[r.randrange(size["orders"]) for _ in range(n)],
           [r.randrange(size["parts"]) for _ in range(n)],
           [r.randrange(size["suppliers"]) for _ in range(n)],
           [1 + r.randrange(7) for _ in range(n)],
           [float(1 + r.randrange(50)) for _ in range(n)],
           [_money(r, 900, 105000) for _ in range(n)],
           [r.randrange(11) / 100.0 for _ in range(n)],
           [r.randrange(9) / 100.0 for _ in range(n)],
           [r.choice("ANR") for _ in range(n)],
           [r.choice("FO") for _ in range(n)],
           [_day(r, (1995, 1, 2), 2498) for _ in range(n)]])
    events(dir_, seed, size["events"], size["users"])
    r = _rng(seed, 7)
    texts, langs = [], []
    for i in range(size["documents"]):
        if i > 0 and r.randrange(20) == 0:
            texts.append(texts[r.randrange(i)] + " dup")
        else:
            texts.append(" ".join(r.choice(VOCABULARY)
                                  for _ in range(10 + r.randrange(91))))
        u = r.randrange(100)
        langs.append("en" if u < 41 else "zh" if u < 56 else "de" if u < 70
                     else "es" if u < 85 else "fr")
    n = size["documents"]
    _save(dir_, "documents", [("doc_id", I64), ("text", STR), ("lang", STR),
                              ("source", STR), ("n_chars", I64)],
          [list(range(n)), texts, langs, [f"src{i % 20}" for i in range(n)],
           [len(t) for t in texts]])
    r = _rng(seed, 8)
    vecs, labels = [], []
    for _ in range(size["embeddings"]):
        v = [math.sqrt(-2.0 * math.log(1.0 - r.random())) *
             math.cos(2 * math.pi * r.random()) for _ in range(64)]
        norm = math.sqrt(sum(x * x for x in v))
        vecs.append([x / norm for x in v])
        labels.append(r.randrange(10))
    n = size["embeddings"]
    _save(dir_, "embeddings", [("vec_id", I64),
                               ("embedding", pa.list_(pa.float32())),
                               ("label", I32)],
          [list(range(n)), vecs, labels])


def tick_base(dir_, seed):
    """The pipeline's base events table: a month of history over the
    ticker universe."""
    os.makedirs(dir_)
    events(dir_, seed, TICK_EVENTS, TICKERS)
