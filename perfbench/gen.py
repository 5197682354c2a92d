"""Seeded input generator for the benchmark.

Writes the ten tables the engine reads (Tables.scala) under one `sf`
directory. `events` mirrors the reference's date-foldered raw zone: one
parquet file per arrival day, `events.parquet/<YYYY-MM-DD>.parquet`, with a
TIMESTAMP(MICROS) `ts`. The day files sit directly in the table directory:
Tables.load neither recurses into plain sub-folders nor should see the extra
column a `day=` partition folder would add. Symbol activity is Zipf-skewed, values carry
two decimals, and click/view are among the event types (the analysis stage
counts them). The same seed gives byte-identical files.

Days past `history_days` are written to a separate `staged` directory, so a
caller can land each one in the raw zone just before replaying it.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
EVENT_P = [0.3, 0.3, 0.15, 0.1, 0.15]
VOCAB = ("join hash row batch scan column customer filter small slow merge order "
         "vector line table data agg value key stream window a spark part group "
         "big sort query fast the").split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
START = dt.date(2024, 1, 1)


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    # fixed writer settings: no creation timestamp or pandas metadata, so
    # the bytes depend on the seed alone
    pq.write_table(table, path, compression="snappy", use_dictionary=True)


def day_of(i):
    return START + dt.timedelta(days=i)


def events_for_day(rng, i, perm, per_symbol_day, zipf_s, base, walk, first_id):
    """One arrival day's events: Poisson counts over Zipf symbol weights;
    `perm` maps popularity rank to symbol id, so popularity is not simply
    ordered by id."""
    n_symbols = len(perm)
    ranks = np.arange(1, n_symbols + 1, dtype=np.float64)
    w = ranks ** -zipf_s
    lam = w / w.sum() * n_symbols * per_symbol_day
    counts = rng.poisson(lam)
    n = int(counts.sum())
    sym = np.repeat(np.arange(n_symbols), counts)
    price = base[sym] * np.exp(walk[sym])
    value = np.round(np.maximum(price * (1 + rng.normal(0, 0.01, n)), 0.01), 2)
    day0 = int(dt.datetime(day_of(i).year, day_of(i).month, day_of(i).day,
                           tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    us = day0 + rng.integers(0, 86_400_000_000, n)
    order = np.argsort(us, kind="stable")
    us, sym, value = us[order], sym[order], value[order]
    et = EVENT_TYPES[rng.choice(len(EVENT_TYPES), n, p=EVENT_P)]
    props = np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}")
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "ts": pa.array(us, type=pa.timestamp("us")),
        "user_id": pa.array(perm[sym].astype(np.int64)),
        "event_type": pa.array(et.astype(object), type=pa.string()),
        "value": pa.array(value, type=pa.float64()),
        "props": pa.array(props.astype(object), type=pa.string()),
    })


def write_events(rng, sf, staged, n_symbols, history_days, replay_days,
                 per_symbol_day, zipf_s):
    perm = rng.permutation(n_symbols)
    base = np.round(rng.uniform(5, 400, n_symbols), 2)
    walk = np.zeros(n_symbols)
    next_id, n_events = 0, 0
    for i in range(history_days + replay_days):
        walk += rng.normal(0, 0.02, n_symbols)
        t = events_for_day(rng, i, perm, per_symbol_day, zipf_s, base, walk, next_id)
        next_id += t.num_rows
        n_events += t.num_rows
        root = os.path.join(sf, "events.parquet") if i < history_days else staged
        _write(t, os.path.join(root, f"{day_of(i).isoformat()}.parquet"))
    return n_events, perm


def write_dims(rng, sf, n_docs, n_vecs):
    """The star-schema dims, documents and embeddings, sized small: the
    registry queries read some of them, and the schema check needs all."""
    seg = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    n_cust, n_supp, n_part, n_ord = 600, 40, 800, 6000
    _write(pa.table({"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
           f"{sf}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)}),
           f"{sf}/nation.parquet")
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust), 2)),
        "c_mktsegment": pa.array(seg[rng.integers(0, 5, n_cust)].astype(object), type=pa.string()),
    }), f"{sf}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_supp), 2)),
    }), f"{sf}/supplier.parquet")
    adj = np.array(["small", "red", "large", "green", "blue", "old"])
    noun = np.array(["ring", "widget", "bolt", "gear", "valve", "panel"])
    ptype = np.array(["ECONOMY", "STANDARD", "PROMO", "LARGE", "SMALL"])
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array(np.char.add(np.char.add(adj[rng.integers(0, 6, n_part)], " "),
                                       noun[rng.integers(0, 6, n_part)]).astype(object), type=pa.string()),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)).astype(object),
                            type=pa.string()),
        "p_type": pa.array(ptype[rng.integers(0, 5, n_part)].astype(object), type=pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + np.arange(n_part) * 0.1, 2)),
    }), f"{sf}/part.parquet")
    epoch = np.datetime64("1995-01-01", "us")
    odate = epoch + rng.integers(0, 2500, n_ord).astype("timedelta64[D]")
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)].astype(object),
                                  type=pa.string()),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_ord), 2)),
        "o_orderdate": pa.array(odate.astype("datetime64[us]"), type=pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                              "5-LOW"])[rng.integers(0, 5, n_ord)].astype(object),
                                    type=pa.string()),
    }), f"{sf}/orders.parquet")
    lines = rng.integers(1, 8, n_ord)
    lk = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    ln = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    nl = len(lk)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    _write(pa.table({
        "l_orderkey": pa.array(lk), "l_partkey": pa.array(rng.integers(0, n_part, nl).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, nl).astype(np.int64)),
        "l_linenumber": pa.array(ln), "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 3000, nl), 2)),
        "l_discount": pa.array(np.round(rng.integers(0, 11, nl) / 100.0, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, nl) / 100.0, 2)),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, nl)].astype(object),
                                 type=pa.string()),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, nl)].astype(object),
                                 type=pa.string()),
        "l_shipdate": pa.array((odate[lk] + rng.integers(1, 120, nl).astype("timedelta64[D]"))
                               .astype("datetime64[us]"), type=pa.timestamp("us")),
    }), f"{sf}/lineitem.parquet")
    texts = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:
            # planted near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))]))
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": texts,
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)].astype(object), type=pa.string()),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }), f"{sf}/documents.parquet")
    v = rng.normal(0, 1, (n_vecs, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs).astype(np.int32)),
    }), f"{sf}/embeddings.parquet")


def generate(seed, sf, staged, n_symbols, history_days, replay_days,
             per_symbol_day=2.0, zipf_s=1.1, n_docs=500, n_vecs=500):
    """Write every table for `seed`; returns the number of source events
    and the symbol ids ordered by popularity rank."""
    rng = np.random.default_rng(seed)
    n, perm = write_events(rng, sf, staged, n_symbols, history_days, replay_days,
                           per_symbol_day, zipf_s)
    write_dims(np.random.default_rng([seed, 1]), sf, n_docs, n_vecs)
    return n, perm
