"""Seeded input generator for the graft benchmark.

Writes the TPC-H-ish star schema plus `events`, `documents` and
`embeddings` as one parquet file per table, with the column names and
types of the repository's test data (see TESTDATA.md), so every
`SparkEntry.queries` op and its DuckDB oracle read them unchanged.
The same (row counts, seed) always gives the same rows.

Input properties (documented per table in README.md):

- row counts are given per table; every order has 1-7 lines (4 on
  average, as in sf0.1) numbered 1..n, so (l_orderkey, l_linenumber)
  is unique and every l_orderkey exists in orders;
- key skew: 20% of orders go to the hottest 1% of customers;
- documents: 2% exact duplicates, 5% near-duplicates (a copy with one
  token appended) and 2% contaminated documents (a fresh document that
  carries a 12-token span of an eval document, `doc_id % 50 = 0`).
"""
import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
EXACT_DUP_SHARE = 0.02
NEAR_DUP_SHARE = 0.05
CONTAM_SHARE = 0.02
HOT_CUSTOMER_SHARE = 0.01
HOT_ORDER_SHARE = 0.20
EMB_DIM = 64
_US_PER_DAY = 86_400_000_000


def _epoch_us(y, m, d):
    return int((dt.datetime(y, m, d) - dt.datetime(1970, 1, 1))
               .total_seconds()) * 1_000_000


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def customer(rng, n):
    keys = np.arange(n, dtype=np.int64)
    seg = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING",
                    "FURNITURE"])
    return {
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": seg[rng.integers(0, 5, n)],
    }


def orders(rng, n, n_cust):
    hot = max(1, int(n_cust * HOT_CUSTOMER_SHARE))
    cust = np.where(rng.random(n) < HOT_ORDER_SHARE,
                    rng.integers(0, hot, n), rng.integers(0, n_cust, n))
    lo, hi = _epoch_us(1995, 1, 1), _epoch_us(2001, 8, 1)
    days = rng.integers(0, (hi - lo) // _US_PER_DAY + 1, n)
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                     "5-LOW"])
    return {
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": cust.astype(np.int64),
        "o_orderstatus": np.array(["O", "P", "F"])[rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _ts(lo + days * _US_PER_DAY),
        "o_orderpriority": prio[rng.integers(0, 5, n)],
    }


def lineitem(rng, order_dates_us, n_part, n_supp):
    n_ord = len(order_dates_us)
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n = len(okey)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    lnum = (np.arange(n) - starts + 1).astype(np.int32)
    ship = np.repeat(order_dates_us, lines) + \
        rng.integers(1, 122, n) * _US_PER_DAY
    return {
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n).astype(np.int64),
        "l_linenumber": lnum,
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": _ts(ship),
    }


def events(rng, n):
    lo = _epoch_us(2024, 1, 1)
    span = 30 * _US_PER_DAY
    # distinct, sorted instants: event_id order is time order
    ts = lo + np.sort(rng.choice(span, n, replace=False))
    n_users = max(1, round(n * 0.015))
    types = np.array(["signup", "click", "error", "view", "purchase"])
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": types[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }


def _words(rng, lo, hi):
    return [VOCAB[i] for i in rng.integers(0, len(VOCAB),
                                           rng.integers(lo, hi + 1))]


def documents(rng, n):
    """Fresh random documents with planted duplicates and contamination.

    Planted rows only copy from ids below their own, so each planted
    family has a well-defined original (the keep-min survivor).
    """
    texts = [" ".join(_words(rng, 10, 100)) for _ in range(n)]
    kind = rng.choice(4, n, p=[1 - EXACT_DUP_SHARE - NEAR_DUP_SHARE
                               - CONTAM_SHARE, EXACT_DUP_SHARE,
                               NEAR_DUP_SHARE, CONTAM_SHARE])
    kind[0] = 0
    evals = np.arange(0, n, 50)
    for i in np.nonzero(kind)[0]:
        if kind[i] == 1:
            texts[i] = texts[rng.integers(0, i)]
        elif kind[i] == 2:
            texts[i] = texts[rng.integers(0, i)] + " dup"
        else:
            src = evals[evals < i]
            toks = texts[src[rng.integers(0, len(src))]].split(" ")
            at = rng.integers(0, max(1, len(toks) - 12) + 1)
            span = toks[at:at + 12]
            texts[i] = " ".join(_words(rng, 5, 40) + span +
                                _words(rng, 5, 40))
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def embeddings(rng, n):
    centers = rng.normal(0.0, 0.07 / np.sqrt(EMB_DIM), (10, EMB_DIM))
    label = rng.integers(0, 10, n).astype(np.int32)
    v = centers[label] * 8.0 + rng.normal(0.0, 1.0 / np.sqrt(EMB_DIM),
                                          (n, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": label,
    }


def generate(out, rows, seed):
    """Write one parquet file per table of `rows` ({table: row count})
    into `out`, from `seed`; `orders` brings `lineitem` with it. Returns
    the row count of each table written."""
    # one independent stream per table: adding a table to a workload
    # never changes the rows of the others
    names = ["customer", "orders", "lineitem", "events", "documents",
             "embeddings"]
    rng = {k: np.random.default_rng(s) for k, s in zip(
        names, np.random.SeedSequence([seed, 0x67726166]).spawn(6))}
    tables = {}
    if "customer" in rows:
        tables["customer"] = customer(rng["customer"], rows["customer"])
    if "orders" in rows:
        o = orders(rng["orders"], rows["orders"], rows["customer"])
        tables["orders"] = o
        # part and supplier keys in the sf0.1 proportion to orders
        tables["lineitem"] = lineitem(
            rng["lineitem"], o["o_orderdate"].cast(pa.int64()).to_numpy(),
            max(1, rows["orders"] * 2 // 15), max(1, rows["orders"] // 150))
    for name, make in (("events", events), ("documents", documents),
                       ("embeddings", embeddings)):
        if name in rows:
            tables[name] = make(rng[name], rows[name])
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), f"{out}/{name}.parquet",
                       row_group_size=1 << 17)
    return {name: len(next(iter(cols.values())))
            for name, cols in tables.items()}
