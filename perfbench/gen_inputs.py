"""Seeded generator for the benchmark's input tables.

Writes the star schema (region, nation, customer, supplier, part,
orders, lineitem), the `events` table and the `documents` corpus as
parquet, with the column names, physical types and value distributions
of the repo's synthetic test data (TESTDATA.md): uniform independent
draws over the same domains, `events.ts` ascending in `event_id` over
January 2024 and stored as parquet TIMESTAMP(MICROS) as the test data
stores it (so `Tables.events` takes its timestamp-cast branch, not the
int64-nanos one), and `documents` as 10-69 word texts over a 30-word
vocabulary with a few planted exact copies, `embeddings` as unit 64-d
vectors. The same (sf, seed) always gives byte-identical values.

    python3 perfbench/gen_inputs.py OUT_DIR SF SEED [table ...]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ALL_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings")
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "wheel"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
STATUS = ["F", "O", "P"]
PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()

US_PER_DAY = 86_400_000_000


def _day_us(y, m, d):
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def documents_table(rng, n_docs):
    lengths = rng.integers(10, 70, n_docs)
    words = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lengths]
    # ~0.2% planted exact copies of an earlier document
    for i in rng.choice(np.arange(1, n_docs), max(1, n_docs // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    ids = np.arange(n_docs, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n_docs, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in ids]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def build(sf, seed, tables=ALL_TABLES):
    """{name: pyarrow.Table}; each table draws from its own seeded stream,
    so generating a subset gives the same rows as generating all."""
    n_cust = int(150000 * sf)
    n_supp = max(10, int(10000 * sf))
    n_part = int(200000 * sf)
    n_ord = int(1500000 * sf)
    n_line = int(6000000 * sf)
    n_evt = int(1000000 * sf)
    n_users = max(15, int(15000 * sf))
    n_docs = max(500, int(50000 * sf))
    n_vecs = max(500, int(20000 * sf))

    def rng_for(name):
        return np.random.default_rng([seed, ALL_TABLES.index(name)])

    out = {}
    for name in tables:
        rng = rng_for(name)
        if name == "region":
            t = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                          "r_name": REGIONS})
        elif name == "nation":
            t = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                          "n_name": [f"NATION_{i}" for i in range(25)],
                          "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
        elif name == "customer":
            ids = np.arange(n_cust, dtype=np.int64)
            t = pa.table({"c_custkey": ids,
                          "c_name": [f"Customer#{i:09d}" for i in ids],
                          "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                          "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                          "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
        elif name == "supplier":
            ids = np.arange(n_supp, dtype=np.int64)
            t = pa.table({"s_suppkey": ids,
                          "s_name": [f"Supplier#{i:09d}" for i in ids],
                          "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                          "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
        elif name == "part":
            ids = np.arange(n_part, dtype=np.int64)
            names = [f"{a} {b}" for a in ADJ for b in NOUN]
            t = pa.table({"p_partkey": ids,
                          "p_name": _pick(rng, names, n_part),
                          "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
                          "p_type": _pick(rng, PTYPES, n_part),
                          "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                          "p_retailprice": np.round(900.0 + (ids % 1000) * 0.1, 2)})
        elif name == "orders":
            lo, hi = _day_us(1995, 1, 1), _day_us(2001, 8, 1)
            days = rng.integers(0, (hi - lo) // US_PER_DAY + 1, n_ord)
            t = pa.table({"o_orderkey": np.arange(n_ord, dtype=np.int64),
                          "o_custkey": rng.integers(0, n_cust, n_ord),
                          "o_orderstatus": _pick(rng, STATUS, n_ord),
                          "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
                          "o_orderdate": _ts(lo + days * US_PER_DAY),
                          "o_orderpriority": _pick(rng, PRIORITY, n_ord)})
        elif name == "lineitem":
            lo, hi = _day_us(1995, 1, 2), _day_us(2001, 11, 4)
            days = rng.integers(0, (hi - lo) // US_PER_DAY + 1, n_line)
            t = pa.table({"l_orderkey": rng.integers(0, n_ord, n_line),
                          "l_partkey": rng.integers(0, n_part, n_line),
                          "l_suppkey": rng.integers(0, n_supp, n_line),
                          "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
                          "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                          "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
                          "l_discount": rng.integers(0, 11, n_line) / 100.0,
                          "l_tax": rng.integers(0, 9, n_line) / 100.0,
                          "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
                          "l_linestatus": _pick(rng, ["F", "O"], n_line),
                          "l_shipdate": _ts(lo + days * US_PER_DAY)})
        elif name == "events":
            lo = _day_us(2024, 1, 1)
            ts = np.sort(rng.integers(0, 30 * US_PER_DAY, n_evt)) + lo
            t = pa.table({"event_id": np.arange(n_evt, dtype=np.int64),
                          "ts": _ts(ts),
                          "user_id": rng.integers(0, n_users, n_evt),
                          "event_type": _pick(rng, EVENT_TYPES, n_evt),
                          "value": np.round(rng.exponential(50.0, n_evt), 2),
                          "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)])})
        elif name == "documents":
            t = documents_table(rng, n_docs)
        elif name == "embeddings":
            v = rng.normal(0.0, 1.0, (n_vecs, 64)).astype(np.float32)
            v /= np.linalg.norm(v, axis=1, keepdims=True)
            t = pa.table({"vec_id": np.arange(n_vecs, dtype=np.int64),
                          "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
                          "label": rng.integers(0, 10, n_vecs).astype(np.int32)})
        else:
            raise ValueError(f"unknown table {name}")
        out[name] = t
    return out


def write(out_dir, sf, seed, tables=ALL_TABLES):
    """Generate and write `tables` under out_dir. Returns {name: rows}."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, t in build(sf, seed, tables).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")
        rows[name] = t.num_rows
    return rows


if __name__ == "__main__":
    if len(sys.argv) < 4:
        sys.exit(__doc__)
    print(write(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]),
                tuple(sys.argv[4:]) or ALL_TABLES))
