"""Seeded generator for the benchmark's input tables.

Writes the ten tables the program's gates read (`region nation customer
supplier part orders lineitem events documents embeddings`, one parquet
file each) with the column names and types of the reference test tables
the gates were written against (TESTDATA.md; the tables themselves are not
in the repository). The three timestamp columns are written as those
tables store them, `timestamp[us]` without a time zone; FIXTURES.md part B
lists `events.ts` as [ns] and the order dates as [ms], which the stored
tables do not follow. Row counts scale with `sf` as there (lineitem =
6,000,000 x sf), and every range, count and share below was read from the
reference sf0.1 tables (perfbench/README.md: "Inputs and seeds"). The same
seed always gives byte-identical tables; different seeds give different
rows from the same distributions.
"""
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
P_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
P_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]

# events span January 2024 (30 days), the window the gates' constants use
EVENTS_T0_US = 1704067200 * 10**6
EVENTS_SPAN_US = 30 * 86400 * 10**6
# order dates span 1995-01-01 .. 2001-08-01 inclusive (ms), ship dates one
# to 95 days later
ORDERS_T0_MS = 788918400000
ORDERS_SPAN_DAYS = 2404


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def events_table(rng, n):
    """`events`: ts ascending with event_id, 5 types, 1,500 users,
    exponential values (mean 50, 2 dp) and a `{"k": N}` props tag."""
    ts = np.sort(rng.integers(0, EVENTS_SPAN_US, n)) + EVENTS_T0_US
    k = rng.integers(0, 100, n)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {int(x)}}}' for x in k]),
    })


def write_events(out_dir, seed, n=100_000):
    rng = np.random.default_rng([seed, 7])
    t = events_table(rng, n)
    _write(t, f"{out_dir}/events.parquet")
    return t


def _documents(rng, n):
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.0016:  # exact duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i > 10 and r < 0.047:  # near duplicate: one word swapped for "dup"
            base = texts[int(rng.integers(0, i))].split(" ")
            base[int(rng.integers(0, len(base)))] = "dup"
            texts.append(" ".join(base))
            continue
        m = int(rng.integers(10, 101))
        texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), m)]))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{int(s)}" for s in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng, n, dim=64):
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0.0, 0.15, (10, dim))
    v = rng.normal(0.0, 1.0, (n, dim)) + centers[labels]
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })


def write_all(out_dir, seed, sf):
    """All ten tables at scale factor `sf` into `out_dir`."""
    rng = np.random.default_rng([seed, 11])
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    _write(pa.table({"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                     "r_name": pa.array(REGIONS)}), f"{out_dir}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))}),
        f"{out_dir}/nation.parquet")
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)])}),
        f"{out_dir}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2))}),
        f"{out_dir}/supplier.parquet")
    adj = np.array(P_ADJ)[rng.integers(0, 8, n_part)]
    noun = np.array(P_NOUN)[rng.integers(0, 8, n_part)]
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{int(b)}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(P_TYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2))}),
        f"{out_dir}/part.parquet")
    odays = rng.integers(0, ORDERS_SPAN_DAYS + 1, n_ord)
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_ord), 2)),
        "o_orderdate": pa.array((ORDERS_T0_MS + odays * 86400000).astype("datetime64[ms]"),
                                pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)])}),
        f"{out_dir}/orders.parquet")
    sdays = rng.integers(1, ORDERS_SPAN_DAYS + 96, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": pa.array((ORDERS_T0_MS + sdays * 86400000).astype("datetime64[ms]"),
                               pa.timestamp("us"))}),
        f"{out_dir}/lineitem.parquet")
    _write(events_table(np.random.default_rng([seed, 7]), int(1_000_000 * sf)),
           f"{out_dir}/events.parquet")
    _write(_documents(rng, max(500, int(50_000 * sf))), f"{out_dir}/documents.parquet")
    _write(_embeddings(rng, max(500, int(20_000 * sf))), f"{out_dir}/embeddings.parquet")
