"""Seeded input generators. The same seed gives byte-identical parquet
files; the engine sees only these files, read through its own source
layer. Sizes live here so the README can quote them from one place."""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# relational: TPC-H-shaped star schema plus an events stream, at the
# shape and value domains of the engine's sf0.01 fixture
REL = dict(customer=1500, supplier=100, part=2000, orders=15000,
           events=10000, documents=500)

# corpus: base documents made like the fixture's documents, of which
# some are planted exact copies or near-duplicate edits of earlier ones;
# plus an arriving batch classified against the base's index. The edit
# is the fixture's: the sf0.1 documents hold 250 near-duplicates in
# 5,000 (5%), each another document with the token "dup" appended,
# and 8 exact copies (0.16%). Exact copies are planted at 5% instead, so
# that a 1,000-document corpus holds some 40 of them for the recall
# check; the batch is a third copies, a third edits and a third fresh
# documents, so each of the three classify outcomes is checked on ~65.
CORPUS = dict(base=800, batch=200, exact_frac=0.05, near_frac=0.05,
              batch_exact_frac=1 / 3, batch_near_frac=1 / 3)

def _write(path, table):
    pq.write_table(table, path, row_group_size=1 << 20)


def _ts(days_from, span_days, rng, n):
    base = np.datetime64(days_from, "us")
    off = rng.integers(0, span_days, n).astype("timedelta64[D]")
    return base + off.astype("timedelta64[us]")


def _texts(rng, n):
    """Documents shaped like the fixture's: 10–99 tokens drawn uniformly
    from its 30-word vocabulary (which holds the sentiment lexicon's
    fast/big/slow/small)."""
    words = np.array("join hash row batch scan customer column filter small slow "
                     "merge order vector line data table agg value key stream "
                     "window spark a group part big sort query fast the".split())
    return [" ".join(words[rng.integers(0, len(words), k)])
            for k in rng.integers(10, 100, n)]


def relational(seed, out):
    """Tables with the sf fixtures' names, column types and value
    domains; (l_orderkey, l_linenumber) is unique."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out, exist_ok=True)
    _write(f"{out}/region.parquet", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}))
    _write(f"{out}/nation.parquet", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    n = REL["customer"]
    _write(f"{out}/customer.parquet", pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n)]}))
    n = REL["supplier"]
    _write(f"{out}/supplier.parquet", pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2)}))
    n = REL["part"]
    adj = np.array(["red", "old", "cold", "hot", "new", "large", "small", "blue"])
    noun = np.array(["bolt", "anvil", "plate", "widget", "gear", "ring", "rod", "gizmo"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    _write(f"{out}/part.parquet", pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n)], " "),
                              noun[rng.integers(0, 8, n)]),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": types[rng.integers(0, 6, n)],
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n) % 1000) / 10, 1)}))
    n = REL["orders"]
    status = np.array(["F", "O", "P"])
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(f"{out}/orders.parquet", pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, REL["customer"], n), pa.int64()),
        "o_orderstatus": status[rng.integers(0, 3, n)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n), 2),
        "o_orderdate": _ts("1995-01-01", 2404, rng, n),
        "o_orderpriority": prio[rng.integers(0, 5, n)]}))
    per = rng.integers(1, 8, n)
    okey = np.repeat(np.arange(n), per)
    lnum = np.concatenate([np.arange(1, k + 1) for k in per])
    m = len(okey)
    _write(f"{out}/lineitem.parquet", pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, REL["part"], m), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, REL["supplier"], m), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, m), 2),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, m)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, m)],
        "l_shipdate": _ts("1995-01-02", 2498, rng, m)}))
    n = REL["events"]
    gaps = rng.integers(1, 2 * 259_000_000, n)  # µs; ~30 days in total
    etypes = np.array(["click", "error", "purchase", "signup", "view"])
    _write(f"{out}/events.parquet", pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, 150, n), pa.int64()),
        "event_type": etypes[rng.integers(0, 5, n)],
        "value": np.maximum(0.01, np.round(rng.exponential(50, n), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]}))
    n = REL["documents"]
    texts = _texts(rng, n)
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    _write(f"{out}/documents.parquet", pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}))


def corpus(seed, out):
    """documents.parquet = base ∪ batch (column `batch`); returns the
    texts, the base size and the planted edits the checks need."""
    c = CORPUS
    rng = np.random.default_rng([seed, 2])
    texts = _texts(rng, c["base"] + c["batch"])
    edits = []

    def plant(i, src, exact_frac, near_frac):
        u = rng.random()
        if u < exact_frac:
            texts[i] = texts[src]
        elif u < exact_frac + near_frac:
            texts[i] = texts[src] + " dup"
            edits.append((i, int(src)))

    for i in range(1, c["base"]):
        plant(i, rng.integers(0, i), c["exact_frac"], c["near_frac"])
    for i in range(c["base"], len(texts)):
        plant(i, rng.integers(0, c["base"]), c["batch_exact_frac"], c["batch_near_frac"])
    n = len(texts)
    os.makedirs(out, exist_ok=True)
    _write(f"{out}/documents.parquet", pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "batch": np.arange(n) >= c["base"]}))
    return {"texts": texts, "base": c["base"], "edits": edits}


GENERATORS = {"relational": relational, "corpus": corpus}
