"""Seeded input generators for the benchmark workloads.

Each generator writes parquet tables plus an expected-output ledger into a
directory, and depends only on its seed: the same seed gives byte-identical
files. The program under test receives only the parquet tables; the ledger
stays with the benchmark, which uses it to check outputs.

  crawl       links.parquet (parent, page): a link forest in which every
              page has exactly one parent; a wide body plus a long narrow
              tail.  roots.parquet holds the depth-0 pages.
              ledger: crawl_ledger.parquet (page, depth)
  relational  the star schema of FIXTURES.md section B (lineitem, orders,
              customer, supplier, part, nation, region, events, documents,
              embeddings) with the value domains the q01-q20 predicates
              select on.  The oracle is DuckDB, so there is no ledger.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Crawl forest shape.
CRAWL_BODY_PAGES = 60000
CRAWL_BODY_DEPTH = 8
CRAWL_TAIL_DEPTH = 20
CRAWL_ROOTS = 16

# Relational scale (rows): the sf0.01 row counts of FIXTURES.md section B.
REL_LINEITEM = 60000
REL_ORDERS = 15000
REL_CUSTOMER = 1500
REL_SUPPLIER = 100
REL_PART = 2000
REL_EVENTS = 10000
REL_DOCS = 500
REL_VECS = 500
REL_DIM = 64

_WRITE_OPTS = dict(compression="snappy", use_dictionary=True,
                   write_statistics=True)


def _write(table, path):
    # No pandas metadata and a fixed writer: identical bytes per seed.
    pq.write_table(table.replace_schema_metadata(None), path, **_WRITE_OPTS)


def _vocab(rng, n, lo=3, hi=8):
    """n distinct lowercase words whose mean length is about 5."""
    cons, vows = "bcdfghklmnprstvz", "aeiou"
    words, seen = [], set()
    while len(words) < n:
        k = int(rng.integers(lo, hi))
        w = "".join(cons[rng.integers(16)] if i % 2 == 0 else vows[rng.integers(5)]
                    for i in range(k))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


class _Text:
    """Document text over a seeded vocabulary: ten head words make up about
    a quarter of each document, the rest is drawn from a long tail, and the
    mean word length stays between 4.3 and 5.7."""

    def __init__(self, rng):
        self.rng = rng
        words = _vocab(rng, 4000)
        self.head = [w for w in words if len(w) == 5][:10]
        self.headset = set(self.head)
        self.tail = [w for w in words if w not in self.headset]

    def clean(self, lo, hi):
        rng = self.rng
        while True:
            n = int(rng.integers(lo, hi + 1))
            toks = [self.head[rng.integers(10)] if rng.random() < 0.25
                    else self.tail[rng.integers(len(self.tail))] for _ in range(n)]
            mean_len = sum(len(t) for t in toks) / n
            heads = sum(t in self.headset for t in toks)
            if 4.3 <= mean_len <= 5.7 and heads >= 0.15 * n:
                return toks


def gen_crawl(seed, out):
    """A forest: CRAWL_ROOTS roots, a bushy body CRAWL_BODY_DEPTH levels deep,
    and a few narrow chains hanging off the deepest body pages that reach
    depth CRAWL_TAIL_DEPTH.  Page ids are a seeded permutation."""
    rng = np.random.default_rng([seed, 2])
    parent, depth = [], []
    level = list(range(CRAWL_ROOTS))
    for p in level:
        parent.append(-1)
        depth.append(0)
    per_level = CRAWL_BODY_PAGES // CRAWL_BODY_DEPTH
    for d in range(1, CRAWL_BODY_DEPTH + 1):
        ps = rng.choice(np.array(level), per_level)
        start = len(parent)
        parent.extend(int(x) for x in ps)
        depth.extend([d] * per_level)
        level = list(range(start, start + per_level))
    # Narrow tail: each level holds a handful of pages.
    for d in range(CRAWL_BODY_DEPTH + 1, CRAWL_TAIL_DEPTH + 1):
        width = int(rng.integers(2, 6))
        ps = rng.choice(np.array(level), width)
        start = len(parent)
        parent.extend(int(x) for x in ps)
        depth.extend([d] * width)
        level = list(range(start, start + width))
    n = len(parent)
    perm = rng.permutation(n).astype(np.int64)  # internal index -> page id
    parent = np.array(parent)
    is_root = parent < 0
    page = perm
    par = np.where(is_root, -1, perm[np.maximum(parent, 0)])
    links = pa.table({"parent": pa.array(par[~is_root], pa.int64()),
                      "page": pa.array(page[~is_root], pa.int64())})
    _write(links, os.path.join(out, "links.parquet"))
    _write(pa.table({"page": pa.array(page[is_root], pa.int64())}),
           os.path.join(out, "roots.parquet"))
    _write(pa.table({"page": pa.array(page, pa.int64()),
                     "depth": pa.array(np.array(depth), pa.int32())}),
           os.path.join(out, "crawl_ledger.parquet"))
    return {"input_rows": n, "links": int((~is_root).sum()),
            "roots": CRAWL_ROOTS, "max_depth": CRAWL_TAIL_DEPTH}


def _ts(rng, n, start, days):
    base = np.datetime64(start, "us").astype(np.int64)
    return pa.array(base + rng.integers(0, days * 86400 * 10**6, n),
                    pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return pa.array(np.round(rng.uniform(lo, hi, n), 2), pa.float64())


def gen_relational(seed, out):
    rng = np.random.default_rng([seed, 3])
    w = lambda name, t: _write(t, os.path.join(out, f"{name}.parquet"))
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    w("region", pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                          "r_name": pa.array(regions)}))
    w("nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    w("customer", pa.table({
        "c_custkey": pa.array(range(REL_CUSTOMER), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(REL_CUSTOMER)]),
        "c_nationkey": pa.array(rng.integers(0, 25, REL_CUSTOMER), pa.int32()),
        "c_acctbal": _money(rng, REL_CUSTOMER, -999.99, 9999.99),
        "c_mktsegment": pa.array(segs[rng.integers(0, 5, REL_CUSTOMER)])}))
    w("supplier", pa.table({
        "s_suppkey": pa.array(range(REL_SUPPLIER), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(REL_SUPPLIER)]),
        "s_nationkey": pa.array(rng.integers(0, 25, REL_SUPPLIER), pa.int32()),
        "s_acctbal": _money(rng, REL_SUPPLIER, -999.99, 9999.99)}))
    adj = np.array(["small", "red", "large", "shiny", "blue"])
    noun = np.array(["ring", "widget", "bolt", "gear", "valve"])
    w("part", pa.table({
        "p_partkey": pa.array(range(REL_PART), pa.int64()),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(
            adj[rng.integers(0, 5, REL_PART)], noun[rng.integers(0, 5, REL_PART)])]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, REL_PART)]),
        "p_type": pa.array(np.array(["ECONOMY", "STANDARD", "PROMO"])[
            rng.integers(0, 3, REL_PART)]),
        "p_size": pa.array(rng.integers(1, 51, REL_PART), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + np.arange(REL_PART) * 0.1, 2))}))
    w("orders", pa.table({
        "o_orderkey": pa.array(range(REL_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, REL_CUSTOMER, REL_ORDERS), pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, REL_ORDERS)]),
        "o_totalprice": _money(rng, REL_ORDERS, 1000.0, 500000.0),
        "o_orderdate": _ts(rng, REL_ORDERS, "1995-01-01", 2400),
        "o_orderpriority": pa.array(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, REL_ORDERS)])}))
    ok = rng.integers(0, REL_ORDERS, REL_LINEITEM)
    order = np.argsort(ok, kind="stable")
    ok = ok[order]
    # line numbers 1..k within each order
    first = np.r_[0, np.flatnonzero(np.diff(ok)) + 1]
    ln = np.arange(REL_LINEITEM) - np.repeat(first, np.diff(np.r_[first, REL_LINEITEM])) + 1
    qty = rng.integers(1, 51, REL_LINEITEM).astype(np.float64)
    w("lineitem", pa.table({
        "l_orderkey": pa.array(ok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, REL_PART, REL_LINEITEM), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, REL_SUPPLIER, REL_LINEITEM), pa.int64()),
        "l_linenumber": pa.array(ln, pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 3000, REL_LINEITEM), 2)),
        "l_discount": pa.array(rng.integers(0, 11, REL_LINEITEM) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, REL_LINEITEM) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, REL_LINEITEM)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, REL_LINEITEM)]),
        "l_shipdate": _ts(rng, REL_LINEITEM, "1995-01-02", 2500)}))
    w("events", pa.table({
        "event_id": pa.array(range(REL_EVENTS), pa.int64()),
        "ts": _ts(rng, REL_EVENTS, "2024-01-01", 30),
        "user_id": pa.array(rng.integers(0, 150, REL_EVENTS), pa.int64()),
        "event_type": pa.array(np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, REL_EVENTS)]),
        "value": pa.array(np.round(rng.exponential(50, REL_EVENTS) + 0.01, 2)),
        "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, REL_EVENTS)])}))
    c = _Text(rng)
    texts = [" ".join(c.clean(lo=10, hi=60)) for _ in range(REL_DOCS)]
    for i in range(0, REL_DOCS, 25):  # exact duplicates for q17
        texts[i] = texts[(i * 7 + 3) % REL_DOCS]
    w("documents", pa.table({
        "doc_id": pa.array(range(REL_DOCS), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(["en"] * REL_DOCS),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 8, REL_DOCS)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}))
    # Embeddings: float32 with few significant digits so cosine scores of
    # distinct pairs never tie at the 6-digit rounding the queries use.
    emb = np.round(rng.normal(0, 1, (REL_VECS, REL_DIM)), 3).astype(np.float32)
    w("embeddings", pa.table({
        "vec_id": pa.array(range(REL_VECS), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 5, REL_VECS), pa.int32())}))
    sizes = {"lineitem": REL_LINEITEM, "orders": REL_ORDERS,
             "customer": REL_CUSTOMER, "supplier": REL_SUPPLIER, "part": REL_PART,
             "nation": 25, "region": 5, "events": REL_EVENTS,
             "documents": REL_DOCS, "embeddings": REL_VECS}
    return {"input_rows": sum(sizes.values()), **sizes}


GENERATORS = {"crawl": gen_crawl, "relational": gen_relational}


def generate(workload, seed, out):
    """Write the workload's inputs for `seed` into `out` (created) and
    return a summary of their sizes."""
    os.makedirs(out, exist_ok=True)
    return GENERATORS[workload](seed, out)


def ledger_depths(path):
    """(pages, depths) lists from a crawl ledger."""
    t = pq.read_table(path)
    return t.column("page").to_pylist(), t.column("depth").to_pylist()

