"""Seeded input generator for the benchmark.

Writes the ten fixture tables the query registry reads (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings) with the schemas and value distributions of the repository's
test fixtures, so every registered query runs unchanged on them. The same
(seed, units) always yields the same tables; 1 unit is the smallest
fixture scale (6,000 lineitem rows). The benchmark owns this generator so
a change to the program cannot change the workload.

Also writes an undirected graph (`graph_edges.parquet`, columns src/dst)
for the direct calls into the iterative graph operators. The graph is
the same for every seed: connected components needs 5 or 6 rounds
depending on the graph's seed, and that step made it the widest-spread
operation of the suite. The seed still places the graph operators in
the suite's shuffled order.
"""
import os
import json

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
ADJ = "blue cold hot large new old red small".split()
NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
GRAPH_SEED = 1
LANGS = ["en", "de", "es", "fr", "zh"]
DAY_US = 86_400_000_000


def _us(date):
    return int(np.datetime64(date, "us").astype(np.int64))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _days(rng, first, last, n):
    span = (np.datetime64(last) - np.datetime64(first)).astype(int)
    return _us(first) + rng.integers(0, span + 1, n) * DAY_US


def _ts(values):
    return pa.array(values, type=pa.int64()).cast(pa.timestamp("us"))


def base_tables(seed, units):
    """The fixture tables at `units` × the smallest fixture scale."""
    rng = np.random.default_rng([seed, units])
    n_cust, n_supp, n_part = 150 * units, 10 * units, 200 * units
    n_ord, n_line, n_ev = 1500 * units, 6000 * units, 1000 * units
    n_users, n_docs, n_vec = 15 * units, max(500, 50 * units), max(500, 20 * units)
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS})
    t["nation"] = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, P_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 2)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _ts(_days(rng, "1995-01-01", "2001-08-01", n_ord)),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _ts(_days(rng, "1995-01-02", "2001-11-04", n_line))})
    # events: ids in time order over 30 days; distinct µs stamps
    ts = np.sort(rng.choice(30 * DAY_US, n_ev, replace=False)) + _us("2024-01-01")
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    # documents: 31-word vocabulary; 5 % are an earlier document + " dup"
    texts = []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(_pick(rng, VOCAB[:30], int(rng.integers(10, 101)))))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    e = rng.standard_normal((n_vec, 64)).astype(np.float32)
    e /= np.linalg.norm(e, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(e), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vec).astype(np.int32)})
    return t


def graph(seed, nodes, degree):
    """Undirected graph: `nodes // 50` dense communities plus sparse
    cross-community bridges, `degree` edges per node, no self loops."""
    rng = np.random.default_rng([seed, nodes, degree, 7])
    n_edges = nodes * degree // 2
    src = rng.integers(0, nodes, n_edges)
    comm = src // 50
    local = comm * 50 + rng.integers(0, 50, n_edges)
    far = rng.integers(0, nodes, n_edges)
    dst = np.where(rng.random(n_edges) < 0.9, np.minimum(local, nodes - 1), far)
    keep = src != dst
    return pa.table({"src": src[keep].astype(np.int64), "dst": dst[keep].astype(np.int64)})


def write(out_dir, seed, units, graph_nodes, graph_degree):
    """Generate into `out_dir` unless a complete copy is already there."""
    marker = os.path.join(out_dir, "_SPEC.json")
    spec = {"seed": seed, "units": units, "graph_seed": GRAPH_SEED, "graph_nodes": graph_nodes,
            "graph_degree": graph_degree}
    if os.path.exists(marker):
        with open(marker) as f:
            if json.load(f) == spec:
                return
    os.makedirs(out_dir, exist_ok=True)
    tables = base_tables(seed, units)
    tables["graph_edges"] = graph(GRAPH_SEED, graph_nodes, graph_degree)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    with open(marker, "w") as f:
        json.dump(spec, f)
