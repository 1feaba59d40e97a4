"""Output checks for the batch workloads, run after the timed region.

Registered queries are compared with their DuckDB oracle SQL on the
workload's own generated tables, through the comparison rules of the
repository's tools/check.py (imported, not copied). Queries without
oracle SQL must return rows, the rule tools/check.py applies to them.
The direct graph-operator calls are compared with reference
implementations in numpy on the same seeded graph.
"""
import importlib.util
import json
import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def load_check(root):
    spec = importlib.util.spec_from_file_location("graft_check", os.path.join(root, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _scan(path):
    return f"read_parquet('{path}/*.parquet')" if os.path.isdir(path) else f"read_parquet('{path}')"


def _edges(data):
    t = pq.read_table(os.path.join(data, "graph_edges.parquet"))
    return t["src"].to_numpy(), t["dst"].to_numpy()


def cc_reference(src, dst):
    """Min-node-id label of every node's connected component."""
    nodes = np.unique(np.concatenate([src, dst]))
    s, d = np.searchsorted(nodes, src), np.searchsorted(nodes, dst)
    every = np.arange(len(nodes))
    idx = np.concatenate([s, d, every])
    lbl = every
    while True:
        new = pd.Series(np.concatenate([lbl[d], lbl[s], lbl])).groupby(idx).min().to_numpy()
        new = new[new]
        if np.array_equal(new, lbl):
            return pd.DataFrame({"node": nodes, "lbl": nodes[lbl]})
        lbl = new


def lpa_reference(src, dst, rounds):
    """Synchronous label propagation on the symmetric edge set: each
    round, every node takes its neighbours' most frequent label, the
    smallest on ties; labels start as node ids."""
    pairs = np.unique(np.stack([np.concatenate([src, dst]), np.concatenate([dst, src])], 1), axis=0)
    nodes = np.unique(pairs[:, 0])
    s, d = np.searchsorted(nodes, pairs[:, 0]), np.searchsorted(nodes, pairs[:, 1])
    lbl = nodes.copy()
    for _ in range(rounds):
        votes = pd.DataFrame({"n": s, "l": lbl[d]}).value_counts().reset_index(name="c")
        best = votes.sort_values(["n", "c", "l"], ascending=[True, False, True]).drop_duplicates("n")
        lbl = lbl.copy()
        lbl[best["n"].to_numpy()] = best["l"].to_numpy()
    return pd.DataFrame({"node": nodes, "lbl": lbl})


def bfs_reference(src, dst, source, max_hops):
    """Minimum hop count from `source` along the edges, up to `max_hops`."""
    order = np.argsort(src, kind="stable")
    s, d = src[order], dst[order]
    dist = {int(source): 0}
    frontier = np.array([source])
    for hop in range(1, max_hops + 1):
        lo, hi = np.searchsorted(s, frontier, "left"), np.searchsorted(s, frontier, "right")
        nxt = np.unique(np.concatenate([d[a:b] for a, b in zip(lo, hi)] or [np.array([], np.int64)]))
        nxt = [int(n) for n in nxt if int(n) not in dist]
        if not nxt:
            break
        for n in nxt:
            dist[n] = hop
        frontier = np.array(nxt)
    return pd.DataFrame({"node": list(dist), "hops": list(dist.values())})


def _same(spark_df, ref, key):
    a = spark_df.sort_values(key).reset_index(drop=True)
    b = ref.sort_values(key).reset_index(drop=True)
    if sorted(a.columns) != sorted(b.columns) or len(a) != len(b):
        return f"shape: got {sorted(a.columns)} x {len(a)}, want {sorted(b.columns)} x {len(b)}"
    for c in b.columns:
        if not np.array_equal(a[c].to_numpy().astype(np.int64), b[c].to_numpy().astype(np.int64)):
            return f"column {c} differs"
    return None


def check_batch(root, data, work, ops, lpa_rounds, bfs_hops, threw):
    """Checks each operation's output as its first timed run wrote it.
    Returns {op name: None if correct, else the reason}."""
    check = load_check(root)
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM {_scan(os.path.join(data, t + '.parquet'))}")
    with open(os.path.join(work, "oracle_sql.json")) as f:
        oracle = json.load(f)
    src = dst = None
    result = {}
    for op in ops:
        name = op["name"]
        if name in threw:
            result[name] = "threw: " + threw[name]
            continue
        try:
            out = pd.read_parquet(os.path.join(work, "out", name))
            if op["kind"] != "query":
                if src is None:
                    src, dst = _edges(data)
                if op["kind"] == "cc":
                    err = _same(out, cc_reference(src, dst), "node")
                elif op["kind"] == "lpa":
                    err = _same(out, lpa_reference(src, dst, lpa_rounds), "node")
                else:
                    both = np.concatenate([src, dst]), np.concatenate([dst, src])
                    err = _same(out, bfs_reference(*both, 0, bfs_hops), "node")
            elif name in oracle:
                err = check.compare(name, out, con.execute(oracle[name]).fetchdf())
            else:
                err = None if len(out) else "no rows"
        except Exception as e:  # a failed check is a failed operation
            err = f"{type(e).__name__}: {str(e).splitlines()[0][:200] if str(e) else ''}"
        result[name] = err
    return result
