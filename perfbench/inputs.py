"""Seeded benchmark inputs and the numpy references their outputs are checked against.

Everything here is plain numpy/pyarrow: it never imports the engine, so the
references are computed independently of the code under test.

* ``read_event_tables`` reads the fixed ``events``, ``lineitem`` and ``part``
  tables (``perfbench/data/sf0.01``, a verbatim copy of the driver's sf0.01
  data) with pyarrow; ``tiny_event_tables`` writes a key-range subset of them.
* ``event_edges`` re-derives the engine's event graph (NEXT/TYPE/GROUP/LOOP,
  sources/tables.py) from the same arrays, so the projection is checked too.
* ``part_edges`` re-derives the part co-occurrence graph.
* ``pagerank``, ``components``, ``strong_components``, ``label_propagation``
  and ``triangles`` are the algorithm references.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

GROUP_MOD = 50            # sources/tables.py event_edges(group_mod=50)


@dataclass
class EventTables:
    root: str
    user_id: np.ndarray
    event_id: np.ndarray
    ts_us: np.ndarray
    event_type: np.ndarray    # index into the sorted distinct event types
    n_types: int
    l_orderkey: np.ndarray
    l_partkey: np.ndarray
    part_ids: np.ndarray      # sorted p_partkey


def read_event_tables(root: str) -> EventTables:
    """The columns of ``root``'s events/lineitem/part parquet tables that the
    engine's event and part graphs read."""
    ev = pq.read_table(f"{root}/events.parquet",
                       columns=["event_id", "user_id", "event_type", "ts"])
    li = pq.read_table(f"{root}/lineitem.parquet", columns=["l_orderkey", "l_partkey"])
    parts = pq.read_table(f"{root}/part.parquet", columns=["p_partkey"])
    types, type_idx = np.unique(ev["event_type"].to_numpy(zero_copy_only=False),
                                return_inverse=True)
    return EventTables(
        root, ev["user_id"].to_numpy(), ev["event_id"].to_numpy(),
        ev["ts"].cast(pa.int64()).to_numpy(), type_idx, len(types),
        li["l_orderkey"].to_numpy(), li["l_partkey"].to_numpy(),
        np.sort(parts["p_partkey"].to_numpy()))


def tiny_event_tables(src: str, root: str) -> str:
    """A key-range subset of the tables under ``src``, written to ``root``:
    the first 20 users' events and the first 500 orders' lineitems, whole;
    the part table as it is."""
    os.makedirs(root)
    for table, key, n in (("events", "user_id", 20), ("lineitem", "l_orderkey", 500)):
        t = pq.read_table(f"{src}/{table}.parquet")
        keep = pa.array(np.unique(t[key].to_numpy())[:n])
        pq.write_table(t.filter(pc.is_in(t[key], value_set=keep)), f"{root}/{table}.parquet")
    shutil.copy(f"{src}/part.parquet", root)
    return root


def _consecutive_pairs(keys: np.ndarray, ids: np.ndarray) -> np.ndarray:
    """(ids[i], ids[i+1]) wherever keys[i] == keys[i+1] (rows pre-sorted)."""
    same = keys[1:] == keys[:-1]
    return np.stack([ids[:-1][same], ids[1:][same]], axis=1)


def event_edges(t: EventTables) -> tuple[int, np.ndarray]:
    """(n_vertices, edges[m, 2]) of events_graph(rel_types=NEXT,TYPE,GROUP,LOOP).

    Vertex id = rank of (user_id, ts, event_id); the rules follow the
    sources/tables.py module docstring."""
    order = np.lexsort((t.event_id, t.ts_us, t.user_id))
    n = len(order)
    users = t.user_id[order]
    types = t.event_type[order]
    ids = np.arange(n, dtype=np.int64)          # id of sorted position i is i
    nxt = _consecutive_pairs(users, ids)
    by_type = np.lexsort((ids, types, users))
    typ = _consecutive_pairs(users[by_type] * t.n_types + types[by_type],
                             ids[by_type])
    first = np.r_[True, users[1:] != users[:-1]]
    last = np.r_[users[1:] != users[:-1], True]
    f_users, f_ids = users[first], ids[first]
    cohort = np.lexsort((f_users, f_users % GROUP_MOD))
    grp = _consecutive_pairs(f_users[cohort] % GROUP_MOD, f_ids[cohort])
    loop = np.stack([ids[last], f_ids], axis=1)
    return n, np.concatenate([nxt, typ, grp, loop]).astype(np.int64)


def part_edges(t: EventTables) -> np.ndarray:
    """Distinct (a, b), a < b, of parts sharing an order."""
    order = np.lexsort((t.l_partkey, t.l_orderkey))
    ok, pk = t.l_orderkey[order], t.l_partkey[order]
    starts = np.flatnonzero(np.r_[True, ok[1:] != ok[:-1]])
    ends = np.r_[starts[1:], len(ok)]
    pairs = []
    for s, e in zip(starts, ends):
        if e - s > 1:
            a, b = np.triu_indices(e - s, 1)
            pairs.append(np.stack([pk[s:e][a], pk[s:e][b]], axis=1))
    p = np.concatenate(pairs) if pairs else np.zeros((0, 2), np.int64)
    p = p[p[:, 0] != p[:, 1]]
    p.sort(axis=1)
    return np.unique(p, axis=0)


def pagerank(ids: np.ndarray, edges: np.ndarray, max_iterations: int = 20,
             tolerance: float = 1e-7, damping: float = 0.85) -> np.ndarray:
    """Unnormalized PageRank (operators/pagerank.py): rank = (1-d) + d * sum
    rank(u)/outdeg(u), parallel edges counted with multiplicity, GDS's
    send-only first superstep, so max_iterations - 1 updates at most."""
    n = len(ids)
    s = np.searchsorted(ids, edges[:, 0])
    d = np.searchsorted(ids, edges[:, 1])
    out_deg = np.bincount(s, minlength=n).astype(np.float64)
    inv = np.divide(1.0, out_deg, out=np.zeros(n), where=out_deg > 0)
    rank = np.full(n, 1.0 - damping)
    for _ in range(max(max_iterations - 1, 0)):
        new = (1.0 - damping) + damping * np.bincount(
            d, weights=(rank * inv)[s], minlength=n)
        delta = np.abs(new - rank).max() if n else 0.0
        rank = new
        if tolerance > 0 and delta <= tolerance:
            break
    return rank


def components(ids: np.ndarray, edges: np.ndarray) -> np.ndarray:
    """Weakly connected components labelled by their minimum member id."""
    parent = list(range(len(ids)))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in np.searchsorted(ids, edges).tolist():
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)   # the root is the minimum index
    return ids[np.array([find(x) for x in range(len(ids))], dtype=np.int64)]


def strong_components(ids: np.ndarray, edges: np.ndarray) -> np.ndarray:
    """Strongly connected components (Kosaraju) labelled by minimum member id."""
    n = len(ids)
    s, d = np.searchsorted(ids, edges[:, 0]), np.searchsorted(ids, edges[:, 1])

    def csr(a, b):
        order = np.argsort(a, kind="stable")
        return np.r_[0, np.cumsum(np.bincount(a, minlength=n))].tolist(), b[order].tolist()

    fwd_ptr, fwd = csr(s, d)
    rev_ptr, rev = csr(d, s)
    seen = [False] * n
    finish: list[int] = []
    for root in range(n):
        if seen[root]:
            continue
        seen[root] = True
        stack = [(root, fwd_ptr[root])]
        while stack:
            v, i = stack[-1]
            if i < fwd_ptr[v + 1]:
                stack[-1] = (v, i + 1)
                u = fwd[i]
                if not seen[u]:
                    seen[u] = True
                    stack.append((u, fwd_ptr[u]))
            else:
                stack.pop()
                finish.append(v)
    comp = [-1] * n
    for root in reversed(finish):
        if comp[root] != -1:
            continue
        members, stack = [root], [root]
        comp[root] = root
        while stack:
            v = stack.pop()
            for u in rev[rev_ptr[v]:rev_ptr[v + 1]]:
                if comp[u] == -1:
                    comp[u] = root
                    members.append(u)
                    stack.append(u)
        low = min(members)
        for u in members:
            comp[u] = low
    return ids[np.array(comp, dtype=np.int64)]


def label_propagation(ids: np.ndarray, edges: np.ndarray,
                      max_iterations: int = 10) -> np.ndarray:
    """Synchronous label propagation over the undirected multigraph: each
    node takes the label with the most incident edges, ties to the smaller
    label; stops when no label changes (operators/labelprop.py)."""
    n = len(ids)
    s, d = np.searchsorted(ids, edges[:, 0]), np.searchsorted(ids, edges[:, 1])
    recv, send = np.r_[d, s], np.r_[s, d]
    label = ids.copy()
    for _ in range(max_iterations):
        lab = label[send]
        order = np.lexsort((lab, recv))
        r, lab = recv[order], lab[order]
        new_run = np.r_[True, (r[1:] != r[:-1]) | (lab[1:] != lab[:-1])]
        starts = np.flatnonzero(new_run)
        votes = np.diff(np.r_[starts, len(r)])
        vr, vl = r[starts], lab[starts]
        best = np.lexsort((vl, -votes, vr))          # most votes, then smallest label
        first = np.r_[True, vr[best][1:] != vr[best][:-1]]
        new = label.copy()
        new[vr[best][first]] = vl[best][first]
        if np.array_equal(new, label):
            break
        label = new
    return label


def triangles(ids: np.ndarray, edges: np.ndarray) -> np.ndarray:
    """Per-node triangle counts, in ``ids`` order, of a simple undirected
    graph given as distinct (a, b) pairs with a < b over the sorted ``ids``."""
    edges = np.searchsorted(ids, edges)
    n_nodes = len(ids)
    deg = np.bincount(edges.ravel(), minlength=n_nodes)
    rank = np.lexsort((np.arange(n_nodes), deg))
    pos = np.empty(n_nodes, np.int64)
    pos[rank] = np.arange(n_nodes)
    a, b = edges[:, 0], edges[:, 1]
    lo = np.where(pos[a] < pos[b], a, b)        # orient low -> high rank
    hi = np.where(pos[a] < pos[b], b, a)
    key = np.sort(lo * n_nodes + hi)
    order = np.argsort(lo, kind="stable")
    lo, hi = lo[order], hi[order]
    count = np.zeros(n_nodes, np.int64)
    starts = np.flatnonzero(np.r_[True, lo[1:] != lo[:-1]]) if len(lo) else []
    for s, e in zip(starts, np.r_[starts[1:], len(lo)] if len(lo) else []):
        if e - s < 2:
            continue
        nb = hi[s:e]
        i, j = np.triu_indices(e - s, 1)
        u, v = nb[i], nb[j]
        k = np.where(pos[u] < pos[v], u * n_nodes + v, v * n_nodes + u)
        hit = np.searchsorted(key, k)
        closed = (hit < len(key)) & (key[np.minimum(hit, len(key) - 1)] == k)
        if closed.any():
            count[lo[s]] += int(closed.sum())
            np.add.at(count, u[closed], 1)
            np.add.at(count, v[closed], 1)
    return count
