"""Reference results computed outside the engine, in NumPy and pandas.

Each function takes the collected edge list as arrays ``src``, ``dst``
(and ``weight`` where the app reads it) over vertex ids ``ids`` and
reproduces the engine's semantics on the undirected (doubled) graph:
parallel edges count wherever the reference app's adjacency scan counts
them, ids are arbitrary int64 values (not assumed dense).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

INT64_MAX = np.iinfo(np.int64).max


def _dense(ids, src, dst):
    """Map vertex ids to positions 0..n-1 (ids sorted ascending)."""
    order = np.sort(np.asarray(ids, dtype=np.int64))
    return order, np.searchsorted(order, src), np.searchsorted(order, dst)


def _doubled(s, d, *cols):
    return (np.concatenate([s, d]), np.concatenate([d, s])) + tuple(
        np.concatenate([c, c]) for c in cols
    )


def pagerank(ids, src, dst, rounds: int = 10, damping: float = 0.85) -> pd.Series:
    """LDBC PageRank with the reference app's dangling-mass recurrence:
    the state stores rank / out-degree, dangling vertices redistribute
    through the ``base`` scalar, and the output multiplies back by degree."""
    order, s, d = _dense(ids, src, dst)
    s, d = _doubled(s, d)
    n = len(order)
    deg = np.bincount(s, minlength=n).astype(np.float64)
    has = deg > 0
    n_dangling = int((~has).sum())
    p = 1.0 / n
    r = np.where(has, p / np.where(has, deg, 1.0), p)
    dangling_sum = p * n_dangling
    for _ in range(rounds):
        base = (1.0 - damping) / n + damping * dangling_sum / n
        dangling_sum = base * n_dangling
        gathered = np.bincount(d, weights=r[s], minlength=n)
        r = np.where(has, (damping * gathered + base) / np.where(has, deg, 1.0), base)
    return pd.Series(np.where(has, r * deg, r), index=order, name="rank")


def wcc(ids, src, dst) -> pd.Series:
    """Min-label fixpoint: every vertex ends labelled with the smallest id
    of its weakly connected component."""
    order, s, d = _dense(ids, src, dst)
    s, d = _doubled(s, d)
    comp = np.arange(len(order))
    while True:
        nxt = comp.copy()
        np.minimum.at(nxt, d, comp[s])
        nxt = nxt[nxt]  # pointer jump: labels are positions in the same component
        if np.array_equal(nxt, comp):
            break
        comp = nxt
    return pd.Series(order[comp], index=order, name="comp")


def bfs(ids, src, dst, source: int) -> pd.Series:
    """Hop depth from ``source``; unreached vertices read int64 max."""
    order, s, d = _dense(ids, src, dst)
    s, d = _doubled(s, d)
    depth = np.full(len(order), INT64_MAX, dtype=np.int64)
    frontier = np.zeros(len(order), dtype=bool)
    frontier[np.searchsorted(order, source)] = True
    level = 0
    while frontier.any():
        depth[frontier] = level
        reached = np.zeros_like(frontier)
        reached[d[frontier[s]]] = True
        frontier = reached & (depth == INT64_MAX)
        level += 1
    return pd.Series(depth, index=order, name="depth")


def sssp(ids, src, dst, weight, source: int) -> pd.Series:
    """Weighted shortest distance from ``source`` (Bellman-Ford to the
    fixpoint); unreached vertices read +inf."""
    order, s, d = _dense(ids, src, dst)
    s, d, w = _doubled(s, d, np.asarray(weight, dtype=np.float64))
    dist = np.full(len(order), np.inf)
    dist[np.searchsorted(order, source)] = 0.0
    while True:
        nxt = dist.copy()
        np.minimum.at(nxt, d, dist[s] + w)
        if np.array_equal(nxt, dist):
            break
        dist = nxt
    return pd.Series(dist, index=order, name="dist")


def cdlp(ids, src, dst, rounds: int = 10) -> pd.Series:
    """Synchronous label propagation: each round a vertex takes the most
    frequent label among its neighbours, each parallel edge one vote,
    ties to the smallest label; vertices without neighbours keep theirs."""
    order, s, d = _dense(ids, src, dst)
    s, d = _doubled(s, d)
    label = order.copy()
    for _ in range(rounds):
        votes = pd.DataFrame({"v": s, "label": label[d]})
        counts = votes.value_counts().rename("cnt").reset_index()
        best = counts.sort_values(["v", "cnt", "label"], ascending=[True, False, True])
        best = best.drop_duplicates("v")
        nxt = label.copy()
        nxt[best["v"].to_numpy()] = best["label"].to_numpy()
        label = nxt
    return pd.Series(label, index=order, name="label")


def lcc(ids, src, dst) -> pd.Series:
    """Local clustering coefficient: 2 * triangles / (deg * (deg - 1)),
    with ``deg`` the doubled adjacency length (parallel edges counted) and
    triangles over the deduplicated simple graph; 0 below degree 2."""
    order, s, d = _dense(ids, src, dst)
    n = len(order)
    ds, dd = _doubled(s, d)
    deg = np.bincount(ds, minlength=n)
    # orient each simple edge from lower to higher (degree, id) rank so every
    # triangle is found exactly once, from its lowest-ranked corner
    rank = np.empty(n, dtype=np.int64)
    rank[np.lexsort((np.arange(n), deg))] = np.arange(n)
    keep = ds != dd
    lo = np.where(rank[ds] < rank[dd], ds, dd)[keep]
    hi = np.where(rank[ds] < rank[dd], dd, ds)[keep]
    out = pd.DataFrame({"u": lo, "v": hi}).drop_duplicates()
    wedges = out.merge(out.rename(columns={"v": "w"}), on="u")
    wedges = wedges[wedges["v"] != wedges["w"]]
    tri = wedges.merge(out.rename(columns={"u": "v", "v": "w"}), on=["v", "w"])
    corners = np.concatenate([tri["u"], tri["v"], tri["w"]]).astype(np.int64)
    t = np.bincount(corners, minlength=n).astype(np.float64)
    degf = deg.astype(np.float64)
    val = np.where(deg >= 2, 2.0 * t / np.maximum(degf * (degf - 1.0), 1.0), 0.0)
    return pd.Series(val, index=order, name="lcc")


def apply_mutation(base: pd.DataFrame, delta: pd.DataFrame) -> pd.DataFrame:
    """Apply an edge delta (``op`` in del/upd/add) to an edge list
    ``(src, dst, weight)``: ``del`` drops every parallel copy of its
    (src, dst), ``upd`` overwrites the weight of every copy, ``add``
    appends. Returns the merged list sorted by (src, dst, weight)."""
    key = ["src", "dst"]
    dels = delta.loc[delta["op"] == "del", key].drop_duplicates()
    out = base.merge(dels, on=key, how="left", indicator=True)
    out = out.loc[out["_merge"] == "left_only", key + ["weight"]]
    upds = delta.loc[delta["op"] == "upd", key + ["weight"]].drop_duplicates(key)
    out = out.merge(upds.rename(columns={"weight": "_nw"}), on=key, how="left")
    out["weight"] = out["_nw"].fillna(out["weight"])
    adds = delta.loc[delta["op"] == "add", key + ["weight"]]
    out = pd.concat([out[key + ["weight"]], adds], ignore_index=True)
    return sort_edges(out)


def sort_edges(edges: pd.DataFrame) -> pd.DataFrame:
    out = edges[["src", "dst", "weight"]].astype(
        {"src": np.int64, "dst": np.int64, "weight": np.float64}
    )
    return out.sort_values(["src", "dst", "weight"], ignore_index=True)
