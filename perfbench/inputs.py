"""Seeded benchmark inputs: the events table, synthetic transcripts, mutation deltas.

Everything here is a pure function of ``seed`` (and size parameters), so
the same seed gives the same inputs on any host. The generators are the
benchmark's own, not the library's, so a change to the library cannot
change what the benchmark feeds it.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_T0 = np.datetime64("2024-01-01T00:00:00", "us")
_SPAN_US = 30 * 24 * 3600 * 10**6


def events_table(seed: int, n_users: int) -> pa.Table:
    """An ``events`` table with the shape and statistics of the sf0.1 test
    data (100,000 events over 1,500 users), for ``n_users`` users: users
    drawn uniformly, five event types drawn uniformly, ``value``
    exponential with mean 50 (so ~82% of rows reach the ``value >= 10``
    tool predicate and the five tool vertices become hubs), timestamps
    uniform over 30 days, ``event_id`` in timestamp order."""
    n_events = n_users * 200 // 3
    rng = np.random.default_rng([seed, 1])
    ts = _T0 + np.sort(rng.integers(0, _SPAN_US, n_events)).astype("timedelta64[us]")
    return pa.table(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, n_users, n_events, dtype=np.int64),
            "event_type": np.asarray(EVENT_TYPES, dtype=object)[rng.integers(0, 5, n_events)],
            "value": np.round(rng.exponential(50.0, n_events), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )


def write_parquet(table: pa.Table, path) -> None:
    """Write through a temporary name, so a half-written file never counts."""
    tmp = f"{path}.tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


TOOLS = tuple(f"tool_{i:02d}" for i in range(20))


def transcripts_table(seed: int, n_conversations: int) -> pa.Table:
    """A transcripts table per FIXTURES.md section 1: conversation length
    ``2 + Zipf(2.1)`` capped at 64, user/assistant turns alternating, 10% of
    assistant turns followed by a tool turn whose tool is drawn Zipf(1.5)
    from 20 names (so a few tools become hubs), text
    ``conv_id:turn_idx:role:<hex>``, timestamps increasing per turn."""
    rng = np.random.default_rng([seed, 3])
    lengths = np.minimum(2 + rng.zipf(2.1, n_conversations), 64)
    conv, turn, roles, tools = [], [], [], []

    def add(c, t, role, tool):
        conv.append(c)
        turn.append(t)
        roles.append(role)
        tools.append(tool)

    for c, n in enumerate(lengths):
        t = k = 0  # k: position in the user/assistant cycle
        while t < n:
            role = "assistant" if k % 2 else "user"
            add(c, t, role, None)
            t, k = t + 1, k + 1
            if role == "assistant" and t < n and rng.random() < 0.10:
                add(c, t, "tool", TOOLS[min(int(rng.zipf(1.5)), 20) - 1])
                t += 1
    conv_a = np.asarray(conv, dtype=np.int64)
    turn_a = np.asarray(turn, dtype=np.int32)
    suffix = rng.integers(0, 2**63 - 1, len(conv))
    conv_ids = [f"conv_{c:06d}" for c in conv]
    return pa.table(
        {
            "conv_id": conv_ids,
            "turn_idx": turn_a,
            "role": roles,
            "text": [f"{c}:{t}:{r}:{x:016x}" for c, t, r, x in zip(conv_ids, turn, roles, suffix)],
            "tool": pa.array(tools, pa.string()),
            "ts": pa.array(
                np.datetime64("2026-01-01T00:00:00", "s")
                + (conv_a * 1000 + turn_a).astype("timedelta64[s]"),
                pa.timestamp("us"),
            ),
        }
    )


def edge_delta(edges: pd.DataFrame, vertex_ids, seed: int, n_ops: int) -> pd.DataFrame:
    """One mutation batch: ``n_ops`` each of ``del`` and ``upd`` on distinct
    existing (src, dst) pairs and ``add`` of new edges between existing
    vertices (no self-loops). Columns: op, src, dst, weight."""
    rng = np.random.default_rng([seed, 2])
    pairs = edges[["src", "dst"]].drop_duplicates().to_numpy()
    pick = rng.choice(len(pairs), size=2 * n_ops, replace=False)
    ids = np.asarray(vertex_ids, dtype=np.int64)
    add_src = rng.choice(ids, n_ops)
    add_dst = rng.choice(ids, n_ops)
    clash = add_src == add_dst
    add_dst[clash] = ids[(np.searchsorted(ids, add_dst[clash]) + 1) % len(ids)]
    return pd.DataFrame(
        {
            "op": ["del"] * n_ops + ["upd"] * n_ops + ["add"] * n_ops,
            "src": np.concatenate([pairs[pick, 0], add_src]).astype(np.int64),
            "dst": np.concatenate([pairs[pick, 1], add_dst]).astype(np.int64),
            "weight": np.concatenate(
                [np.ones(n_ops), rng.integers(2, 6, n_ops).astype(np.float64), np.ones(n_ops)]
            ),
        }
    )
