"""Seeded input generator for the benchmark's workloads.

Tables use the schemas of FIXTURES.md and are written as parquet
files the engine reads like any other input. Sizes follow the sf0.1
corpus of TESTDATA.md (see README.md for the measurement): 150,000
orders, and per user a Binomial(100,000, 1/1,500) number of events
(mean 66.7), most of them in one 30-day window. A seed changes which
values are drawn, never the sizes' distributions, so latencies compare
across seeds.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
EPOCH_US = int((dt.datetime(2024, 1, 1) - dt.datetime(1970, 1, 1)).total_seconds() * 1e6)
ORDERDATE0_US = int((dt.datetime(1995, 1, 1) - dt.datetime(1970, 1, 1)).total_seconds() * 1e6)
DAY_US = 86_400 * 1_000_000
_PRIO = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ORDER_SCHEMA = pa.schema([
    ("o_orderkey", pa.int64()),
    ("o_custkey", pa.int64()),
    ("o_orderstatus", pa.string()),
    ("o_totalprice", pa.float64()),
    ("o_orderdate", pa.timestamp("us")),
    ("o_orderpriority", pa.string()),
    ("seq", pa.int64()),
    ("op", pa.string()),
])


def user_events(rng: np.random.Generator, user_id: int, n: int, window_days: int,
                n_old: int, history_days: int) -> pa.Table:
    """One user's Takeout activity in time order: ``n - n_old`` events in
    the ``window_days`` days that end the history (the sf0.1 corpus's
    window) and ``n_old`` in the ``history_days`` before them."""
    end = EPOCH_US + window_days * DAY_US
    ago = np.concatenate([
        rng.integers(1, window_days * DAY_US, n - n_old),
        rng.integers(window_days * DAY_US, (window_days + history_days) * DAY_US, n_old),
    ])
    ts = np.sort(end - ago)
    return pa.table({
        "event_id": pa.array(user_id * 1_000_000 + np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(np.full(n, user_id, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)]),
        "value": pa.array(np.round(rng.uniform(0, 500, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _order_rows(rng: np.random.Generator, keys: np.ndarray, seq0: int,
                ops: np.ndarray) -> pa.Table:
    n = len(keys)
    return pa.table({
        "o_orderkey": pa.array(keys.astype(np.int64)),
        "o_custkey": pa.array(rng.integers(0, 15_000, n)),
        "o_orderstatus": pa.array(np.array(["O", "F", "P"])[rng.integers(0, 3, n)]),
        "o_totalprice": pa.array(np.round(rng.uniform(900, 500_000, n), 2)),
        "o_orderdate": pa.array(ORDERDATE0_US + rng.integers(0, 2404, n) * DAY_US,
                                type=pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(_PRIO)[rng.integers(0, 5, n)]),
        "seq": pa.array(np.arange(seq0, seq0 + n, dtype=np.int64)),
        "op": pa.array(ops),
    }, schema=ORDER_SCHEMA)


def cdc_batches(rng: np.random.Generator, n_orders: int, n_batches: int,
                batch_rows: int, key_skew: float, insert_share: float,
                delete_share: float) -> tuple[list[pa.Table], np.ndarray]:
    """Batch 0 loads ``n_orders`` orders; every later batch mixes new
    keys (inserts), Zipf(key_skew)-ranked existing keys (updates) and
    tombstones (``op='D'``) at fixed shares. Also returns the keys in
    popularity order."""
    n_ins = int(round(batch_rows * insert_share))
    n_del = int(round(batch_rows * delete_share))
    if n_ins + n_del > batch_rows:
        raise ValueError("insert_share + delete_share > 1")
    rank_w = 1.0 / np.arange(1, n_orders + 1) ** key_skew
    rank_w /= rank_w.sum()
    hot = rng.permutation(n_orders)  # which key holds which popularity rank
    out = [_order_rows(rng, np.arange(n_orders), 0, np.full(n_orders, "U", dtype=object))]
    seq, next_key = n_orders, n_orders
    ops = np.array(["U"] * (batch_rows - n_del) + ["D"] * n_del, dtype=object)
    for _ in range(n_batches):
        ins = np.arange(next_key, next_key + n_ins)
        next_key += n_ins
        old = hot[rng.choice(n_orders, batch_rows - n_ins, p=rank_w)]
        out.append(_order_rows(rng, np.concatenate([ins, old]), seq, ops))
        seq += batch_rows
    return out, hot


_BULKY = ("dir", "batch_paths", "hot_keys", "arrival_order", "events")


def summary(man: dict) -> dict:
    """The manifest without its per-item lists: sizes and the properties
    the generator varies."""
    return {k: v for k, v in man.items() if k not in _BULKY}


def generate(workload: str, seed: int, root: str, sizes: dict) -> dict:
    """Write ``workload``'s inputs under ``root``; return the manifest
    of sizes and the properties the generator varies."""
    rng = np.random.default_rng([seed, sum(map(ord, workload))])
    os.makedirs(root, exist_ok=True)
    man: dict = {"workload": workload, "seed": seed, "dir": root}
    if workload == "arrivals":
        # one directory per arriving user: the program sees only that
        # user's Takeout, as a new dynamic partition would deliver it
        users = sizes["users"]
        order = [int(u) for u in rng.permutation(users)]
        counts = rng.binomial(sizes["corpus_events"], 1 / sizes["corpus_users"], users)
        for u in order:
            d = os.path.join(root, "arrivals", f"u{u:06d}")
            os.makedirs(d)
            n = int(counts[u])
            pq.write_table(user_events(rng, u, n, sizes["window_days"],
                                       round(n * sizes["old_share"]), sizes["history_days"]),
                           os.path.join(d, "events.parquet"))
        man.update(users=users, events_per_user_mean=float(counts.mean()),
                   events_per_user_min=int(counts.min()),
                   events_per_user_max=int(counts.max()),
                   window_days=sizes["window_days"], old_share=sizes["old_share"],
                   history_days=sizes["history_days"],
                   events=[int(c) for c in counts], arrival_order=order)
    elif workload == "upsert":
        batches, hot = cdc_batches(rng, sizes["orders"], sizes["batches"],
                                   sizes["batch_rows"], sizes["key_skew"],
                                   sizes["insert_share"], sizes["delete_share"])
        bdir = os.path.join(root, "batches")
        os.makedirs(bdir)
        paths = []
        for i, b in enumerate(batches):
            paths.append(os.path.join(bdir, f"b-{i:05d}.parquet"))
            pq.write_table(b, paths[-1], compression="snappy")
        man.update(orders=sizes["orders"], batches=sizes["batches"],
                   batch_rows=sizes["batch_rows"], key_skew=sizes["key_skew"],
                   batch_to_table=sizes["batch_rows"] / sizes["orders"],
                   insert_share=sizes["insert_share"],
                   delete_share=sizes["delete_share"], batch_paths=paths,
                   hot_keys=[int(k) for k in hot[:64]])
    else:
        raise ValueError(f"unknown workload {workload!r}")
    return man
