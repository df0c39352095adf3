"""Seeded input staging for the benchmark workloads.

Every input is a seeded sample of the pool in ``perfbench/fixture/``, a
slice of the repository's sf0.1 test data cut by ``make_fixture.py``.
The seed (NumPy PCG64) picks the orders, the events window and the
documents, and derives what sf0.1 does not hold: the batch boundaries,
the SCD change sets, the read-query keys and the shard and upsert order.
The samples are written as Parquet under the run's own scratch
directory; the program under test receives only those files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


@dataclass(frozen=True)
class Scale:
    """Input sizes of one workload run (the benchmark states them)."""

    orders_per_batch: int = 100
    batches: int = 2
    events: int = 2000
    event_files: int = 4
    docs: int = 400
    doc_shards: int = 2
    export_shards: int = 4
    upserts: int = 2


TINY = Scale(orders_per_batch=20, events=300, event_files=2, docs=300, export_shards=2)


def fixture(name: str) -> pd.DataFrame:
    return pd.read_parquet(os.path.join(FIXTURE, f"{name}.parquet"))


def _write(df: pd.DataFrame, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    df.to_parquet(path, index=False)
    return path


def warehouse_inputs(rng: np.random.Generator, out: str, sc: Scale) -> dict:
    """Star-schema sources plus the seeded batch plan.

    The sampled orders are loaded in order-date order, ``batches`` equal
    slices of them. Returns the staged table directory and, per batch,
    its ``[lo, hi)`` order-date range and read-query keys. The staged
    ``customer_changes`` table holds, per batch, every customer of the
    batch's orders with its current segment (effective at ``lo``), plus
    a seeded change set whose segment changes (effective the day before
    ``hi``).
    """
    n = sc.orders_per_batch * sc.batches
    pool = fixture("orders")
    orders = pool.iloc[np.sort(rng.choice(len(pool), n, replace=False))]
    orders = orders.sort_values(["o_orderdate", "o_orderkey"]).reset_index(drop=True)
    lineitem = fixture("lineitem")
    lineitem = lineitem[lineitem.l_orderkey.isin(set(orders.o_orderkey))]
    customer = fixture("customer")
    customer = customer[customer.c_custkey.isin(set(orders.o_custkey))]
    events = fixture("events")
    w = int(rng.integers(0, len(events) - sc.events + 1))
    events = events.iloc[w:w + sc.events]

    day = np.timedelta64(1, "D")
    dates = orders.o_orderdate.to_numpy()
    seg = dict(zip(customer.c_custkey, customer.c_mktsegment))
    names = dict(zip(customer.c_custkey, customer.c_name))
    custkeys = np.sort(customer.c_custkey.to_numpy())
    batches, rows = [], []
    for b in range(sc.batches):
        part = orders.iloc[b * sc.orders_per_batch:(b + 1) * sc.orders_per_batch]
        lo = dates[0] if b == 0 else part.o_orderdate.iloc[0]
        hi = part.o_orderdate.iloc[-1] + day
        if b + 1 < sc.batches:
            hi = orders.o_orderdate.iloc[(b + 1) * sc.orders_per_batch]
        in_batch = orders[(orders.o_orderdate >= lo) & (orders.o_orderdate < hi)]
        for c in sorted(set(in_batch.o_custkey)):
            rows.append((b, int(c), names[c], seg[c], lo))
        changed = np.sort(rng.choice(custkeys, size=max(1, len(custkeys) // 20), replace=False))
        for c, s in zip(changed, rng.choice(SEGMENTS, len(changed))):
            seg[c] = str(s)
            rows.append((b, int(c), names[c], str(s), hi - day))
        batches.append({
            "lo": pd.Timestamp(lo).to_pydatetime(),
            "hi": pd.Timestamp(hi).to_pydatetime(),
            "probe_cust": [int(c) for c in rng.choice(custkeys, 8, replace=False)],
            "probe_at": pd.Timestamp(dates[0] + rng.integers(0, (hi - dates[0]) // day) * day)
            .to_pydatetime(),
            "probe_keys": [int(k) for k in rng.choice(np.arange(1, 26), 5, replace=False)],
        })
    changes = pd.DataFrame(rows, columns=["batch", "c_custkey", "c_name", "segment", "changedate"])
    changes["changedate"] = changes["changedate"].astype("datetime64[us]")

    tables = os.path.join(out, "tables")
    for name, df in (("region", fixture("region")), ("nation", fixture("nation")),
                     ("customer", customer), ("orders", orders), ("lineitem", lineitem),
                     ("events", events), ("customer_changes", changes)):
        _write(df.reset_index(drop=True), os.path.join(tables, f"{name}.parquet"))
    return {"tables": tables, "batches": batches,
            "rows": len(orders) + len(lineitem) + len(changes) + len(events)}


def documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """``n`` documents drawn as whole duplicate groups in a seeded order,
    so the sample keeps the pool's exact and near-duplicate rate."""
    docs = fixture("documents")
    sizes = docs.dup_group.value_counts()
    keep, total = [], 0
    for g in rng.permutation(np.sort(sizes.index.to_numpy())):
        if total + sizes[g] <= n:
            keep.append(g)
            total += sizes[g]
            if total == n:
                break
    docs = docs[docs.dup_group.isin(set(keep))]
    return docs.drop(columns="dup_group").sort_values("doc_id").reset_index(drop=True)


def corpus_inputs(rng: np.random.Generator, out: str, sc: Scale) -> dict:
    tables = os.path.join(out, "tables")
    docs = documents(rng, sc.docs)
    _write(docs, os.path.join(tables, "documents.parquet"))
    return {"tables": tables,
            "docs": len(docs),
            "shard_order": [int(s) for s in rng.permutation(sc.export_shards)],
            "upsert_order": [int(s) for s in rng.permutation(sc.upserts)],
            "probe_seed": int(rng.integers(0, 2**31 - 1))}
