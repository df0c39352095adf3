"""Cut the benchmark's input pool out of an sf0.1 test-data directory.

Usage (from the root of a checkout):

    python3 perfbench/make_fixture.py <sf0.1 directory>

Writes ``perfbench/fixture/*.parquet``, which the benchmark samples from
with its ``--seed``; the benchmark itself never reads the test-data
directory. The pool is:

- ``orders``: orders with ``o_orderkey < ORDERS``, their ``lineitem``
  rows and the ``customer`` rows they reference, plus ``nation`` and
  ``region`` whole;
- ``events``: the first ``EVENTS`` events by ``event_id``;
- ``documents``: every document, with one extra column, ``dup_group``:
  the smallest ``doc_id`` of the document's connected component in the
  duplicate graph (exact duplicates, and pairs whose word 3-shingle sets
  have jaccard >= 0.2 or containment >= 0.5, the thresholds of the
  package's n-gram pair tests). The sampler draws whole components, so a
  sample keeps the corpus's duplicate rate; uniform sampling would keep
  a share of the near-duplicate pairs that falls with the square of the
  sample size.
"""

from __future__ import annotations

import itertools
import os
import sys
from collections import defaultdict

import pandas as pd

ORDERS = 3000
EVENTS = 20000
OUT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture")


def shingles(text: str) -> set:
    w = text.split()
    return {tuple(w[i:i + 3]) for i in range(len(w) - 2)}


def dup_groups(docs: pd.DataFrame) -> list[int]:
    ids = docs.doc_id.tolist()
    parent = {i: i for i in ids}

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    def union(a, b):
        a, b = find(a), find(b)
        parent[max(a, b)] = min(a, b)

    sets = dict(zip(ids, map(shingles, docs.text)))
    by_text = defaultdict(list)
    inv = defaultdict(list)
    for i, t in zip(ids, docs.text):
        by_text[t].append(i)
        for s in sets[i]:
            inv[s].append(i)
    for same in by_text.values():
        for b in same[1:]:
            union(same[0], b)
    inter = defaultdict(int)
    for members in inv.values():
        for a, b in itertools.combinations(sorted(members), 2):
            inter[a, b] += 1
    for (a, b), c in inter.items():
        na, nb = len(sets[a]), len(sets[b])
        if c / (na + nb - c) >= 0.2 or c / min(na, nb) >= 0.5:
            union(a, b)
    return [find(i) for i in ids]


def main(sf_dir: str) -> None:
    os.makedirs(OUT, exist_ok=True)
    read = lambda t: pd.read_parquet(os.path.join(sf_dir, f"{t}.parquet"))  # noqa: E731
    orders = read("orders")
    orders = orders[orders.o_orderkey < ORDERS]
    lineitem = read("lineitem")
    lineitem = lineitem[lineitem.l_orderkey < ORDERS]
    customer = read("customer")
    customer = customer[customer.c_custkey.isin(set(orders.o_custkey))]
    events = read("events").sort_values("event_id").head(EVENTS)
    docs = read("documents").sort_values("doc_id")
    docs["dup_group"] = dup_groups(docs)
    for name, df in (("orders", orders), ("lineitem", lineitem), ("customer", customer),
                     ("nation", read("nation")), ("region", read("region")),
                     ("events", events), ("documents", docs)):
        df.reset_index(drop=True).to_parquet(os.path.join(OUT, f"{name}.parquet"), index=False)


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main(sys.argv[1])
