"""Seeded inputs for the identity-chain benchmark.

The corpus has the shape of the repository's sf test tables: `customer`
(c_custkey, c_mktsegment over five segments) and `orders` (ten orders per
customer on average, o_custkey drawn uniformly). The transcripts, the
mentions and the truth labels are then derived by the package itself
(`sources.testdata.derive_transcripts` / `truth_labels`), so an edit to that
derivation shows up in the input digest.

Table contents come from a fixed table seed; the benchmark seed sets only the
row order and the number of files each table is split into, so outputs do
not depend on it.
"""

from __future__ import annotations

import hashlib
import os
from collections import defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
ORDERS_PER_CUSTOMER = 10


def write_sf_tables(sf_dir: str, n_customers: int, seed: int) -> None:
    """Write customer/orders parquet directories under `sf_dir`."""
    rng = np.random.RandomState(TABLE_SEED)
    customer = {
        "c_custkey": np.arange(n_customers, dtype=np.int64),
        "c_mktsegment": SEGMENTS[rng.randint(len(SEGMENTS), size=n_customers)],
    }
    n_orders = ORDERS_PER_CUSTOMER * n_customers
    orders = {
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.randint(n_customers, size=n_orders).astype(np.int64),
        "o_orderdate": np.datetime64("1992-01-01", "us")
        + rng.randint(0, 2400, size=n_orders).astype("timedelta64[D]"),
    }
    layout = np.random.RandomState(seed)
    for name, cols in (("customer", customer), ("orders", orders)):
        n_rows = len(next(iter(cols.values())))
        order = layout.permutation(n_rows)
        n_files = 1 + int(layout.randint(4))
        table_dir = os.path.join(sf_dir, f"{name}.parquet")
        os.makedirs(table_dir, exist_ok=True)
        for i, part in enumerate(np.array_split(order, n_files)):
            pq.write_table(
                pa.table({k: v[part] for k, v in cols.items()}),
                os.path.join(table_dir, f"part-{i:03d}.parquet"),
            )


def digest_rows(rows) -> str:
    """Order-independent sha256 of an iterable of tuples of strings/ints."""
    h = hashlib.sha256()
    for row in sorted(tuple("" if v is None else str(v) for v in r) for r in rows):
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return h.hexdigest()[:16]


def partition(pairs) -> set:
    """(member, group) pairs -> set of frozensets of members."""
    groups = defaultdict(set)
    for member, group in pairs:
        groups[group].add(member)
    return {frozenset(g) for g in groups.values()}


def pair_f1(found: set, truth: set) -> float:
    """Pairwise F1 of two partitions of the same members."""
    label = {m: i for i, g in enumerate(truth) for m in g}

    def pairs(n: int) -> int:
        return n * (n - 1) // 2

    tp = 0
    for g in found:
        counts = defaultdict(int)
        for m in g:
            counts[label.get(m)] += 1
        tp += sum(pairs(n) for k, n in counts.items() if k is not None)
    p = sum(pairs(len(g)) for g in found)
    t = sum(pairs(len(g)) for g in truth)
    return 1.0 if p + t == 0 else 2 * tp / (p + t)
