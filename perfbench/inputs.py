"""Seeded inputs: the query workload's tables, derived from
``perfbench/corpus``, and the ``tablelog`` workload's initial history.

Every key domain is renumbered by a seeded affine bijection
``k -> (a*k + b) mod n`` on its dense range ``[0, n)``, applied to the key
and to every foreign key that references it, and every renumbered table is
written in a seeded row order. Row counts, value distributions and
column types are the corpus's own for every seed; what moves is which boxes land
on which tile (``l_orderkey % 1000``) and where (``l_partkey``,
``l_suppkey``). The corpus itself is never modified.
"""

import math
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS = Path(__file__).resolve().parent / "corpus"

# key domain -> (defining table, key column)
DOMAINS = {
    "order": ("orders", "o_orderkey"),
    "part": ("part", "p_partkey"),
    "supp": ("supplier", "s_suppkey"),
    "cust": ("customer", "c_custkey"),
}

# table -> renumbered (column, domain) pairs
REMAPS = {
    "orders": [("o_orderkey", "order"), ("o_custkey", "cust")],
    "lineitem": [("l_orderkey", "order"), ("l_partkey", "part"), ("l_suppkey", "supp")],
    "part": [("p_partkey", "part")],
    "supplier": [("s_suppkey", "supp")],
    "customer": [("c_custkey", "cust")],
}

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem"]


def affine(seed, domain, n):
    """The seeded bijection of ``[0, n)`` for one key domain: ``(a, b)``."""
    rng = np.random.default_rng([seed & 0xFFFFFFFF, sum(map(ord, domain))])
    while True:
        a = int(rng.integers(1, max(2, n)))
        if math.gcd(a, n) == 1:
            return a, int(rng.integers(0, n))


def generate(out, seed):
    """Writes the seed's input tables to ``out``; returns rows per table."""
    out = Path(out)
    out.mkdir(parents=True, exist_ok=True)
    maps = {}
    for d, (t, k) in DOMAINS.items():
        keys = pq.read_table(CORPUS / f"{t}.parquet", columns=[k])[k].to_numpy()
        n = int(keys.max()) + 1
        if len(np.unique(keys)) != n or keys.min() != 0:
            raise ValueError(f"key {k} of {t} is not dense on [0, {n})")
        maps[d] = (*affine(seed, d, n), n)
    rows = {}
    for i, t in enumerate(TABLES):
        src, dst = CORPUS / f"{t}.parquet", out / f"{t}.parquet"
        if t not in REMAPS:
            shutil.copyfile(src, dst)
            rows[t] = pq.read_metadata(dst).num_rows
            continue
        tab = pq.read_table(src)
        for c, d in REMAPS[t]:
            a, b, n = maps[d]
            col = tab[c]
            new = (col.to_numpy() * a + b) % n
            tab = tab.set_column(tab.schema.get_field_index(c), tab.schema.field(c),
                                 pa.array(new, type=col.type))
        perm = np.random.default_rng([seed & 0xFFFFFFFF, 7919 + i]).permutation(tab.num_rows)
        tab = tab.take(pa.array(perm))
        pq.write_table(tab, dst)
        rows[t] = tab.num_rows
    return rows



# tablelog: the initial history is this many files of this many rows, each
# committed as its own version (more versions than CommitLog's 128-state
# replay cache). ``TableLog.scala`` models the same rows.
HISTORY_FILES = 136
HISTORY_ROWS = 200


def tracker_rows(ids, seed):
    """Tracker rows ``(id, tile, status, score)`` for fresh ids."""
    salt = abs(seed) % 1000003
    ids = np.asarray(ids, dtype=np.int64)
    return pa.table({
        "id": pa.array(ids, pa.int64()),
        "tile": pa.array((ids * 7919 + salt) % 1000, pa.int32()),
        "status": pa.array(np.zeros(len(ids), np.int32), pa.int32()),
        "score": pa.array((ids * 104729 + salt * 31) % 10000, pa.int64()),
    })


def history(out, seed):
    """Writes the initial tracker batches ``ingest-00000.parquet``...;
    returns the row count."""
    out = Path(out)
    out.mkdir(parents=True, exist_ok=True)
    for i in range(HISTORY_FILES):
        ids = np.arange(i * HISTORY_ROWS, (i + 1) * HISTORY_ROWS)
        pq.write_table(tracker_rows(ids, seed), out / f"ingest-{i:05d}.parquet")
    return HISTORY_FILES * HISTORY_ROWS
