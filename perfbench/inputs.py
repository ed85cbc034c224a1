"""Seeded benchmark inputs, derived from the fixture tables in ``data/``.

``data/`` holds the sf0.01 fixture tables (one parquet file each, one row
group).  A seed picks 80% of the fact entities and keeps everything that
hangs off them:

- orders, with all of their lineitems;
- documents;
- users, with all of their events.

Dimension tables (region, nation, customer, supplier, part) are copied
whole.  No benchmarked query names a fact row by literal key, so every
fact row is subject to the draw.  Each output table is one file with one
row group, the fixture's layout, so scan split counts match the fixture.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

KEEP_SHARE = 0.8

DIMENSIONS = ("region", "nation", "customer", "supplier", "part")


def _keep(table: pa.Table, column: str, chosen: np.ndarray) -> pa.Table:
    return table.filter(pc.is_in(table[column], value_set=pa.array(chosen)))


def _draw(rng: np.random.Generator, keys: pa.ChunkedArray) -> np.ndarray:
    distinct = np.unique(keys.to_numpy())
    n = int(round(len(distinct) * KEEP_SHARE))
    return np.sort(rng.choice(distinct, size=n, replace=False))


def derive_tables(seed: int, tables: tuple[str, ...]) -> dict[str, pa.Table]:
    """The seed's version of each requested table (in memory)."""
    rng = np.random.default_rng(seed)
    src = {
        name: pq.read_table(os.path.join(DATA_DIR, f"{name}.parquet"))
        for name in tables
    }
    out: dict[str, pa.Table] = {}
    # One draw per entity, in a fixed order, so a table's rows do not
    # depend on which other tables the workload asks for.
    orders = pq.read_table(os.path.join(DATA_DIR, "orders.parquet"), columns=["o_orderkey"])
    order_keys = _draw(rng, orders["o_orderkey"])
    docs = pq.read_table(os.path.join(DATA_DIR, "documents.parquet"), columns=["doc_id"])
    doc_keys = _draw(rng, docs["doc_id"])
    events = pq.read_table(os.path.join(DATA_DIR, "events.parquet"), columns=["user_id"])
    user_keys = _draw(rng, events["user_id"])
    for name, table in src.items():
        if name in DIMENSIONS:
            out[name] = table
        elif name == "orders":
            out[name] = _keep(table, "o_orderkey", order_keys)
        elif name == "lineitem":
            out[name] = _keep(table, "l_orderkey", order_keys)
        elif name == "documents":
            out[name] = _keep(table, "doc_id", doc_keys)
        elif name == "events":
            out[name] = _keep(table, "user_id", user_keys)
        else:
            raise ValueError(f"no derivation rule for table {name!r}")
    return out


def write_inputs(seed: int, tables: tuple[str, ...], out_dir: str) -> str:
    """Write the seed's tables into ``out_dir``; returns their fingerprint."""
    os.makedirs(out_dir, exist_ok=True)
    derived = derive_tables(seed, tables)
    for name, table in derived.items():
        pq.write_table(
            table,
            os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=max(1, table.num_rows),
            compression="snappy",
        )
    return fingerprint_tables(derived)


def fingerprint_tables(derived: dict[str, pa.Table]) -> str:
    """Content hash of the derived tables (schema + rows, in file order)."""
    h = hashlib.sha256()
    for name in sorted(derived):
        table = derived[name]
        h.update(name.encode())
        h.update(table.schema.to_string().encode())
        for batch in table.to_batches():
            sink = pa.BufferOutputStream()
            with pa.ipc.new_stream(sink, batch.schema) as writer:
                writer.write_batch(batch)
            h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()
