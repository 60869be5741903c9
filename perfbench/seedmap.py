"""Seeded relabelling of the bundled fixture tables.

Each surrogate key family gets one seeded bijection of its own value
set, applied to the key column and to every foreign key that refers to
it.  Ids stay inside their value set, so fixed ids the program uses as
sources (BFS and SSSP start vertices) still exist, while every id-keyed
choice the program makes (``doc_id % SETSIM_INC_MOD`` increment blocks,
min-label tie-breaks) lands on different rows for each seed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# key family -> every (table, column) holding it.  ``doc_id`` and
# ``vec_id`` share one map: the embeddings table is per document
# (vec_id == doc_id), and the pipeline operators join on that identity.
KEY_FAMILIES: dict[str, tuple[tuple[str, str], ...]] = {
    "orderkey": (("orders", "o_orderkey"), ("lineitem", "l_orderkey")),
    "custkey": (("customer", "c_custkey"), ("orders", "o_custkey")),
    "partkey": (("part", "p_partkey"), ("lineitem", "l_partkey")),
    "suppkey": (("supplier", "s_suppkey"), ("lineitem", "l_suppkey")),
    "user_id": (("events", "user_id"),),
    "doc_id": (("documents", "doc_id"), ("embeddings", "vec_id")),
}


def read_tables(src_dir: str) -> dict[str, pa.Table]:
    """Every ``<table>.parquet`` in ``src_dir``, keyed by table name."""
    return {
        f[: -len(".parquet")]: pq.read_table(os.path.join(src_dir, f))
        for f in sorted(os.listdir(src_dir))
        if f.endswith(".parquet")
    }


def key_maps(
    tables: dict[str, pa.Table], seed: int
) -> dict[str, tuple[np.ndarray, np.ndarray]]:
    """Per key family: (sorted distinct ids, their seeded images)."""
    maps = {}
    for i, (family, cols) in enumerate(KEY_FAMILIES.items()):
        domain = np.unique(np.concatenate([tables[t].column(c).to_numpy() for t, c in cols]))
        rng = np.random.default_rng([seed, i])
        maps[family] = (domain, rng.permutation(domain))
    return maps


def relabel(
    tables: dict[str, pa.Table], seed: int
) -> dict[str, pa.Table]:
    """Return ``tables`` with every key family mapped through its
    seeded bijection; non-key columns and row order are untouched."""
    out = dict(tables)
    for family, (domain, image) in key_maps(tables, seed).items():
        for t, c in KEY_FAMILIES[family]:
            tbl = out[t]
            col = tbl.column(c)
            old = col.to_numpy()
            new = image[np.searchsorted(domain, old)]
            idx = tbl.schema.get_field_index(c)
            out[t] = tbl.set_column(
                idx, tbl.schema.field(idx), pa.array(new, type=col.type)
            )
    return out


def write_seeded(
    src_dir: str, dst_dir: str, seed: int, max_docs: int | None = None
) -> None:
    """Write the relabelled copy of every table in ``src_dir`` to
    ``dst_dir`` (one ``<table>.parquet`` each), keeping only documents
    (and their embeddings) with id below ``max_docs`` when given.
    Written to a temp dir and renamed, so a crashed run never leaves a
    half-written copy."""
    tables = read_tables(src_dir)
    if max_docs is not None:
        for t, c in KEY_FAMILIES["doc_id"]:
            tables[t] = tables[t].filter(pc.less(tables[t][c], max_docs))
    tmp = dst_dir + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    for t, tbl in relabel(tables, seed).items():
        pq.write_table(tbl, os.path.join(tmp, f"{t}.parquet"))
    os.replace(tmp, dst_dir)
