"""Seeded input generator for the benchmark.

The base tables are the engine's sf0.01 test data, vendored unchanged
under ``perfbench/fixture/``. From them, the seed fixes:

- a ``REPLICAS``-fold key-shifted replica of every keyed table, built the
  way ``scripts/gen_scaled_probe_data.py`` builds its probe data (replica
  k adds ``k * KEY_OFFSET`` to every key column, so joins keep the
  fixture's selectivity, and prefixes each document with ``rdup<k>`` so
  text dedup does not collapse the replicas); the replica itself does not
  depend on the seed;
- near-duplicate documents injected into that corpus: seeded copies of
  seeded documents, each with two words replaced;
- the row order of every table but ``region`` and ``nation``;
- the delta files that the fold operation lands over ``orders``: seeded
  rows of ``orders`` re-issued as updates (one key twice) and as inserts
  under new keys.

Layout of one generated seed directory::

    tables/<name>.parquet      the replicated, shuffled tables
    landing/delta-<i>.parquet  update/insert deltas over ``orders``
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture")
REPLICAS = 4
KEY_OFFSET = 10_000_000  # larger than any base key, as in the probe script
KEY_COLS = {
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
COPY_ONLY = ("region", "nation")
DAY_US = 86_400_000_000


def replicate(name: str, t: pa.Table, r: int) -> pa.Table:
    reps = []
    for k in range(r):
        rep = t
        for col in KEY_COLS[name] if k else ():
            i = rep.schema.get_field_index(col)
            field = rep.schema.field(i)
            rep = rep.set_column(i, field, pc.cast(pc.add(rep.column(col), k * KEY_OFFSET), field.type))
        if name == "documents" and k:
            rep = _set_text(rep, pc.binary_join_element_wise(f"rdup{k}", rep.column("text"), " "))
        reps.append(rep)
    return pa.concat_tables(reps)


def _set_text(docs: pa.Table, text) -> pa.Table:
    docs = docs.set_column(docs.schema.get_field_index("text"), docs.schema.field("text"), text)
    n_chars = pc.cast(pc.utf8_length(docs.column("text")), docs.schema.field("n_chars").type)
    return docs.set_column(docs.schema.get_field_index("n_chars"), docs.schema.field("n_chars"), n_chars)


def near_duplicates(rng, docs: pa.Table, frac: float) -> pa.Table:
    """``docs`` plus ``frac * len(docs)`` copies of seeded documents, each
    with two of its words replaced, under fresh ids."""
    src = rng.choice(docs.num_rows, int(docs.num_rows * frac), replace=False)
    dups = docs.take(pa.array(src))
    texts = []
    for text in dups.column("text").to_pylist():
        words = text.split()
        for j in rng.choice(len(words), 2, replace=False):
            words[j] = "dup"
        texts.append(" ".join(words))
    dups = _set_text(dups, pa.array(texts, pa.string()))
    first = pc.max(docs.column("doc_id")).as_py() + 1
    ids = pa.array(np.arange(first, first + len(src)), docs.schema.field("doc_id").type)
    dups = dups.set_column(dups.schema.get_field_index("doc_id"), docs.schema.field("doc_id"), ids)
    return pa.concat_tables([docs, dups])


def deltas(rng, orders: pa.Table, k: int, n_upd: int, n_ins: int) -> list[pa.Table]:
    """``k`` full-row delta files over ``orders``. Each re-issues ``n_upd``
    seeded rows under their own keys (the first one twice, so that the
    later row must win) and ``n_ins`` seeded rows under new keys. Order
    dates are distinct within a file and later than any in ``orders``,
    so the row that wins a key is never a tie; total prices change so
    that an update is visible."""
    keys = orders.column("o_orderkey")
    next_key = pc.max(keys).as_py() + 1
    late = pc.max(orders.column("o_orderdate")).cast(pa.int64()).as_py() + DAY_US
    out = []
    for i in range(k):
        upd = rng.choice(orders.num_rows, n_upd, replace=False)
        picked = np.concatenate([upd, upd[:1], rng.choice(orders.num_rows, n_ins, replace=False)])
        d = orders.take(pa.array(picked))
        m = d.num_rows
        new_keys = np.concatenate([keys.take(pa.array(upd)).to_numpy(), keys.take(pa.array(upd[:1])).to_numpy(),
                                   np.arange(next_key, next_key + n_ins)])
        next_key += n_ins
        day = late + (i * 1000 + np.arange(m)) * DAY_US
        price = np.round(d.column("o_totalprice").to_numpy() * rng.uniform(0.5, 1.5, m), 2)
        for col, values in (("o_orderkey", new_keys), ("o_orderdate", day), ("o_totalprice", price)):
            j = d.schema.get_field_index(col)
            d = d.set_column(j, d.schema.field(j), pa.array(values).cast(d.schema.field(j).type))
        out.append(d)
    return out


def _shuffled(rng, t: pa.Table) -> pa.Table:
    return t.take(pa.array(rng.permutation(t.num_rows)))


def generate(seed: int, out_dir: str, *, dup_frac: float = 0.05, n_deltas: int = 3, fixture: str = FIXTURE) -> str:
    """Write the inputs for ``seed`` under ``out_dir`` (once; later calls
    reuse the directory) and return it."""
    if os.path.exists(os.path.join(out_dir, "_DONE")):
        return out_dir
    shutil.rmtree(out_dir, ignore_errors=True)
    tdir = os.path.join(out_dir, "tables")
    ldir = os.path.join(out_dir, "landing")
    os.makedirs(tdir)
    os.makedirs(ldir)
    rng = np.random.default_rng(seed)
    tables = {}
    for name in COPY_ONLY + tuple(KEY_COLS):
        t = pq.read_table(os.path.join(fixture, f"{name}.parquet"))
        tables[name] = t if name in COPY_ONLY else replicate(name, t, REPLICAS)
    tables["documents"] = near_duplicates(rng, tables["documents"], dup_frac)
    for name, t in tables.items():
        if name not in COPY_ONLY:
            t = _shuffled(rng, t)
        # REPLICAS row groups per table, so a scan splits into that many tasks.
        pq.write_table(t, os.path.join(tdir, f"{name}.parquet"), row_group_size=-(-t.num_rows // REPLICAS))
    n_orders = tables["orders"].num_rows // REPLICAS
    for i, d in enumerate(deltas(rng, tables["orders"], n_deltas, n_upd=n_orders // 20, n_ins=n_orders // 40)):
        p = os.path.join(ldir, f"delta-{i}.parquet")
        pq.write_table(d, p)
        # The file source orders files by modification time.
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
    open(os.path.join(out_dir, "_DONE"), "w").close()
    return out_dir
