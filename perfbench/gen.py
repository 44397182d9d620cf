"""Seeded input generator for the graft benchmark.

Derives a k-fold corpus from the committed base tables in
`perfbench/basedata` (the sf0.001 star schema + documents/embeddings)
with graft's ScaleUp scheme, which keeps each workload's shape:

- documents: doc_id shifts per copy; text goes through a per-copy
  affine letter/digit substitution, so copies are token-disjoint
  (no planted k-copy duplicate cliques) while length, whitespace and
  the intra-copy token/shingle structure stay exact.
- embeddings: vec_id shifts; the vector rotates (and, past the first
  tier, flips sign), which keeps norms and distributions.
- events: event_id and user_id shift (more users, same per-user
  activity); orders/lineitem: orderkey shifts on both sides; the
  dimension tables are copied unchanged.

The seed picks the per-copy substitution keys and rotations and the
row order of every fact table. The same (seed, factor) always gives
byte-identical parquet files.
"""
import os
import string

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "basedata")
DIMS = ["region", "nation", "customer", "supplier", "part"]
FACTS = ["orders", "lineitem", "events", "documents", "embeddings"]
TABLES = DIMS + FACTS
COPRIME_A = [1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25]


def _affine(alphabet, a, b):
    n = len(alphabet)
    return "".join(alphabet[(a * i + b) % n] for i in range(n))


def _substitution(a, b, r):
    lo, up, dg = string.ascii_lowercase, string.ascii_uppercase, string.digits
    return str.maketrans(lo + up + dg,
                         _affine(lo, a, b) + _affine(up, a, b)
                         + dg[r:] + dg[:r])


def _shift(t, col, k, base):
    i = t.schema.get_field_index(col)
    return t.set_column(i, col, pa.compute.add(t[col], pa.scalar(k * base, t[col].type)))


def _stack(copies, rng):
    t = pa.concat_tables(copies)
    return t.take(pa.array(rng.permutation(t.num_rows)))


def generate(out_dir, seed, factor):
    """Write the `factor`-fold tables for `seed` under `out_dir`;
    returns {table: {"rows": n, "bytes": b}}."""
    rng = np.random.default_rng(seed)
    src = {t: pq.read_table(os.path.join(BASE, f"{t}.parquet")) for t in TABLES}
    out = dict((t, src[t]) for t in DIMS)

    docs = src["documents"]
    d_shift = pa.compute.max(docs["doc_id"]).as_py() + 1
    keys = rng.choice(len(COPRIME_A) * 26, size=factor, replace=False)
    texts = docs["text"].to_pylist()
    copies = []
    for k, key in enumerate(keys):
        a, b = COPRIME_A[key // 26], int(key % 26)
        tr = _substitution(a, b, int(key % 10))
        c = _shift(docs, "doc_id", k, d_shift)
        c = c.set_column(c.schema.get_field_index("text"), "text",
                         pa.array([None if s is None else s.translate(tr)
                                   for s in texts], pa.string()))
        copies.append(c)
    out["documents"] = _stack(copies, rng)

    emb = src["embeddings"]
    v_shift = pa.compute.max(emb["vec_id"]).as_py() + 1
    vecs = np.array(emb["embedding"].to_pylist(), dtype=np.float32)
    dim = vecs.shape[1]
    turns = rng.choice(2 * dim, size=factor, replace=False)
    etype = emb.schema.field("embedding").type
    copies = []
    for k, turn in enumerate(turns):
        v = np.roll(vecs, -int(turn % dim), axis=1) * (1 if turn < dim else -1)
        c = _shift(emb, "vec_id", k, v_shift)
        c = c.set_column(c.schema.get_field_index("embedding"), "embedding",
                         pa.array(list(v), etype))
        copies.append(c)
    out["embeddings"] = _stack(copies, rng)

    ev = src["events"]
    e_shift = pa.compute.max(ev["event_id"]).as_py() + 1
    u_shift = pa.compute.max(ev["user_id"]).as_py() + 1
    out["events"] = _stack(
        [_shift(_shift(ev, "event_id", k, e_shift), "user_id", k, u_shift)
         for k in range(factor)], rng)

    o_shift = pa.compute.max(src["orders"]["o_orderkey"]).as_py() + 1
    out["orders"] = _stack([_shift(src["orders"], "o_orderkey", k, o_shift)
                            for k in range(factor)], rng)
    out["lineitem"] = _stack([_shift(src["lineitem"], "l_orderkey", k, o_shift)
                              for k in range(factor)], rng)

    os.makedirs(out_dir, exist_ok=True)
    stats = {}
    for t in TABLES:
        p = os.path.join(out_dir, f"{t}.parquet")
        pq.write_table(out[t].replace_schema_metadata(None), p)
        stats[t] = {"rows": out[t].num_rows, "bytes": os.path.getsize(p)}
    return stats
