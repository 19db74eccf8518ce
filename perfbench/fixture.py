"""Seeded fixture generator.

Derives one workload's tables from a read-only source fixture
(`SOURCE_ROOT/<sf>`). The seed picks a key-consistent sample and a
row permutation. Each key set keeps exactly round(fraction * keys)
keys, so sample sizes do not vary with the seed: every key below
`HEAD_KEYS`, then those of the rest with the smallest seeded hash.
The engine takes its query and seed sets as the first ids (query
vectors `vec_id < 8`, IVF seed centroids `vec_id < 16`, the tf-idf
probe documents `doc_id < 20`); a plain sample would keep a
seed-dependent handful of them, often none, and so change what those
queries compute from seed to seed.

- orders are sampled by `o_orderkey`, and lineitem keeps exactly the
  lines of the kept orders;
- events are sampled by `user_id`, so a kept user keeps every event
  (sessions stay whole);
- embeddings are sampled by `vec_id`, and documents by `doc_id` so
  that a kept document whose id is also a `vec_id` is one of the kept
  embeddings (a kept document keeps its embedding);
- the dimension tables (region, nation, customer, supplier, part) are
  kept whole, so every fact key still joins.

Every table is then written in a seed-chosen row order. The same
(source, fraction, seed) gives byte-identical files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SOURCE_ROOT = "/root/testdata"
DIMENSIONS = ["region", "nation", "customer", "supplier", "part"]
# Fact table -> (its key column, the key set that decides whether a row
# stays).
SAMPLED = {
    "orders": ("o_orderkey", "orders"),
    "lineitem": ("l_orderkey", "orders"),
    "events": ("user_id", "users"),
    "documents": ("doc_id", "docs"),
    "embeddings": ("vec_id", "vectors"),
}
TABLES = DIMENSIONS + list(SAMPLED)
# Keys below this are always kept (see above).
HEAD_KEYS = 20
_M64 = (1 << 64) - 1


def _splitmix64(x):
    """Vectorised splitmix64 finaliser over uint64 arrays."""
    with np.errstate(over="ignore"):
        x = x + np.uint64(0x9E3779B97F4A7C15)
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return x ^ (x >> np.uint64(31))


def pick(keys, seed, k):
    """k distinct keys: every key below HEAD_KEYS, then the rest with
    the smallest seeded hash."""
    head, rest = keys[keys < HEAD_KEYS], keys[keys >= HEAD_KEYS]
    salt = np.uint64((seed * 0x632BE59BD9B4E019) & _M64)
    h = _splitmix64(rest.astype(np.uint64) ^ salt)
    chosen = rest[np.argsort(h, kind="stable")[:max(k - len(head), 0)]]
    return np.sort(np.concatenate([head, chosen]))


def kept_keys(src, seed, fraction):
    """Key set name -> the sorted keys the sample keeps."""
    def distinct(table, col):
        t = pq.read_table(os.path.join(src, f"{table}.parquet"), columns=[col])
        return np.unique(t.column(col).to_numpy())

    def share(keys, among=None):
        k = round(fraction * len(keys))
        return pick(keys if among is None else np.intersect1d(keys, among), seed, k)
    vectors = share(distinct("embeddings", "vec_id"))
    doc_ids = distinct("documents", "doc_id")
    with_vec = np.intersect1d(doc_ids, distinct("embeddings", "vec_id"))
    return {
        "orders": share(distinct("orders", "o_orderkey")),
        "users": share(distinct("events", "user_id")),
        "docs": np.union1d(share(with_vec, among=vectors),
                           share(np.setdiff1d(doc_ids, with_vec))),
        "vectors": vectors,
    }


def source_dir(sf):
    return os.path.join(SOURCE_ROOT, sf)


def make(sf, fraction, seed, out_dir):
    """Write the seeded fixture; return its total size in bytes."""
    src = source_dir(sf)
    if not os.path.isdir(src):
        raise FileNotFoundError(f"source fixture {src} is missing")
    os.makedirs(out_dir, exist_ok=True)
    kept = kept_keys(src, seed, fraction)
    total = 0
    for i, name in enumerate(TABLES):
        table = pq.read_table(os.path.join(src, f"{name}.parquet"))
        table = table.replace_schema_metadata(None)
        if name in SAMPLED:
            col, key_set = SAMPLED[name]
            keys = table.column(col).to_numpy()
            table = table.filter(pa.array(np.isin(keys, kept[key_set])))
        order = np.random.default_rng([seed, i]).permutation(table.num_rows)
        table = table.take(pa.array(order))
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, compression="snappy")
        total += os.path.getsize(path)
    return total

