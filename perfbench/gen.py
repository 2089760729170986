"""Seeded input generator for the benchmark.

Derives one input directory per seed from the base tables in
``perfbench/data/base`` (the sf0.01 star schema plus the events, documents
and embeddings tables). The subset is foreign-key consistent:

- whole customers are dropped together with their orders and lineitems;
- whole event users are dropped together with all of their events;
- documents and embeddings are dropped by the same seeded hash of their id,
  so a document and the vector with the same id go or stay together;
- dimension tables (region, nation, supplier, part) keep every row;
- every table is written in a seeded row order.

The same seed always gives byte-identical inputs. Output is cached under
``<out_root>/seed_<n>`` and re-used when its manifest matches.

Usage: python3 perfbench/gen.py <seed> <out_root>
"""
import hashlib
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BASE = os.path.join(HERE, "data", "base")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# Share of customers / event users / documents a seed keeps.
KEEP = 0.9
GEN_VERSION = 1


def _keep_mask(ids, seed, salt):
    """Seeded per-id keep decision: a splitmix64 hash of (id, seed, salt)."""
    x = np.asarray(ids, dtype=np.uint64)
    with np.errstate(over="ignore"):
        z = x + np.uint64(seed * 0x9E3779B97F4A7C15 % 2**64) + np.uint64(salt)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        z = z ^ (z >> np.uint64(31))
    return (z % np.uint64(1_000_000)) < np.uint64(int(KEEP * 1_000_000))


def _in(table, col, keep_ids):
    return table.filter(pc.is_in(table[col], value_set=pa.array(keep_ids)))


def _shuffled(table, rng):
    return table.take(pa.array(rng.permutation(table.num_rows)))


def _digest():
    h = hashlib.sha256(str(GEN_VERSION).encode())
    for t in TABLES:
        with open(os.path.join(BASE, f"{t}.parquet"), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def generate(seed, out_root):
    """Returns the generated directory for `seed`, building it if needed."""
    out = os.path.join(out_root, f"seed_{seed}")
    manifest_path = os.path.join(out, "manifest.json")
    digest = _digest()
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            if json.load(f).get("base_digest") == digest:
                return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t = {n: pq.read_table(os.path.join(BASE, f"{n}.parquet")) for n in TABLES}
    for n in TABLES:
        t[n] = t[n].replace_schema_metadata(None)

    cust = t["customer"]["c_custkey"].to_numpy()
    keep_cust = cust[_keep_mask(cust, seed, 1)]
    t["customer"] = _in(t["customer"], "c_custkey", keep_cust)
    t["orders"] = _in(t["orders"], "o_custkey", keep_cust)
    t["lineitem"] = _in(t["lineitem"], "l_orderkey",
                        t["orders"]["o_orderkey"].to_numpy())

    users = np.unique(t["events"]["user_id"].to_numpy())
    t["events"] = _in(t["events"], "user_id", users[_keep_mask(users, seed, 2)])

    docs = t["documents"]["doc_id"].to_numpy()
    t["documents"] = _in(t["documents"], "doc_id", docs[_keep_mask(docs, seed, 3)])
    vecs = t["embeddings"]["vec_id"].to_numpy()
    t["embeddings"] = _in(t["embeddings"], "vec_id", vecs[_keep_mask(vecs, seed, 3)])

    rng = np.random.default_rng(seed)
    rows = {}
    for n in TABLES:
        tbl = _shuffled(t[n], rng)
        pq.write_table(tbl, os.path.join(tmp, f"{n}.parquet"))
        rows[n] = tbl.num_rows
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump({"seed": seed, "keep": KEEP, "base_digest": digest,
                   "rows": rows}, f, indent=1)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out


if __name__ == "__main__":
    print(generate(int(sys.argv[1]), sys.argv[2]))
