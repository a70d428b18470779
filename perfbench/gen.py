"""Seeded input generator for the benchmark.

Amplifies the base corpus in ``perfbench/data/base`` (the sf0.01 tables) by
an integer factor, ScaleGen-style:

* every entity key is relabelled by a seed-chosen rotation inside its key
  range, then shifted by ``copy * stride`` for copy ``k`` (stride = base max
  key + 1), and every foreign key goes through the same map, so joins stay
  valid within a copy and the key set, and with it the work of every range
  filter, is the same for every seed;
* document tokens of copy ``k >= 1`` get a seed-chosen three-letter salt
  (``word`` -> ``wordxab``), so shingle sets are disjoint across copies and
  near-duplicate density per document stays constant; copy 0 keeps the
  original text, and every salt has the same length, so the text volume does
  not depend on the seed;
* embedding vectors of copy ``k`` are cyclically rotated by ``r + k`` (``r``
  seed-chosen), which keeps every within-copy dot product;
* dimension tables (region, nation) and bounded domains (lang, source,
  event_type, dates) stay fixed.

The same (seed, scale) always gives byte-identical tables. Each output
directory carries ``manifest.json`` with rows and bytes per table.

Usage: python3 perfbench/gen.py <out_dir> <scale> <seed>
"""
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "base")
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
# entity -> (table, key column) whose max + 1 is the entity's stride
ENTITIES = {
    "cust": ("customer", "c_custkey"), "supp": ("supplier", "s_suppkey"),
    "part": ("part", "p_partkey"), "order": ("orders", "o_orderkey"),
    "event": ("events", "event_id"), "user": ("events", "user_id"),
    "doc": ("documents", "doc_id"), "vec": ("embeddings", "vec_id"),
}
# table -> {column: entity}
KEYS = {
    "customer": {"c_custkey": "cust"},
    "supplier": {"s_suppkey": "supp"},
    "part": {"p_partkey": "part"},
    "orders": {"o_orderkey": "order", "o_custkey": "cust"},
    "lineitem": {"l_orderkey": "order", "l_partkey": "part",
                 "l_suppkey": "supp"},
    "events": {"event_id": "event", "user_id": "user"},
    "documents": {"doc_id": "doc"},
    "embeddings": {"vec_id": "vec"},
}
ROW_GROUP = 131072
LETTERS = "abcdefghijklmnopqrstuvwxyz"


def _salts(rng, copies):
    """One distinct three-letter salt per copy, all starting with 'x'."""
    pool = rng.permutation(26 * 26)[:copies]
    return ["x" + LETTERS[p // 26] + LETTERS[p % 26] for p in pool]


def _relabel(col, stride, rot, copy):
    keys = col.to_numpy(zero_copy_only=False).astype(np.int64)
    out = (keys + rot) % stride + copy * stride
    return pa.array(out, type=col.type)


def _rotate_vectors(col, shift):
    flat = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
    dim = len(flat[0].as_py())
    lens = pc.list_value_length(flat).to_numpy()
    assert (lens == dim).all(), "embeddings must share one dimension"
    mat = flat.flatten().to_numpy().reshape(-1, dim)
    rolled = np.roll(mat, -(shift % dim), axis=1).reshape(-1)
    offsets = pa.array(np.arange(0, len(flat) * dim + 1, dim, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, pa.array(rolled, pa.float32())) \
        .cast(flat.type)


def generate(out_dir, scale, seed):
    """Write the (seed, scale) tables into out_dir; return the manifest."""
    rng = np.random.default_rng([seed, scale])
    base = {t: pq.read_table(os.path.join(BASE, f"{t}.parquet"))
            for t in TABLES}
    strides = {e: int(pc.max(base[t][c]).as_py()) + 1
               for e, (t, c) in ENTITIES.items()}
    rots = {e: int(rng.integers(0, strides[e])) for e in sorted(ENTITIES)}
    salts = _salts(rng, scale)
    vec_rot = int(rng.integers(0, 64))

    os.makedirs(out_dir, exist_ok=True)
    manifest = {"seed": seed, "scale": scale, "tables": {}}
    for t in TABLES:
        src = base[t]
        if t in ("region", "nation"):
            copies = [src]
        else:
            copies = []
            for k in range(scale):
                tab = src
                for c, e in KEYS.get(t, {}).items():
                    i = tab.schema.get_field_index(c)
                    tab = tab.set_column(i, tab.schema.field(i),
                                         _relabel(tab[c], strides[e], rots[e], k))
                if t == "documents" and k > 0:
                    text = pc.replace_substring_regex(
                        tab["text"], pattern=r"(\S+)", replacement=r"\1" + salts[k])
                    tab = tab.set_column(tab.schema.get_field_index("text"),
                                         tab.schema.field("text"), text)
                    n_chars = pc.cast(pc.utf8_length(text), pa.int64())
                    tab = tab.set_column(tab.schema.get_field_index("n_chars"),
                                         tab.schema.field("n_chars"), n_chars)
                if t == "embeddings":
                    i = tab.schema.get_field_index("embedding")
                    tab = tab.set_column(i, tab.schema.field(i),
                                         _rotate_vectors(tab["embedding"],
                                                         vec_rot + k))
                copies.append(tab)
        table = pa.concat_tables(copies).replace_schema_metadata(
            src.schema.metadata)
        path = os.path.join(out_dir, f"{t}.parquet")
        pq.write_table(table, path, row_group_size=ROW_GROUP)
        manifest["tables"][t] = {"rows": table.num_rows,
                                 "bytes": os.path.getsize(path)}
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def ensure(cache_root, scale, seed):
    """Return the cached (seed, scale) input dir, generating it if absent."""
    final = os.path.join(cache_root, f"x{scale}-seed{seed}")
    if os.path.exists(os.path.join(final, "manifest.json")):
        return final
    tmp = final + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    generate(tmp, scale, seed)
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)
    return final


if __name__ == "__main__":
    out, scale, seed = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
    print(json.dumps(generate(out, scale, seed)["tables"]))
