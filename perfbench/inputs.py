"""Seeded benchmark inputs.

Seed 0 is the fixture set in `data/sf0.01/`, copied byte for byte. Any other
seed derives a variant of it, deterministically from the seed:

- a seeded fraction of foreign keys is rewired to other existing keys
  (orders.o_custkey, lineitem.l_partkey, lineitem.l_suppkey), which changes
  the property graph the graph operators run on;
- a seeded set of documents is replaced by near-duplicates of other
  documents (a few tokens changed), which the dedup/minhash operators find.

Every table keeps its row count and its schema; the tables not named above
are copied unchanged.
"""
import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BASE = os.path.join(HERE, "data", "sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

FK_FRACTION = 0.01    # share of rows whose foreign key is rewired
NEAR_DUPS = 10        # documents replaced by a near-duplicate
TOKEN_EDITS = 0.05    # share of a near-duplicate's tokens that are changed


def _read(name):
    return pq.read_table(os.path.join(BASE, f"{name}.parquet"))


def _write(table, path):
    # one row group, as the fixtures have (operators size stages by it)
    pq.write_table(table, path, compression="snappy", row_group_size=len(table))


def _replace(table, column, values):
    i = table.schema.get_field_index(column)
    field = table.schema.field(i)
    return table.set_column(i, field, pa.array(values, type=field.type))


def _rewire(rng, table, column, domain):
    values = table.column(column).to_numpy().copy()
    idx = rng.choice(len(values), size=max(1, int(len(values) * FK_FRACTION)), replace=False)
    values[np.sort(idx)] = rng.choice(domain, size=len(idx))
    return _replace(table, column, values)


def _near_duplicates(rng, docs):
    text = docs.column("text").to_pylist()
    vocab = sorted({tok for t in text for tok in t.split(" ")})
    targets = rng.choice(len(text), size=NEAR_DUPS, replace=False)
    for t in np.sort(targets):
        src = int(rng.integers(len(text)))
        src = src if src != t else (src + 1) % len(text)
        toks = text[src].split(" ")
        for j in rng.choice(len(toks), size=max(1, int(len(toks) * TOKEN_EDITS)), replace=False):
            toks[j] = vocab[int(rng.integers(len(vocab)))]
        text[t] = " ".join(toks)
    docs = _replace(docs, "text", text)
    return _replace(docs, "n_chars", [len(t) for t in text])


def generate(seed, out):
    """Writes the inputs of `seed` into the directory `out`."""
    os.makedirs(out, exist_ok=True)
    if seed == 0:
        for name in TABLES:
            shutil.copyfile(os.path.join(BASE, f"{name}.parquet"),
                            os.path.join(out, f"{name}.parquet"))
        return
    rng = np.random.default_rng(seed)
    changed = {}
    cust = _read("customer").column("c_custkey").to_numpy()
    parts = _read("part").column("p_partkey").to_numpy()
    supps = _read("supplier").column("s_suppkey").to_numpy()
    changed["orders"] = _rewire(rng, _read("orders"), "o_custkey", cust)
    li = _rewire(rng, _read("lineitem"), "l_partkey", parts)
    changed["lineitem"] = _rewire(rng, li, "l_suppkey", supps)
    changed["documents"] = _near_duplicates(rng, _read("documents"))
    for name in TABLES:
        path = os.path.join(out, f"{name}.parquet")
        if name in changed:
            _write(changed[name], path)
        else:
            shutil.copyfile(os.path.join(BASE, f"{name}.parquet"), path)


def stamp():
    """A digest of everything a seed's inputs are made from: this generator,
    the fixture bytes and the versions of the libraries that write them."""
    h = hashlib.sha256(f"{np.__version__} {pa.__version__}".encode())
    for path in [os.path.abspath(__file__)] + [os.path.join(BASE, f"{t}.parquet")
                                               for t in TABLES]:
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:12]


def ensure(seed, root):
    """The inputs directory of `seed` under `root`, generated on first use.
    Its name carries `stamp()`, so a changed generator or fixture set never
    reuses inputs made before the change. Generation goes to a scratch
    directory that is renamed into place, so an interrupted run never leaves
    half a set behind."""
    out = os.path.join(root, f"seed-{seed}-{stamp()}")
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    generate(seed, tmp)
    os.rename(tmp, out)
    return out


def row_counts(directory):
    return {name: pq.ParquetFile(os.path.join(directory, f"{name}.parquet")).metadata.num_rows
            for name in TABLES}
