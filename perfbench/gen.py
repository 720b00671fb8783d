"""Seeded input generator for the benchmark.

Every table is built from the vendored sf0.1 tables in ``data/`` the way the
repository's ScaleData tool scales them, with the per-copy salts and
rotations drawn from the seed instead of the copy index alone:

- ids get a per-copy stride offset, so joins keep their selectivity and
  per-key row counts;
- events: each copy rotates its user ids inside the copy's id range (a
  bijection, so the per-patient measurement counts are unchanged) and shifts
  every timestamp by a seeded whole number of seconds below one day;
- documents: each copy suffixes a seeded ~20% of its distinct words, so
  within-copy duplicate structure is kept while copies do not pair with each
  other;
- embeddings: each copy rotates its dimensions and flips the sign of a seeded
  subset of coordinates (norms and coordinate magnitudes are exact).

Row counts depend only on the copy factors, never on the seed.
"""
import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

# Parquet files per generated table: one per core of the 4-core reference
# host, so scans are parallel the way a multi-file corpus is.
FILES_PER_TABLE = 4


def _h(*parts):
    d = hashlib.blake2b(":".join(map(str, parts)).encode(), digest_size=8).digest()
    return int.from_bytes(d, "little")


def _read(name):
    return pq.read_table(os.path.join(DATA, f"{name}.parquet"))


def _write(table, out_dir, name):
    target = os.path.join(out_dir, f"{name}.parquet")
    os.makedirs(target)
    step = -(-table.num_rows // FILES_PER_TABLE)
    for i in range(FILES_PER_TABLE):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(target, f"part-{i:05d}.parquet"))


def events(seed, copies):
    base = _read("events")
    user = base.column("user_id").to_numpy()
    e_stride = int(base.column("event_id").to_numpy().max()) + 1
    u_stride = int(user.max()) + 1
    ts = base.column("ts").cast(pa.int64()).to_numpy()
    out = []
    for i in range(copies):
        rot, shift = _h(seed, "ev-user", i) % u_stride, _h(seed, "ev-ts", i) % 86400
        out.append(base.set_column(0, "event_id", pa.array(
            base.column("event_id").to_numpy() + i * e_stride))
            .set_column(1, "ts", pa.array(ts + shift * 1_000_000).cast(base.schema.field("ts").type))
            .set_column(2, "user_id", pa.array((user + rot) % u_stride + i * u_stride)))
    return pa.concat_tables(out)


def documents(seed, copies):
    base = _read("documents")
    texts = base.column("text").to_pylist()
    d_stride = int(base.column("doc_id").to_numpy().max()) + 1
    out = []
    for i in range(copies):
        tag = f"x{_h(seed, 'doc', i) % 100000}"
        salted = {}

        def salt(word):
            if word not in salted:
                salted[word] = word + tag if _h(seed, "doc", i, word) % 5 == 0 else word
            return salted[word]

        new = [" ".join(salt(w) for w in t.split(" ")) if t is not None else None for t in texts]
        out.append(base.set_column(0, "doc_id", pa.array(base.column("doc_id").to_numpy() + i * d_stride))
                   .set_column(1, "text", pa.array(new, pa.string()))
                   .set_column(4, "n_chars", pa.array([None if t is None else len(t) for t in new], pa.int64())))
    return pa.concat_tables(out)


def embeddings(seed, copies):
    base = _read("embeddings")
    col = base.column("embedding").combine_chunks()
    dim = len(col[0])
    mat = col.flatten().to_numpy().reshape(-1, dim)
    v_stride = int(base.column("vec_id").to_numpy().max()) + 1
    out = []
    for i in range(copies):
        rot = _h(seed, "emb-rot", i) % dim
        signs = np.array([1 if _h(seed, "emb-sign", i, j) % 2 == 0 else -1 for j in range(dim)],
                         dtype=np.float32)
        m = np.roll(mat, -rot, axis=1) * signs
        vecs = pa.ListArray.from_arrays(pa.array(np.arange(0, m.size + 1, dim, dtype=np.int32)),
                                        pa.array(m.ravel(), pa.float32()))
        out.append(base.set_column(0, "vec_id", pa.array(base.column("vec_id").to_numpy() + i * v_stride))
                   .set_column(1, "embedding", vecs.cast(base.schema.field("embedding").type)))
    return pa.concat_tables(out)


def generate(spec, seed, out_dir):
    """Write the tables of ``spec`` (table name -> generator kwargs) for
    ``seed`` under ``out_dir``; returns the row count of each table."""
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    makers = {"events": events, "documents": documents, "embeddings": embeddings}
    rows = {}
    for name, kwargs in spec.items():
        table = makers[name](seed, **kwargs)
        _write(table, out_dir, name)
        rows[name] = table.num_rows
    return rows
