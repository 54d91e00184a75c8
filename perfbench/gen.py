"""Seeded input generator for the `ingest` and `mixed` workloads.

From the source `lineitem` table it writes, under one directory:

- `base/`: the rows of a seeded 10% of the orders, the dataset's
  initial content;
- `batches/batch=<i>/`: one parquet file per step of the stream;
- `stream.tsv`: one line per step, tab-separated: index, kind, batch
  rows, batch bytes, the new orders' key span (low, high), the delete
  predicate, and the packed keys the step makes present.

Line numbers repeat within an order in the source table, so each
order's lines are renumbered 1..n in a fixed column order; that makes
(l_orderkey, l_linenumber) a unique key. The same seed gives the same
files, byte for byte.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# share of order keys in the initial dataset, and in the insert pool
BASE_PCT = 10
POOL_PCT = 12
MAX_STEPS = 160
# the kinds follow a fixed cycle so that every seed, and every run
# length, applies the same mix; the seed picks the keys
CYCLE = ("append", "upsert", "insert", "delete")
NEW_KEYS = {"append": 75, "upsert": 10, "insert": 50, "delete": 0}
# base orders an upsert updates, an insert-merge offers again, and a
# delete's key range spans (21 bounds 20 orders)
OLD_KEYS = {"append": 0, "upsert": 50, "insert": 25, "delete": 21}
LINE_ORDER = ("l_linenumber", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice",
              "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")
# bits per order key in a packed (order key, line number) key
LINE_BITS = 6


def bucket(keys, seed):
    """Seeded bucket 0..99 of each order key (splitmix64 finalizer)."""
    with np.errstate(over="ignore"):
        z = keys.astype(np.uint64) + np.uint64((seed * 0x9E3779B97F4A7C15) % (1 << 64))
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        z = z ^ (z >> np.uint64(31))
    return (z % np.uint64(100)).astype(np.int64)


def renumber(t):
    """Number each order's lines 1..n in LINE_ORDER."""
    t = t.sort_by([("l_orderkey", "ascending")] + [(c, "ascending") for c in LINE_ORDER])
    ok = t.column("l_orderkey").to_numpy()
    pos = np.arange(len(ok))
    first = np.maximum.accumulate(np.where(np.r_[True, ok[1:] != ok[:-1]], pos, 0))
    lines = pa.array(pos - first + 1, pa.int32())
    return t.set_column(t.schema.get_field_index("l_linenumber"), "l_linenumber", lines)


def steps(seed, base_keys, pool):
    """The stream: at most MAX_STEPS steps, fewer when the pool runs dry.

    Each step is (kind, new order keys, base order keys, delete range).
    """
    rng = np.random.default_rng(seed)
    out, p = [], 0
    for i in range(MAX_STEPS):
        kind = CYCLE[i % len(CYCLE)]
        if p + NEW_KEYS[kind] > len(pool):
            break
        new = pool[p:p + NEW_KEYS[kind]]
        p += NEW_KEYS[kind]
        n_old = min(OLD_KEYS[kind], len(base_keys) - 1)
        start = int(rng.integers(0, len(base_keys) - n_old)) if n_old else 0
        old = base_keys[start:start + n_old]
        if kind == "delete":
            out.append((kind, new, old[:0], (int(old[0]), int(old[-1]))))
        else:
            out.append((kind, new, old, None))
    return out


def file_digest(paths):
    """SHA-256 over the sorted per-file hashes, first 16 hex digits."""
    def sha(f):
        with open(f, "rb") as fh:
            return hashlib.sha256(fh.read()).hexdigest()
    hashes = sorted(sha(f) for f in paths)
    return hashlib.sha256("".join(hashes).encode()).hexdigest()[:16]


def generate(source, out, seed):
    """Writes the inputs under `out`; returns their descriptions."""
    t = pq.read_table(source)
    b = bucket(t.column("l_orderkey").to_numpy(), seed)
    t = renumber(t.filter(pa.array(b < BASE_PCT + POOL_PCT)))
    b = bucket(t.column("l_orderkey").to_numpy(), seed)
    ok = t.column("l_orderkey").to_numpy()
    base = t.filter(pa.array(b < BASE_PCT))
    base_keys = np.unique(ok[b < BASE_PCT])
    pool = np.unique(ok[b >= BASE_PCT])
    # the last pool order lends its rows to the null-key rows
    null_key, pool = pool[-1], pool[:-1]
    plan = steps(seed, base_keys, pool)

    os.makedirs(os.path.join(out, "base"))
    pq.write_table(base, os.path.join(out, "base", "part-0.parquet"))
    packed_all = (ok.astype(np.int64) << LINE_BITS) + t.column("l_linenumber").to_numpy()
    lines = []
    batch_files = []
    for i, (kind, new, old, rng) in enumerate(plan):
        if kind == "delete":
            lines.append((i, kind, 0, 0, 0, 0, "l_orderkey >= %d AND l_orderkey < %d" % rng, ""))
            continue
        keys = np.concatenate([new, old])
        rows = t.filter(pc.is_in(t.column("l_orderkey"), pa.array(keys)))
        if len(old):
            bump = pc.is_in(rows.column("l_orderkey"), pa.array(old))
            rows = bumped(rows, bump, i)
        # null-key rows: three new ones in the first step, then one
        # updated (or offered again) by every merge
        nl = t.filter(pc.equal(t.column("l_orderkey"), null_key))
        nl_lines = nl.column("l_linenumber")
        if i == 0:
            nl = nl.filter(pc.less_equal(nl_lines, 3))
        elif kind in ("upsert", "insert"):
            nl = bumped(nl.filter(pc.equal(nl_lines, i % 3 + 1)), None, i)
        else:
            nl = nl.slice(0, 0)
        nl = nl.set_column(nl.schema.get_field_index("l_orderkey"), "l_orderkey",
                           pa.nulls(nl.num_rows, pa.int64()))
        rows = pa.concat_tables([rows, nl])
        d = os.path.join(out, "batches", "batch=%d" % i)
        os.makedirs(d)
        f = os.path.join(d, "part-0.parquet")
        pq.write_table(rows, f)
        batch_files.append(f)
        present = packed_all[np.isin(ok, keys)]
        lines.append((i, kind, rows.num_rows, os.path.getsize(f), int(new.min()),
                      int(new.max()) + 1, "", ",".join(str(k) for k in np.sort(present))))
    stream = os.path.join(out, "stream.tsv")
    with open(stream, "w") as fh:
        for ln in lines:
            fh.write("\t".join(str(x) for x in ln) + "\n")
    base_file = os.path.join(out, "base", "part-0.parquet")
    return [
        {"name": "base", "rows": base.num_rows, "bytes": os.path.getsize(base_file),
         "files": 1, "digest": file_digest([base_file])},
        {"name": "batches", "rows": sum(ln[2] for ln in lines),
         "bytes": sum(os.path.getsize(f) for f in batch_files), "files": len(batch_files),
         "digest": file_digest(batch_files)},
        {"name": "stream", "rows": len(lines), "bytes": os.path.getsize(stream), "files": 1,
         "digest": file_digest([stream])},
    ]


def bumped(rows, mask, i):
    """Updated values for rows an upsert changes (all rows when mask is None)."""
    q = rows.column("l_quantity")
    tax = rows.column("l_tax")
    q2 = pc.add(q, float(i % 5 + 1))
    tax2 = pc.add(tax, 0.01)
    if mask is not None:
        q2 = pc.if_else(mask, q2, q)
        tax2 = pc.if_else(mask, tax2, tax)
    rows = rows.set_column(rows.schema.get_field_index("l_quantity"), "l_quantity", q2)
    return rows.set_column(rows.schema.get_field_index("l_tax"), "l_tax", tax2)
