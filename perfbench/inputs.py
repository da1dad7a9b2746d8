"""Seeded inputs, derived from `data/sf0.01/`: an unchanged copy of the
repository's deterministic TPC-H-style test tables at scale factor 0.01
(1.5k customers, 100 suppliers, 2k parts, 15k orders, 60k line items;
500 documents and 500 embeddings). The seed picks the changes made to
them; the same seed gives the same files. The program under test only
ever reads these files.
"""
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DATA = Path(__file__).resolve().parent / "data" / "sf0.01"
NEW_ORDERS_PER_DAY = 0.01      # share of the base orders added each day
CHANGED_PER_DAY = 0.01         # share of customers changed each day
DAY = np.timedelta64(1, "D")


def _rng(seed, *stream):
    return np.random.default_rng([seed, *stream])


def _read(name):
    return pq.read_table(DATA / f"{name}.parquet")


def _write(table, path):
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, path)


def _shift(column, days):
    """A timestamp column moved by whole days, one count per row."""
    us = column.to_numpy().astype("datetime64[us]") + days * DAY
    return pa.array(us, column.type)


def new_orders(seed, day, orders, items):
    """Day `day`'s new orders: copies of seeded base orders with their
    line items, under fresh keys past the base maximum (the shifted-key
    replication of `graft.ScaleGen`), each for a seeded customer and
    dated on the day, `day` days after the last base order date. Line
    items keep their ship dates: in the base data these are drawn apart
    from the order dates, so a copy keeps their distribution."""
    r = _rng(seed, 1, day)
    n = round(len(orders) * NEW_ORDERS_PER_DAY)
    src = r.choice(len(orders), n, replace=False)
    o = orders.take(src)
    first = pc.max(orders["o_orderkey"]).as_py() + 1 + (day - 1) * n
    keys = np.arange(first, first + n, dtype=np.int64)
    last = pc.max(orders["o_orderdate"]).as_py()
    lag = ((np.datetime64(last, "D") + day * DAY)
           - o["o_orderdate"].to_numpy().astype("datetime64[D]")) // DAY
    custs = orders["o_custkey"].to_numpy()
    o = (o.set_column(0, "o_orderkey", pa.array(keys))
         .set_column(1, "o_custkey",
                     pa.array(custs[r.integers(0, len(custs), n)]))
         .set_column(4, "o_orderdate", _shift(o["o_orderdate"], lag)))
    # line items of the source orders, re-keyed to their copies
    old = orders["o_orderkey"].to_numpy()[src]
    pos = {k: i for i, k in enumerate(old)}
    li = items.filter(pc.is_in(items["l_orderkey"], pa.array(old)))
    idx = np.array([pos[k] for k in li["l_orderkey"].to_numpy()])
    return o, li.set_column(0, "l_orderkey", pa.array(keys[idx]))


def customers(seed, day, base):
    """The customer table as of `day`: each day a seeded 1 % of customers
    take the account balance of another seeded customer."""
    bal = base["c_acctbal"].to_numpy().copy()
    for d in range(1, day + 1):
        r = _rng(seed, 2, d)
        hit = np.flatnonzero(r.random(len(bal)) < CHANGED_PER_DAY)
        bal[hit] = bal[r.integers(0, len(bal), len(hit))]
    return base.set_column(3, "c_acctbal", pa.array(bal))


def medallion(root, seed, days):
    """One upstream snapshot directory per day (`day_<d>/<table>.parquet/`,
    a directory of parquet files): day 0 is the base data; day d adds d
    days of new orders and line items, and holds the customers as of
    day d. Snapshot files are hard links, so a day costs no copy."""
    base = root / "base"
    for t in ("supplier", "part", "orders", "lineitem"):
        base.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(DATA / f"{t}.parquet", base / f"{t}.parquet")
    orders, items, cust = _read("orders"), _read("lineitem"), _read("customer")
    for d in range(1, days + 1):
        o, li = new_orders(seed, d, orders, items)
        _write(o, root / "delta" / f"orders_{d}.parquet")
        _write(li, root / "delta" / f"lineitem_{d}.parquet")
    for d in range(days + 1):
        _write(customers(seed, d, cust),
               root / "delta" / f"customer_{d}.parquet")
        tables = {t: [base / f"{t}.parquet"] for t in ("supplier", "part")}
        for t in ("orders", "lineitem"):
            tables[t] = [base / f"{t}.parquet"] + [
                root / "delta" / f"{t}_{k}.parquet" for k in range(1, d + 1)]
        tables["customer"] = [root / "delta" / f"customer_{d}.parquet"]
        for t, files in tables.items():
            snap = root / f"day_{d}" / f"{t}.parquet"
            snap.mkdir(parents=True)
            for i, f in enumerate(files):
                (snap / f"part-{i:05d}.parquet").hardlink_to(f)


def curation(root, seed):
    """The documents with their vocabulary permuted by the seed, which
    keeps every near-duplicate relation between them, and the embeddings
    with a seeded per-coordinate jitter of at most 0.08 (the size of
    `graft.ScaleGen`'s per-copy jitter)."""
    r = _rng(seed, 3)
    docs = _read("documents")
    texts = docs["text"].to_pylist()
    vocab = sorted({w for t in texts for w in t.split()})
    perm = dict(zip(vocab, r.permutation(vocab)))
    texts = [" ".join(perm[w] for w in t.split()) for t in texts]
    docs = (docs.set_column(1, "text", pa.array(texts))
            .set_column(4, "n_chars",
                        pa.array([len(t) for t in texts], pa.int64())))
    _write(docs, root / "documents.parquet")
    emb = _read("embeddings")
    vecs = np.stack(emb["embedding"].to_numpy(zero_copy_only=False))
    vecs = vecs + 0.01 * (r.integers(0, 17, vecs.shape) - 8)
    emb = emb.set_column(1, "embedding", pa.array(
        list(vecs.astype(np.float32)), emb.schema.field("embedding").type))
    _write(emb, root / "embeddings.parquet")


def generate(workload, root, seed, days):
    root = Path(root)
    if workload == "medallion_daily":
        medallion(root, seed, days)
    else:
        curation(root, seed)
