"""Seeded input generator: the FIXTURES.md tables, written as parquet.

The same (workload, seed, scale) always produces byte-identical tables.
Row counts depend only on the workload and the scale, never on the seed,
so run-to-run differences in a metric come from the program, not from
the input size. The distributions follow the fixture the queries were
written against: uniform keys, a 30-word vocabulary plus the `dup`
marker of planted near-duplicates, five languages, twenty sources, and
unit-norm 64-dim vectors well inside the SQ8 overflow budget.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()

# rows per table at scale 1.0, per workload: the corpora the workload's
# ops read, the other tables at their sf0.001 sizes
_SMALL = dict(customer=150, supplier=10, part=200, orders=1500, lineitem=6000,
              events=1000)
SIZES = {
    "dedup": dict(_SMALL, documents=300, embeddings=500),
    "index": dict(_SMALL, documents=120, embeddings=240),
}

VOCAB = ("a the data spark query table column row key value join sort group "
         "agg window stream batch scan filter hash merge order line part "
         "customer big small fast slow vector").split()
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
PTYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
ADJ = np.array(["blue", "cold", "hot", "large", "new", "old", "red", "small"])
NOUN = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
                 "widget"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                       "5-LOW"])
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DAY_US = 86_400_000_000


def _cents(rng, lo, hi, n):
    """Uniform money amounts with two decimals in [lo, hi]."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _days(rng, start, n_days, n):
    base = np.datetime64(start, "us").astype(np.int64)
    return pa.array(base + rng.integers(0, n_days + 1, n) * DAY_US,
                    pa.timestamp("us"))


def _documents(rng, n):
    """Texts over the vocabulary; 5% are near-duplicates of an earlier
    document (its text plus a `dup` marker), so dedup finds clusters."""
    texts, copied = [], set()
    for i in range(n):
        if i >= 10 and rng.random() < 0.05:
            # each document is copied at most once, so texts stay distinct
            src = int(rng.integers(0, i))
            while src in copied:
                src = (src + 1) % i
            copied.add(src)
            texts.append(texts[src] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, 30, k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": LANGS[rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n):
    """Unit-norm Gaussian directions around ten label centres."""
    centres = rng.normal(size=(10, 64))
    label = rng.integers(0, 10, n)
    v = centres[label] * 0.35 + rng.normal(size=(n, 64))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    v = np.clip(v, -0.53, 0.53).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def tables(workload, seed, scale=1.0):
    """The workload's tables as {name: pyarrow.Table}."""
    n = {k: max(10, int(v * scale)) for k, v in SIZES[workload].items()}
    # each table draws from its own stream, so its content does not
    # depend on the sizes of the tables generated before it
    r = {t: np.random.Generator(np.random.PCG64([seed, i]))
         for i, t in enumerate(TABLES)}
    out = {
        "region": pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
    }
    c, g = n["customer"], r["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(g.integers(0, 25, c), pa.int32()),
        "c_acctbal": _cents(g, -999.99, 9999.99, c),
        "c_mktsegment": SEGMENTS[g.integers(0, 5, c)]})
    s, g = n["supplier"], r["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(g.integers(0, 25, s), pa.int32()),
        "s_acctbal": _cents(g, -999.99, 9999.99, s)})
    p, g = n["part"], r["part"]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p), pa.int64()),
        "p_name": np.char.add(np.char.add(ADJ[g.integers(0, 8, p)], " "),
                              NOUN[g.integers(0, 8, p)]),
        "p_brand": [f"Brand#{b}" for b in g.integers(1, 26, p)],
        "p_type": PTYPES[g.integers(0, 6, p)],
        "p_size": pa.array(g.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(p) % 1000) * 0.1, 1)})
    o, g = n["orders"], r["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(g.integers(0, c, o), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[g.integers(0, 3, o)],
        "o_totalprice": _cents(g, 1000, 500000, o),
        "o_orderdate": _days(g, "1995-01-01", 2403, o),
        "o_orderpriority": PRIORITIES[g.integers(0, 5, o)]})
    li, g = n["lineitem"], r["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(g.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(g.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(g.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(g.integers(1, 8, li), pa.int32()),
        "l_quantity": g.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _cents(g, 900, 105000, li),
        "l_discount": g.integers(0, 11, li) / 100.0,
        "l_tax": g.integers(0, 9, li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[g.integers(0, 3, li)],
        "l_linestatus": np.array(["F", "O"])[g.integers(0, 2, li)],
        "l_shipdate": _days(g, "1995-01-02", 2498, li)})
    e, g = n["events"], r["events"]
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(g.choice(30 * DAY_US, e, replace=False)) + start
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(g.integers(0, max(1, int(e * 0.015)), e),
                            pa.int64()),
        "event_type": EVENT_TYPES[g.integers(0, 5, e)],
        "value": np.round(g.exponential(50.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, e)]})
    out["documents"] = _documents(r["documents"], n["documents"])
    out["embeddings"] = _embeddings(r["embeddings"], n["embeddings"])
    return out


def write(workload, seed, out_dir, scale=1.0):
    """Write every table as `<out_dir>/<name>.parquet`; returns
    {name: {"rows": n, "bytes": b}}."""
    os.makedirs(out_dir, exist_ok=True)
    stats = {}
    for name, t in tables(workload, seed, scale).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, path)
        stats[name] = {"rows": t.num_rows, "bytes": os.path.getsize(path)}
    return stats
