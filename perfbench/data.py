"""Seeded inputs for the benchmark.

``write_tables`` writes the ten catalog tables (the schemas of
``universal_data_connector_spark.tables.TABLES``) as parquet, small
enough that one catalog pass is dominated by per-key driver and
stage costs rather than by scan volume. ``Docs`` draws document
texts for the pipeline workloads; a seeded share carries the filter
token the pipelines select on. Everything derives from the seed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TOKEN = "zqxkeep"

# rows per table at scale 1.0 (about a tenth of a TPC-H sf0.1 layout)
ROWS = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
        "lineitem": 60000, "events": 10000, "users": 1000,
        "documents": 500, "embeddings": 500}

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "de", "fr", "es", "zh"]
BRANDS = [f"Brand#{i}{j}" for i in range(1, 6) for j in range(1, 6)]
TYPES = [f"{a} {b}" for a in ("STANDARD", "SMALL", "LARGE", "ECONOMY")
         for b in ("PLATED", "BURNISHED", "ANODIZED")]
DAY_US = 86_400_000_000


def _vocab(rng, n_words: int = 3000) -> np.ndarray:
    syl = [c + v for c in "bcdfghklmnprstvz" for v in "aeiou"]
    words = {"".join(rng.choice(syl, int(rng.integers(2, 5))))
             for _ in range(n_words * 2)}
    return rng.permutation(sorted(words))[:n_words]


def texts(rng, n: int, vocab: np.ndarray) -> list[str]:
    """Zipf-ish word draws, 8..104 words per text."""
    ranks = np.arange(1, len(vocab) + 1, dtype=np.float64)
    cdf = np.cumsum(1.0 / ranks ** 1.1)
    cdf /= cdf[-1]
    lens = rng.integers(8, 105, n)
    idx = np.searchsorted(cdf, rng.random(int(lens.sum())))
    out, pos = [], 0
    for ln in lens:
        out.append(" ".join(vocab[idx[pos:pos + ln]]))
        pos += ln
    return out


def _day_ts(rng, n: int, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "us").astype(np.int64)
    hi = np.datetime64(end, "us").astype(np.int64)
    return ((lo + rng.integers(0, hi - lo, n)) // DAY_US * DAY_US
            ).astype("datetime64[us]")


def write_tables(out_dir: str, seed: int, scale: float = 1.0) -> None:
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n = {k: max(5, int(v * scale)) for k, v in ROWS.items()}

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    put("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                              "MIDDLE EAST"]})
    put("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i:02d}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)],
                                           pa.int32())})
    nc, ns, npart = n["customer"], n["supplier"], n["part"]
    put("customer", {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)]})
    put("supplier", {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2)})
    put("part", {
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [f"part {i}" for i in range(npart)],
        "p_brand": np.array(BRANDS)[rng.integers(0, len(BRANDS), npart)],
        "p_type": np.array(TYPES)[rng.integers(0, len(TYPES), npart)],
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(rng.uniform(900, 2100, npart), 2)})
    no, nl = n["orders"], n["lineitem"]
    put("orders", {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(850, 550_000, no), 2),
        "o_orderdate": _day_ts(rng, no, "1995-01-01", "2001-08-01"),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)]})
    qty = rng.integers(1, 51, nl).astype(np.float64)
    flags = np.array([("A", "F"), ("N", "F"), ("N", "O"), ("R", "F"),
                      ("R", "O"), ("A", "O")])[rng.integers(0, 6, nl)]
    put("lineitem", {
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(rng.uniform(900, 2100, nl) * qty, 2),
        "l_discount": np.round(rng.uniform(0, 0.10, nl), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, nl), 2),
        "l_returnflag": flags[:, 0], "l_linestatus": flags[:, 1],
        "l_shipdate": _day_ts(rng, nl, "1995-01-01", "2001-08-01")})
    ne = n["events"]
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    put("events", {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": (start + rng.integers(0, 30 * DAY_US, ne)).astype("datetime64[us]"),
        "user_id": rng.integers(0, n["users"], ne).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": np.round(rng.uniform(0, 500, ne), 4),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = n["documents"]
    docs = texts(rng, nd, _vocab(rng))
    # exact- and near-duplicate tails, so the dedup operators find pairs
    for i in range(0, nd - 1, 97):
        docs[i + 1] = docs[i]
    for i in range(7, nd - 1, 89):
        docs[i + 1] = docs[i] + " extra"
    put("documents", {
        "doc_id": np.arange(nd, dtype=np.int64), "text": docs,
        "lang": np.array(LANGS)[rng.integers(0, 5, nd)],
        "source": np.array([f"src{i}" for i in range(20)])[
            rng.integers(0, 20, nd)],
        "n_chars": np.array([len(t) for t in docs], dtype=np.int64)})
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv).astype(np.int32)
    vecs = (rng.normal(0, 1, (10, 64))[labels]
            + rng.normal(0, 1.2, (nv, 64))).astype(np.float32)
    for i in range(0, nv - 1, 49):  # planted near-duplicate pairs
        vecs[i + 1] = vecs[i] + rng.normal(0, 0.01, 64).astype(np.float32)
    put("embeddings", {
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels})


class Docs:
    """Seeded document stream: ``draw(k)`` returns k unique texts; a
    share ``keep`` of them carry ``TOKEN`` (they pass the filter)."""

    def __init__(self, seed: int, keep: float):
        self.rng = np.random.default_rng(seed + 7919)
        self.vocab = _vocab(self.rng)
        self.keep = keep
        self.n = 0

    def draw(self, k: int) -> list[tuple[str, bool]]:
        out = []
        for t in texts(self.rng, k, self.vocab):
            passes = bool(self.rng.random() < self.keep)
            # the serial number makes every drawn text unique
            body = f"doc{self.n} {t}"
            out.append((f"{body} {TOKEN}" if passes else body, passes))
            self.n += 1
        return out
