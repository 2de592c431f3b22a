"""Seed-determined input tables for the benchmark workloads.

Every generated directory holds all ten tables `graft.Views.register`
binds (region, nation, customer, supplier, part, orders, lineitem,
events, documents, embeddings), with the column types and value
distributions of the engine's reference test data (FIXTURES.md), so
every view a contract query reads resolves. Sizes come from the
workload spec in `workloads.json`.

The same (sizes, seed) gives byte-identical parquet files: values come
from one numpy PCG64 stream per table, and the writer runs with fixed
settings and no pandas metadata.

Usage: python3 perfbench/gen.py <out_dir> <seed> <workload>
"""
import datetime
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

WORDS = ("join hash row batch scan customer column filter small slow merge "
         "order vector line data table agg value key stream window spark a "
         "group part big sort query fast the").split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING")
ADJ = ("blue", "hot", "small", "old", "red", "new", "cold", "large")
NOUN = ("bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "gizmo")
PTYPES = ("ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
DIM = 64
N_LABELS = 10
READS = ("search", "search_pg", "get")
# VectorFieldDB's maybeCheckpoint cadence and AuditFlushEvery
CHECKPOINT_EVERY = 16


def load_spec():
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)


def _rng(seed, table):
    # one independent stream per table: resizing one table never
    # shifts the values of another
    return np.random.Generator(np.random.PCG64([seed, TABLES.index(table)]))


def _days(rng, n, start, end):
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def region(rng, sizes):
    return pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": list(REGIONS)})


def nation(rng, sizes):
    return pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})


def customer(rng, sizes):
    n = sizes["customer"]
    return pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, n, -999.99, 9999.99),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n)]})


def supplier(rng, sizes):
    n = sizes["supplier"]
    return pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, n, -999.99, 9999.99)})


def part(rng, sizes):
    n = sizes["part"]
    return pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n), rng.integers(0, 8, n))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": [PTYPES[t] for t in rng.integers(0, 6, n)],
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) * 0.1, 2)})


def orders(rng, sizes):
    n = sizes["orders"]
    return pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, sizes["customer"], n), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[s] for s in rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, n, 1000.0, 500000.0),
        "o_orderdate": pa.array(_days(rng, n, datetime.date(1995, 1, 1),
                                      datetime.date(2001, 8, 1)), pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[p] for p in rng.integers(0, 5, n)]})


def lineitem(rng, sizes):
    n = sizes["lineitem"]
    flags = rng.integers(0, 3, n)
    status = rng.integers(0, 2, n)
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, sizes["orders"], n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, sizes["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, sizes["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, n, 900.0, 105000.0),
        "l_discount": np.round(rng.integers(0, 11, n) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n) * 0.01, 2),
        "l_returnflag": [("A", "N", "R")[f] for f in flags],
        "l_linestatus": [("O", "F")[s] for s in status],
        "l_shipdate": pa.array(_days(rng, n, datetime.date(1995, 1, 2),
                                     datetime.date(2001, 11, 4)), pa.timestamp("us"))})


def events(rng, sizes):
    n = sizes["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    month_us = 30 * 24 * 3600 * 10**6
    ts = start + np.sort(rng.integers(0, month_us, n)).astype("timedelta64[us]")
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, sizes["users"], n), pa.int64()),
        "event_type": [EVENT_TYPES[e] for e in rng.integers(0, 5, n)],
        "value": _money(rng, n, 0.01, 490.0),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def documents(rng, sizes):
    # the sf0.1 test corpus (TESTDATA.md), as measured on its 5000 rows:
    # uniform random word streams of 10-99 words over the 30-word
    # vocabulary, then 5% of the rows replaced by a copy of another row
    # with " dup" appended (the copied row is any row, earlier or later,
    # possibly already a copy)
    n = sizes["documents"]
    texts = [" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), int(rng.integers(10, 100))))
             for _ in range(n)]
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    langs = rng.choice(len(LANGS), n, p=LANG_P)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": [LANGS[k] for k in langs],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def embeddings(rng, sizes):
    # the sf0.1 test store (TESTDATA.md; measured on its embeddings.parquet):
    # L2-normalised float32 vectors with no cluster structure (a vector's
    # cosine to its label's mean is about 0.07) and N_LABELS uniform labels
    n = sizes["embeddings"]
    labels = rng.integers(0, N_LABELS, n)
    v = rng.standard_normal((n, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    offsets = np.arange(0, (n + 1) * DIM, DIM, dtype=np.int32)
    emb = pa.ListArray.from_arrays(pa.array(offsets), pa.array(v.reshape(-1)))
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": emb,
        "label": pa.array(labels, pa.int32())})


def _unit(rng):
    v = rng.standard_normal(DIM)
    return [round(float(x), 6) for x in v / np.linalg.norm(v)]


class _Store:
    """What the facade holds after each op, so every op in the script is
    valid when it runs and the expected results are known in advance."""

    def __init__(self, labels):
        self.live = {f"g{i}": (i % 144000, int(c)) for i, c in enumerate(labels)}
        self.free = sorted(self.live)          # live and in no cluster
        self.deleted = []
        self.n_pg = 0
        self.history = 1                       # the initial batch insert

    def stats(self):
        return {"iglyph_count": len(self.live), "pglyph_count": self.n_pg,
                "history_len": self.history,
                "glyph_ids_used": len({g for g, _ in self.live.values()}),
                "contexts_used": len({c for _, c in self.live.values()})}

    def op(self, rng, kind, tag, n_vectors):
        pick = lambda xs: xs[int(rng.integers(0, len(xs)))]
        if kind == "recompute" and self.n_pg == 0:
            kind = "form"
        if kind in ("delete", "form") and len(self.free) < 8:
            kind = "add"
        if kind == "search":
            ctx = int(rng.integers(0, N_LABELS)) if rng.random() < 0.3 else -1
            n = sum(1 for _, c in self.live.values() if ctx < 0 or c == ctx)
            return {"op": kind, "q": int(rng.integers(0, n_vectors)),
                    "metric": pick(("cosine", "dot", "euclidean", "phi_weighted")),
                    "k": 10, "ctx": ctx, "expect_rows": min(10, n)}
        if kind == "search_pg":
            return {"op": kind, "q": int(rng.integers(0, n_vectors)), "k": 5,
                    "expect_rows": min(5, self.n_pg)}
        if kind == "get":
            if self.deleted and rng.random() < 0.2:
                return {"op": kind, "id": pick(self.deleted), "expect": False}
            return {"op": kind, "id": pick(sorted(self.live)), "expect": True}
        self.history += 1
        if kind == "add":
            rows = []
            for j in range(int(rng.integers(1, 4))):
                gid = f"a{tag}_{j}"
                g, c = int(rng.integers(0, 144000)), int(rng.integers(0, N_LABELS))
                self.live[gid] = (g, c)
                self.free.append(gid)
                rows.append({"id": gid, "glyph": g, "ctx": c, "v": _unit(rng)})
            return {"op": kind, "rows": rows}
        if kind == "update":
            return {"op": kind, "id": pick(sorted(self.live)), "v": _unit(rng)}
        if kind == "delete":
            gid = self.free.pop(int(rng.integers(0, len(self.free))))
            del self.live[gid]
            self.deleted.append(gid)
            return {"op": kind, "id": gid}
        if kind == "form":
            members = [self.free.pop(int(rng.integers(0, len(self.free)))) for _ in range(4)]
            self.n_pg += 1
            return {"op": kind, "members": sorted(members),
                    "anchor": int(rng.integers(0, 144000)),
                    "ctx": int(rng.integers(0, N_LABELS)), "tag": f"t{tag}"}
        # the newest cluster: which one is recomputed changes the cost
        # several-fold (its lineage), so the seed does not choose it
        return {"op": kind, "pg": self.n_pg - 1}


def vfdb_script(rng, labels, cfg):
    """The facade op script: one warm op of each type, then `passes`
    timed passes of the fixed op sequence `pass_ops` with seed-drawn
    arguments. A fixed sequence meets the same lineage depth and
    checkpoint phase under every seed, so pass times compare across
    seeds. The store statistics expected after the warm ops and after
    each pass ride along."""
    # the facade truncates lineage and flushes its audit buffer every 16
    # writes: a pass of a whole number of 16 writes crosses both at the
    # same op in every pass
    writes = sum(k not in READS for k in cfg["pass_ops"])
    if writes == 0 or writes % CHECKPOINT_EVERY:
        raise ValueError(f"a pass has {writes} writes, not a multiple of {CHECKPOINT_EVERY}")
    store = _Store(labels)
    # form before recompute: a recompute needs a cluster to exist
    kinds = sorted(set(cfg["pass_ops"]), key=lambda k: k == "recompute")
    warm = [store.op(rng, k, f"w_{i}", len(labels)) for i, k in enumerate(kinds)]
    expect = [store.stats()]
    passes = []
    for p in range(cfg["passes"]):
        passes.append([store.op(rng, k, f"p{p}_{i}", len(labels))
                       for i, k in enumerate(cfg["pass_ops"])])
        expect.append(store.stats())
    return {"dim": DIM, "warm": warm, "passes": passes, "expect_after": expect}


def generate(out_dir, seed, workload, spec=None, warm=False):
    """Write every table for `workload` at `seed` under `out_dir`, plus
    the facade op script for a facade workload; with `warm`, the tables
    at the workload's smaller `warm_sizes` (its warm-up inputs)."""
    spec = (spec or load_spec())["workloads"][workload]
    sizes = spec["warm_sizes" if warm else "input_sizes"]
    os.makedirs(out_dir, exist_ok=True)
    tables = {}
    for name in TABLES:
        tables[name] = globals()[name](_rng(seed, name), sizes)
        pq.write_table(tables[name], os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy", use_dictionary=True,
                       write_statistics=True, row_group_size=1 << 20,
                       store_schema=False)
    if spec["kind"] == "vfdb" and not warm:
        rng = np.random.Generator(np.random.PCG64([seed, len(TABLES)]))
        script = vfdb_script(rng, tables["embeddings"]["label"].to_pylist(), spec["script"])
        with open(os.path.join(out_dir, "vfdb_script.json"), "w") as f:
            json.dump(script, f, separators=(",", ":"))


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
