"""Seeded inputs for the benchmark workloads.

The program under test only ever sees the files written here.

- ``analytics_tables`` synthesizes the ten fixture tables (the star
  schema, ``events``, ``documents``, ``embeddings``) at a fixed seed and
  replicates them 4x with ``scripts/gen_scale_fixtures.py``.  The result
  does not depend on ``--seed``, so it is built once per checkout and
  cached under ``.perfbench_cache/``.
- ``query_order`` gives the seeded order of each analytics pass.
- ``write_stream_inputs`` writes the base table and the seeded change
  feed of the CDC sink workload, and ``Feed``/``Model`` replay that feed
  in memory so every result can be checked.
- ``read_mix`` gives the seeded read-back mix run on the sink's table.

Same seed, same bytes: parquet is written by pyarrow with fixed
settings and no timestamps in the data or metadata.
"""
from __future__ import annotations

import hashlib
import importlib.util
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
GEN_SCALE = os.path.join(ROOT, "scripts", "gen_scale_fixtures.py")

# ------------------------------------------------------------ analytics

REPLICAS = 4
BASE_SEED = 42
BASE_ROWS = {"customer": 1500, "supplier": 100, "part": 2000,
             "orders": 15000, "lineitem": 60000, "events": 10000,
             "documents": 500, "embeddings": 500}
_VOCAB = ("a the key agg row scan slow fast table value part hash merge "
          "batch spark line sort window data column join small customer "
          "query order filter stream group big vector").split()


def _ts(start: str, offsets_us: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us").astype(np.int64)
    return pa.array(base + offsets_us.astype(np.int64), pa.timestamp("us"))


def _base_tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    """One copy of every fixture table, with the fixtures' schemas and
    value domains (FIXTURES.md)."""
    n = BASE_ROWS
    day = 86_400_000_000
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    c = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": rng.integers(0, 25, c).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, c), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], c)})
    s = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": rng.integers(0, 25, s).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, s), 2)})
    p = n["part"]
    adj = ["small", "red", "blue", "hot", "green", "large", "cold", "old"]
    noun = ["ring", "widget", "bolt", "gear", "gizmo", "nut", "pipe", "valve"]
    t["part"] = pa.table({
        "p_partkey": np.arange(p, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, p), rng.integers(0, 8, p))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, p)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO",
                              "SMALL", "STANDARD"], p),
        "p_size": rng.integers(1, 51, p).astype(np.int32),
        "p_retailprice": np.round(900 + rng.integers(0, 1000, p) / 10, 2)})
    o = n["orders"]
    odate = rng.integers(0, 2400, o)
    t["orders"] = pa.table({
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.integers(0, c, o).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], o),
        "o_totalprice": np.round(rng.uniform(1000, 500000, o), 2),
        "o_orderdate": _ts("1995-01-01", odate * day),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], o)})
    li = n["lineitem"]
    lok = np.sort(rng.integers(0, o, li))
    first = np.r_[True, lok[1:] != lok[:-1]]
    starts = np.maximum.accumulate(np.where(first, np.arange(li), 0))
    qty = rng.integers(1, 51, li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": lok.astype(np.int64),
        "l_partkey": rng.integers(0, p, li).astype(np.int64),
        "l_suppkey": rng.integers(0, s, li).astype(np.int64),
        "l_linenumber": (np.arange(li) - starts + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, li), 2),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], li),
        "l_linestatus": rng.choice(["F", "O"], li),
        "l_shipdate": _ts("1995-01-01",
                          (odate[lok] + rng.integers(1, 121, li)) * day)})
    e = n["events"]
    t["events"] = pa.table({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": _ts("2024-01-01", rng.integers(0, 30 * day, e)),
        "user_id": rng.integers(0, 150, e).astype(np.int64),
        "event_type": rng.choice(["click", "error", "purchase", "signup",
                                  "view"], e),
        "value": np.round(rng.uniform(0.01, 490.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    d = n["documents"]
    vocab = np.array(_VOCAB)
    text = [" ".join(vocab[rng.integers(0, len(vocab), k)])
            for k in rng.integers(8, 90, d)]
    t["documents"] = pa.table({
        "doc_id": np.arange(d, dtype=np.int64),
        "text": text,
        "lang": rng.choice(["de", "en", "es", "fr", "zh"], d),
        "source": [f"src{i}" for i in rng.integers(0, 20, d)],
        "n_chars": np.array([len(x) for x in text], dtype=np.int64)})
    m = n["embeddings"]
    label = rng.integers(0, 10, m)
    centers = rng.normal(size=(10, 64))
    vec = centers[label] + 0.5 * rng.normal(size=(m, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(m, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": label.astype(np.int32)})
    return t


def _load_gen_scale():
    spec = importlib.util.spec_from_file_location("gen_scale_fixtures",
                                                  GEN_SCALE)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _generator_version() -> str:
    h = hashlib.sha256()
    for path in (os.path.abspath(__file__), GEN_SCALE):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def build_analytics_tables(out_dir: str) -> None:
    """Write the 4x replica of the synthesized base into ``out_dir``."""
    gen = _load_gen_scale()
    base_dir = out_dir + ".base"
    os.makedirs(base_dir, exist_ok=True)
    for name, tab in _base_tables(np.random.default_rng(BASE_SEED)).items():
        pq.write_table(tab, os.path.join(base_dir, f"{name}.parquet"))
    gen.replicate(REPLICAS, out_dir, src=base_dir)
    shutil.rmtree(base_dir)


def analytics_tables(cache_root: str) -> str:
    """Directory of the analytics tables, built once per checkout and
    generator version; concurrent runs race to an atomic rename."""
    final = os.path.join(cache_root, f"analytics-{_generator_version()}")
    if os.path.isdir(final):
        return final
    os.makedirs(cache_root, exist_ok=True)
    tmp = f"{final}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    build_analytics_tables(tmp)
    try:
        os.rename(tmp, final)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.isdir(final):
            raise
    return final


def query_order(query_ids: list[str], seed: int, pass_no: int) -> list[str]:
    """The seeded order of timed pass ``pass_no`` over ``query_ids``."""
    rng = np.random.default_rng([seed, 1, pass_no])
    return [query_ids[i] for i in rng.permutation(len(query_ids))]


# ------------------------------------------------------------ CDC sink

BASE_KEYS = 100_000       # rows in the sink table at create
TABLE_FILES = 16          # data files written by create
HOT_KEYS = 12_500         # updates/deletes hit the newest keys
CHANGES_PER_FILE = 1000   # one micro-batch = one feed file
SHARE_UPDATE, SHARE_DELETE = 0.85, 0.05   # the rest are inserts

FEED_SCHEMA = pa.schema([("op", pa.string()), ("id", pa.int64()),
                         ("seq", pa.int64()), ("grp", pa.int32()),
                         ("amount", pa.float64()), ("note", pa.string())])
FEED_DDL = ("op STRING, id BIGINT, seq BIGINT, grp INT, amount DOUBLE, "
            "note STRING")


@dataclass
class Change:
    """One feed file: the operation per key and the after-image."""
    op: np.ndarray       # 'I' / 'U' / 'D'
    key: np.ndarray
    seq: int
    grp: np.ndarray
    amount: np.ndarray
    note: np.ndarray     # int codes; the string is f"n{code}"


class Model:
    """The sink table as dense per-key arrays; replays the feed."""

    def __init__(self, capacity: int, rng: np.random.Generator):
        self.live = np.zeros(capacity, dtype=bool)
        self.seq = np.zeros(capacity, dtype=np.int64)
        self.grp = np.zeros(capacity, dtype=np.int32)
        self.amount = np.zeros(capacity, dtype=np.float64)
        self.note = np.zeros(capacity, dtype=np.int64)
        k = BASE_KEYS
        self.live[:k] = True
        self.grp[:k] = rng.integers(0, 100, k)
        self.amount[:k] = np.round(rng.uniform(0, 1000, k), 2)
        self.note[:k] = rng.integers(0, 1000, k)
        self.max_key = k

    def copy(self) -> "Model":
        other = object.__new__(Model)
        for name in ("live", "seq", "grp", "amount", "note"):
            setattr(other, name, getattr(self, name).copy())
        other.max_key = self.max_key
        return other

    def apply(self, ch: Change) -> None:
        up = ch.op != "D"
        self.live[ch.key[~up]] = False
        k = ch.key[up]
        self.live[k] = True
        self.seq[k] = ch.seq
        self.grp[k] = ch.grp[up]
        self.amount[k] = ch.amount[up]
        self.note[k] = ch.note[up]
        self.max_key = max(self.max_key, int(ch.key.max()) + 1)

    def frame(self, keys: np.ndarray | None = None) -> pd.DataFrame:
        """Live rows (of ``keys``, if given) as the table would return
        them, sorted by key."""
        ids = np.flatnonzero(self.live)
        if keys is not None:
            ids = np.intersect1d(ids, keys)
        return pd.DataFrame({
            "id": ids.astype(np.int64), "seq": self.seq[ids],
            "grp": self.grp[ids], "amount": self.amount[ids],
            "note": [f"n{c}" for c in self.note[ids]]})

    def table(self) -> pa.Table:
        return pa.Table.from_pandas(self.frame(), preserve_index=False)


def _next_change(model: Model, rng: np.random.Generator, seq: int) -> Change:
    lo = max(0, model.max_key - HOT_KEYS)
    hot = np.flatnonzero(model.live[lo:model.max_key]) + lo
    n_upd = int(CHANGES_PER_FILE * SHARE_UPDATE)
    n_del = int(CHANGES_PER_FILE * SHARE_DELETE)
    n_ins = CHANGES_PER_FILE - n_upd - n_del
    old = rng.choice(hot, n_upd + n_del, replace=False)
    new = np.arange(model.max_key, model.max_key + n_ins)
    key = np.concatenate([old, new]).astype(np.int64)
    op = np.array(["U"] * n_upd + ["D"] * n_del + ["I"] * n_ins)
    n = len(key)
    return Change(op=op, key=key, seq=seq,
                  grp=rng.integers(0, 100, n).astype(np.int32),
                  amount=np.round(rng.uniform(0, 1000, n), 2),
                  note=rng.integers(0, 1000, n))


@dataclass
class Feed:
    """The generated sink inputs: the base model and the change files
    in the order the stream consumes them."""
    base: Model
    changes: list[Change]

    def replay(self, n_applied: int, snapshot_at: int
               ) -> tuple[Model, Model]:
        """Model after the first ``n_applied`` files, and the model
        after the first ``snapshot_at`` files (for time-travel reads)."""
        m = self.base.copy()
        at = m.copy() if snapshot_at == 0 else None
        for i, ch in enumerate(self.changes[:n_applied]):
            m.apply(ch)
            if i + 1 == snapshot_at:
                at = m.copy()
        return m, at


def make_feed(seed: int, n_files: int) -> Feed:
    rng = np.random.default_rng([seed, 2])
    capacity = BASE_KEYS + n_files * CHANGES_PER_FILE
    base = Model(capacity, rng)
    m = base.copy()
    changes = []
    for i in range(n_files):
        ch = _next_change(m, rng, seq=i + 1)
        m.apply(ch)
        changes.append(ch)
    return Feed(base=base, changes=changes)


def write_stream_inputs(feed: Feed, base_path: str, feed_dir: str) -> None:
    """Base table as one parquet file; one parquet file per change with
    strictly increasing mtimes, so the file source's order is the feed
    order."""
    pq.write_table(feed.base.table(), base_path)
    os.makedirs(feed_dir, exist_ok=True)
    t0 = 1_700_000_000
    for i, ch in enumerate(feed.changes):
        tab = pa.table({
            "op": ch.op, "id": ch.key,
            "seq": np.full(len(ch.key), ch.seq, dtype=np.int64),
            "grp": ch.grp, "amount": ch.amount,
            "note": [f"n{c}" for c in ch.note]}, schema=FEED_SCHEMA)
        path = os.path.join(feed_dir, f"part-{i:05d}.parquet")
        pq.write_table(tab, path)
        os.utime(path, (t0 + i, t0 + i))


# ------------------------------------------------------------ read mix

@dataclass(frozen=True)
class Read:
    kind: str            # point | absent | range | travel
    lo: float
    hi: float


def read_mix(seed: int, model: Model, n: int) -> list[Read]:
    """~70% present-key point reads, 10% absent-key point reads, 15%
    narrow ``amount`` ranges, 5% time-travel point reads."""
    rng = np.random.default_rng([seed, 3])
    live = np.flatnonzero(model.live)
    dead = np.flatnonzero(~model.live[:model.max_key])
    out = []
    for u in rng.random(n):
        if u < 0.70:
            k = int(rng.choice(live))
            out.append(Read("point", k, k))
        elif u < 0.80:
            # a deleted key, or one far past every key the feed inserts
            k = (int(rng.choice(dead)) if len(dead) and rng.random() < 0.5
                 else model.max_key + 10**9 + int(rng.integers(0, 1000)))
            out.append(Read("absent", k, k))
        elif u < 0.95:
            lo = round(float(rng.uniform(0, 999)), 2)
            out.append(Read("range", lo, round(lo + 0.5, 2)))
        else:
            k = int(rng.choice(live))
            out.append(Read("travel", k, k))
    return out
