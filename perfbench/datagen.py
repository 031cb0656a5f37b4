"""Seeded input generator for the benchmark.

Everything the program under test reads is produced here from the run's
``--seed``: the ten fixture tables (TPC-H-style star schema plus events,
documents and embeddings, with the column names and value domains of the
fixtures the querybank was written against), the delta files that grow the
``events``/``orders`` sources for ``incremental_sync``, the source-database
traffic for ``warehouse_upsert`` and the case order for ``analytics_mix``.
The same seed gives byte-identical parquet files (see ``test_datagen.py``).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Row counts of the base tables at scale 1: those of the repository's sf0.1
# fixtures. Orders/lineitem/events are the tables the sync workloads stream;
# the rest keep the querybank joins and kernels fed. ``users`` is the
# domain of ``events.user_id``.
SIZES = {
    "customer": 15000,
    "supplier": 1000,
    "part": 20000,
    "orders": 150000,
    "lineitem": 600000,
    "events": 100000,
    "documents": 5000,
    "embeddings": 2000,
    "users": 1500,
}
EMBED_DIM = 64
EVENTS_START = dt.datetime(2024, 1, 1)
EVENT_TYPES = ("click", "signup", "error", "view", "purchase")
SEGMENTS = ("BUILDING", "MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD")
PART_ADJ = ("small", "red", "hot", "old", "large", "blue", "cold", "new")
PART_NOUN = ("ring", "widget", "bolt", "plate", "rod", "gizmo", "gear", "anvil")
PART_TYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
LANGS = ("en", "fr", "es", "zh", "de")
LANG_P = (0.44, 0.13, 0.14, 0.15, 0.14)
WORDS = (
    "row the query stream fast spark line small customer group value hash "
    "batch sort data big filter key agg scan slow table part a merge window "
    "order column join vector"
).split()
_EPOCH = np.datetime64("1970-01-01T00:00:00", "us")


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, purpose) so adding a draw to one
    table never shifts the values of another."""
    key = [seed & 0xFFFFFFFF] + [ord(c) for c in stream]
    return np.random.Generator(np.random.PCG64(np.random.SeedSequence(key)))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    """Two-decimal-exact doubles (the querybank's DECIMAL casts rely on it)."""
    cents = rng.integers(int(round(lo * 100)), int(round(hi * 100)) + 1, n)
    return cents / 100.0


def _days(rng, start: dt.date, end: dt.date, n: int) -> pa.Array:
    span = (end - start).days
    base = np.datetime64(start, "D").astype("datetime64[us]")
    vals = base + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(vals, type=pa.timestamp("us"))


def _pick(rng, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def scaled(scale: float) -> dict[str, int]:
    """``SIZES`` times ``scale`` (1 is sf0.1, 0.1 is sf0.01)."""
    return {k: max(1, int(round(v * scale))) for k, v in SIZES.items()}


def events_table(rng, first_id: int, start_us: int, n: int,
                 n_users: int) -> tuple[pa.Table, int]:
    """``n`` events with ids from ``first_id`` and strictly increasing
    timestamps after ``start_us`` (µs since the epoch). Returns the table
    and its last timestamp."""
    gaps = rng.integers(5_000, 520_000_000, n)
    ts = start_us + np.cumsum(gaps)
    table = pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]"), type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n, dtype=np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": pa.array(_money(rng, 0.01, 490.0, n)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })
    return table, int(ts[-1])


def orders_table(rng, first_key: int, n: int, n_customers: int) -> pa.Table:
    return pa.table({
        "o_orderkey": pa.array(np.arange(first_key, first_key + n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_customers, n, dtype=np.int64)),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), n),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n)),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n),
        "o_orderpriority": _pick(rng, PRIORITIES, n),
    })


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.1:
            # near-duplicate of an earlier document, for the dedup kernels
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            continue
        k = int(rng.integers(10, 100))
        texts.append(" ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), k)]))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n, p=LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng, n: int) -> pa.Table:
    centers = rng.normal(0.0, 0.02, (10, EMBED_DIM))
    labels = rng.integers(0, 10, n)
    vecs = centers[labels] + rng.normal(0.0, 0.125, (n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })


def generate_base(out_dir: str, seed: int, tables=TABLES, scale: float = 1.0) -> dict[str, str]:
    """Write the named base tables (all ten by default) at ``scale`` as
    ``<out_dir>/<table>.parquet`` files; returns table → path."""
    os.makedirs(out_dir, exist_ok=True)
    size = scaled(scale)
    n_c, n_s, n_p = size["customer"], size["supplier"], size["part"]
    n_o, n_l = size["orders"], size["lineitem"]

    def region(_g):
        return pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
        })

    def nation(_g):
        return pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
        })

    def customer(g):
        return pa.table({
            "c_custkey": pa.array(np.arange(n_c, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_c)]),
            "c_nationkey": pa.array(g.integers(0, 25, n_c).astype(np.int32)),
            "c_acctbal": pa.array(_money(g, -999.99, 9999.99, n_c)),
            "c_mktsegment": _pick(g, SEGMENTS, n_c),
        })

    def supplier(g):
        return pa.table({
            "s_suppkey": pa.array(np.arange(n_s, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_s)]),
            "s_nationkey": pa.array(g.integers(0, 25, n_s).astype(np.int32)),
            "s_acctbal": pa.array(_money(g, -999.99, 9999.99, n_s)),
        })

    def part(g):
        adj = np.asarray(PART_ADJ, dtype=object)[g.integers(0, len(PART_ADJ), n_p)]
        noun = np.asarray(PART_NOUN, dtype=object)[g.integers(0, len(PART_NOUN), n_p)]
        return pa.table({
            "p_partkey": pa.array(np.arange(n_p, dtype=np.int64)),
            "p_name": pa.array([f"{a} {b}" for a, b in zip(adj, noun)]),
            "p_brand": pa.array([f"Brand#{b}" for b in g.integers(1, 26, n_p)]),
            "p_type": _pick(g, PART_TYPES, n_p),
            "p_size": pa.array(g.integers(1, 51, n_p).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_p) % 1000) * 0.1, 2)),
        })

    def lineitem(g):
        return pa.table({
            "l_orderkey": pa.array(g.integers(0, n_o, n_l, dtype=np.int64)),
            "l_partkey": pa.array(g.integers(0, n_p, n_l, dtype=np.int64)),
            "l_suppkey": pa.array(g.integers(0, n_s, n_l, dtype=np.int64)),
            "l_linenumber": pa.array(g.integers(1, 8, n_l).astype(np.int32)),
            "l_quantity": pa.array(g.integers(1, 51, n_l).astype(np.float64)),
            "l_extendedprice": pa.array(_money(g, 901.0, 104999.0, n_l)),
            "l_discount": pa.array(g.integers(0, 11, n_l) / 100.0),
            "l_tax": pa.array(g.integers(0, 9, n_l) / 100.0),
            "l_returnflag": _pick(g, ("A", "N", "R"), n_l),
            "l_linestatus": _pick(g, ("F", "O"), n_l),
            "l_shipdate": _days(g, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_l),
        })

    def events(g):
        start_us = int((np.datetime64(EVENTS_START, "us") - _EPOCH).astype(np.int64))
        return events_table(g, 0, start_us, size["events"], size["users"])[0]

    builders = {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part,
        "orders": lambda g: orders_table(g, 0, n_o, n_c),
        "lineitem": lineitem, "events": events,
        "documents": lambda g: _documents(g, size["documents"]),
        "embeddings": lambda g: _embeddings(g, size["embeddings"]),
    }
    paths = {}
    for name in tables:
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        _write(builders[name](_rng(seed, name)), paths[name])
    return paths


class DeltaFeed:
    """Source traffic for ``incremental_sync``: each call to ``append``
    writes one new parquet file into the ``events.parquet`` and
    ``orders.parquet`` directories (the growing source tables) and
    returns the generated delta tables, which are the model the sync's
    output is checked against. Delta sizes follow a log-uniform design over
    [``lo``, ``hi``] rows per table: one size at the midpoint of each of
    ``RUNGS`` equal slices of the log range (447 and 2236 rows), cycled
    in a fixed order, so every whole cycle syncs the same number of rows in
    the same order whatever the seed; the seed sets the rows' contents."""

    RUNGS = 2
    ORDER = (1, 0)

    def __init__(self, src_dir: str, seed: int, lo: int = 200, hi: int = 5000,
                 scale: float = 1.0):
        self.src_dir = src_dir
        self.size = scaled(scale)
        self.rng = _rng(seed, "deltas")
        self.sizes = [int(round(lo * (hi / lo) ** ((k + 0.5) / self.RUNGS)))
                      for k in range(self.RUNGS)]
        self._queue: list[int] = []
        self.step = 0
        ev = pq.read_table(os.path.join(src_dir, "events.parquet"))
        od = pq.read_table(os.path.join(src_dir, "orders.parquet"))
        self.next_event = ev["event_id"].to_numpy().max() + 1
        self.last_ts_us = int(ev["ts"].to_numpy().astype("datetime64[us]").astype(np.int64).max())
        self.next_order = od["o_orderkey"].to_numpy().max() + 1

    def at_cycle_end(self) -> bool:
        return not self._queue

    def append(self, n: int | None = None) -> dict[str, pa.Table]:
        """Append one delta of ``n`` rows per table (by default the next
        size of the current cycle)."""
        if n is None:
            if not self._queue:
                self._queue = [self.sizes[k] for k in reversed(self.ORDER)]
            n = self._queue.pop()
        self.step += 1
        ev, self.last_ts_us = events_table(self.rng, self.next_event, self.last_ts_us, n,
                                            self.size["users"])
        self.next_event += ev.num_rows
        od = orders_table(self.rng, self.next_order, n, self.size["customer"])
        self.next_order += od.num_rows
        for name, table in (("events", ev), ("orders", od)):
            _write(table, os.path.join(self.src_dir, f"{name}.parquet", f"delta-{self.step:05d}.parquet"))
        return {"events": ev, "orders": od}


def as_table_dirs(src_dir: str, names=("events", "orders")) -> None:
    """Turn ``<name>.parquet`` files into directories holding the same data
    as ``part-00000.parquet`` so deltas can be appended next to it."""
    for name in names:
        path = os.path.join(src_dir, f"{name}.parquet")
        tmp = path + ".base"
        os.replace(path, tmp)
        os.makedirs(path)
        os.replace(tmp, os.path.join(path, "part-00000.parquet"))


class UpsertFeed:
    """Source-database traffic for ``warehouse_upsert``: each step inserts
    ``n_new`` fresh keys and updates up to 30% as many existing keys,
    drawn with a bias toward recent (high) keys. Keys are dense from 0, and
    ``revs[k]`` is the revision of key ``k`` — the truth the warehouse
    table is checked against. Read ranges cycle through fixed widths
    (``RANGE_WIDTHS`` of the key space) at seeded, recency-skewed
    positions."""

    RANGE_WIDTHS = (0.01, 0.02, 0.04)

    def __init__(self, seed: int, orders: pa.Table, n_new: int = 600):
        self.rng = _rng(seed, "upserts")
        self.n_new = n_new
        keys = orders["o_orderkey"].to_numpy()
        assert (keys == np.arange(len(keys))).all(), "keys must be dense from 0"
        self.next_key = len(keys)
        self.rev = 0
        self.reads = 0
        self.revs = np.zeros(len(keys), dtype=np.int64)

    def step(self) -> list[tuple]:
        """One step's rows as (key, status, price, rev) tuples."""
        self.rev += 1
        n_upd = self.n_new * 3 // 10
        # recency skew: keys near the top of the key space are updated most
        age = np.floor(self.rng.exponential(self.next_key / 8.0, n_upd * 2)).astype(np.int64)
        upd = np.unique(np.clip(self.next_key - 1 - age, 0, self.next_key - 1))[:n_upd]
        new = np.arange(self.next_key, self.next_key + self.n_new)
        self.next_key += self.n_new
        keys = np.concatenate([upd, new])
        status = np.asarray(("F", "O", "P"), dtype=object)[self.rng.integers(0, 3, len(keys))]
        cents = self.rng.integers(100_000, 50_000_001, len(keys))
        self.revs = np.concatenate([self.revs, np.zeros(self.n_new, dtype=np.int64)])
        self.revs[keys] = self.rev
        return [(k, str(s), c / 100.0, self.rev)
                for k, s, c in zip(keys.tolist(), status, cents.tolist())]

    def key_range(self) -> tuple[int, int]:
        """A read range skewed toward recent keys."""
        frac = self.RANGE_WIDTHS[self.reads % len(self.RANGE_WIDTHS)]
        self.reads += 1
        width = max(10, int(self.next_key * frac))
        top = self.next_key - 1 - int(self.rng.exponential(self.next_key / 6.0))
        hi = int(np.clip(top, width, self.next_key - 1))
        return hi - width, hi

    def fingerprint(self, lo: int | None = None, hi: int | None = None) -> tuple[int, int]:
        """(rows, sum of key*1000003 + rev) over live keys in [lo, hi] —
        the order-insensitive fingerprint warehouse reads are checked with."""
        lo = 0 if lo is None else max(lo, 0)
        hi = self.next_key - 1 if hi is None else min(hi, self.next_key - 1)
        if hi < lo:
            return 0, 0
        keys = np.arange(lo, hi + 1, dtype=np.int64)
        return len(keys), int((keys * 1000003 + self.revs[lo:hi + 1]).sum())


def shuffled(names, seed: int) -> list[str]:
    order = list(names)
    _rng(seed, "order").shuffle(order)
    return order
