"""Seeded generator for the benchmark's input tables and change log.

The engine's registry queries read ten parquet tables (a TPC-H-like
star schema plus ``events``, ``documents`` and ``embeddings``).  This
module writes them with the schemas and value distributions of the
engine's synthetic test data, from a seed, so the benchmark makes its
own inputs and reads nothing outside its working directory.

Row counts scale with ``sf`` the way the test data does: at sf 0.01
``lineitem`` has 60k rows, ``orders`` 15k, ``events`` 10k.

The CDC change log is a list of change files for the ``orders``
table.  Operations follow the Locust write weights create : update :
delete = 2 : 2 : 1; updates and deletes pick a live key uniformly, as
a client choosing among the existing ids would, so a deleted key is
never changed again and created keys are updated and deleted too.
"""

from __future__ import annotations

import os
import threading

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.43, 0.15, 0.14, 0.14]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

#: change-log operation weights (Locust create:update:delete = 2:2:1)
OP_WEIGHTS = {"c": 0.4, "u": 0.4, "d": 0.2}


def _days(lo: str, n_days: int, rng, size) -> np.ndarray:
    base = np.datetime64(lo, "D")
    return (base + rng.integers(0, n_days + 1, size)).astype("datetime64[us]")


def _money(rng, lo, hi, size) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def orders_columns(rng, n: int, n_cust: int) -> dict:
    """Order rows with keys ``0 .. n-1`` (the change log draws its rows
    from here too, then sets their keys)."""
    return {
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n, dtype=np.int64),
        "o_orderstatus": np.array(STATUSES)[rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _days("1995-01-01", 2404, rng, n),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)],
    }


def _documents(rng, n: int) -> dict:
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document, as in the test data
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(8, 91))
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), k)]))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng, n: int, dim: int = 64) -> dict:
    v = rng.standard_normal((n, dim)).astype(np.float64)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.array(list(v.astype(np.float32)), type=pa.list_(pa.float32()))
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": emb,
        "label": rng.integers(0, 10, n).astype(np.int32),
    }


def _events(rng, n: int, n_users: int) -> dict:
    span_us = 30 * 86400 * 1_000_000
    offs = np.sort(rng.integers(0, span_us, n))
    ts = np.datetime64("2024-01-01T00:00:00", "us") + offs.astype("timedelta64[us]")
    return {
        "event_id": np.arange(n, dtype=np.int64),
        # nanosecond parquet timestamps, like the test data: the engine's
        # table() reader owns the ns -> us rebuild
        "ts": pa.array(ts.astype("datetime64[ns]"), type=pa.timestamp("ns")),
        "user_id": rng.integers(0, n_users, n, dtype=np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }


def table_sizes(sf: float) -> dict[str, int]:
    return {
        "customer": int(150_000 * sf),
        "supplier": max(10, int(10_000 * sf)),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the ten input tables under ``out_dir``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = table_sizes(sf)
    _write(out_dir, "region", {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    nc = n["customer"]
    _write(out_dir, "customer", {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
    })
    ns = n["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = n["part"]
    keys = np.arange(npart, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": keys,
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, npart)],
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
    })
    _write(out_dir, "orders", orders_columns(rng, n["orders"], nc))
    nl = n["lineitem"]
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n["orders"], nl, dtype=np.int64),
        "l_partkey": rng.integers(0, npart, nl, dtype=np.int64),
        "l_suppkey": rng.integers(0, ns, nl, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": np.round(rng.uniform(0.0, 0.1, nl), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, nl), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _days("1995-01-02", 2498, rng, nl),
    })
    _write(out_dir, "events", _events(rng, n["events"], max(15, int(15_000 * sf))))
    _write(out_dir, "documents", _documents(rng, n["documents"]))
    _write(out_dir, "embeddings", _embeddings(rng, n["embeddings"]))
    return {"region": 5, "nation": 25, **n}


# -- CDC change log -------------------------------------------------------


class ChangeLog:
    """Seeded change files over an ``orders`` snapshot.

    ``snapshot`` holds the initial rows (operation ``c``, ``seq`` 0);
    ``file(i)`` returns the i-th change file's columns.  Every change
    row carries a strictly increasing ``seq``, the sink's last-write-wins
    order.  Creates use fresh keys past the snapshot's; each update or
    delete picks uniformly among the keys live at that row, so files
    are generated in order (and kept) from one seeded stream.
    """

    def __init__(self, seed: int, n_keys: int, n_cust: int, rows_per_file: int):
        self.n_keys = n_keys
        self.n_cust = n_cust
        self.rows_per_file = rows_per_file
        self.snapshot = orders_columns(np.random.default_rng([seed, 0]), n_keys, n_cust)
        self.snapshot["operation"] = np.full(n_keys, "c")
        self.snapshot["seq"] = np.zeros(n_keys, dtype=np.int64)
        self._rng = np.random.default_rng([seed, 1])
        self._live = list(range(n_keys))  # unordered; removal swaps in the last
        self._files: list[dict] = []
        self._lock = threading.Lock()  # the generator thread and the checks share it

    def file(self, i: int) -> dict:
        with self._lock:
            while len(self._files) <= i:
                self._files.append(self._next_file())
        return self._files[i]

    def _next_file(self) -> dict:
        rng, n, live = self._rng, self.rows_per_file, self._live
        i = len(self._files)
        ops = rng.choice(list(OP_WEIGHTS), n, p=list(OP_WEIGHTS.values()))
        keys = np.empty(n, dtype=np.int64)
        for j, op in enumerate(ops):
            if op == "c":
                keys[j] = self.n_keys + i * n + j
                live.append(int(keys[j]))
                continue
            pos = int(rng.integers(len(live)))
            keys[j] = live[pos]
            if op == "d":
                live[pos] = live[-1]
                live.pop()
        cols = orders_columns(rng, n, self.n_cust)
        cols["o_orderkey"] = keys
        cols["operation"] = ops
        cols["seq"] = 1 + i * n + np.arange(n, dtype=np.int64)
        return cols

    def live_keys(self, n_files: int) -> list[int]:
        """Keys live after the snapshot and the first ``n_files`` files."""
        live = set(range(self.n_keys))
        for i in range(n_files):
            f = self.file(i)
            for k, op in zip(f["o_orderkey"].tolist(), f["operation"].tolist()):
                (live.discard if op == "d" else live.add)(k)
        return sorted(live)


def last_write_wins(tables: list[dict]) -> dict[int, tuple]:
    """Independent reference: the live ``orders`` rows after applying
    ``tables`` in order — ``{o_orderkey: row}`` with deleted keys gone."""
    state: dict[int, tuple] = {}
    for cols in tables:
        names = [c for c in cols if c not in ("operation", "seq")]
        rows = zip(*(_pylist(cols[c]) for c in names))
        for row, op in zip(rows, _pylist(cols["operation"])):
            if op == "d":
                state.pop(row[0], None)
            else:
                state[row[0]] = row
    return state


def _pylist(col) -> list:
    return col.tolist() if hasattr(col, "tolist") else list(col)
