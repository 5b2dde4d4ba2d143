"""Load generator (layer ``gen``): deterministic synthetic tables and the
open-loop chunk feeder for the stream workload.

The tables follow the shapes of the engine's sf0.1 test data (TPC-H-ish
star schema plus ``events``, ``documents`` and ``embeddings``), drawn from
a seeded numpy generator, so the same seed writes byte-identical inputs.
"""

from __future__ import annotations

import os
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts at sf0.1; the small dimension tables do not scale.
SF01_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000  # 1995-01-01T00:00:00 in epoch micros
EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, first_day: int, n_days: int, n: int) -> pa.Array:
    us = EPOCH_1995 + (first_day + rng.integers(0, n_days, n)) * DAY_US
    return pa.array(us, pa.timestamp("us"))


def _pick(rng: np.random.Generator, values, n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def events_table(rng: np.random.Generator, n: int) -> pa.Table:
    """Event-time ordered: ``event_id`` follows ``ts`` (exponential gaps
    with a 26 s mean), 1,500 users, five event types."""
    gaps = np.maximum(rng.exponential(26e6, n).astype(np.int64), 1)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(EPOCH_2024 + np.cumsum(gaps), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1_500, n, dtype=np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    vocab = np.asarray(WORDS, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(WORDS), k)]) for k in lengths]
    # 5% near-duplicates: an earlier document with one marker word added.
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, ("en",) * 3 + ("de", "es", "fr", "zh"), n),
        "source": _pick(rng, [f"src{i}" for i in range(20)], n),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    vecs = rng.standard_normal((n, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
    })


def write_tables(out_dir: str, seed: int, sf: float = 0.1) -> dict[str, int]:
    """Write the ten tables as ``{out_dir}/{name}.parquet``; return row
    counts per table. All ten are written, whichever queries run: the
    oracle harness opens a view over each."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = {k: max(1, int(v * sf / 0.1)) for k, v in SF01_ROWS.items()}
    i32 = pa.int32()
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n["customer"], dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": _pick(
                rng, ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"),
                n["customer"]),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n["supplier"], dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n["part"], dtype=np.int64)),
            "p_name": pa.array(np.char.add(np.char.add(
                np.asarray(("blue", "old", "red", "small", "new", "large", "hot", "cold"))[
                    rng.integers(0, 8, n["part"])], " "),
                np.asarray(("widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"))[
                    rng.integers(0, 8, n["part"])]).astype(object)),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n["part"]),
            "p_type": _pick(
                rng, ("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"), n["part"]),
            "p_size": pa.array(rng.integers(1, 51, n["part"]), i32),
            "p_retailprice": np.round(900 + (np.arange(n["part"]) % 1000) * 0.1, 1),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n["orders"], dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"], dtype=np.int64)),
            "o_orderstatus": _pick(rng, ("O", "P", "F"), n["orders"]),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
            "o_orderdate": _days(rng, 0, 2404, n["orders"]),
            "o_orderpriority": _pick(
                rng, ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
                n["orders"]),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n["orders"], n["lineitem"], dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(0, n["part"], n["lineitem"], dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], n["lineitem"], dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n["lineitem"]), i32),
            "l_quantity": rng.integers(1, 51, n["lineitem"]).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n["lineitem"]),
            "l_discount": rng.integers(0, 11, n["lineitem"]) / 100.0,
            "l_tax": rng.integers(0, 9, n["lineitem"]) / 100.0,
            "l_returnflag": _pick(rng, ("A", "N", "R"), n["lineitem"]),
            "l_linestatus": _pick(rng, ("O", "F"), n["lineitem"]),
            "l_shipdate": _days(rng, 1, 2499, n["lineitem"]),
        }),
        "events": events_table(rng, n["events"]),
        "documents": _documents(rng, n["documents"]),
        "embeddings": _embeddings(rng, n["embeddings"]),
    }
    for name, table in tables.items():
        pq.write_table(table, f"{out_dir}/{name}.parquet")
    return {name: t.num_rows for name, t in tables.items()}


def write_chunk(dir_path: str, rows: pa.Table, mtime_ns: int) -> str:
    """One chunk = one directory holding one parquet file, stamped with a
    fixed mtime so the file source orders chunks by index."""
    os.makedirs(dir_path)
    path = f"{dir_path}/part-0.parquet"
    pq.write_table(rows, path)
    os.utime(path, ns=(mtime_ns, mtime_ns))
    return path


class OpenLoopFeeder:
    """Renames pre-written chunk directories into the watched directory on
    a fixed schedule: chunk i is due at ``start + i * interval_s`` (wall
    clock), whether or not the engine has caught up (open loop). Lateness
    is the rename time minus the due time."""

    def __init__(self, moves: list[tuple[str, str]], interval_s: float):
        self.moves = moves
        self.interval_s = interval_s
        self.due: list[float] = []
        self.late_s: list[float] = []
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def run(self, start: float) -> None:
        for i, (src, dst) in enumerate(self.moves):
            due = start + i * self.interval_s
            wait = due - time.time()
            if wait > 0 and self._stop.wait(wait):
                return
            os.rename(src, dst)
            self.due.append(due)
            self.late_s.append(time.time() - due)

    def start(self, start: float) -> None:
        self._thread = threading.Thread(target=self.run, args=(start,), daemon=True)
        self._thread.start()

    def stop(self, timeout: float = 10.0) -> None:
        """Stop feeding and wait for the thread; ``due`` and ``late_s``
        are complete once this returns."""
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout)
