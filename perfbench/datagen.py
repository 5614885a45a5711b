"""Seeded input generation for the benchmark.

Writes a star schema with the column names, types, key layout and value
domains of the repo's testdata (region ... lineitem, events, documents,
embeddings; see TESTDATA.md), one single-row-group parquet file per table,
at the testdata's sf0.01 row counts.  Each column follows the testdata's
own domain: dense keys from 0, uniform foreign keys, nation i in region
i % 5, the same date ranges, price and quantity grids, category lists,
30-word document vocabulary and five event types at equal rates over 30
days of time-ordered events.  The same seed always gives identical tables.

``write_inputs`` also cuts the events into time-contiguous chunk files for
the streaming workload.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Rows per table at the benchmark scale (the sf0.01 sizes of the testdata).
ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}
TABLES = ("region", "nation", *ROWS)
EVENT_USERS = 150
EMBED_DIM = 64

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line"
    " merge order part query row scan slow small sort spark stream table the value"
    " vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

_US_PER_DAY = 86_400 * 1_000_000


def _days(start: str, end: str, n: int, rng) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * _US_PER_DAY).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = ROWS
    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": i32(np.arange(5)), "r_name": _REGIONS})
    t["nation"] = pa.table(
        {
            "n_nationkey": i32(np.arange(25)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": i32(np.arange(25) % 5),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n["customer"], dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": i32(rng.integers(0, 25, n["customer"])),
            "c_acctbal": _money(rng, -1000, 10000, n["customer"]),
            "c_mktsegment": rng.choice(_SEGMENTS, n["customer"]),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": i32(rng.integers(0, 25, n["supplier"])),
            "s_acctbal": _money(rng, -1000, 10000, n["supplier"]),
        }
    )
    pk = np.arange(n["part"], dtype=np.int64)
    t["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": [
                f"{a} {b}"
                for a, b in zip(
                    rng.choice(_ADJ, n["part"]), rng.choice(_NOUN, n["part"])
                )
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
            "p_type": rng.choice(_PTYPES, n["part"]),
            "p_size": i32(rng.integers(1, 51, n["part"])),
            "p_retailprice": np.round(900 + (pk % 1000) / 10, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n["orders"], dtype=np.int64),
            "o_custkey": rng.integers(0, n["customer"], n["orders"]),
            "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
            "o_totalprice": _money(rng, 1000, 500000, n["orders"]),
            "o_orderdate": _days("1995-01-01", "2001-08-01", n["orders"], rng),
            "o_orderpriority": rng.choice(_PRIORITIES, n["orders"]),
        }
    )
    m = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n["orders"], m),
            "l_partkey": rng.integers(0, n["part"], m),
            "l_suppkey": rng.integers(0, n["supplier"], m),
            "l_linenumber": i32(rng.integers(1, 8, m)),
            "l_quantity": rng.integers(1, 51, m).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, m),
            "l_discount": rng.integers(0, 11, m) / 100,
            "l_tax": rng.integers(0, 9, m) / 100,
            "l_returnflag": rng.choice(["A", "N", "R"], m),
            "l_linestatus": rng.choice(["F", "O"], m),
            "l_shipdate": _days("1995-01-02", "2001-11-04", m, rng),
        }
    )
    e = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(start + rng.integers(0, 30 * _US_PER_DAY, e))
    t["events"] = pa.table(
        {
            "event_id": np.arange(e, dtype=np.int64),
            "ts": ts.astype("datetime64[us]"),
            "user_id": rng.integers(0, EVENT_USERS, e),
            "event_type": rng.choice(_EVENT_TYPES, e),
            "value": np.round(rng.exponential(50.0, e), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
        }
    )
    d = n["documents"]
    texts = []
    for i in range(d):
        if i >= 8 and rng.random() < 0.02:
            texts.append(texts[int(rng.integers(0, i))])  # exact duplicate
            continue
        words = list(rng.choice(_WORDS, int(rng.integers(10, 101))))
        if rng.random() < 0.05:
            words[int(rng.integers(0, len(words)))] = "dup"
        texts.append(" ".join(words))
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(d, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, d, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(d)],
            "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
        }
    )
    v = rng.standard_normal((n["embeddings"], EMBED_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n["embeddings"], dtype=np.int64),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": i32(rng.integers(0, 10, n["embeddings"])),
        }
    )
    return t


def chunk_bounds(seed: int, n: int, chunks: int) -> list[int]:
    """Seeded cut points splitting ``n`` rows into ``chunks`` contiguous
    runs, each between half and one and a half times the mean size."""
    rng = np.random.default_rng(seed + 1)
    w = rng.uniform(0.5, 1.5, chunks)
    cuts = np.round(np.cumsum(w) / w.sum() * n).astype(int)
    return [0, *cuts.tolist()]


def write_inputs(seed: int, out_dir: str, event_chunks: int) -> None:
    """Write every table to ``out_dir/tables/<table>.parquet`` and the
    time-ordered events, cut at seeded points, to
    ``out_dir/event_chunks/chunk-<i>.parquet`` with strictly increasing
    modification times (a file stream source reads the oldest first)."""
    os.makedirs(os.path.join(out_dir, "tables"), exist_ok=True)
    tables = make_tables(seed)
    for name, tbl in tables.items():
        f = os.path.join(out_dir, "tables", f"{name}.parquet")
        pq.write_table(tbl, f, row_group_size=1 << 30)
    d = os.path.join(out_dir, "event_chunks")
    os.makedirs(d)
    ev = tables["events"]
    bounds = chunk_bounds(seed, ev.num_rows, event_chunks)
    for i in range(event_chunks):
        f = os.path.join(d, f"chunk-{i:02d}.parquet")
        pq.write_table(ev.slice(bounds[i], bounds[i + 1] - bounds[i]), f)
        os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))
