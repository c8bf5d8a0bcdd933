"""Seeded input tables for the benchmark workloads.

Every table is generated from the workload seed alone, so the same seed
writes the same bytes. Sizes are fixed; the seed changes only values
and orders, so every seed asks the program for the same amount of work.

- ``write_tpch``: the star schema the query registry reads (region,
  nation, customer, supplier, part, orders, lineitem, events,
  documents, embeddings), with the column names, Arrow types and value
  domains of the TPC-H-shaped test data the registry's oracles were
  written against.
- ``write_series``: an ECG5000-shaped labelled time-series table
  (140 samples per row, 5 imbalanced classes built from overlapping
  templates, so a classifier stays well below perfect accuracy). The
  templates are fixed; the seed draws the rows, so every seed poses
  the same classification problem.
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
# Row counts of the relational tables: TPC-H scale factor 0.01.
TPCH_ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}
# lineitem has 1..7 lines per order (mean 4), about 60,000 rows.
MAX_LINES_PER_ORDER = 7

SERIES_LEN = 140
TEMPLATE_SEED = 5000
# ECG5000's class shares (2919, 1767, 96, 194, 24 of 5000 rows).
CLASS_SHARES = (0.584, 0.353, 0.019, 0.039, 0.005)

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PART_ADJ = ("blue", "cold", "hot", "large", "new")
_PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_LANGS = ("de", "en", "es", "fr", "zh")
_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()


def _write(path: str, table: pa.Table) -> None:
    pq.write_table(table, path)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: dt.date, end: dt.date, n: int) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")


def write_tpch(out_dir: str, seed: int) -> dict[str, int]:
    """Write the ten tables as ``<out_dir>/<name>.parquet``; return the
    row count of each."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    rows: dict[str, int] = {}

    def put(name: str, cols: dict[str, pa.Array]) -> None:
        table = pa.table(cols)
        rows[name] = table.num_rows
        _write(os.path.join(out_dir, f"{name}.parquet"), table)

    put("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(_REGIONS),
    })
    put("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    n = TPCH_ROWS["customer"]
    put("customer", {
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
        "c_mktsegment": pa.array(np.array(_SEGMENTS)[rng.integers(0, 5, n)]),
    })

    n = TPCH_ROWS["supplier"]
    put("supplier", {
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
    })

    n = TPCH_ROWS["part"]
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    put("part", {
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": pa.array(np.array(names)[rng.integers(0, len(names), n)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
        "p_type": pa.array(np.array(_PART_TYPES)[rng.integers(0, len(_PART_TYPES), n)]),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n) % 1000) / 10.0, 2)),
    })

    n_orders = TPCH_ROWS["orders"]
    put("orders", {
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, TPCH_ROWS["customer"], n_orders), pa.int64()),
        "o_orderstatus": pa.array(np.array(("F", "O", "P"))[rng.integers(0, 3, n_orders)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_orders)),
        "o_orderdate": pa.array(_days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_orders)),
        "o_orderpriority": pa.array(np.array(_PRIORITIES)[rng.integers(0, 5, n_orders)]),
    })

    lines = rng.integers(1, MAX_LINES_PER_ORDER + 1, n_orders)
    order_of_line = np.repeat(np.arange(n_orders), lines)
    n = len(order_of_line)
    first = np.cumsum(lines) - lines
    linenumber = np.arange(n) - np.repeat(first, lines) + 1
    quantity = rng.integers(1, 51, n).astype(np.float64)
    put("lineitem", {
        "l_orderkey": pa.array(order_of_line, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, TPCH_ROWS["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, TPCH_ROWS["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": pa.array(quantity),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(np.array(("A", "N", "R"))[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(("F", "O"))[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(_days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n)),
    })

    n = TPCH_ROWS["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n)).astype("timedelta64[us]")
    put("events", {
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(start + offsets),
        "user_id": pa.array(rng.integers(0, 150, n), pa.int64()),
        "event_type": pa.array(np.array(_EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(_money(rng, 0.01, 490.02, n)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })

    n = TPCH_ROWS["documents"]
    words = np.array(_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in rng.integers(10, 90, n)]
    put("documents", {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(np.array(_LANGS)[rng.integers(0, len(_LANGS), n)]),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    n = TPCH_ROWS["embeddings"]
    vecs = rng.normal(0.0, 0.12, (n, 64)).astype(np.float32)
    put("embeddings", {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })
    return rows


def _templates(rng: np.random.Generator) -> np.ndarray:
    """Five smooth class templates: one shared baseline beat plus three
    harmonics of fixed amplitude and random phase per class. The classes
    overlap once noise, scaling and time shifts are added."""
    t = np.linspace(0.0, 1.0, SERIES_LEN)
    beat = 3.0 * np.exp(-((t - 0.3) ** 2) / 0.002) - 1.5 * np.exp(-((t - 0.36) ** 2) / 0.004)
    out = []
    for _ in CLASS_SHARES:
        phases = rng.uniform(size=3)
        out.append(beat + sum(0.3 * np.sin(2 * np.pi * (k * t + p)) for k, p in zip((1, 2, 3), phases)))
    return np.stack(out)


def series_rows(n: int, seed: int, stream: int) -> tuple[np.ndarray, np.ndarray]:
    """``n`` labelled series drawn around the fixed templates.
    ``stream`` picks an independent draw (the training pool and the
    scoring table share templates, not rows)."""
    templates = _templates(np.random.default_rng(TEMPLATE_SEED))
    rng = np.random.default_rng([seed, 3, stream])
    counts = np.floor(np.asarray(CLASS_SHARES) * n).astype(int)
    counts[0] += n - counts.sum()
    labels = np.repeat(np.arange(1, len(CLASS_SHARES) + 1), counts)
    rng.shuffle(labels)
    shift = rng.integers(-6, 7, n)
    idx = (np.arange(SERIES_LEN)[None, :] - shift[:, None]) % SERIES_LEN
    x = templates[labels - 1][np.arange(n)[:, None], idx]
    x = x * rng.uniform(0.8, 1.2, (n, 1)) + rng.normal(0.0, 0.6, (n, SERIES_LEN))
    return labels.astype(np.int32), np.round(x, 4)


def write_series(path: str, n: int, seed: int, stream: int) -> int:
    """Write ``n`` rows of (``id`` bigint, ``label`` int,
    ``features`` array<double>) to one parquet file; return ``n``."""
    labels, x = series_rows(n, seed, stream)
    _write(path, pa.table({
        "id": pa.array(np.arange(n), pa.int64()),
        "label": pa.array(labels, pa.int32()),
        "features": pa.array(list(x), pa.list_(pa.float64())),
    }))
    return n
