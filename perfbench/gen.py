"""Seeded input generators for the benchmark workloads.

Everything a workload feeds the engine is made here from one integer seed:
the same seed gives byte-identical files, another seed gives other files.
Schemas and value domains follow the sf testdata (FIXTURES.md section B)
and the telemetry fixture (FIXTURES.md section A); the text and vector
corpora follow ``scripts/scale_soak.py``'s ``synth_documents`` /
``synth_embeddings`` shapes (31-word vocabulary, planted exact and near
duplicates, clustered 64-d unit vectors with planted near-duplicates).
"""

from __future__ import annotations

import datetime
import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# Star schema + events + corpus (FIXTURES.md section B)
# --------------------------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "old", "red", "small", "tiny"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
ORDER_STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
RETURN_FLAGS = ["A", "N", "R"]
LINE_STATUS = ["F", "O"]
EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]
VOCAB = (
    "batch part spark line column order small sort fast value scan a hash "
    "slow group agg filter query big key window row table stream merge data "
    "join scale read write plan"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]

# rows per unit scale factor (the sf0.1 testdata has 0.1 x these)
ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}

STAR_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")


def _n(table: str, sf: float) -> int:
    return max(10, int(round(ROWS_PER_SF[table] * sf)))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform cents in [lo, hi], as exact 2-decimal doubles."""
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, size=n) / 100.0, 2)


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> pa.Array:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    d = lo + rng.integers(0, span + 1, size=n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _labels(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)], pa.string())


def star_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """TPC-H-ish star schema with the sf testdata's types and domains."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = _n("customer", sf), _n("supplier", sf), _n("part", sf)
    n_ord, n_li = _n("orders", sf), _n("lineitem", sf)
    region = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS, pa.string()),
        }
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": _labels("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust), pa.string()),
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": _labels("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }
    )
    names = [
        f"{a} {b}"
        for a, b in zip(rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))
    ]
    part = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array(names, pa.string()),
            "p_brand": pa.array(
                [f"Brand#{b}" for b in rng.integers(1, 26, n_part)], pa.string()
            ),
            "p_type": pa.array(rng.choice(PART_TYPES, n_part), pa.string()),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(
                np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)
            ),
        }
    )
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(ORDER_STATUS, n_ord), pa.string()),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord), pa.string()),
        }
    )
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_li)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array(rng.choice(RETURN_FLAGS, n_li), pa.string()),
            "l_linestatus": pa.array(rng.choice(LINE_STATUS, n_li), pa.string()),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
    }


def events_table(seed: int, sf: float) -> pa.Table:
    """Event stream: 30 days of microsecond timestamps in time order."""
    rng = np.random.default_rng([seed, 2])
    n = _n("events", sf)
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, size=n))
    users = max(10, int(round(15_000 * sf)))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n), pa.string()),
            "value": pa.array(np.round(rng.exponential(60.0, n), 2)),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()
            ),
        }
    )


def documents_table(seed: int, sf: float) -> pa.Table:
    """Text corpus with planted exact (~0.2%) and near (~2%) duplicates."""
    rng = np.random.default_rng([seed, 3])
    n = _n("documents", sf)
    texts = [" ".join(rng.choice(VOCAB, size=int(rng.integers(8, 90)))) for _ in range(n)]
    for _ in range(max(2, n // 500)):
        texts[int(rng.integers(0, n))] = texts[int(rng.integers(0, n))]
    for _ in range(max(10, n // 50)):
        src, dst = int(rng.integers(0, n)), int(rng.integers(0, n))
        toks = texts[src].split()
        for _ in range(max(1, len(toks) // 20)):
            toks[int(rng.integers(0, len(toks)))] = str(rng.choice(VOCAB))
        texts[dst] = " ".join(toks)
    langs = rng.choice(LANGS, size=n, p=[0.42, 0.15, 0.15, 0.14, 0.14])
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings_table(seed: int, sf: float, dim: int = 64, n_labels: int = 10) -> pa.Table:
    """Clustered unit vectors (64-d float32) with planted near-duplicates."""
    rng = np.random.default_rng([seed, 4])
    n = _n("embeddings", sf)
    centers = rng.normal(size=(n_labels, dim)).astype(np.float32)
    labels = rng.integers(0, n_labels, size=n)
    vecs = centers[labels] + 0.35 * rng.normal(size=(n, dim)).astype(np.float32)
    for _ in range(max(5, n // 100)):
        src, dst = int(rng.integers(0, n)), int(rng.integers(0, n))
        vecs[dst] = vecs[src] + 0.001 * rng.normal(size=dim).astype(np.float32)
        labels[dst] = labels[src]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32), pa.int32()),
        }
    )


def write_tables(out_dir: str, tables: dict[str, pa.Table]) -> None:
    """One ``<name>.parquet`` per table, the sf testdata's layout."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# --------------------------------------------------------------------------
# Hourly telemetry (FIXTURES.md section A)
# --------------------------------------------------------------------------

TELEMETRY_START = datetime.datetime(2025, 7, 1)


def cell_ids(n_cells: int) -> list[str]:
    return [f"CELL-{i:03d}" for i in range(1, n_cells + 1)]


def telemetry_hour(seed: int, n_cells: int, hour_index: int) -> pd.DataFrame:
    """One hourly batch: a row per cell, stamped ``TELEMETRY_START + hour``.

    Each batch draws from its own seeded stream, so hour ``h`` is the same
    whether it is generated alone or as part of a history. About one row in
    25 is dirty the way the raw feed is: a null metric, a non-positive
    latency (dropped by the ingest cleansing rule) or out-of-range geo.
    """
    rng = np.random.default_rng([seed, 5, hour_index])
    ts = TELEMETRY_START + datetime.timedelta(hours=hour_index)
    pdf = pd.DataFrame(
        {
            "timestamp": [ts] * n_cells,
            "cell_id": cell_ids(n_cells),
            "lat": np.round(32.7 + rng.normal(0, 0.05, n_cells), 6),
            "lon": np.round(-97.0 + rng.normal(0, 0.05, n_cells), 6),
            "rsrp_dbm": np.round(rng.uniform(-113, -79, n_cells), 3),
            "rsrq_db": np.round(rng.uniform(-18.5, 1.8, n_cells), 3),
            "sinr_db": np.round(rng.uniform(-5.1, 23.1, n_cells), 3),
            "throughput_mbps": np.round(rng.uniform(2.4, 254.9, n_cells), 3),
            "latency_ms": np.round(rng.uniform(18, 76, n_cells), 3),
            "jitter_ms": np.round(rng.uniform(0, 20.5, n_cells), 3),
            "drop_rate": np.round(rng.uniform(0, 3.85, n_cells), 3),
            "tech": rng.choice(["4G", "5G"], n_cells),
            "band": rng.choice(["B2", "B66", "n41", "n77"], n_cells),
        }
    )
    dirty = rng.random(n_cells)
    pdf.loc[dirty < 0.01, "throughput_mbps"] = np.nan
    pdf.loc[(dirty >= 0.01) & (dirty < 0.02), "drop_rate"] = np.nan
    pdf.loc[(dirty >= 0.02) & (dirty < 0.03), "latency_ms"] = -1.0
    pdf.loc[(dirty >= 0.03) & (dirty < 0.04), "lat"] = 123.0
    return pdf


def clean_row_count(pdf: pd.DataFrame) -> int:
    """Rows the engine's default cleansing rule keeps: ``latency_ms > 0 AND
    throughput_mbps >= 0``, where a null comparison drops the row."""
    keep = (pdf["latency_ms"] > 0) & (pdf["throughput_mbps"] >= 0)
    return int(keep.sum())


def write_csv(path: str, pdf: pd.DataFrame) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pdf.to_csv(path, index=False, date_format="%Y-%m-%d %H:%M:%S")


# --------------------------------------------------------------------------
# Input fingerprint
# --------------------------------------------------------------------------


def digest(root: str) -> str:
    """sha256 over every file under ``root`` (relative path + bytes), in
    sorted order: the hash the artifact records for the generated inputs."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()
