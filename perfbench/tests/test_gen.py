"""The seeded input generators: same seed, same bytes; other seed, other
bytes; schemas as FIXTURES.md section B lists them.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pytest

from perfbench import gen

SF = 0.0005  # a few thousand rows: enough for every domain, fast to build

# FIXTURES.md section B. Timestamps are checked as tz-naive timestamps of
# any unit: the section lists ms/ns, the committed testdata files are us,
# and the engine's table loader accepts each.
FIXTURE_SCHEMAS = {
    "region": {"r_regionkey": pa.int32(), "r_name": pa.string()},
    "nation": {"n_nationkey": pa.int32(), "n_name": pa.string(), "n_regionkey": pa.int32()},
    "customer": {
        "c_custkey": pa.int64(),
        "c_name": pa.string(),
        "c_nationkey": pa.int32(),
        "c_acctbal": pa.float64(),
        "c_mktsegment": pa.string(),
    },
    "supplier": {
        "s_suppkey": pa.int64(),
        "s_name": pa.string(),
        "s_nationkey": pa.int32(),
        "s_acctbal": pa.float64(),
    },
    "part": {
        "p_partkey": pa.int64(),
        "p_name": pa.string(),
        "p_brand": pa.string(),
        "p_type": pa.string(),
        "p_size": pa.int32(),
        "p_retailprice": pa.float64(),
    },
    "orders": {
        "o_orderkey": pa.int64(),
        "o_custkey": pa.int64(),
        "o_orderstatus": pa.string(),
        "o_totalprice": pa.float64(),
        "o_orderdate": "timestamp",
        "o_orderpriority": pa.string(),
    },
    "lineitem": {
        "l_orderkey": pa.int64(),
        "l_partkey": pa.int64(),
        "l_suppkey": pa.int64(),
        "l_linenumber": pa.int32(),
        "l_quantity": pa.float64(),
        "l_extendedprice": pa.float64(),
        "l_discount": pa.float64(),
        "l_tax": pa.float64(),
        "l_returnflag": pa.string(),
        "l_linestatus": pa.string(),
        "l_shipdate": "timestamp",
    },
    "events": {
        "event_id": pa.int64(),
        "ts": "timestamp",
        "user_id": pa.int64(),
        "event_type": pa.string(),
        "value": pa.float64(),
        "props": pa.string(),
    },
    "documents": {
        "doc_id": pa.int64(),
        "text": pa.string(),
        "lang": pa.string(),
        "source": pa.string(),
        "n_chars": pa.int64(),
    },
    "embeddings": {
        "vec_id": pa.int64(),
        "embedding": pa.list_(pa.float32()),
        "label": pa.int32(),
    },
}


def all_tables(seed: int) -> dict[str, pa.Table]:
    tables = gen.star_tables(seed, SF)
    tables["events"] = gen.events_table(seed, SF)
    tables["documents"] = gen.documents_table(seed, SF)
    tables["embeddings"] = gen.embeddings_table(seed, SF)
    return tables


def write_inputs(root: str, seed: int) -> str:
    out = os.path.join(root, f"seed{seed}")
    gen.write_tables(out, all_tables(seed))
    for h in range(3):
        gen.write_csv(os.path.join(out, "telemetry", f"h{h}.csv"), gen.telemetry_hour(seed, 5, h))
    return out


def test_same_seed_same_inputs(tmp_path):
    a = write_inputs(str(tmp_path / "a"), 7)
    b = write_inputs(str(tmp_path / "b"), 7)
    assert gen.digest(a) == gen.digest(b)


# region and nation are fixed dimension tables; every other table is drawn
@pytest.mark.parametrize("name", sorted(set(FIXTURE_SCHEMAS) - {"region", "nation"}))
def test_other_seed_other_inputs(name):
    assert not all_tables(7)[name].equals(all_tables(8)[name])


def test_other_seed_other_telemetry():
    assert not gen.telemetry_hour(7, 5, 0).equals(gen.telemetry_hour(8, 5, 0))


def test_other_seed_other_digest(tmp_path):
    assert gen.digest(write_inputs(str(tmp_path), 7)) != gen.digest(write_inputs(str(tmp_path), 8))


@pytest.mark.parametrize("name", sorted(FIXTURE_SCHEMAS))
def test_schema_matches_fixtures(name):
    schema = all_tables(3)[name].schema
    want = FIXTURE_SCHEMAS[name]
    assert schema.names == list(want)
    for field in schema:
        expected = want[field.name]
        if expected == "timestamp":
            assert pa.types.is_timestamp(field.type) and field.type.tz is None, field
        else:
            assert field.type == expected, field


def test_value_domains():
    t = all_tables(5)
    li = t["lineitem"].to_pydict()
    assert set(li["l_returnflag"]) <= {"A", "N", "R"}
    assert set(li["l_linestatus"]) <= {"F", "O"}
    assert min(li["l_linenumber"]) >= 1 and max(li["l_linenumber"]) <= 7
    assert max(li["l_discount"]) <= 0.1 and max(li["l_tax"]) <= 0.08
    n_orders = t["orders"].num_rows
    assert max(li["l_orderkey"]) < n_orders
    ev = t["events"].to_pydict()
    assert set(ev["event_type"]) <= {"view", "click", "signup", "purchase", "error"}
    docs = t["documents"].to_pydict()
    assert set(docs["lang"]) <= {"en", "zh", "es", "de", "fr"}
    assert docs["n_chars"] == [len(x) for x in docs["text"]]
    # planted exact duplicates
    assert len(set(docs["text"])) < len(docs["text"])
    vecs = t["embeddings"].column("embedding").to_pylist()
    assert all(len(v) == 64 for v in vecs)
    assert all(abs(sum(x * x for x in v) - 1.0) < 1e-4 for v in vecs)


def test_telemetry_hour_and_clean_count():
    pdf = gen.telemetry_hour(1, 200, 5)
    assert list(pdf.columns) == [
        "timestamp", "cell_id", "lat", "lon", "rsrp_dbm", "rsrq_db", "sinr_db",
        "throughput_mbps", "latency_ms", "jitter_ms", "drop_rate", "tech", "band",
    ]
    assert pdf["timestamp"].nunique() == 1 and pdf["cell_id"].is_unique
    kept = gen.clean_row_count(pdf)
    dirty = int((pdf["latency_ms"] <= 0).sum() + pdf["throughput_mbps"].isna().sum())
    assert kept == len(pdf) - dirty
    # hour h is the same alone or inside a longer history
    assert gen.telemetry_hour(1, 200, 5).equals(pdf)
