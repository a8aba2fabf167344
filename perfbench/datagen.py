"""The benchmark's input tables: the engine's sf0.1 test data, rebuilt.

Writes the ten tables the engine's queries read (``region nation
customer supplier part orders lineitem events documents embeddings``),
one single-row-group parquet file each. ``tables(0.1, 42)`` reproduces
the engine's sf0.1 test data (TESTDATA.md) value for value: the same
numpy generator stream, drawn in the same order, so key skew, the
document vocabulary and near-duplicate rate, and the embeddings are the
ones the engine's query figures were measured on. ``ensure`` checks
each generated table against its recorded ``REFERENCE`` digest, so the
benchmark never runs on inputs that drifted from the test data.

The benchmark builds the tables once per checkout (``ensure``) and
reuses them: the run seed picks the workload's date window or operation
order, not the data.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

#: bump when the generator's output changes, so stale caches rebuild
VERSION = 2

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
PART_NOUN = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
PART_TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
#: three of seven documents are English
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
VOCAB = (
    "the a spark query table join group filter window data order customer "
    "part line fast slow big small hash sort merge scan agg stream batch "
    "vector key value row column"
).split()

#: ``digest`` of every table of the engine's sf0.1 test data (TESTDATA.md,
#: generator seed 42); ``tables(0.1, 42)`` reproduces each one exactly
REFERENCE = {
    (0.1, 42): {
        "region": "a6eac25dd35f1342b93139c64acc5600a6aab4336bd9e6e4c254a94b5d65429c",
        "nation": "de1736a58fc9bd8a96187ef9c0ebfd007631953366fa0ec4cff75afaf1e90bfd",
        "customer": "fef6698414f22b8aa2d37b2989a2fffa0775404db2ce18b6ff63dd3ed7f0fe4e",
        "supplier": "89e408f4e811ce075884de6bd7c02a1529c58348b6c912a81a0f2ca14ab11598",
        "part": "6e8b00ad528445f414ef749fbe68b8e0a639c7bbfd8a8cf2d483ad36f81c257d",
        "orders": "7d539deb7d82ac0f4bc49318fe3017e02daa116b6fbdc3e6e0e6712fc38f202e",
        "lineitem": "8efe636c6b2680a2ba930873e78aab02a6d5ae03aa14f3779a333a6ff4614f68",
        "events": "2ed4bddb9693737ec3ca578b6d96f84156c6726b4e5a21452c7106da30641c6c",
        "documents": "bf5b5d332d4fa1ad4b791147310f64151b26376fdc01b192a3c8ec09cbffa685",
        "embeddings": "14c9f0a3eb1627ddc1e83e3b6e3edad4f7820479a7eca8beaa39c0ff2a72ceda",
    },
}

ORDER_START = dt.datetime(1995, 1, 1)
ORDER_DAYS = 2404  # through 2001-08-01
SHIP_START = dt.datetime(1995, 1, 2)
SHIP_DAYS = 2498  # through 2001-11-04
EVENT_START = dt.datetime(2024, 1, 1)
EVENT_SECONDS = 30 * 86400


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: dt.datetime, span: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    days = rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(base + days.astype("timedelta64[us]"), pa.timestamp("us"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_doc = int(50_000 * sf)
    n_vec = int(20_000 * sf)
    i32, i64 = pa.int32(), pa.int64()
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    keys = np.arange(n_part)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(keys, i64),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days(rng, ORDER_START, ORDER_DAYS, n_ord),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": _money(rng, 0.0, 0.10, n_line),
            "l_tax": _money(rng, 0.0, 0.08, n_line),
            "l_returnflag": np.array(["R", "A", "N"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _days(rng, SHIP_START, SHIP_DAYS, n_line),
        }
    )
    # sorted float seconds, truncated through nanoseconds to microseconds
    offsets = (np.sort(rng.uniform(0, EVENT_SECONDS, n_ev)) * 1e9).astype("timedelta64[ns]")
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), i64),
            "ts": pa.array(
                (np.datetime64(EVENT_START, "ns") + offsets).astype("datetime64[us]"),
                pa.timestamp("us"),
            ),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts = [
        " ".join(VOCAB[w] for w in rng.integers(0, len(VOCAB), rng.integers(10, 100)))
        for _ in range(n_doc)
    ]
    # 5% near-duplicates: another document plus a marker token (a source
    # that is itself a near-duplicate, or a shared source, gives exact
    # duplicates too)
    n_dup = n_doc // 20
    for i, src in zip(rng.choice(n_doc, n_dup, replace=False), rng.integers(0, n_doc, n_dup)):
        texts[i] = texts[src] + " dup"
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), i64),
            "text": texts,
            "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n_doc)],
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": pa.array([len(t) for t in texts], i64),
        }
    )
    vecs = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec), i64),
            "embedding": pa.FixedSizeListArray.from_arrays(vecs.ravel(), 64).cast(
                pa.list_(pa.float32())
            ),
            "label": pa.array(rng.integers(0, 10, n_vec), i32),
        }
    )
    return out


def digest(table: pa.Table) -> str:
    """sha256 over column names, types and values; independent of the
    parquet writer, so a table read back from any file compares."""
    h = hashlib.sha256()
    for name, col in zip(table.column_names, table.columns):
        arr = col.combine_chunks()
        kind = f"list<{arr.type.value_type}>" if pa.types.is_list(arr.type) else arr.type
        h.update(f"{name}:{kind}\0".encode())
        if pa.types.is_list(arr.type):
            h.update(pc.list_value_length(arr).to_numpy().tobytes())
            arr = arr.flatten()
        if pa.types.is_string(arr.type):
            h.update("\0".join(arr.to_pylist()).encode())
        else:
            h.update(arr.to_numpy(zero_copy_only=False).tobytes())
    return h.hexdigest()


def ensure(root: str, sf: float, seed: int = 42) -> str:
    """Build the tables under ``root`` unless a complete copy of this
    ``(VERSION, sf, seed)`` is already there; return the table dir.

    Raises ``ValueError`` if a table of a reference scale does not match
    its ``REFERENCE`` digest (e.g. a numpy whose generator stream
    differs), rather than benchmark on other inputs."""
    out = os.path.join(root, f"sf{sf:g}")
    stamp = os.path.join(out, "_SUCCESS")
    want = {"version": VERSION, "sf": sf, "seed": seed}
    if os.path.exists(stamp):
        with open(stamp) as f:
            if json.load(f) == want:
                return out
    os.makedirs(out, exist_ok=True)
    reference = REFERENCE.get((sf, seed), {})
    for name, table in tables(sf, seed).items():
        if name in reference and digest(table) != reference[name]:
            raise ValueError(f"generated {name} at sf{sf:g} differs from the engine's test data")
        pq.write_table(table, os.path.join(out, f"{name}.parquet"), row_group_size=len(table))
    with open(stamp, "w") as f:
        json.dump(want, f)
    return out
