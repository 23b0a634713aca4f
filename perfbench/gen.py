"""Seeded input generation for the benchmark workloads.

Everything here is plain Python, NumPy and pyarrow: inputs are written
before any Spark session starts, and the program under test receives only
the files. The same seed always gives byte-identical files.
"""

from __future__ import annotations

import json
import os
import random
import struct
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The reference's demo record is {key: string, value: string, num: int32};
# the Avro form below is the registry schema its Avro producer uses.
AVRO_SCHEMA_JSON = json.dumps(
    {
        "type": "record",
        "name": "DemoMessage",
        "fields": [
            {"name": "key", "type": ["null", "string"]},
            {"name": "value", "type": ["null", "string"]},
            {"name": "num", "type": ["null", "int"]},
        ],
    }
)
AVRO_SCHEMA_ID = 7
WIRE_MAGIC = b"\x00"

NULL_VALUE_SHARE = 0.02  # capitalize throws on these -> DLQ
NULL_NUM_SHARE = 0.01  # JS `null + 10` is 10 -> even -> kept


@dataclass(frozen=True)
class Message:
    key: str
    value: str | None
    num: int | None


def make_messages(rng: random.Random, unit: int, n: int) -> list[Message]:
    """One unit file's messages. Keys are unique across units."""
    out = []
    for i in range(n):
        r = rng.random()
        value = None if r < NULL_VALUE_SHARE else f"value-{unit}-{i}-{rng.randrange(1 << 16)}"
        num = None if rng.random() < NULL_NUM_SHARE else rng.randrange(-(1 << 20), 1 << 20)
        out.append(Message(f"key-{unit}-{i}", value, num))
    return out


def json_wire(m: Message) -> str:
    return json.dumps({"key": m.key, "value": m.value, "num": m.num})


# -- a minimal Avro binary codec for the demo record ------------------------
# Written independently of the engine's vendored codec so the output check
# does not trust the code it checks.


def _zigzag(n: int) -> bytes:
    z = (n << 1) ^ (n >> 63)
    out = bytearray()
    while z & ~0x7F:
        out.append((z & 0x7F) | 0x80)
        z >>= 7
    out.append(z)
    return bytes(out)


def _avro_str(s: str | None) -> bytes:
    if s is None:
        return b"\x00"  # union branch 0 (null)
    b = s.encode()
    return b"\x02" + _zigzag(len(b)) + b


def avro_frame(m: Message) -> bytes:
    """Confluent framing (magic byte, 4-byte big-endian schema id) + Avro."""
    num = b"\x00" if m.num is None else b"\x02" + _zigzag(m.num)
    return (
        WIRE_MAGIC
        + struct.pack(">I", AVRO_SCHEMA_ID)
        + _avro_str(m.key)
        + _avro_str(m.value)
        + num
    )


def _read_long(buf: bytes, pos: int) -> tuple[int, int]:
    shift = z = 0
    while True:
        b = buf[pos]
        pos += 1
        z |= (b & 0x7F) << shift
        shift += 7
        if not b & 0x80:
            return (z >> 1) ^ -(z & 1), pos


def avro_unframe(payload: bytes) -> dict:
    """Inverse of :func:`avro_frame`; raises ValueError on a bad frame."""
    if payload[:1] != WIRE_MAGIC or struct.unpack(">I", payload[1:5])[0] != AVRO_SCHEMA_ID:
        raise ValueError(f"bad wire header {payload[:5]!r}")
    pos, rec = 5, {}
    for name, is_str in (("key", True), ("value", True), ("num", False)):
        branch, pos = _read_long(payload, pos)
        if branch == 0:
            rec[name] = None
        elif is_str:
            n, pos = _read_long(payload, pos)
            rec[name] = payload[pos : pos + n].decode()
            pos += n
        else:
            rec[name], pos = _read_long(payload, pos)
    if pos != len(payload):
        raise ValueError("trailing bytes after the record")
    return rec


def write_units(
    out_dir: str, seed: int, n_units: int, unit_msgs: int, fmt: str
) -> list[tuple[str, list[Message]]]:
    """Write ``n_units`` parquet unit files of Kafka-shaped (key, value)
    rows; returns (path, messages) per unit in production order. Each
    output directory draws from its own stream of ``seed``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(f"{seed}/{os.path.basename(out_dir)}")
    units = []
    for u in range(n_units):
        path = os.path.join(out_dir, f"unit-{u:05d}.parquet")
        msgs = make_messages(rng, u, unit_msgs)
        write_unit(path, msgs, fmt)
        units.append((path, msgs))
    return units


def write_unit(path: str, msgs: list[Message], fmt: str) -> None:
    if fmt == "json":
        value = pa.array([json_wire(m) for m in msgs], pa.string())
    else:
        value = pa.array([avro_frame(m) for m in msgs], pa.binary())
    keys = pa.array([m.key for m in msgs], pa.string())
    pq.write_table(pa.table({"key": keys, "value": value}), path)


# -- registry-query tables ---------------------------------------------------

VOCAB = (
    "a the join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window spark part "
    "group big sort query fast"
).split()
PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "green"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "anvil", "plate", "spring"]
DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000  # 1995-01-01T00:00:00Z in microseconds
EPOCH_2024 = 1_704_067_200_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_query_tables(out_dir: str, seed: int) -> None:
    """The ten registry tables (TPC-H-like star schema, events, documents,
    embeddings) at the row counts and value domains of the engine's sf0.01
    fixtures, drawn from ``seed``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part, n_ord = 1500, 100, 2000, 15000
    n_events, n_docs, n_vecs, dim = 10000, 500, 500, 64

    def save(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    save("region", {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": regions})
    save(
        "nation",
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        },
    )
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    save(
        "customer",
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
        },
    )
    save(
        "supplier",
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        },
    )
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    save(
        "part",
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": names[rng.integers(0, len(names), n_part)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": types[rng.integers(0, len(types), n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
        },
    )
    order_day = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    save(
        "orders",
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _ts(EPOCH_1995 + order_day * DAY_US),
            "o_orderpriority": np.array(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
            )[rng.integers(0, 5, n_ord)],
        },
    )
    lines = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord), lines)
    l_num = np.concatenate([np.arange(1, k + 1) for k in lines])
    n_li = len(l_order)
    save(
        "lineitem",
        {
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(l_num, pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _ts(EPOCH_1995 + (order_day[l_order] + rng.integers(1, 122, n_li)) * DAY_US),
        },
    )
    # distinct microsecond timestamps over 30 days, in event-id order
    ts = EPOCH_2024 + np.sort(rng.choice(30 * DAY_US, n_events, replace=False))
    save(
        "events",
        {
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, 150, n_events), pa.int64()),
            "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
                rng.integers(0, 5, n_events)
            ],
            "value": _money(rng, 0.01, 490.0, n_events),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        },
    )
    texts = []
    for d in range(n_docs):
        if d >= 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document: one token swapped
            toks = texts[int(rng.integers(0, d))].split()
            toks[int(rng.integers(0, len(toks)))] = "dup"
        else:
            toks = [VOCAB[i] for i in rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))]
        texts.append(" ".join(toks))
    save(
        "documents",
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": np.array(["de", "en", "es", "fr", "zh"])[rng.integers(0, 5, n_docs)],
            "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        },
    )
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0.0, 1.0, (10, dim))
    vecs = centers[labels] + rng.normal(0.0, 1.5, (n_vecs, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    save(
        "embeddings",
        {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        },
    )
