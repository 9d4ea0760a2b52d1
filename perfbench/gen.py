"""Load generator: the benchmark's own message spec, payloads and tables.

Everything here is derived from the workload seed (or, for the query-mix
tables, a fixed data seed) and written before any timing starts, in
Python, before the Spark session exists.  The program under test only
ever sees the files.

- The ingest shape is the repository's ``small`` one: ~38 B/record, five
  normalizer fields, 0-2 ``deals`` per record.  ``encode`` writes its
  protobuf bytes (every field present, in field-number order, as the
  program's encoders write them).
- ``make_tables`` writes the ten relational/text/vector tables the query
  mix reads, with the column types and value ranges of the repository's
  fixtures.
"""

from __future__ import annotations

import os
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from quacfka_spark.sources.proto_wire import Field, MessageSpec

# Ingest ids of different seeds never overlap for the row counts used here.
# Every seed's ids lie in [ID_BASE, 2 * ID_BASE), so their varints (and
# the deal ids' ten times larger ones) have the same length for every
# seed: the payload bytes do not depend on the seed.
SEED_ID_STRIDE = 10_000_000
SEEDS = 100_000
ID_BASE = 2**40

NORM_FIELDS = ("r.site.id", "r.user_id", "r.amount", "r.deals.id", "r.deals.kind")
NORM_ALIASES = ("site", "user_id", "amount", "deal_id", "deal_kind")


def id_base(seed: int) -> int:
    """The first ingest id of a seed."""
    return ID_BASE + seed % SEEDS * SEED_ID_STRIDE


def spec():
    """The protobuf message of the ingest records (field order is the
    struct order, as the decoder's output follows it)."""
    return MessageSpec(
        [
            Field(1, "site", "message", message=MessageSpec(
                [Field(1, "id", "int64"), Field(2, "name", "string")])),
            Field(2, "user_id", "int64"),
            Field(3, "amount", "double"),
            Field(4, "deals", "message", repeated=True, message=MessageSpec(
                [Field(1, "id", "int64"), Field(2, "kind", "string")])),
        ]
    )


def _varint(v: int) -> bytes:
    out = bytearray()
    while v > 0x7F:
        out.append(v & 0x7F | 0x80)
        v >>= 7
    out.append(v)
    return bytes(out)


def _tag(number: int, wire: int) -> bytes:
    return _varint(number << 3 | wire)


def _sub(number: int, body: bytes) -> bytes:
    """A length-delimited field."""
    return _tag(number, 2) + _varint(len(body)) + body


# the fields that repeat with a small period, encoded once
_SITE = [_sub(1, _tag(1, 0) + _varint(i) + _sub(2, f"site_{i}".encode())) for i in range(100)]
_USER = [_tag(2, 0) + _varint(i) for i in range(1000)]
_AMOUNT = [_tag(3, 1) + struct.pack("<d", i * 1.5) for i in range(997)]
_KIND = [_sub(2, f"kind_{i}".encode()) for i in range(4)]


def record(seq: int) -> dict:
    """Record ``seq`` as the decoder returns it: ``seq % 3`` deals."""
    return {
        "site": {"id": seq % 100, "name": f"site_{seq % 100}"},
        "user_id": seq % 1000,
        "amount": seq % 997 * 1.5,
        "deals": [{"id": seq * 10 + k, "kind": f"kind_{(seq + k) % 4}"} for k in range(seq % 3)],
    }


def encode(seq: int) -> bytes:
    """The protobuf bytes of ``record(seq)``."""
    parts = [_SITE[seq % 100], _USER[seq % 1000], _AMOUNT[seq % 997]]
    for k in range(seq % 3):
        parts.append(_sub(4, _tag(1, 0) + _varint(seq * 10 + k) + _KIND[(seq + k) % 4]))
    return b"".join(parts)


def norm_rows(ids: np.ndarray) -> int:
    """Rows the normalizer emits for these ids: one per deal, and one
    null row for a record without deals (explode_outer)."""
    return int(np.maximum(ids % 3, 1).sum())


def write_files(files: list[np.ndarray], out_dir: str) -> tuple[list[str], int]:
    """Write one parquet file of encoded records (column ``value
    binary``, the topic at rest) per id array.  Returns the paths, in
    order, and the payload bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    paths, payload = [], 0
    schema = pa.schema([("value", pa.binary())])
    for f, ids in enumerate(files):
        values = [encode(int(i)) for i in ids]
        payload += sum(map(len, values))
        path = os.path.join(out_dir, f"part-{f:05d}.parquet")
        pq.write_table(pa.table([pa.array(values, pa.binary())], schema=schema), path)
        paths.append(path)
    return paths, payload


# ---------------------------------------------------------------------------
# Query-mix tables

WORDS = (
    "key agg row scan slow fast table value part hash merge batch spark a the "
    "line sort window order data column join small customer query big group "
    "filter stream vector"
).split()
COLORS = "blue old small new hot large cold red".split()
NOUNS = "widget gizmo bolt plate anvil rod ring gear".split()


def make_tables(sf: float, out_dir: str, data_seed: int = 42) -> dict[str, int]:
    """Write the ten query-mix tables for scale factor ``sf`` as
    ``<out_dir>/<table>.parquet``; returns row counts.  Deterministic in
    ``(sf, data_seed)``."""
    rng = np.random.default_rng(data_seed)
    n_cust = int(150_000 * sf)
    n_orders = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_part = int(200_000 * sf)
    n_supp = max(10, int(10_000 * sf))
    n_events = int(1_000_000 * sf)
    n_users = max(10, int(15_000 * sf))
    n_docs = int(50_000 * sf)
    n_vecs = int(50_000 * sf)
    day_us = 86_400 * 1_000_000
    t1995 = 788_918_400 * 1_000_000  # 1995-01-01 UTC, microseconds

    def ts(values_us):
        return pa.array(values_us.astype("int64"), pa.int64()).cast(pa.timestamp("us"))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    ptypes = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    names = np.array([f"{c} {n}" for c in COLORS for n in NOUNS])
    pk = np.arange(n_part)
    tables["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": ptypes[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 2),
    })
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": money(1000, 500_000, n_orders),
        "o_orderdate": ts(t1995 + rng.integers(0, 2404, n_orders) * day_us),
        "o_orderpriority": prios[rng.integers(0, 5, n_orders)],
    })
    qty = rng.integers(1, 51, n_line).astype("float64")
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": ts(t1995 + rng.integers(1, 2500, n_line) * day_us),
    })
    t2024 = 1_704_067_200 * 1_000_000
    ev_ts = np.sort(rng.integers(0, 30 * day_us, n_events))
    etypes = np.array(["click", "error", "purchase", "signup", "view"])
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": ts(t2024 + ev_ts),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": etypes[rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(50.0, n_events), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    tables["documents"] = _documents(rng, n_docs)
    tables["embeddings"] = _embeddings(rng, n_vecs)

    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def _documents(rng, n: int):
    """Random word texts from a small vocabulary, plus planted near
    copies (a few words edited) so the dedup, contamination and
    near-duplicate queries have true positives."""
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), rng.integers(8, 90))]) for _ in range(n)]
    for i in rng.choice(n, n // 10, replace=False):
        src = texts[int(rng.integers(0, n))].split()
        for j in rng.integers(0, len(src), max(1, len(src) // 20)):
            src[j] = str(words[rng.integers(0, len(words))])
        texts[i] = " ".join(src)
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int, dim: int = 64, labels: int = 10):
    """Unit vectors around ``labels`` cluster centres, with a share of
    near copies (cosine > 0.99) for the pair and kNN queries."""
    centres = rng.normal(size=(labels, dim))
    label = rng.integers(0, labels, n)
    v = centres[label] * 0.35 + rng.normal(size=(n, dim))
    dup = rng.choice(n, n // 10, replace=False)
    v[dup] = v[rng.integers(0, n, len(dup))] + rng.normal(scale=0.05, size=(len(dup), dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v.astype("float32")), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })
