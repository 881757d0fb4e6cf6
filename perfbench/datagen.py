"""Seeded input generators. Every input the engine sees comes from here.

Two kinds of input:

- ``write_batch_tables``: the ten registry tables (TPC-H-like star
  schema, ``events``, ``documents``, ``embeddings``) as parquet, with the
  same column names and types as the fixture tables in TESTDATA.md, so every
  registry query and its DuckDB oracle run unchanged on them.
- ``stream_events``: one transaction stream as a numpy record array,
  with duplicate keys and out-of-order event times, cut into JSON
  files by ``live``.

The same seed gives byte-identical tables and the same event stream.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
PART_ADJ = ["small", "red", "blue", "hot", "cold", "green", "big", "old"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "pipe", "valve", "nut", "plate"]
PART_TYPES = ["ECONOMY", "SMALL", "LARGE", "MEDIUM", "PROMO", "STANDARD"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = (["en", "zh", "es", "de", "fr"], [0.44, 0.15, 0.14, 0.14, 0.13])

_DAY_US = 86_400_000_000


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    lo_d = np.datetime64(lo, "D")
    span = int((np.datetime64(hi, "D") - lo_d).astype(int))
    return (lo_d + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def batch_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The registry's ten tables at scale factor ``sf`` (sf 1 is
    150k customers and 6M line items, as in TPC-H)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = max(15, int(150_000 * sf)), max(10, int(10_000 * sf))
    n_part, n_ord = max(20, int(200_000 * sf)), max(150, int(1_500_000 * sf))
    n_line, n_ev = 4 * n_ord, max(1000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32, i64 = pa.int32(), pa.int64()

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, i64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
    })
    ts = np.sort(
        np.datetime64("2024-01-01", "us").astype(np.int64)
        + rng.integers(0, 30 * _DAY_US, n_ev)
    )
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:
            # planted near-duplicate: an earlier doc plus one marker token
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(8, 100)))))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": texts,
        "lang": rng.choice(LANGS[0], n_docs, p=LANGS[1]),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(x) for x in texts], i64),
    })
    centers = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = 0.3 * centers[labels] + rng.normal(0.0, 1.0, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
    return t


def write_batch_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the tables as ``{out_dir}/{name}.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in batch_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


STREAM_DTYPE = np.dtype([
    ("event_id", np.int64),      # the dedup key
    ("created_us", np.int64),    # when the generator made the event
    ("ts_micros", np.int64),     # event time
    ("user_id", np.int64),
    ("value_cents", np.int64),   # value = cents / 100, exact in decimal
    ("dup", np.bool_),           # a re-delivery of an earlier event
])


def stream_events(
    seed: int,
    n: int,
    span_us: int,
    dup_share: float = 0.05,
    ooo_share: float = 0.02,
    ooo_max_us: int = 1_000_000,
) -> np.ndarray:
    """``n`` events created evenly over ``span_us`` from time 0.

    A ``dup_share`` of rows re-deliver an earlier event (same key, event
    time and value) created at most 10 s before, so the 3 h dedup
    horizon always covers them. ``ooo_share`` of the rest carry an
    event time up to ``ooo_max_us`` before their creation.
    Rows come out in creation order."""
    rng = np.random.default_rng(seed)
    ev = np.zeros(n, STREAM_DTYPE)
    created = (np.arange(n) * span_us) // n
    ev["created_us"] = created
    ev["event_id"] = np.arange(n)
    ev["ts_micros"] = created
    ev["user_id"] = rng.integers(0, 1000, n)
    ev["value_cents"] = rng.integers(1, 50_000, n)
    shift = rng.random(n)
    ooo = shift < ooo_share
    ev["ts_micros"][ooo] -= rng.integers(1, ooo_max_us + 1, int(ooo.sum()))
    # duplicates: copy the key, event time and value of an event at
    # most 10 s older (and never of another duplicate)
    per_10s = max(1, int(10_000_000 * n // max(span_us, 1)))
    dup_idx = np.flatnonzero(rng.random(n) < dup_share)
    dup_idx = dup_idx[dup_idx > 0]
    src = dup_idx - rng.integers(1, per_10s + 1, dup_idx.size)
    keep = src >= 0
    cols = ["event_id", "ts_micros", "user_id", "value_cents"]
    for i, s in zip(dup_idx[keep].tolist(), src[keep].tolist()):
        if not ev["dup"][s]:  # in creation order: never copy a copy
            ev[cols][i] = ev[cols][s]
            ev["dup"][i] = True
    return ev


def json_lines(ev: np.ndarray) -> str:
    """Serialise rows in the engine's ``EVENTS_JSON_SCHEMA`` shape."""
    return "".join(
        f'{{"event_id":{e},"ts_micros":{t},"user_id":{u},"event_type":"tx",'
        f'"value":{v // 100}.{v % 100:02d},"props":"{{}}"}}\n'
        for e, t, u, v in zip(
            ev["event_id"].tolist(), ev["ts_micros"].tolist(),
            ev["user_id"].tolist(), ev["value_cents"].tolist(),
        )
    )


def publish(path_dir: str, name: str, text: str) -> str:
    """Write a file next to ``path_dir`` and rename it in, so the file
    source never lists a half-written file. Returns the final path."""
    tmp = os.path.join(os.path.dirname(path_dir.rstrip("/")), f".{name}.tmp")
    final = os.path.join(path_dir, name)
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, final)
    return final
