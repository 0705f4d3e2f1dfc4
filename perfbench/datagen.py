"""Seeded generator for the engine's ten input tables.

Writes ``region nation supplier customer part orders lineitem events
documents embeddings`` as single-row-group parquet files with the
schemas ``flink_rc_spark.sources.tables.EXPECTED_SCHEMAS`` validates.
The value domains follow the TPC-H-ish tables the engine was built
against: uniform keys and attributes, whole-day order and ship dates,
an event stream sorted by time over 30 days with exponential values,
a 30-word document corpus in which about 5% of documents are an earlier
document plus the token ``dup``, and N(0, 0.12) 64-dim float32
embeddings.

Row counts scale with ``sf`` as in TPC-H (lineitem 6M x sf); the
document and embedding tables never go below 500 rows. At sf 0.1 the
row counts, key ranges, date ranges and value ranges equal those of the
fixed sf0.1 tables the engine's tests read. The same ``(sf, seed)``
always writes the same bytes.

Usage: ``python3 datagen.py <out_dir> <sf> <seed>``.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400_000_000
_ORDER_EPOCH_DAY = 9131   # 1995-01-01
_ORDER_DAYS = 2404        # .. 2001-08-01
_SHIP_EPOCH_DAY = 9132    # 1995-01-02
_SHIP_DAYS = 2498         # .. 2001-11-04
_EVENT_EPOCH_US = 19723 * _DAY_US  # 2024-01-01
_EVENT_SPAN_US = 30 * _DAY_US


def _pick(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, epoch_day: int, span: int, n: int) -> pa.Array:
    us = (epoch_day + rng.integers(0, span + 1, n)) * _DAY_US
    return pa.array(us, type=pa.timestamp("us"))


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.asarray(VOCAB, dtype=object)
    lengths = rng.integers(10, 101, n)
    near_dup = rng.random(n) < 0.05
    near_dup[0] = False
    texts: list[str] = []
    for i in range(n):
        if near_dup[i]:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), lengths[i])]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n, p=LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.fromiter(map(len, texts), np.int64, n)),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    flat = rng.normal(0.0, 0.12, n * dim).astype(np.float32)
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(offsets, pa.array(flat)),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )


def tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """Build every table in memory; see the module docstring."""
    rng = np.random.default_rng(seed)
    n_supp = max(10, round(10_000 * sf))
    n_cust = max(150, round(150_000 * sf))
    n_part = max(200, round(200_000 * sf))
    n_ord = max(1_500, round(1_500_000 * sf))
    n_line = max(6_000, round(6_000_000 * sf))
    n_evt = max(1_000, round(1_000_000 * sf))
    n_user = max(15, round(15_000 * sf))
    n_doc = max(500, round(50_000 * sf))
    n_emb = max(500, round(20_000 * sf))
    i32, i64 = np.int32, np.int64

    part_keys = np.arange(n_part, dtype=i64)
    part_adj = rng.integers(0, len(PART_ADJ), n_part)
    part_noun = rng.integers(0, len(PART_NOUN), n_part)
    event_ts = np.sort(rng.integers(0, _EVENT_SPAN_US, n_evt)) + _EVENT_EPOCH_US

    return {
        "region": pa.table(
            {
                "r_regionkey": pa.array(np.arange(5, dtype=i32)),
                "r_name": pa.array(REGIONS),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype=i32)),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array(np.arange(25, dtype=i32) % 5),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp, dtype=i64)),
                "s_name": _names("Supplier", n_supp),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(i32)),
                "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust, dtype=i64)),
                "c_name": _names("Customer", n_cust),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(i32)),
                "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
                "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(part_keys),
                "p_name": pa.array(
                    [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(part_adj, part_noun)]
                ),
                "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
                "p_type": _pick(rng, PART_TYPES, n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part).astype(i32)),
                "p_retailprice": pa.array(np.round(900.0 + (part_keys % 1000) / 10.0, 2)),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord, dtype=i64)),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=i64)),
                "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
                "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
                "o_orderdate": _days(rng, _ORDER_EPOCH_DAY, _ORDER_DAYS, n_ord),
                "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype=i64)),
                "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=i64)),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=i64)),
                "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(i32)),
                "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
                "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_line)),
                "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
                "l_returnflag": _pick(rng, ("A", "N", "R"), n_line),
                "l_linestatus": _pick(rng, ("F", "O"), n_line),
                "l_shipdate": _days(rng, _SHIP_EPOCH_DAY, _SHIP_DAYS, n_line),
            }
        ),
        "events": pa.table(
            {
                "event_id": pa.array(np.arange(n_evt, dtype=i64)),
                "ts": pa.array(event_ts, type=pa.timestamp("us")),
                "user_id": pa.array(rng.integers(0, n_user, n_evt, dtype=i64)),
                "event_type": _pick(rng, EVENT_TYPES, n_evt),
                "value": pa.array(np.round(rng.exponential(50.0, n_evt), 2)),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]),
            }
        ),
        "documents": _documents(rng, n_doc),
        "embeddings": _embeddings(rng, n_emb),
    }


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write every table to ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(sf, seed).items():
        pq.write_table(
            table,
            os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=max(1, table.num_rows),
            compression="snappy",
        )


if __name__ == "__main__":
    write_tables(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
