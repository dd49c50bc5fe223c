"""Seeded synthetic fixture for the benchmark.

Writes the ten tables the query catalog reads (``skopje_spark.tables.
TABLE_NAMES``) as one parquet file each, with the schemas documented in
the repository's FIXTURES.md. ``scale=1.0`` matches the sf0.1 row counts
(600 k lineitem, 150 k orders, 5 k documents). The seed is the only
source of variation: the same ``(seed, scale)`` writes the same bytes'
worth of values, a different seed changes every generated value and key
assignment but no row count or schema.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_EPOCH = np.datetime64("1970-01-01", "D")


def rows(table: str, scale: float) -> int:
    return max(1, int(BASE_ROWS[table] * scale))


def _days(start: str) -> int:
    return int((np.datetime64(start, "D") - _EPOCH).astype(int))


def _ts_ms(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype("int64") * 86_400_000, pa.timestamp("ms"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).cast(pa.string())


def _documents(rng, n: int) -> pa.Table:
    """Bag-of-vocabulary documents (10..100 words); 5% copy an earlier
    document, one in 25 of them exactly and the rest with one word
    appended, so dedup operators have real work."""
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    vocab = np.array(VOCAB, dtype=object)
    texts: list[str] = []
    pos = 0
    for ln in lens:
        texts.append(" ".join(vocab[words[pos:pos + ln]]))
        pos += ln
    # fixed counts, not per-document coin flips: the dedup work of a
    # pass then varies with the seed only through which documents match
    dups = rng.choice(np.arange(1, n), size=min(n - 1, max(2, n // 20)), replace=False)
    exact = set(dups[: max(1, len(dups) // 25)].tolist())
    for i in sorted(dups.tolist()):
        src = texts[int(rng.integers(0, i))]
        texts[i] = src if i in exact else src + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int) -> pa.Table:
    v = rng.standard_normal((n, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), 64)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def generate(out_dir: str, *, seed: int, scale: float = 1.0) -> dict[str, int]:
    """Write every table under ``out_dir``; returns ``{table: rows}``."""
    rng = np.random.default_rng(seed)
    n = {t: rows(t, scale) for t in BASE_ROWS}
    o_days = rng.integers(_days("1995-01-01"), _days("2001-08-01") + 1, n["orders"])
    li_order = rng.integers(0, n["orders"], n["lineitem"])
    ev_us = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n["events"]))
    ev_ts = np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]")
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n["customer"])]),
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": _pick(rng, SEGMENTS, n["customer"]),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n["supplier"])]),
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n["part"]), pa.int64()),
            "p_name": pa.array([
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in rng.integers(0, 8, (n["part"], 2))
            ]),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n["part"])]),
            "p_type": _pick(rng, PART_TYPES, n["part"]),
            "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n["part"]) % 1000) / 10, 1),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n["orders"]), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), pa.int64()),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n["orders"]),
            "o_totalprice": _money(rng, 1000, 500_000, n["orders"]),
            "o_orderdate": _ts_ms(o_days),
            "o_orderpriority": _pick(rng, PRIORITIES, n["orders"]),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(li_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n["part"], n["lineitem"]), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], n["lineitem"]), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n["lineitem"]), pa.int32()),
            "l_quantity": rng.integers(1, 51, n["lineitem"]).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105_000, n["lineitem"]),
            "l_discount": rng.integers(0, 11, n["lineitem"]) / 100.0,
            "l_tax": rng.integers(0, 9, n["lineitem"]) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n["lineitem"]),
            "l_linestatus": _pick(rng, ["F", "O"], n["lineitem"]),
            "l_shipdate": _ts_ms(o_days[li_order] + rng.integers(1, 122, n["lineitem"])),
        }),
        "events": pa.table({
            "event_id": pa.array(np.arange(n["events"]), pa.int64()),
            "ts": pa.array(ev_ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, n["events"]), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, n["events"]),
            "value": np.round(rng.exponential(60.0, n["events"]), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])]),
        }),
        "documents": _documents(rng, n["documents"]),
        "embeddings": _embeddings(rng, n["embeddings"]),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}

