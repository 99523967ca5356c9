"""Seeded input generation and expected answers for the benchmark.

Every input the program sees is made here from `--seed`: the same seed
gives byte-identical files. The tables follow the schema and value
domains of the engine's test data (TPC-H-ish star schema plus the
`events`, `documents` and `embeddings` tables); the chapters work-list
mixes the four golden fixture protos with unknown-service chapters.

Expected answers are computed here too, outside every timed region:
each query's registered DuckDB oracle SQL over the same generated
tables, and, for the ETL pipeline, the golden ingest rows evaluated in
DuckDB. Both are cached per seed next to the inputs.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per table: the sizes of the test data at sf0.01. A pass then
# stays short enough that a run fits the benchmark's time budget; the
# quality-classifier training is bound by per-job overhead at any size.
SIZES = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}
# ETL work-list size, and the share of chapters pointing at a service
# the replay transport answers with 404. Each chapter's golden proto is
# drawn uniformly; one of the four, "atlantis", names an unknown adapter.
CHAPTERS = 4000
UNKNOWN_SERVICE_SHARE = 0.08

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_P_ADJ = ["blue", "cold", "hot", "large", "old", "red", "small", "tiny"]
_P_NOUN = ["bolt", "gear", "nut", "pipe", "plate", "ring", "screw", "valve"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_DAY_US = 86_400_000_000
_EPOCH_1995_US = 788_918_400_000_000
_EPOCH_2024_US = 1_704_067_200_000_000


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _ts(us: np.ndarray, unit: str = "us") -> pa.Array:
    if unit == "ns":
        return pa.array(us * 1000, type=pa.timestamp("ns"))
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 0 and r < 0.05:  # near duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 0 and r < 0.052:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), k)))
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": [_LANGS[j] for j in rng.choice(len(_LANGS), n, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    x = rng.standard_normal((n, 64)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


def write_tables(seed: int, out_dir: str) -> None:
    """Write every table the engine's `io.TABLES` names under out_dir."""
    rng = np.random.default_rng(seed)
    s = SIZES
    os.makedirs(out_dir, exist_ok=True)
    _write(pa.table({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), f"{out_dir}/region.parquet")
    _write(pa.table({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }), f"{out_dir}/nation.parquet")
    n = s["customer"]
    _write(pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": [_SEGMENTS[j] for j in rng.integers(0, 5, n)],
    }), f"{out_dir}/customer.parquet")
    n = s["supplier"]
    _write(pa.table({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    }), f"{out_dir}/supplier.parquet")
    n = s["part"]
    _write(pa.table({
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": [f"{_P_ADJ[a]} {_P_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n), rng.integers(0, 8, n))],
        "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, n)],
        "p_type": [_P_TYPES[j] for j in rng.integers(0, 6, n)],
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n) % 1000) * 0.1, 2),
    }), f"{out_dir}/part.parquet")
    n = s["orders"]
    _write(pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, s["customer"], n),
        "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, 1000, 500000, n),
        "o_orderdate": _ts(_EPOCH_1995_US + rng.integers(0, 2404, n) * _DAY_US),
        "o_orderpriority": [_PRIORITIES[j] for j in rng.integers(0, 5, n)],
    }), f"{out_dir}/orders.parquet")
    n = s["lineitem"]
    qty = rng.integers(1, 51, n).astype(np.float64)
    _write(pa.table({
        "l_orderkey": rng.integers(0, s["orders"], n),
        "l_partkey": rng.integers(0, s["part"], n),
        "l_suppkey": rng.integers(0, s["supplier"], n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, n)],
        "l_linestatus": [("F", "O")[j] for j in rng.integers(0, 2, n)],
        "l_shipdate": _ts(_EPOCH_1995_US + rng.integers(1, 2500, n) * _DAY_US),
    }), f"{out_dir}/lineitem.parquet")
    n = s["events"]
    # events.ts is TIMESTAMP(NANOS), as in the test data, so the
    # engine's nanos-as-long read path is exercised.
    ts = np.sort(_EPOCH_2024_US + rng.integers(0, 30 * _DAY_US, n))
    _write(pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts(ts, "ns"),
        "user_id": rng.integers(0, 1500, n),
        "event_type": [_EVENT_TYPES[j] for j in rng.integers(0, 5, n)],
        "value": _money(rng, 0, 560, n),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)],
    }), f"{out_dir}/events.parquet")
    _write(_documents(rng, s["documents"]), f"{out_dir}/documents.parquet")
    _write(_embeddings(rng, s["embeddings"]), f"{out_dir}/embeddings.parquet")


def write_chapters(seed: int, path: str) -> list[tuple[str, str | None]]:
    """Write a seeded chapters.json work-list; return (chapter_id,
    proto) per chapter, where proto is the golden fixture chapter whose
    events the chapter should yield, or None for an expected error."""
    from cuttlefish_spark.sources.fixtures import CHAPTERS as PROTOS

    rng = np.random.default_rng(seed + 1)
    picks = rng.integers(0, len(PROTOS), CHAPTERS)
    unknown = rng.random(CHAPTERS) < UNKNOWN_SERVICE_SHARE
    doc: dict = {}
    plan: list[tuple[str, str | None]] = []
    for i, (p, miss) in enumerate(zip(picks, unknown)):
        proto, title, adapter, sid, org = PROTOS[p]
        cid = f"c{seed % 1000:03d}x{i:05d}"
        ds: dict = {"adapter": adapter, "id": f"no-such-{sid}" if miss else sid}
        if org is not None:
            ds["organization"] = f"no-such-{org}" if miss else org
        doc[cid] = {"title": title, "dataService": ds}
        known = adapter in ("meetup", "facebook", "eventbrite")
        plan.append((cid, proto if known and not miss else None))
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(doc, fh)
    return plan


def query_expected(names: list[str], data_dir: str, out_dir: str) -> None:
    """Cache each query's oracle answer as parquet under out_dir."""
    from cuttlefish_spark.registry import load_all
    from tests.oracle_harness import run_oracle

    specs = load_all()
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        path = f"{out_dir}/{name}.parquet"
        if not os.path.exists(path):
            df = run_oracle(specs[name].oracle, data_dir)
            df.to_parquet(path + ".tmp", index=False)
            os.replace(path + ".tmp", path)


def golden_events() -> pd.DataFrame:
    """The golden ingest rows (_INGEST_GOLDEN_SQL), evaluated in DuckDB."""
    import duckdb

    from cuttlefish_spark.operators.ingest import _INGEST_GOLDEN_SQL

    con = duckdb.connect()
    try:
        return con.execute(_INGEST_GOLDEN_SQL).df()
    finally:
        con.close()
