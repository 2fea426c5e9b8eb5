"""Synthetic inputs for the benchmark.

The engine's test fixtures (FIXTURES.md) are produced outside the
repository, so the benchmark makes its own tables with the same ten
schemas: uniform keys, dates and prices, five market segments, a 30-word
document vocabulary (10-99 words a document, exactly 5% of documents a
copy of another plus " dup"), 64-dimensional unit embeddings and a 30-day
event stream. Row counts follow the fixtures' (documents and embeddings
have at least 500 rows). The value ranges, category shares, near-duplicate
structure and LSH bucket sizes were compared with the fixtures at sf0.01
and sf0.1 (``fixture_check.py`` prints that comparison).

``generate_tier`` writes one single-row-group parquet file per table,
like the fixtures.
"""

from __future__ import annotations

import datetime
import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()

_EPOCH = datetime.datetime(1970, 1, 1)


def _days(start: datetime.date) -> int:
    return (start - _EPOCH.date()).days


def _dates(rng, n: int, lo: datetime.date, hi: datetime.date) -> pa.Array:
    """Date-valued timestamps (midnight UTC), uniform in [lo, hi]."""
    day = rng.integers(_days(lo), _days(hi) + 1, n).astype("int64")
    return pa.array(day * 86_400_000_000, pa.timestamp("us"))


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).cast(pa.string())


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_evt = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(int(50_000 * sf), 500), max(int(20_000 * sf), 500)
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    pkeys = np.arange(n_part, dtype="int64")
    t["part"] = pa.table({
        "p_partkey": pkeys,
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, _PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900 + (pkeys % 1000) * 0.1, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _dates(
            rng, n_ord, datetime.date(1995, 1, 1), datetime.date(2001, 8, 1)),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
    })
    okeys = rng.integers(0, n_ord, n_line).astype("int64")
    t["lineitem"] = pa.table({
        "l_orderkey": okeys,
        "l_partkey": rng.integers(0, n_part, n_line).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype("int64"),
        "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": _money(rng, 900, 105_000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _dates(
            rng, n_line, datetime.date(1995, 1, 2),
            datetime.date(2001, 11, 4)),
    })
    start = int((datetime.datetime(2024, 1, 1) - _EPOCH).total_seconds() * 1e6)
    ts = np.sort(rng.integers(start, start + 30 * 86_400_000_000, n_evt))
    t["events"] = pa.table({
        "event_id": np.arange(n_evt, dtype="int64"),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_cust // 10, n_evt).astype("int64"),
        "event_type": _pick(rng, _EVENT_TYPES, n_evt),
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    texts = [
        " ".join(rng.choice(_WORDS, rng.integers(10, 100)))
        for _ in range(n_doc)
    ]
    for i in rng.choice(n_doc, n_doc // 20, replace=False):
        texts[i] = texts[rng.integers(0, n_doc)] + " dup"
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype="int64"),
        "text": texts,
        "lang": _pick(rng, _LANGS, n_doc, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(s) for s in texts], dtype="int64"),
    })
    vec = rng.standard_normal((n_emb, 64)).astype("float32")
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vec.ravel(), pa.float32()), 64
        ).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype("int32"),
    })
    return t


def _complete(path: str, stamp: str) -> bool:
    marker = os.path.join(path, "_COMPLETE")
    if not os.path.exists(marker):
        return False
    with open(marker) as f:
        return f.read() == stamp


def _mark(path: str, stamp: str) -> None:
    with open(os.path.join(path, "_COMPLETE"), "w") as f:
        f.write(stamp)


def generate_tier(out_dir: str, sf: float, seed: int) -> str:
    """Write the ten tables at scale ``sf`` to ``out_dir`` (idempotent)."""
    with open(__file__, "rb") as f:
        source = hashlib.sha256(f.read()).hexdigest()[:16]
    stamp = f"sf={sf} seed={seed} datagen={source}"
    if _complete(out_dir, stamp):
        return out_dir
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    for name, table in _tables(sf, seed).items():
        pq.write_table(
            table, os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=max(table.num_rows, 1),
        )
    _mark(out_dir, stamp)
    return out_dir
