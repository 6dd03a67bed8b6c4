"""Seeded input generator for the benchmark.

Writes the ten engine tables with the declared schemas (``io.SCHEMAS``) and
the value domains measured on the sf0.1 fixtures, plus the ETL inputs: a
day-1 events file and day-2 change chunks. Every byte is a function of the
seed: numpy's PCG64 draws the values and pyarrow writes the files with fixed
row-group sizes and no pandas metadata, so the same seed gives byte-identical
files.

Only numpy and pyarrow are used, so generation needs neither Spark nor the
engine package and is not part of any timed region.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the sf0.1 fixtures (FIXTURES.md).
SF01_ROWS = {
    "region": 5,
    "nation": 25,
    "supplier": 1_000,
    "customer": 15_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

# ETL input: 6x10^5 day-1 events (the size of sf0.1 lineitem) over 2x10^4
# users, then day-2 change chunks.
ETL_DAY1_ROWS = 600_000
ETL_USERS = 20_000
ETL_CHUNKS = 6
ETL_CHUNK_ROWS = 10_000

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()

_US_PER_DAY = 86_400_000_000
_EPOCH = _dt.datetime(1970, 1, 1)


def _us(d: _dt.datetime) -> int:
    return (d - _EPOCH) // _dt.timedelta(microseconds=1)


_ORDER_LO = _us(_dt.datetime(1995, 1, 1)) // _US_PER_DAY
_ORDER_HI = _us(_dt.datetime(2001, 8, 1)) // _US_PER_DAY
_SHIP_LO = _us(_dt.datetime(1995, 1, 2)) // _US_PER_DAY
_SHIP_HI = _us(_dt.datetime(2001, 11, 4)) // _US_PER_DAY
_EVENTS_T0 = _us(_dt.datetime(2024, 1, 1))
_EVENTS_SPAN = 30 * _US_PER_DAY


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(values: list[str], idx: np.ndarray) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[idx], pa.string())


def _days(rng: np.random.Generator, lo: int, hi: int, n: int) -> pa.Array:
    days = rng.integers(lo, hi + 1, n)
    return pa.array(days * _US_PER_DAY, pa.timestamp("us"))


def _keyed_names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)], pa.string())


def _events(rng: np.random.Generator, n: int, n_users: int, first_id: int,
            t0: int, span: int) -> pa.Table:
    """Events roughly ordered in time by event_id, sub-second jitter."""
    offsets = np.sort(rng.integers(0, span, n))
    ts = pa.array(t0 + offsets, pa.timestamp("us"))
    props = [f'{{"k": {k}}}' for k in range(100)]
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "ts": ts,
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": _pick(_EVENT_TYPES, rng.integers(0, 5, n)),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2), pa.float64()),
        "props": _pick(props, rng.integers(0, 100, n)),
    })


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word soup over a 30-word vocabulary; ~5% near-duplicates of an
    earlier document (its text plus the token ``dup``) and a few exact
    copies, so both dedup paths have work."""
    vocab = np.asarray(_VOCAB, dtype=object)
    lengths = rng.integers(10, 100, n)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lengths]
    kind = rng.random(n)
    for i in range(1, n):
        if kind[i] < 0.05:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
        elif kind[i] < 0.052:
            texts[i] = texts[int(rng.integers(0, i))]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(_LANGS, rng.choice(5, n, p=_LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    """Unit vectors with a weak per-label direction (10 labels)."""
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0.0, 0.6, (10, dim))
    vecs = rng.normal(0.0, 1.0, (n, dim)) + centers[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels, pa.int32()),
    })


def make_tables(seed: int, rows: dict[str, int] = SF01_ROWS) -> dict[str, pa.Table]:
    """The ten engine tables for ``seed``, sized by ``rows``."""
    rng = np.random.Generator(np.random.PCG64([seed, 1]))
    n = rows
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(_REGIONS, pa.string()),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": _keyed_names("Supplier", ns),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -1000, 10000, ns), pa.float64()),
    })
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": _keyed_names("Customer", nc),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -1000, 10000, nc), pa.float64()),
        "c_mktsegment": _pick(_SEGMENTS, rng.integers(0, 5, nc)),
    })
    npart = n["part"]
    adj, noun = rng.integers(0, 8, npart), rng.integers(0, 8, npart)
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": pa.array([f"{_ADJ[a]} {_NOUN[b]}" for a, b in zip(adj, noun)],
                           pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)],
                            pa.string()),
        "p_type": _pick(_PTYPES, rng.integers(0, 6, npart)),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": pa.array(
            np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2), pa.float64()),
    })
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": _pick(["F", "O", "P"], rng.integers(0, 3, no)),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, no), pa.float64()),
        "o_orderdate": _days(rng, _ORDER_LO, _ORDER_HI, no),
        "o_orderpriority": _pick(_PRIORITIES, rng.integers(0, 5, no)),
    })
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105000, nl), pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0, pa.float64()),
        "l_returnflag": _pick(["A", "N", "R"], rng.integers(0, 3, nl)),
        "l_linestatus": _pick(["F", "O"], rng.integers(0, 2, nl)),
        "l_shipdate": _days(rng, _SHIP_LO, _SHIP_HI, nl),
    })
    t["events"] = _events(rng, n["events"], 1500, 0, _EVENTS_T0, _EVENTS_SPAN)
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def make_etl(seed: int, day1_rows: int = ETL_DAY1_ROWS, users: int = ETL_USERS,
             chunks: int = ETL_CHUNKS, chunk_rows: int = ETL_CHUNK_ROWS
             ) -> tuple[pa.Table, list[pa.Table]]:
    """Day-1 events and the day-2 change chunks that follow them in time and
    in event_id, each chunk touching a seeded subset of the users."""
    rng = np.random.Generator(np.random.PCG64([seed, 2]))
    day1 = _events(rng, day1_rows, users, 0, _EVENTS_T0, _EVENTS_SPAN)
    out = []
    t0, first = _EVENTS_T0 + _EVENTS_SPAN, day1_rows
    for _ in range(chunks):
        out.append(_events(rng, chunk_rows, users, first, t0, _US_PER_DAY))
        t0 += _US_PER_DAY
        first += chunk_rows
    return day1, out


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=1 << 20, compression="snappy",
                   store_schema=False)


def write_tables(seed: int, out_dir: str) -> dict[str, dict]:
    """Write the ten tables to ``out_dir/<name>.parquet``; returns per-table
    row count, size and sha256 of the file."""
    os.makedirs(out_dir, exist_ok=True)
    return {name: _record(tbl, os.path.join(out_dir, f"{name}.parquet"))
            for name, tbl in make_tables(seed).items()}


def write_etl(seed: int, out_dir: str) -> dict[str, dict]:
    """Write ``day1/events.parquet`` and ``chunks/chunk_<i>.parquet``.
    Chunks carry ts as UTC-adjusted timestamps so the declared events
    schema reads them from a stream source."""
    day1, chunks = make_etl(seed)
    os.makedirs(os.path.join(out_dir, "day1"), exist_ok=True)
    os.makedirs(os.path.join(out_dir, "chunks"), exist_ok=True)
    rec = {"day1": _record(day1, os.path.join(out_dir, "day1", "events.parquet"))}
    for i, c in enumerate(chunks):
        c = c.set_column(1, "ts", c.column("ts").cast(pa.timestamp("us", "UTC")))
        rec[f"chunk_{i}"] = _record(
            c, os.path.join(out_dir, "chunks", f"chunk_{i}.parquet"))
    return rec


def _record(table: pa.Table, path: str) -> dict:
    _write(table, path)
    with open(path, "rb") as f:
        digest = hashlib.sha256(f.read()).hexdigest()
    return {"rows": table.num_rows, "bytes": os.path.getsize(path),
            "sha256": digest}
