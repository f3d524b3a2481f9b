"""Seeded synthetic inputs for the benchmark.

Writes the ten tables the registry reads (a TPC-H-like star schema, an
``events`` stream, a ``documents`` corpus and an ``embeddings`` table) as one
single-row-group parquet file each, with the same parquet schema (physical
and logical column types), row counts, key ranges and distinct-key counts as
the repository's fixtures. The same ``(seed, sf)`` always gives
byte-identical values, so a run is reproducible from its seed.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["large", "small", "hot", "cold", "blue", "red", "old", "new"]
_PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_VOCAB = ("spark window merge table column vector stream value data small "
          "join filter big group hash customer sort order slow line part "
          "fast row the agg key query a scan batch").split()
_EMBED_DIM = 64
# Callers key their cache directory on this, so tables an older version of
# this file wrote are never reused.
with open(__file__, "rb") as _source:
    SOURCE_HASH = hashlib.sha256(_source.read()).hexdigest()[:12]


def sizes(sf: float) -> dict[str, int]:
    """Row count per table at scale factor ``sf`` (sf1 = 6M lineitem rows)."""
    return {
        "region": 5, "nation": 25,
        "customer": max(10, round(150_000 * sf)),
        "supplier": max(10, round(10_000 * sf)),
        "part": max(10, round(200_000 * sf)),
        "orders": max(10, round(1_500_000 * sf)),
        "lineitem": max(10, round(6_000_000 * sf)),
        "events": max(10, round(1_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    """Midnight timestamps drawn uniformly from [start, end]."""
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n).astype("datetime64[D]").astype("datetime64[us]")


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _tables(seed: int, sf: float) -> dict[str, pa.Table]:
    n = sizes(sf)
    rngs = dict(zip(TABLES, (np.random.default_rng(s) for s in
                             np.random.SeedSequence(seed).spawn(len(TABLES)))))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    r, k = rngs["customer"], n["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(k, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": r.integers(0, 25, k).astype(np.int32),
        "c_acctbal": _money(r, -999.99, 9999.99, k),
        "c_mktsegment": _pick(r, _SEGMENTS, k)})

    r, k = rngs["supplier"], n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(k, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": r.integers(0, 25, k).astype(np.int32),
        "s_acctbal": _money(r, -999.99, 9999.99, k)})

    r, k = rngs["part"], n["part"]
    out["part"] = pa.table({
        "p_partkey": np.arange(k, dtype=np.int64),
        "p_name": _pick(r, [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN], k),
        "p_brand": _pick(r, [f"Brand#{i}" for i in range(1, 26)], k),
        "p_type": _pick(r, _PART_TYPES, k),
        "p_size": r.integers(1, 51, k).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(k) % 1000) * 0.1, 2)})

    r, k = rngs["orders"], n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(k, dtype=np.int64),
        "o_custkey": r.integers(0, n["customer"], k, dtype=np.int64),
        "o_orderstatus": _pick(r, ["F", "O", "P"], k),
        "o_totalprice": _money(r, 1000.0, 500_000.0, k),
        "o_orderdate": _days(r, "1995-01-01", "2001-08-01", k),
        "o_orderpriority": _pick(r, _PRIORITIES, k)})

    r, k = rngs["lineitem"], n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": r.integers(0, n["orders"], k, dtype=np.int64),
        "l_partkey": r.integers(0, n["part"], k, dtype=np.int64),
        "l_suppkey": r.integers(0, n["supplier"], k, dtype=np.int64),
        "l_linenumber": r.integers(1, 8, k).astype(np.int32),
        "l_quantity": r.integers(1, 51, k).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105_000.0, k),
        "l_discount": np.round(r.uniform(0.0, 0.1, k), 2),
        "l_tax": np.round(r.uniform(0.0, 0.08, k), 2),
        "l_returnflag": _pick(r, ["A", "N", "R"], k),
        "l_linestatus": _pick(r, ["F", "O"], k),
        "l_shipdate": _days(r, "1995-01-02", "2001-11-04", k)})

    r, k = rngs["events"], n["events"]
    span_us = 30 * 86_400 * 1_000_000
    gaps = r.exponential(span_us / k, k).astype(np.int64) + 1
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    out["events"] = pa.table({
        "event_id": np.arange(k, dtype=np.int64),
        "ts": ts,
        "user_id": r.integers(0, max(1, round(15_000 * sf)), k, dtype=np.int64),
        "event_type": _pick(r, _EVENT_TYPES, k),
        "value": np.round(r.exponential(50.0, k), 2),
        "props": [f'{{"k": {v}}}' for v in r.integers(0, 100, k)]})

    r, k = rngs["documents"], n["documents"]
    texts: list[str] = []
    for i in range(k):
        # one doc in twenty repeats an earlier one exactly, so exact dedup
        # has duplicates to drop
        if i > 10 and r.random() < 0.05:
            texts.append(texts[int(r.integers(0, i))])
        else:
            words = r.integers(0, len(_VOCAB), int(r.integers(10, 101)))
            texts.append(" ".join(_VOCAB[w] for w in words))
    out["documents"] = pa.table({
        "doc_id": np.arange(k, dtype=np.int64),
        "text": texts,
        "lang": _pick(r, _LANGS, k, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(k)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    r, k = rngs["embeddings"], n["embeddings"]
    vecs = r.standard_normal((k, _EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(k, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel()), _EMBED_DIM).cast(pa.list_(pa.float32())),
        "label": r.integers(0, 10, k).astype(np.int32)})
    return out


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table under ``out_dir`` (once per directory) and return
    the row count per table."""
    done = os.path.join(out_dir, "_COMPLETE")
    if not os.path.exists(done):
        os.makedirs(out_dir, exist_ok=True)
        for name, table in _tables(seed, sf).items():
            pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        open(done, "w").close()
    return {t: pq.ParquetFile(os.path.join(out_dir, f"{t}.parquet")).metadata.num_rows
            for t in TABLES}
