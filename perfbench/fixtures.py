"""Seeded inputs and independent expected outputs for the benchmark.

``write_tables`` writes a TPC-H-shaped star schema plus the
``documents`` / ``embeddings`` tables the ingest gates read, with the
same schemas and value ranges as the engine's sf fixtures, as one parquet
file per table. The same seed gives the same bytes.

``cells_features`` and ``outlier_votes`` recompute the reference
feature formulas (area, 4-neighbour perimeter, masked mean,
circularity) and the +-0.5 sigma vote model with numpy over the images
the ``cells`` source synthesizes, sharing no code with the engine's
kernels or its outlier model.
"""

from __future__ import annotations

import hashlib
import math
import os
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per unit of scale, as in the engine's sf fixtures (sf0.1 holds
# 600k lineitem rows)
_ROWS = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
         "orders": 1_500_000, "lineitem": 6_000_000}
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_TYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]
_ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
_NOUN = ["ring", "bolt", "plate", "gear", "nut", "pipe", "wire", "valve"]
_WORDS = ("a the data spark table query scan join filter group agg sort "
          "hash key value row column line part order customer window "
          "stream batch merge vector fast slow big small").split()
_LANGS = ["en", "de", "fr", "es", "zh"]
_LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]


def _day_ts(rng, n: int, first: str, last: str) -> np.ndarray:
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    days = rng.integers(lo, hi + 1, size=n)
    return (days * 86_400_000_000).astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.integers(round(lo * 100), round(hi * 100) + 1,
                                 size=n) / 100.0, 2)


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)).cast(pa.string())


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


INDEX_PCT = 80  # buckets below it are the indexed corpus, the rest fresh


def bucket(i: int) -> int:
    """The engine's md5 split bucket of a row key, 0..99."""
    return int(hashlib.md5(str(i).encode()).hexdigest()[:4], 16) % 100


def _documents(rng, n_docs: int) -> pa.Table:
    lens = rng.integers(8, 100, size=n_docs)
    words = [list(rng.choice(_WORDS, size=k)) for k in lens]
    index = [i for i in range(n_docs) if bucket(i) < INDEX_PCT]
    fresh = [i for i in range(n_docs) if bucket(i) >= INDEX_PCT]
    # plant work for the gates: a tenth of the fresh batch copies an
    # indexed document verbatim, another tenth with one word replaced
    plant = rng.permutation(len(fresh))
    n_plant = len(fresh) // 10
    for j, k in enumerate(plant[:2 * n_plant]):
        src = list(words[index[int(rng.integers(len(index)))]])
        if j >= n_plant:
            src[int(rng.integers(len(src)))] = str(rng.choice(_WORDS))
        words[fresh[k]] = src
    text = [" ".join(w) for w in words]
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(text),
        "lang": _pick(rng, _LANGS, n_docs, _LANG_P),
        "source": _pick(rng, [f"src{i}" for i in range(5)], n_docs),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })


def _embeddings(rng, n_vecs: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, size=n_vecs)
    centers = rng.normal(size=(10, dim))
    vecs = centers[labels] + rng.normal(scale=1.5, size=(n_vecs, dim))
    # near-duplicates: every twentieth vector re-uses another's with a
    # small perturbation
    dup = np.arange(0, n_vecs, 20)
    vecs[dup] = (vecs[rng.integers(0, n_vecs, size=len(dup))]
                 + rng.normal(scale=0.01, size=(len(dup), dim)))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).reshape(-1), pa.float32())
    return pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n_vecs * dim + 1, dim), pa.int32()), flat),
        "label": pa.array(labels, pa.int32()),
    })


def write_tables(out_dir: str, seed: int, scale: float,
                 n_docs: int, n_vecs: int) -> None:
    """One parquet file per table under ``out_dir``."""
    rng = np.random.default_rng([seed, 0x7C4])
    n = {k: max(1, int(v * scale)) for k, v in _ROWS.items()}
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(_REGIONS)}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
            "c_name": _names("Customer", n["customer"]),
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]),
                                    pa.int32()),
            "c_acctbal": _money(rng, n["customer"], -999.99, 9999.99),
            "c_mktsegment": _pick(rng, _SEGMENTS, n["customer"])}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
            "s_name": _names("Supplier", n["supplier"]),
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]),
                                    pa.int32()),
            "s_acctbal": _money(rng, n["supplier"], -999.99, 9999.99)}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n["part"]), pa.int64()),
            "p_name": _pick(rng, [f"{a} {b}" for a in _ADJ for b in _NOUN],
                            n["part"]),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)],
                             n["part"]),
            "p_type": _pick(rng, _TYPES, n["part"]),
            "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
            "p_retailprice": np.round(
                900.0 + (np.arange(n["part"]) % 1000) / 10.0, 2)}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n["orders"]), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]),
                                  pa.int64()),
            "o_orderstatus": _pick(rng, ["O", "F", "P"], n["orders"]),
            "o_totalprice": _money(rng, n["orders"], 1000.0, 500000.0),
            "o_orderdate": pa.array(_day_ts(rng, n["orders"], "1995-01-01",
                                            "2001-08-01")),
            "o_orderpriority": _pick(rng, _PRIORITIES, n["orders"])}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n["orders"], n["lineitem"]),
                                   pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n["part"], n["lineitem"]),
                                  pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"],
                                               n["lineitem"]), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n["lineitem"]),
                                     pa.int32()),
            "l_quantity": rng.integers(1, 51, n["lineitem"]).astype(float),
            "l_extendedprice": _money(rng, n["lineitem"], 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, n["lineitem"]) / 100.0,
            "l_tax": rng.integers(0, 9, n["lineitem"]) / 100.0,
            "l_returnflag": _pick(rng, ["N", "A", "R"], n["lineitem"]),
            "l_linestatus": _pick(rng, ["O", "F"], n["lineitem"]),
            "l_shipdate": pa.array(_day_ts(rng, n["lineitem"], "1995-01-02",
                                           "2001-11-04"))}),
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_vecs),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, tb in tables.items():
        pq.write_table(tb, os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# cells: numpy recomputation of the reference formulas
# ---------------------------------------------------------------------------
_FOUR_PI = 4.0 * math.pi


def _perimeter(fg: np.ndarray) -> np.ndarray:
    """Per image and channel: foreground pixels' in-bounds background
    4-neighbours, over a (..., W, H) boolean cube."""
    p = (fg[..., 1:, :] & ~fg[..., :-1, :]).sum(axis=(-2, -1))
    p += (fg[..., :-1, :] & ~fg[..., 1:, :]).sum(axis=(-2, -1))
    p += (fg[..., :, 1:] & ~fg[..., :, :-1]).sum(axis=(-2, -1))
    p += (fg[..., :, :-1] & ~fg[..., :, 1:]).sum(axis=(-2, -1))
    return p.astype(np.int64)


def _dec6_mean(values: np.ndarray) -> float:
    """Mean of the values each rounded half-up to 6 decimals, summed
    exactly — the model's deterministic mean."""
    q = Decimal("0.000001")
    total = sum(Decimal(repr(float(v))).quantize(q, ROUND_HALF_UP)
                for v in values)
    return float(total) / len(values)


def _round9(x: float) -> float:
    return float(Decimal(repr(x)).quantize(Decimal("1e-9"), ROUND_HALF_UP))


def cells_features(data: np.ndarray, mask: np.ndarray) -> dict:
    """``data``/``mask``: (N, C, W, H). Returns per-(image, channel)
    area, perimeter, masked mean and circularity arrays of shape (N, C)."""
    area = mask.sum(axis=(-2, -1)).astype(np.int64)
    perim = _perimeter(mask)
    n, c = area.shape
    flat = np.where(mask, 0.0, data).reshape(n, c, -1)
    # a left fold from 0.0, in pixel order
    total = np.cumsum(flat, axis=-1)[..., -1]
    unmasked = (~mask).reshape(n, c, -1).sum(axis=-1)
    mean = total / unmasked
    circ = np.zeros((n, c))
    nz = perim > 0
    circ[nz] = (_FOUR_PI * area[nz]) / (perim[nz] * perim[nz]).astype(float)
    circ = np.vectorize(_round9, otypes=[float])(circ)
    return {"area": area.astype(float), "perimeter": perim.astype(float),
            "mean_intensity": mean, "circularity": circ}


def outlier_votes(feats: dict, z: float = 0.5) -> np.ndarray:
    """Per image: -1 per (feature, channel) value inside
    mean +- z*stddev of its (feature, channel) column, +1 otherwise."""
    votes = None
    for v in feats.values():
        mean = np.array([_dec6_mean(v[:, ch]) for ch in range(v.shape[1])])
        sd = np.sqrt(np.var(v, axis=0, ddof=1))
        per = np.where(np.abs(v - mean) < z * sd, -1, 1).sum(axis=1)
        votes = per if votes is None else votes + per
    return votes


def generate_cells(gen, lo: int, hi: int, c: int, w: int, h: int):
    """(data, mask), each (N, C, W, H), for image ids [lo, hi) from the
    source's per-image generator ``gen(image_id, c, w, h)``."""
    data = np.empty((hi - lo, c, w, h))
    mask = np.empty((hi - lo, c, w, h), dtype=bool)
    for k in range(hi - lo):
        d, m = gen(lo + k, c, w, h)
        data[k] = d.reshape(c, w, h)
        mask[k] = m.reshape(c, w, h)
    return data, mask
