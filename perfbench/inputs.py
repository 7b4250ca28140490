"""Seeded benchmark inputs, cached on disk keyed by generator, seed and size.

Every cached input is a directory ``<cache>/<generator>-s<seed>-<size>/``
holding its files plus ``MANIFEST.json``, written last. The manifest lists
each file with its byte size and each table with its row count; a cache
entry is used only if the manifest exists and every file it lists is still
there at the recorded size. Anything else (a run killed mid-write, a
half-deleted directory) is removed and generated again. Small records
derived from a complete entry (output pins, oracle digests) are stored
next to its files with ``put_json``.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
import pandas as pd

MANIFEST = "MANIFEST.json"


class InputCache:
    """Generated inputs under one directory; records generation time."""

    def __init__(self, root: str):
        self.root = root
        self.gen_s = 0.0  # time spent generating in this process (not setup)
        os.makedirs(root, exist_ok=True)

    def get(self, generator: str, seed: int, size: str, build) -> tuple[str, dict]:
        """Return (dir, manifest) for the input, calling ``build(tmp_dir)``
        to create it when the cache has no complete copy. ``build`` returns
        ``{table: rows}``."""
        path = os.path.join(self.root, f"{generator}-s{seed}-{size}")
        manifest = _complete(path)
        if manifest is not None:
            return path, manifest
        t0 = time.perf_counter()
        shutil.rmtree(path, ignore_errors=True)
        tmp = path + ".partial"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        rows = build(tmp)
        files = {}
        for d, _dirs, names in os.walk(tmp):
            for n in names:
                full = os.path.join(d, n)
                files[os.path.relpath(full, tmp)] = os.path.getsize(full)
        manifest = {"generator": generator, "seed": seed, "size": size, "rows": rows, "files": files}
        with open(os.path.join(tmp, MANIFEST), "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        os.replace(tmp, path)
        self.gen_s += time.perf_counter() - t0
        return path, manifest

    def put_json(self, path: str, name: str, obj) -> None:
        """Store a small derived record (a pin) next to a cached input."""
        tmp = os.path.join(path, name + ".tmp")
        with open(tmp, "w") as f:
            json.dump(obj, f, sort_keys=True)
        os.replace(tmp, os.path.join(path, name))

    @staticmethod
    def get_json(path: str, name: str):
        try:
            with open(os.path.join(path, name)) as f:
                return json.load(f)
        except (FileNotFoundError, json.JSONDecodeError):
            return None


def _complete(path: str) -> dict | None:
    try:
        with open(os.path.join(path, MANIFEST)) as f:
            manifest = json.load(f)
    except (FileNotFoundError, json.JSONDecodeError):
        return None
    for rel, size in manifest.get("files", {}).items():
        full = os.path.join(path, rel)
        if not os.path.isfile(full) or os.path.getsize(full) != size:
            return None
    return manifest


# ---------------------------------------------------------------------------
# sf-style tables for the gate mix (the schema of the sf* test tables)
# ---------------------------------------------------------------------------

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
_ADJ = ["large", "hot", "blue", "old", "red", "small", "green", "new"]
_NOUN = ["ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "spring"]
_P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    return (lo + rng.integers(0, (hi - lo).astype(np.int64) + 1, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def sf_tables(seed: int, sf: float) -> dict[str, pd.DataFrame]:
    """The ten sf tables at scale ``sf`` (sf=0.1: 100k events, 600k
    lineitems), with the column types and value ranges of the
    fixed-seed sf* test tables, drawn from ``seed``."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    )
    t["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    t["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    t["part"] = pd.DataFrame(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, n_part), rng.choice(_NOUN, n_part))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_P_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
        }
    )
    t["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            # binary fractions (1/4, 1/64): sums of price * (1 - discount) *
            # (1 + tax) are exact doubles in any order, so the oracles'
            # ROUND(SUM(...), 2) cannot land on different sides of a .005
            "l_extendedprice": rng.integers(3_600, 420_000, n_li) / 4.0,
            "l_discount": rng.integers(0, 7, n_li) / 64.0,
            "l_tax": rng.integers(0, 6, n_li) / 64.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li),
        }
    )
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_ev)) + np.datetime64("2024-01-01", "us").astype(np.int64)
    t["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": ts.astype("datetime64[us]"),
            "user_id": rng.integers(0, int(15_000 * sf), n_ev).astype(np.int64),
            "event_type": rng.choice(_EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts = [" ".join(rng.choice(_WORDS, int(k))) for k in rng.integers(10, 101, n_doc)]
    for i in rng.choice(n_doc, n_doc // 20, replace=False):  # 5% near-duplicates
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    t["documents"] = pd.DataFrame(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(["en", "de", "es", "fr", "zh"], n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
        }
    )
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": list(emb),
            "label": rng.integers(0, 10, n_emb).astype(np.int32),
        }
    )
    return t


def write_sf_tables(seed: int, sf: float, out: str) -> dict:
    """Write the sf tables as one parquet file each (the sf* test table layout)."""
    rows = {}
    for name, pdf in sf_tables(seed, sf).items():
        pdf.to_parquet(os.path.join(out, f"{name}.parquet"), index=False)
        rows[name] = len(pdf)
    return rows
