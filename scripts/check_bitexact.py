"""Bitwise engine-vs-oracle comparison — stricter than check_oracle.py:
floats are compared by their IEEE bytes (struct-packed), so signed
zeros and NaN payloads that pass float == are caught. This predicts a
byte-hashing driver gate exactly.

Usage: python scripts/check_bitexact.py [sf_dir] [names...]
Rows are compared order-insensitively, as multisets of canonical rows.
Floats are NOT rounded: each is its exact IEEE bytes. A failing query
reports the size of the multiset symmetric difference (rows present on
one side more often than on the other).
"""

from __future__ import annotations

import math
import struct
import sys
from collections import Counter

import duckdb

sys.path.insert(0, "/root/repo")

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(v):
    import datetime
    import decimal

    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return b"nan"
        return struct.pack(">d", v)
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    # rows are Counter keys (diff_rows): nested values must be hashable
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, canon(x)) for k, x in v.items()))
    return v


def rows_of(recs, cols):
    return sorted(
        (tuple(canon(r[c]) for c in cols) for r in recs),
        key=lambda t: tuple((x is None, repr(x)) for x in t),
    )


def diff_rows(a, b) -> int:
    """Rows in the multiset symmetric difference of two row lists."""
    ca, cb = Counter(a), Counter(b)
    return sum(((ca - cb) + (cb - ca)).values())


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2:]

    import __spark_entry__ as entry
    from osmflat_rs_spark.session import get_spark

    spark = get_spark("check_bitexact", master="local[16]", shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs = entry.queries()
    osql = entry.oracle_sql()
    names = only or [n for n in qs if n in osql]
    failures = 0
    for name in names:
        if name not in osql:
            print(f"[rows-only] {name}: no oracle SQL, skipped")
            continue
        try:
            sdf = qs[name](spark, sf_dir)
            cols = sdf.columns
            srows = rows_of(sdf.collect(), cols)
            ores = con.sql(osql[name])
            orows = rows_of(
                [dict(zip(ores.columns, r)) for r in ores.fetchall()], cols
            )
        except Exception as e:  # noqa: BLE001
            print(f"[ERR] {name}: {type(e).__name__}: {str(e)[:160]}")
            failures += 1
            continue
        if srows == orows:
            print(f"[BIT-OK] {name}: {len(srows)} rows")
        else:
            diff = diff_rows(srows, orows)
            print(f"[BIT-FAIL] {name}: {diff} differing rows of {len(orows)}")
            for a, b in zip(srows, orows):
                if a != b:
                    print(f"    spark={a}\n    duck ={b}")
                    break
            failures += 1
    spark.stop()
    print(f"\n{failures} bit-level failures")


if __name__ == "__main__":
    main()
