"""Engine-vs-oracle gate check: run each ``__spark_entry__.queries()``
entry on Spark and its ``oracle_sql()`` twin on DuckDB, and compare the
two results bit for bit.

Usage: python scripts/gate.py [sf_dir] [names...]
(sf_dir defaults to TESTDATA.md's sf0.01 tables; no names = every gate)

A gate passes (``OK``) when both sides have the same column names and
the same rows as multisets of canonical rows: floats are their exact
IEEE bytes (so -0.0 != 0.0, the stricter verdict a byte-hashing driver
sees), NaNs are equal to each other, decimals are compared as doubles.
An oracle column that DuckDB widened to HUGEINT/INT128/DECIMAL fails
even when the values match, because a type-sensitive driver hash would
not. A gate without oracle SQL runs on Spark only (``rows-only``).

One flushed JSON line per gate (name, verdict, rows, Spark sec, and on a
row mismatch the differing-row count plus the first differing pair),
then a summary line; the exit status is 1 when any gate failed.

``sec`` times the engine alone: building the gate's plan and running it
to Spark's ``noop`` sink (the sink perfbench and the BENCH/BASELINE.md
A/Bs use). The rows for the compare come from a second, untimed run of
the same plan that collects to the driver, so each gate executes twice.
"""

from __future__ import annotations

import datetime
import decimal
import json
import math
import struct
import sys
import time
from collections import Counter
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(v):
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


def widened(rel) -> list[tuple[str, str]]:
    """Oracle columns DuckDB widened where Spark stays BIGINT/DOUBLE
    (window SUM(BIGINT) -> HUGEINT, AVG/decimal math -> DECIMAL). Python
    fetch hides this (both arrive as int), so check the DuckDB type."""
    return [
        (c, str(t)) for c, t in zip(rel.columns, rel.types)
        if any(k in str(t).upper() for k in ("HUGEINT", "INT128", "DECIMAL"))
    ]


def _shown(v):
    """A canonical value back in readable form, for the JSON report."""
    if v == b"nan":
        return "nan"
    if isinstance(v, bytes) and len(v) == 8:
        return repr(struct.unpack(">d", v)[0])
    if isinstance(v, tuple):
        return [_shown(x) for x in v]
    return v


def oracle_connection(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def check_gate(spark, con, sf_dir: str, name: str, fn, sql: str | None) -> dict:
    """Run one gate on Spark (timed to the noop sink, then collected
    untimed) and, given ``sql``, on DuckDB; the report's ``verdict`` is
    ``OK``, ``rows-only`` or a failure kind."""
    out = {"name": name}
    try:
        t0 = time.time()
        sdf = fn(spark, sf_dir)
        sdf.write.mode("overwrite").format("noop").save()
        sec = round(time.time() - t0, 3)
        scols = sdf.columns
        srecs = sdf.collect()
    except Exception as e:  # noqa: BLE001
        return {**out, "verdict": "spark-error", "error": f"{type(e).__name__}: {str(e)[:300]}"}
    out.update(rows=len(srecs), sec=sec)
    if sql is None:
        return {**out, "verdict": "rows-only"}
    try:
        rel = con.sql(sql)
        wide = widened(rel)
        if wide:
            return {**out, "verdict": "oracle-type", "widened": wide}
        ocols = rel.columns
        orecs = [dict(zip(ocols, r)) for r in rel.fetchall()]
    except Exception as e:  # noqa: BLE001
        return {**out, "verdict": "oracle-error", "error": f"{type(e).__name__}: {str(e)[:300]}"}
    if sorted(scols) != sorted(ocols):
        return {**out, "verdict": "schema", "spark_cols": sorted(scols), "oracle_cols": sorted(ocols)}
    cols = sorted(scols)
    srows, orows = rows_of(srecs, cols), rows_of(orecs, cols)
    if srows == orows:
        return {**out, "verdict": "OK"}
    # Counter difference keeps insertion (= sorted) order: the first key
    # on each side is its first row the other side lacks
    ca, cb = Counter(srows), Counter(orows)
    first = [next(iter(c), None) for c in (ca - cb, cb - ca)]
    return {
        **out,
        "verdict": "mismatch",
        "oracle_rows": len(orows),
        "differing": diff_rows(srows, orows),
        "first": {
            side: None if r is None else dict(zip(cols, _shown(r)))
            for side, r in zip(("spark", "oracle"), first)
        },
    }


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    import __spark_entry__ as entry
    from osmflat_rs_spark.session import get_spark

    qs = entry.queries()
    osql = entry.oracle_sql()
    names = sys.argv[2:] or list(qs)
    unknown = [n for n in names if n not in qs]
    if unknown:
        sys.exit(f"unknown gates: {unknown}")

    spark = get_spark("gate")
    con = oracle_connection(sf_dir)
    counts: Counter = Counter()
    failed = []
    for name in names:
        spark.sparkContext.setJobDescription(f"gate {name}")
        rep = check_gate(spark, con, sf_dir, name, qs[name], osql.get(name))
        print(json.dumps(rep, default=str), flush=True)
        counts[rep["verdict"]] += 1
        if rep["verdict"] not in ("OK", "rows-only"):
            failed.append(name)
    spark.stop()
    print(json.dumps({"gates": len(names), **counts, "failed": failed}), flush=True)
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
