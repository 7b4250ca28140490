"""interval_join: model parity, exactly-once output (no distinct in the
plan), closed-boundary semantics, negative coordinates, poison rows."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from osmflat_rs_spark.operators.intervals import interval_join


def _mk(spark, rows):
    return spark.createDataFrame(rows, "iid long, s long, e long")


def _join(spark, lrows, rrows, bs):
    out = interval_join(
        _mk(spark, lrows), _mk(spark, rrows), "iid", "s", "e", "iid", "s", "e",
        bucket_size=bs,
    )
    return [(r["l_id"], r["r_id"]) for r in out.collect()]


def test_matches_model_and_exactly_once(spark):
    rng = np.random.default_rng(17)
    left = [(i, int(s), int(s + d)) for i, (s, d) in enumerate(
        zip(rng.integers(-50_000, 50_000, 400), rng.integers(0, 30_000, 400)))]
    right = [(i, int(s), int(s + d)) for i, (s, d) in enumerate(
        zip(rng.integers(-50_000, 50_000, 400), rng.integers(0, 30_000, 400)))]
    want = sorted(
        (l[0], r[0]) for l in left for r in right if l[1] <= r[2] and r[1] <= l[2]
    )
    got = _join(spark, left, right, bs=4096)
    # exactly once: list equality (not set) proves zero duplicates even
    # though long intervals share many buckets
    assert sorted(got) == want
    # bucket size is candidate machinery only
    assert sorted(_join(spark, left, right, bs=1 << 20)) == want
    assert sorted(_join(spark, left, right, bs=7)) == want


def test_closed_boundaries_and_poison(spark):
    left = [(1, 0, 100), (2, 200, 300), (3, 5, None), (4, 50, 40)]
    right = [(10, 100, 150), (11, 301, 400), (12, -5, 0)]
    got = _join(spark, left, right, bs=64)
    # touching endpoints DO overlap (closed intervals); inverted and
    # NULL rows are dropped
    assert sorted(got) == [(1, 10), (1, 12)]


def test_validation(spark):
    with pytest.raises(ValueError):
        interval_join(
            _mk(spark, [(1, 0, 1)]), _mk(spark, [(2, 0, 1)]),
            "iid", "s", "e", "iid", "s", "e", bucket_size=0,
        )


# ----------------------------------------------------------- merge_intervals


def _brute_merge(rows):
    # rows: (g, s, e) -> {g: [(m_start, m_end, n_source), ...]}
    out = {}
    for g in {r[0] for r in rows}:
        ivs = sorted((s, e) for gg, s, e in rows if gg == g and s <= e)
        merged = []
        for s, e in ivs:
            if merged and s <= merged[-1][1]:
                merged[-1][1] = max(merged[-1][1], e)
                merged[-1][2] += 1
            else:
                merged.append([s, e, 1])
        out[g] = sorted(tuple(m) for m in merged)
    return out


def test_merge_intervals_model_parity(spark):
    from osmflat_rs_spark.operators.intervals import merge_intervals

    rng = np.random.default_rng(21)
    rows = []
    for i in range(400):
        g = int(rng.integers(0, 8))
        s = int(rng.integers(0, 1000))
        rows.append((g, s, s + int(rng.integers(0, 60))))
    want = _brute_merge(rows)
    df = spark.createDataFrame(rows, "g long, s long, e long")
    for d in (df, df.repartition(7)):
        got = {}
        for r in merge_intervals(d, "g", "s", "e").collect():
            got.setdefault(r["g"], []).append((r["m_start"], r["m_end"], r["n_source"]))
        got = {g: sorted(v) for g, v in got.items()}
        assert got == want


def test_merge_intervals_touch_gap_and_poison(spark):
    from osmflat_rs_spark.operators.intervals import merge_intervals

    rows = [
        ("u", 1, 2), ("u", 2, 5),      # touch -> merges
        ("u", 7, 9),                   # gap of 2 -> splits
        ("v", 1, 2), ("v", 3, 5),      # integer-adjacent -> splits (closed contract)
        ("w", 5, 3),                   # inverted -> dropped
        ("w", None, 4),                # null -> dropped
        ("w", 0, 10), ("w", 2, 3),     # containment -> one run, n_source 2
    ]
    df = spark.createDataFrame(rows, "g string, s long, e long")
    got = {}
    for r in merge_intervals(df, "g", "s", "e").collect():
        got.setdefault(r["g"], []).append((r["m_start"], r["m_end"], r["n_source"]))
    got = {g: sorted(v) for g, v in got.items()}
    assert got == {
        "u": [(1, 5, 2), (7, 9, 1)],
        "v": [(1, 2, 1), (3, 5, 1)],
        "w": [(0, 10, 2)],
    }


# ---------------------------------------------------------------- bbox_join


def _brute_bbox(lt, rt):
    out = set()
    for li, lx0, ly0, lx1, ly1 in lt:
        for ri, rx0, ry0, rx1, ry1 in rt:
            ox0, oy0 = max(lx0, rx0), max(ly0, ry0)
            ox1, oy1 = min(lx1, rx1), min(ly1, ry1)
            if ox0 <= ox1 and oy0 <= oy1:
                out.add((li, ri, ox0, oy0, ox1, oy1))
    return out


def _rand_boxes(n, seed, lo=-500, hi=500, wmax=80):
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        x0 = int(rng.integers(lo, hi))
        y0 = int(rng.integers(lo, hi))
        rows.append((i, x0, y0, x0 + int(rng.integers(0, wmax)), y0 + int(rng.integers(0, wmax))))
    return rows


def test_bbox_join_matches_bruteforce_any_cell_size(spark):
    from osmflat_rs_spark.operators.bbox import bbox_join

    lt, rt = _rand_boxes(80, 1), _rand_boxes(90, 2)
    want = _brute_bbox(lt, rt)
    schema = "id long, x_min long, y_min long, x_max long, y_max long"
    ldf = spark.createDataFrame(lt, schema).withColumnRenamed("id", "la")
    rdf = spark.createDataFrame(rt, schema).withColumnRenamed("id", "rb")
    for cell in (7, 64, 1000, 10**9):  # incl. one-cell-world: still exactly-once
        got = {
            tuple(r)
            for r in bbox_join(ldf, rdf, cell, left_id="la", right_id="rb").collect()
        }
        assert got == want, f"cell={cell}"


def test_bbox_join_touching_containment_poison_validation(spark):
    from osmflat_rs_spark.operators.bbox import bbox_join

    schema = "id long, x_min long, y_min long, x_max long, y_max long"
    lt = [(1, 0, 0, 10, 10), (2, -30, -30, -20, -20), (3, 5, 3, 2, 8)]  # 3 inverted
    rt = [(10, 10, 10, 20, 20),   # touches corner of 1
          (11, 2, 2, 3, 3),       # contained in 1
          (12, -25, -25, -24, -24),  # inside 2 (negative coords)
          (13, 100, 100, None, 110)]  # poison
    got = {
        tuple(r)
        for r in bbox_join(
            spark.createDataFrame(lt, schema).withColumnRenamed("id", "la"),
            spark.createDataFrame(rt, schema).withColumnRenamed("id", "rb"),
            8, left_id="la", right_id="rb",
        ).collect()
    }
    assert got == {
        (1, 10, 10, 10, 10, 10),
        (1, 11, 2, 2, 3, 3),
        (2, 12, -25, -25, -24, -24),
    }
    ldf = spark.createDataFrame(lt, schema)
    with pytest.raises(ValueError):
        bbox_join(ldf.withColumnRenamed("id", "la"),
                  ldf.withColumnRenamed("id", "rb"), 0, left_id="la", right_id="rb")
    with pytest.raises(ValueError):
        bbox_join(ldf, ldf, 8, left_id="id", right_id="id")  # colliding ids


def test_concurrency_curve_matches_sweep_model(spark):
    """Running concurrency equals the brute sweep; same-instant
    arrivals/departures net out into one change point; the curve
    returns to zero; degenerate intervals raise."""
    import pytest as _pytest

    from osmflat_rs_spark.operators.intervals import concurrency_curve

    iv = [(0, 10), (5, 15), (10, 20), (10, 12), (18, 25)]
    df = spark.createDataFrame(iv, "s long, e long")
    rows = sorted(
        (r["t"], r["delta"], r["concurrent"])
        for r in concurrency_curve(df, "s", "e").collect()
    )
    deltas = {}
    for s, e in iv:
        deltas[s] = deltas.get(s, 0) + 1
        deltas[e] = deltas.get(e, 0) - 1
    run = 0
    want = []
    for t in sorted(deltas):
        if deltas[t] == 0:
            continue
        run += deltas[t]
        want.append((t, deltas[t], run))
    assert rows == want
    # at t=10: one end (-1) and two starts (+2) -> single +1 change
    # point, concurrency 2 -> 3
    assert (10, 1, 3) in rows
    assert rows[-1][2] == 0
    with _pytest.raises(ValueError):
        concurrency_curve(spark.createDataFrame([(5, 5)], "s long, e long"), "s", "e").collect()
