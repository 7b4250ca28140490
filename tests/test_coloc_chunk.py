"""Co-location join (operators/coloc.py) and sliding-window chunking
(textops.chunk_tokens) vs independent pandas/NumPy oracles."""

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from osmflat_rs_spark.operators.coloc import coloc_pairs, pick_coloc_res
from osmflat_rs_spark.operators.textops import chunk_tokens


def _brute_pairs(pdf: pd.DataFrame, radius: int, window_us: int) -> set:
    ids = pdf["event_id"].to_numpy()
    lat = pdf["lat"].to_numpy(dtype=np.int64)
    lon = pdf["lon"].to_numpy(dtype=np.int64)
    t = pdf["t_us"].to_numpy(dtype=np.int64)
    out = set()
    for i in range(len(pdf)):
        d2 = (lat - lat[i]) ** 2 + (lon - lon[i]) ** 2
        dt = np.abs(t - t[i])
        hit = (d2 <= radius * radius) & (dt <= window_us) & (ids > ids[i])
        for j in np.nonzero(hit)[0]:
            out.add((int(ids[i]), int(ids[j]), int(d2[j]), int(dt[j])))
    return out


def _synth_points(n: int, seed: int, lat0=524_000_000, lon0=132_000_000) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "lat": lat0 + rng.integers(0, 2_000_000, n),
            "lon": lon0 + rng.integers(0, 4_000_000, n),
            "t_us": rng.integers(0, 3_000_000_000_000, n),  # ~35 days
        }
    )


def test_coloc_matches_bruteforce(spark):
    pdf = _synth_points(400, seed=7)
    radius, window = 150_000, 172_800_000_000  # 2 days over a ~35-day span
    got = coloc_pairs(
        spark.createDataFrame(pdf), radius=radius, window_us=window
    ).toPandas()
    want = _brute_pairs(pdf, radius, window)
    assert len(got) == len(want) > 30  # non-trivial pair count
    assert set(map(tuple, got[["id_a", "id_b", "d2", "dt_us"]].itertuples(index=False))) == want


def test_coloc_exact_boundaries(spark):
    # pairs sitting EXACTLY on the radius and window boundaries are in;
    # one unit past is out — int arithmetic end to end, no FP fuzz
    r, w = 1000, 1_000_000
    rows = [
        (0, 100_000, 100_000, 500_000),
        (1, 100_000 + r, 100_000, 500_000),          # d == r exactly
        (2, 100_000 + r + 1, 100_000, 500_000),      # d == r+1: out
        (3, 100_000, 100_000, 500_000 + w),          # dt == w exactly
        (4, 100_000, 100_000, 500_000 + w + 1),      # dt == w+1: out (vs 0)
    ]
    pdf = pd.DataFrame(rows, columns=["event_id", "lat", "lon", "t_us"])
    got = coloc_pairs(spark.createDataFrame(pdf), radius=r, window_us=w).toPandas()
    pairs = set(map(tuple, got[["id_a", "id_b"]].itertuples(index=False)))
    assert (0, 1) in pairs and (0, 3) in pairs
    assert (0, 2) not in pairs and (0, 4) not in pairs
    assert pairs == {p[:2] for p in _brute_pairs(pdf, r, w)}


def test_coloc_grid_edge_and_negative_time(spark):
    # points at the quantizer's clamped corners and with negative
    # timestamps (pre-1970): the floor-div bucket must stay exact
    r, w = 50_000, 1_000_000
    rows = [
        (0, -900_000_000, -1_800_000_000, -5_000_001),
        (1, -900_000_000 + 30_000, -1_800_000_000, -4_500_000),  # in: d=30k, dt=500001
        (2, 900_000_000, 1_799_999_999, 123),
        (3, 900_000_000 - 40_000, 1_799_999_999, 999_999),
    ]
    pdf = pd.DataFrame(rows, columns=["event_id", "lat", "lon", "t_us"])
    got = coloc_pairs(spark.createDataFrame(pdf), radius=r, window_us=w).toPandas()
    want = _brute_pairs(pdf, r, w)
    assert set(map(tuple, got[["id_a", "id_b", "d2", "dt_us"]].itertuples(index=False))) == want
    assert (2, 3) in {p[:2] for p in want}  # the corner pair is real


def test_coloc_pair_uniqueness_random(spark):
    pdf = _synth_points(300, seed=13)
    got = coloc_pairs(
        spark.createDataFrame(pdf), radius=400_000, window_us=50_000_000_000
    ).toPandas()
    assert got.duplicated(["id_a", "id_b"]).sum() == 0
    assert (got["id_a"] < got["id_b"]).all()


def test_pick_coloc_res():
    # finest res whose lat cell still >= radius
    for radius in [1, 100, 100_000, 1_800_000_000]:
        res = pick_coloc_res(radius)
        assert 1_800_000_000 / (1 << res) >= radius or res == 30
        if res < 30:
            assert 1_800_000_000 / (1 << (res + 1)) < radius
    with pytest.raises(ValueError):
        pick_coloc_res(0)


# ---------------------------------------------------------------------------
# chunk_tokens
# ---------------------------------------------------------------------------


def _chunk_oracle(text: str, window: int, stride: int):
    import re

    # engine WS contract: strip edges, split on WS runs; '' for empty
    # (independent restatement, same class as test_training_ops.WS_PY)
    WS_PY = "[\t\n\x0b\f\r \u0085\u00a0\u1680\u2000-\u200a\u2028\u2029\u202f\u205f\u3000]"

    s = re.sub(f"^{WS_PY}+|{WS_PY}+$", "", text.lower())
    toks = re.split(f"{WS_PY}+", s)
    n = len(toks)
    m = 1 if n <= window else 1 + math.ceil((n - window) / stride)
    out = []
    for k in range(m):
        start = k * stride + 1
        chunk = toks[start - 1 : start - 1 + window]
        out.append((k, start, len(chunk), " ".join(chunk)))
    return out


CHUNK_CASES = [
    "",
    "one",
    " padded  edges and　unicode ",
    " ".join(f"w{i}" for i in range(7)),    # n == window
    " ".join(f"w{i}" for i in range(8)),    # n == window+1: 2 chunks
    " ".join(f"w{i}" for i in range(12)),   # n == window+stride: still 2
    " ".join(f"w{i}" for i in range(13)),   # 3 chunks
    " ".join(f"w{i}" for i in range(100)),  # long tail, short last chunk
]


def test_chunk_tokens_matches_oracle(spark):
    W, S = 7, 5
    pdf = pd.DataFrame({"doc_id": range(len(CHUNK_CASES)), "text": CHUNK_CASES})
    got = (
        chunk_tokens(spark.createDataFrame(pdf), "doc_id", "text", window=W, stride=S)
        .orderBy("doc_id", "chunk_idx")
        .toPandas()
    )
    want = []
    for i, txt in enumerate(CHUNK_CASES):
        for row in _chunk_oracle(txt, W, S):
            want.append((i,) + row)
    assert list(map(tuple, got.itertuples(index=False))) == want


def test_chunk_tokens_full_coverage_property(spark):
    # every token index is covered by >= 1 chunk; consecutive chunks
    # overlap by exactly window-stride except the (possibly short) last
    W, S = 64, 48
    rng = np.random.default_rng(3)
    texts = [" ".join(f"t{j}" for j in range(n)) for n in rng.integers(1, 400, 25)]
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    got = chunk_tokens(spark.createDataFrame(pdf), "doc_id", "text", window=W, stride=S).toPandas()
    for doc_id, g in got.groupby("doc_id"):
        n = len(texts[doc_id].split())
        ends = (g["start_tok"] + g["n_tok"] - 1).max()
        assert ends == n  # tail reached exactly
        assert (g["start_tok"].sort_values().diff().dropna() == S).all()
    with pytest.raises(ValueError):
        chunk_tokens(spark.createDataFrame(pdf), "doc_id", "text", window=0, stride=S)


# ---------------------------------------------------------------------------
# pack_sequences
# ---------------------------------------------------------------------------


def _pack_oracle(token_counts, capacity, sep):
    """(seq_id, idx, doc_tok_start, n_tok, seq_off) rows, id order."""
    out, off = [], 0
    for i, n in enumerate(token_counts):
        first, last = off // capacity, (off + n - 1) // capacity
        for s in range(first, last + 1):
            a = max(off, s * capacity)
            b = min(off + n - 1, (s + 1) * capacity - 1)
            out.append((s, i, a - off, b - a + 1, a - s * capacity))
        off += n + sep
    return out


def test_pack_sequences_matches_oracle(spark):
    from osmflat_rs_spark.operators.textops import pack_sequences

    cap, sep = 10, 1
    # lengths hit: empty([''] -> 1), exact-capacity, > capacity (3 seqs),
    # and a run that lands a doc start exactly on a boundary
    lengths = [3, 0, 10, 25, 1, 7, 9, 2, 30, 5]
    texts = [" ".join(f"w{j}" for j in range(n)) if n else "" for n in lengths]
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    got = (
        pack_sequences(spark.createDataFrame(pdf), "doc_id", "text", capacity=cap, sep_tokens=sep)
        .orderBy("doc_id", "seq_id")
        .toPandas()
    )
    # words_expr gives max(n,1) tokens ('' for the empty doc)
    want = _pack_oracle([max(n, 1) for n in lengths], cap, sep)
    want.sort(key=lambda r: (r[1], r[0]))
    assert list(map(tuple, got.itertuples(index=False))) == want


def test_pack_sequences_tiling_properties(spark):
    from osmflat_rs_spark.operators.textops import pack_sequences

    cap = 64
    rng = np.random.default_rng(11)
    lengths = rng.integers(1, 300, 40)
    texts = [" ".join(f"t{j}" for j in range(n)) for n in lengths]
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    got = pack_sequences(
        spark.createDataFrame(pdf), "doc_id", "text", capacity=cap, sep_tokens=0
    ).toPandas()
    # with sep=0 the segments tile the global stream with no gaps:
    # every sequence except the last is exactly full
    per_seq = got.groupby("seq_id")["n_tok"].sum().sort_index()
    assert (per_seq.iloc[:-1] == cap).all() and 0 < per_seq.iloc[-1] <= cap
    # per-doc reconstruction: segment ranges concatenate to [0, n)
    for doc_id, g in got.groupby("doc_id"):
        g = g.sort_values("seq_id")
        assert g["doc_tok_start"].iloc[0] == 0
        assert (g["doc_tok_start"] + g["n_tok"]).iloc[-1] == lengths[doc_id]
        assert (g["doc_tok_start"].iloc[1:].to_numpy()
                == (g["doc_tok_start"] + g["n_tok"]).iloc[:-1].to_numpy()).all()
    # segments within a sequence never overlap
    for seq_id, g in got.groupby("seq_id"):
        g = g.sort_values("seq_off")
        assert (g["seq_off"].iloc[1:].to_numpy()
                >= (g["seq_off"] + g["n_tok"]).iloc[:-1].to_numpy()).all()
    with pytest.raises(ValueError):
        pack_sequences(spark.createDataFrame(pdf), "doc_id", "text", capacity=0)


# ---------------------------------------------------------------------------
# coloc_join (two-table) + stream_coloc_assign
# ---------------------------------------------------------------------------


def test_coloc_join_two_table_matches_bruteforce(spark):
    from osmflat_rs_spark.operators.coloc import coloc_join

    pts = _synth_points(300, seed=21)
    ref = _synth_points(40, seed=22).rename(columns={"event_id": "ref_id"})
    r, w = 400_000, 1_000_000_000_000
    got = coloc_join(
        spark.createDataFrame(pts), spark.createDataFrame(ref),
        radius=r, window_us=w,
    ).toPandas()
    want = set()
    for a in pts.itertuples():
        for b in ref.itertuples():
            d2 = int(a.lat - b.lat) ** 2 + int(a.lon - b.lon) ** 2
            dt = abs(int(a.t_us - b.t_us))
            if d2 <= r * r and dt <= w:
                want.add((a.event_id, b.ref_id, d2, dt))
    assert set(map(tuple, got.itertuples(index=False))) == want
    assert len(want) > 100  # non-trivial pair count
    with pytest.raises(ValueError):
        coloc_join(spark.createDataFrame(pts), spark.createDataFrame(ref),
                   radius=r, window_us=w, left_id="event_id", right_id="event_id")


def test_stream_coloc_assign_matches_batch_exactly_once(spark, tmp_path):
    from osmflat_rs_spark.operators.coloc import coloc_join
    from osmflat_rs_spark.streaming.incremental import stream_coloc_assign

    pts = _synth_points(400, seed=31)
    ref = _synth_points(30, seed=32).rename(columns={"event_id": "ref_id"})
    r, w = 250_000, 200_000_000_000
    pts_dir, out_dir, ckpt = str(tmp_path / "pts"), str(tmp_path / "out"), str(tmp_path / "ck")
    spark.createDataFrame(pts.iloc[:200]).write.mode("append").parquet(pts_dir)
    spark.createDataFrame(pts.iloc[200:]).write.mode("append").parquet(pts_dir)
    ref_df = spark.createDataFrame(ref)

    schema = "event_id long, lat long, lon long, t_us long"
    q = stream_coloc_assign(
        spark, pts_dir, schema, ref_df, out_dir, ckpt, radius=r, window_us=w
    )
    q.awaitTermination(180)
    got_rows = spark.read.parquet(out_dir).collect()
    got = {(r2["event_id"], r2["ref_id"], r2["d2"], r2["dt_us"]) for r2 in got_rows}
    assert len(got_rows) == len(got)  # no duplicate pairs
    want = {
        tuple(r2)
        for r2 in coloc_join(
            spark.read.parquet(pts_dir), ref_df, radius=r, window_us=w
        ).collect()
    }
    assert got == want and len(got) > 10

    # restart on the drained source appends nothing (exactly-once)
    q2 = stream_coloc_assign(
        spark, pts_dir, schema, ref_df, out_dir, ckpt, radius=r, window_us=w
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == len(got)


# ---------------------------------------------------------------------------
# plan shapes (the scale contract, pinned)
# ---------------------------------------------------------------------------


def test_coloc_join_broadcast_plan_never_shuffles_left(spark):
    """The reference side broadcasts, so the big/streaming side must reach the
    join through Project/explode only — zero Exchange on the left path
    (the shape stream_coloc_assign relies on for stateless append mode)."""
    from osmflat_rs_spark.operators.coloc import coloc_join

    pts = spark.createDataFrame(_synth_points(200, seed=41))
    ref = spark.createDataFrame(_synth_points(20, seed=42).rename(columns={"event_id": "ref_id"}))
    plan = (
        coloc_join(pts, ref, radius=100_000, window_us=3_600_000_000)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan, plan[:3000]
    assert "SortMergeJoin" not in plan, plan[:3000]
    assert "Exchange hashpartitioning" not in plan, plan[:3000]


def test_chunk_and_pack_plan_shapes(spark):
    """chunk_tokens is a pure map pipeline: ZERO Exchanges, no UDF.
    pack_sequences' only Exchange on doc rows is the prefix sum's range
    partition, which runs while the call checkpoints the sorted layout —
    never a hashpartitioning on doc rows."""
    from osmflat_rs_spark.operators.textops import pack_sequences
    from tests.util import plans_of_call

    pdf = pd.DataFrame({"doc_id": range(100), "text": ["a b c d e"] * 100})
    docs = spark.createDataFrame(pdf)
    chunk_plan = (
        chunk_tokens(docs, "doc_id", "text", window=3, stride=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in chunk_plan, chunk_plan[:3000]
    assert "Python" not in chunk_plan, chunk_plan[:3000]  # no UDF anywhere

    pack, call_plans = plans_of_call(spark, lambda: pack_sequences(docs, "doc_id", "text", capacity=7))
    pack_plan = pack._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in pack_plan, pack_plan[:3000]
    assert any("rangepartitioning" in p for p in call_plans), call_plans


# ------------------------------------------------------------------ knox


def _brute_knox(pdf: pd.DataFrame, radius: int, window_us: int):
    lat = pdf["lat"].to_numpy(dtype=np.int64)
    lon = pdf["lon"].to_numpy(dtype=np.int64)
    t = pdf["t_us"].to_numpy(dtype=np.int64)
    n = len(pdf)
    x = ns = nt = 0
    for i in range(n):
        for j in range(i + 1, n):
            s = (int(lat[i] - lat[j]) ** 2 + int(lon[i] - lon[j]) ** 2) <= radius * radius
            tm = abs(int(t[i] - t[j])) <= window_us
            ns += s
            nt += tm
            x += s and tm
    return x, ns, nt, n * (n - 1) // 2


def test_knox_statistic_matches_bruteforce(spark):
    from osmflat_rs_spark.operators.coloc import knox_statistic

    pdf = _synth_points(300, seed=11)
    radius, window = 120_000, 60_000_000_000
    x, ns, nt, npairs = _brute_knox(pdf, radius, window)
    assert x > 0 and ns > x and nt > x  # the case is non-degenerate
    row = knox_statistic(
        spark.createDataFrame(pdf), radius=radius, window_us=window
    ).collect()[0]
    assert (row["n_points"], row["n_pairs"]) == (300, npairs)
    assert (row["x_knox"], row["n_space"], row["n_time"]) == (x, ns, nt)
    e = ns / npairs * nt
    assert row["expected"] == round(e, 6)
    assert abs(row["z"] - (x - e) / math.sqrt(e)) < 1e-6

    # partition invariance (counts are exact ints; floats are one fixed
    # IEEE expression over them, so the whole row is bit-stable)
    row2 = knox_statistic(
        spark.createDataFrame(pdf).repartition(13), radius=radius, window_us=window
    ).collect()[0]
    assert row2.asDict() == row.asDict()


def test_knox_statistic_degenerate_and_validation(spark):
    import pytest as _pytest

    from osmflat_rs_spark.operators.coloc import knox_statistic

    one = spark.createDataFrame(
        [(1, 10, 10, 100)], "event_id long, lat long, lon long, t_us long"
    )
    row = knox_statistic(one, radius=100, window_us=100).collect()[0]
    assert (row["n_points"], row["n_pairs"], row["x_knox"]) == (1, 0, 0)
    assert row["expected"] is None and row["z"] is None
    with _pytest.raises(ValueError):
        knox_statistic(one, radius=100, window_us=0)
