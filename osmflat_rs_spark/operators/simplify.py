"""Polyline simplification: exact Ramer–Douglas–Peucker per line.

The zoom-dependent geometry-reduction step every tile pipeline runs
before the vector sinks (reference anchor: the renderer draws raw way
polylines, render-roads.rs — at low zooms a simplified way is the
standard substitute; `tiling.tile_assign_segments` + `render.py` consume
the output unchanged).

Semantics — Ramer's LINE-distance variant, EXACT integer arithmetic:

- per line (ordered vertices), recurse on ranges (lo, hi): find the
  interior vertex maximizing the squared distance to the infinite line
  through v[lo], v[hi]; if that maximum exceeds eps, KEEP it and recurse
  on both halves, else drop every interior vertex of the range;
- the distance compare is rational-exact: cross((b−a), (p−a))² > eps²·|b−a|²
  — arbitrary-precision Python ints engine-side (cross² exceeds int64 at
  WGS84 fixed-point scale), HUGEINT in the SQL oracle;
- degenerate chord (v[lo] == v[hi], e.g. closed rings): the metric falls
  back to squared POINT distance to v[lo] (> eps²);
- argmax ties break to the SMALLEST index — pinned on both sides;
- endpoints are always kept; single-vertex lines pass through.

The kept set is a deterministic function of the ranges (stack order is
irrelevant), which is what makes the recursion restatable as a DuckDB
recursive CTE (the gate's oracle): each range row computes its split
with correlated subqueries and emits its two children; the kept
vertices are exactly the distinct range endpoints.

Scale shape: one groupBy(key) shuffle into ``applyInPandas``; each line
simplifies independently (the per-line DP is genuinely recursive — the
legitimate Arrow-batch Python case, like the PIP refine). Worst case
O(n²) per line with n = vertices per line — bounded by the line, never
by the corpus; at OSM scale ways are ~10²-10³ vertices.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _dp_keep(xs: list, ys: list, eps2: int) -> list:
    """Exact-int RDP keep mask (module-level: picklable, unit-testable)."""
    n = len(xs)
    keep = [False] * n
    keep[0] = keep[-1] = True
    stack = [(0, n - 1)]
    while stack:
        lo, hi = stack.pop()
        if hi - lo <= 1:
            continue
        ax, ay, bx, by = xs[lo], ys[lo], xs[hi], ys[hi]
        dx, dy = bx - ax, by - ay
        degenerate = dx == 0 and dy == 0
        thr = eps2 if degenerate else eps2 * (dx * dx + dy * dy)
        best, bestm = -1, -1
        for i in range(lo + 1, hi):
            if degenerate:
                px, py = xs[i] - ax, ys[i] - ay
                m = px * px + py * py
            else:
                c = dx * (ys[i] - ay) - dy * (xs[i] - ax)
                m = c * c
            if m > bestm:
                bestm, best = m, i
        if bestm > thr:
            keep[best] = True
            stack.append((lo, best))
            stack.append((best, hi))
    return keep


def simplify_lines(
    vertices: DataFrame,
    key: str | list[str],
    eps: int,
    order_cols: tuple = (),
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """→ the kept subset of ``vertices`` rows (all input columns pass
    through unchanged), per-line exact RDP at tolerance ``eps`` (same
    fixed-point units as ``lat``/``lon``)."""
    if eps < 0:
        raise ValueError(f"eps must be >= 0, got {eps}")
    keys = [key] if isinstance(key, str) else list(key)
    order = list(order_cols)
    if not order:
        raise ValueError("order_cols is required (RDP is order-defined)")
    eps2 = int(eps) * int(eps)
    schema = vertices.schema
    latc, lonc = lat, lon

    def _simplify(pdf: pd.DataFrame) -> pd.DataFrame:
        g = pdf.sort_values(order, kind="mergesort")
        if len(g) <= 2:
            return g
        xs = [int(v) for v in g[lonc]]
        ys = [int(v) for v in g[latc]]
        return g.loc[_dp_keep(xs, ys, eps2)]

    pts = vertices.filter(F.col(lat).isNotNull() & F.col(lon).isNotNull())
    return pts.groupBy(*keys).applyInPandas(_simplify, schema=schema)


def chaikin_smooth(
    vertices: DataFrame,
    key: str | list[str],
    order_cols: tuple = (),
    iters: int = 2,
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Chaikin corner-cutting smoothing (Chaikin 1974) → (key..., pos,
    lat_s, lon_s): the rendering-side complement of RDP — RDP REMOVES
    vertices within tolerance, Chaikin INSERTS the ¼/¾ subdivision
    points that round corners for display. Keep-endpoints variant:
    [P₀, Q₀, R₀, …, Q_{n−2}, R_{n−2}, P_{n−1}] per pass with
    Qᵢ = ¾Pᵢ + ¼Pᵢ₊₁ and Rᵢ = ¼Pᵢ + ¾Pᵢ₊₁.

    Exact-integer contract: output coordinates are scaled by 4^iters
    (each pass multiplies by 4: Q = 3Pᵢ + Pᵢ₊₁, R = Pᵢ + 3Pᵢ₊₁,
    endpoints by 4), so every value is an exact int64 — no float mixes,
    hash-exact oracle. Fixed-point world coords stay far under the
    bound (5.4e8 · 4² ≈ 8.6e9); ``iters`` ≤ 15 guarded.

    Plan shape (r6): ONE groupBy shuffle collects each line's ordered
    vertex array; an explicit keyed repartition pins the smoothing
    stage's parallelism (AQE coalesced the ~MB array shuffle to 3 tasks
    at the sf0.1 gate); the K subdivision passes run VECTORIZED in one
    Arrow stage over flat int64 coordinate arrays (offset-indexed
    NumPy — the concat/repeat pattern of the engine's one DDA stage,
    tiling.dda_pixels_distinct),
    which also emits the exploded (pos, lat_s, lon_s) rows. The prior
    in-row Catalyst-HOF cascade evaluated interpreted per ELEMENT and,
    with K stacked passes, re-derived pass k−1 on every element access
    of pass k — measured 120+ s of task CPU for 1,500 66-vertex lines
    at the sf0.1 gate vs ~0.2 s vectorized (identical exact-int
    output). Output size is ~2^K·n rows — K is small by nature (2-3
    passes saturate visual smoothness). Singleton lines pass through
    (scaled)."""
    if not order_cols:
        raise ValueError("order_cols is required (smoothing is order-defined)")
    if not (1 <= iters <= 15):
        raise ValueError(f"iters must be in [1, 15], got {iters}")
    keys = [key] if isinstance(key, str) else list(key)
    pts = vertices.filter(F.col(lat).isNotNull() & F.col(lon).isNotNull())
    ordered = pts.groupBy(*keys).agg(
        F.array_sort(
            F.collect_list(
                F.struct(*[F.col(c) for c in order_cols], F.col(lat), F.col(lon))
            )
        ).alias("_arr")
    )
    import numpy as np
    import pandas as pd

    n_part = int(vertices.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    flat = ordered.select(
        *keys,
        F.transform(F.col("_arr"), lambda s: s[lat].cast("long")).alias("_la"),
        F.transform(F.col("_arr"), lambda s: s[lon].cast("long")).alias("_lo"),
    ).repartition(n_part, *keys)

    key_types = {f.name: f.dataType.simpleString() for f in vertices.schema.fields}
    out_schema = ", ".join(
        [f"{k} {key_types[k]}" for k in keys] + ["pos int", "lat_s bigint", "lon_s bigint"]
    )
    n_iters = int(iters)

    def _one_pass(la, lo, lens, starts):
        """One keep-endpoints pass over ALL lines at once (flat int64).
        Pattern per n>=2 line: [4·P0, Q0, R0, …, Q_{n-2}, R_{n-2},
        4·P_{n-1}] (2n points, Q=3P_i+P_{i+1}, R=P_i+3P_{i+1});
        singletons (n=1) map to [4·P0] — for them j==0 is also the last
        index, so the endpoint writes below cover them with no branch."""
        out_lens = np.where(lens < 2, lens, 2 * lens)
        total = int(out_lens.sum())
        out_starts = np.concatenate(([0], np.cumsum(out_lens)[:-1]))
        line = np.repeat(np.arange(len(lens)), out_lens)
        j = np.arange(total, dtype=np.int64) - out_starts[line]
        n_l = lens[line]
        i = np.clip((j - 1) >> 1, 0, np.maximum(n_l - 2, 0))
        p = starts[line] + np.minimum(i, n_l - 1)
        q = starts[line] + np.minimum(i + 1, n_l - 1)
        odd = (j & 1) == 1
        nla = np.where(odd, 3 * la[p] + la[q], la[p] + 3 * la[q])
        nlo = np.where(odd, 3 * lo[p] + lo[q], lo[p] + 3 * lo[q])
        first = j == 0
        lastm = j == out_lens[line] - 1
        nla = np.where(first, 4 * la[starts[line]], nla)
        nlo = np.where(first, 4 * lo[starts[line]], nlo)
        nla = np.where(lastm, 4 * la[starts[line] + n_l - 1], nla)
        nlo = np.where(lastm, 4 * lo[starts[line] + n_l - 1], nlo)
        return nla, nlo, out_lens

    def _smooth(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            la = np.concatenate([np.asarray(a, dtype=np.int64) for a in pdf["_la"]])
            lo = np.concatenate([np.asarray(a, dtype=np.int64) for a in pdf["_lo"]])
            lens = np.array([len(a) for a in pdf["_la"]], dtype=np.int64)
            for _ in range(n_iters):
                starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
                la, lo, lens = _one_pass(la, lo, lens, starts)
            line = np.repeat(np.arange(len(lens)), lens)
            starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
            pos = (np.arange(int(lens.sum()), dtype=np.int64) - starts[line]).astype(np.int32)
            out = {k: pdf[k].to_numpy()[line] for k in keys}
            out["pos"] = pos
            out["lat_s"] = la
            out["lon_s"] = lo
            yield pd.DataFrame(out)

    return flat.mapInPandas(_smooth, out_schema)
