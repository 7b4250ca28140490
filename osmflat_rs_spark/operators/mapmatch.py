"""HMM map-matching (Newson & Krumm 2009, VLDB'09 "Hidden Markov Map
Matching Through Noise and Sparseness"): snap each GPS trajectory onto
the road network by choosing, per point, the candidate segment that
makes the WHOLE trajectory most probable — robust where independent
per-point snapping (`snap.nearest_segment_join`) zig-zags between
parallel roads.

Model (negative log-likelihood, constants dropped):

- emission cost of candidate c at point p:  d²(p, c) / (2σ²) — the
  Gaussian GPS-noise term, with d the snap distance;
- transition cost between consecutive candidates: |route(c_i, c_j) −
  gps(p_i, p_j)| / β — Newson-Krumm's exponential on the difference
  between network travel distance and great-circle distance. This
  implementation uses the STRAIGHT LINE between snap points as the
  route-distance proxy (the standard simplification when no routable
  graph is carried; stated loudly because it is the one semantic
  departure from the paper — plumb a route-distance table through
  ``route_dist`` when you have one).

Scale shape: candidates come from the distributed cell-cover snap join
(`nearest_segment_join(k=...)` — no crossJoin, no driver loop); the
Viterbi itself is `applyInPandas` per entity — O(T·k²) time, O(T·k)
memory, under the same bounded-trajectory contract as `trajectory.py`
(a single entity's track fits in a worker; 10⁸ entities parallelize on
the groupBy key, one entity never splits).

Conventions (pinned by tests and the driver gate):
- points with NO in-radius candidate are dropped BEFORE sequencing
  (gap-skip: their neighbors become adjacent; the transition then
  bridges the hole);
- steps are ordered by (ts, point_id) per entity; `step` is 1-based;
- costs accumulate LEFT TO RIGHT as ((acc + transition) + emission) —
  the exact IEEE tree the SQL oracle states, so equal-cost ties can
  only arise from genuinely symmetric geometry;
- tie-break: candidates sort by ascending sid; argmin takes the first
  minimum (= smallest sid) at every step and at the final state.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def map_match(
    points: DataFrame,
    segments: DataFrame,
    radius: int,
    k: int = 3,
    sigma: float = 50_000.0,
    beta: float = 20_000.0,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    point_id: str = "event_id",
    cell_size: int = 1 << 16,
) -> DataFrame:
    """→ (entity, step, point_id, sid, snap_lon, snap_lat): the
    Viterbi-optimal segment assignment per (matched) trajectory point.

    ``points`` needs (point_id, entity_col, ts_col, lat, lon);
    ``segments`` needs (sid, lat1, lon1, lat2, lon2) — fixed-point
    int64 coordinates throughout; ``sigma``/``beta`` are in the same
    fixed-point units."""
    from osmflat_rs_spark.operators.snap import nearest_segment_join

    if sigma <= 0 or beta <= 0:
        raise ValueError(f"sigma and beta must be > 0, got {sigma}, {beta}")
    slim = points.select(
        F.col(point_id).cast("long").alias("pid"),
        F.col(entity_col).alias("entity"),
        F.col(ts_col).alias("_ts"),
        F.col("lat").cast("long").alias("lat"),
        F.col("lon").cast("long").alias("lon"),
    )
    cand = nearest_segment_join(
        slim.select(F.col("pid").alias("query_id"), "lat", "lon"),
        segments,
        radius=radius,
        cell_size=cell_size,
        k=max(int(k), 2),  # k=1 path has no rank col; Viterbi wants >=2 anyway
    ).filter(F.col("rank") <= int(k))
    j = cand.join(
        slim.withColumnRenamed("pid", "query_id"), "query_id"
    ).select(
        "entity", "_ts", F.col("query_id").alias("pid"),
        F.col("lon").cast("double").alias("gx"), F.col("lat").cast("double").alias("gy"),
        "sid", "d2", "snap_lon", "snap_lat",
    )

    sig2x2 = 2.0 * float(sigma) * float(sigma)
    betaf = float(beta)

    def viterbi(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["_ts", "pid", "sid"], kind="mergesort")
        steps = []  # list of (pid, gx, gy, sids, emis, sx, sy)
        for pid_val, grp in pdf.groupby("pid", sort=False):
            steps.append((
                int(pid_val),
                float(grp["gx"].iloc[0]), float(grp["gy"].iloc[0]),
                grp["sid"].to_numpy(np.int64),
                (grp["d2"].to_numpy(np.float64) / sig2x2),
                grp["snap_lon"].to_numpy(np.float64),
                grp["snap_lat"].to_numpy(np.float64),
            ))
        # groupby("pid", sort=False) follows the (_ts, pid) sort order
        n = len(steps)
        if n == 0:
            return pd.DataFrame(
                columns=["entity", "step", "pid", "sid", "snap_lon", "snap_lat"]
            )
        ent = pdf["entity"].iloc[0]
        dp = steps[0][4].copy()
        back: list[np.ndarray] = []
        for s in range(1, n):
            _, gx0, gy0, _, _, sx0, sy0 = steps[s - 1]
            _, gx1, gy1, _, emis, sx1, sy1 = steps[s]
            dgps = np.sqrt((gx1 - gx0) ** 2 + (gy1 - gy0) ** 2)
            # route-proxy distances: |prev| x |cur| matrix
            droute = np.sqrt(
                (sx1[None, :] - sx0[:, None]) ** 2 + (sy1[None, :] - sy0[:, None]) ** 2
            )
            trans = np.abs(droute - dgps) / betaf
            tot = (dp[:, None] + trans) + emis[None, :]
            choice = np.argmin(tot, axis=0)  # first min = smallest prev sid
            back.append(choice)
            dp = tot[choice, np.arange(tot.shape[1])]
        cur = int(np.argmin(dp))
        picks = [cur]
        for s in range(n - 1, 0, -1):
            cur = int(back[s - 1][cur])
            picks.append(cur)
        picks.reverse()
        out = {
            "entity": [ent] * n,
            "step": np.arange(1, n + 1, dtype=np.int64),
            "pid": [steps[s][0] for s in range(n)],
            "sid": [int(steps[s][3][picks[s]]) for s in range(n)],
            "snap_lon": [float(steps[s][5][picks[s]]) for s in range(n)],
            "snap_lat": [float(steps[s][6][picks[s]]) for s in range(n)],
        }
        return pd.DataFrame(out)

    ent_field = [f for f in j.schema.fields if f.name == "entity"][0]
    schema = (
        f"entity {ent_field.dataType.simpleString()}, step long, pid long, "
        "sid long, snap_lon double, snap_lat double"
    )
    return (
        j.groupBy("entity")
        .applyInPandas(viterbi, schema=schema)
        .withColumnsRenamed({"pid": "point_id"})
    )
