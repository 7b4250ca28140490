"""2-D skyline (Pareto front) — the multi-criteria "best tradeoffs"
query (Börzsönyi et al. 2001, "The Skyline Operator"): keep every row
not DOMINATED by another, where q dominates p iff q.x ≤ p.x ∧ q.y ≤ p.y
with at least one strict. Spatial reading: x = distance to an anchor,
y = cost/score — "closest-and-cheapest" frontiers over POIs.

The naive formulation is a quadratic NOT-EXISTS self-join (that IS the
gate's DuckDB oracle). The engine plan is the sort-sweep decomposition,
made distributed without any global-order window:

1. collapse to per-distinct-x minima — ONE map-side-combined
   groupBy(x): dominance only ever flows through a column's minimum y;
2. strict-prefix min over those (x, ymin) rows in x order via
   `plans.indexing.exclusive_prefix_min` (range partition = the only
   shuffle, per-partition Arrow cummin, driver folds #partitions
   minima — the same windowless two-pass as the dense index, NOT a
   `Window.orderBy` that would collapse to one partition at 10^12
   rows);
3. broadcast the tiny (x, ymin, prefmin) dimension back and keep rows
   where NOT (prefmin ≤ y ∨ ymin < y).

Step 3's predicate is the exact dominance test: a strictly-smaller-x
column dominates p iff its best y is ≤ p.y (strictness supplied by
x' < x); an equal-x row dominates iff its y is strictly smaller.
Duplicate rows (identical x AND y) dominate each other under NO strict
inequality, so both survive — matching the oracle's NOT EXISTS with
the two-sided strictness clause.

No reference analog (the reference has no preference queries);
north-rule analytic surface over the same synthetic coordinates the
spatial gates use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osmflat_rs_spark.plans.indexing import exclusive_prefix_min


def skyline_2d(
    df: DataFrame,
    x_col: str,
    y_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Rows of ``df`` on the (minimize x, minimize y) Pareto front.

    Exact for integer-valued criteria (both are cast to long — the
    engine-wide exact-int discipline). The dimension is |distinct x|
    rows — tiny next to the input — and always broadcasts."""
    x, y = F.col(x_col).cast("long"), F.col(y_col).cast("long")
    base = df.withColumn("_sx", x).withColumn("_sy", y)
    colmin = base.groupBy("_sx").agg(F.min("_sy").alias("_ymin"))
    dim = exclusive_prefix_min(
        colmin, "_sx", "_ymin", out_col="_pref", num_partitions=num_partitions
    )
    dominated = (F.col("_pref").isNotNull() & (F.col("_pref") <= F.col("_sy"))) | (
        F.col("_ymin") < F.col("_sy")
    )
    return (
        base.join(F.broadcast(dim), "_sx")
        .filter(~dominated)
        .drop("_sx", "_sy", "_ymin", "_pref")
    )
