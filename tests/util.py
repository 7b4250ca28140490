"""Comparison helpers: Spark DataFrame vs pandas oracle frame."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd


def _norm_cell(v):
    if isinstance(v, np.ndarray):
        return tuple(_norm_cell(x) for x in v.tolist())
    if isinstance(v, list):
        return tuple(_norm_cell(x) for x in v)
    if isinstance(v, dict):  # Arrow struct → dict; field order is schema order
        return tuple(_norm_cell(x) for x in v.values())
    if hasattr(v, "asDict"):  # pyspark Row
        return tuple(_norm_cell(x) for x in v)
    if isinstance(v, tuple):
        return tuple(_norm_cell(x) for x in v)
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, float) and math.isnan(v):
        return None
    if v is pd.NaT or v is None:
        return None
    try:
        if pd.isna(v):
            return None
    except (TypeError, ValueError):
        pass
    return v


def normalize(df, columns: list[str]) -> list[tuple]:
    """Spark DF or pandas DF → sorted list of normalized tuples."""
    if hasattr(df, "toPandas"):
        pdf = df.select(*columns).toPandas()
    else:
        pdf = df[columns].copy()
    rows = [tuple(_norm_cell(v) for v in row) for row in pdf.itertuples(index=False, name=None)]
    return sorted(rows, key=_sort_key)


def _sort_key(r):
    return tuple((x is None, str(type(x)), _sort_key(x) if isinstance(x, tuple) else x) for x in r)


def assert_frames_equal(engine_df, oracle_pdf, columns: list[str]):
    e = normalize(engine_df, columns)
    o = normalize(oracle_pdf, columns)
    assert len(e) == len(o), f"row count: engine {len(e)} vs oracle {len(o)}"
    mismatches = [(i, a, b) for i, (a, b) in enumerate(zip(e, o)) if a != b]
    assert not mismatches, f"{len(mismatches)} mismatches; first: {mismatches[:5]}"


def plans_of_call(spark, call):
    """Run ``call()`` and return (its result, the physical plan texts of
    the SQL executions it ran). A checkpoint taken inside the call runs
    its exchanges there, out of sight of the returned frame's own plan."""
    bus = spark.sparkContext._jsc.sc().listenerBus()
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        bus.waitUntilEmpty()  # the store is fed by the listener bus
        return store.executionsList()  # ascending execution id

    before = executions()
    mark = before.last().executionId() if before.nonEmpty() else -1
    result = call()
    after = executions()
    plans = []
    for i in range(after.size() - 1, -1, -1):
        e = after.apply(i)
        if e.executionId() <= mark:
            break
        plans.append(e.physicalPlanDescription())
    return result, plans
