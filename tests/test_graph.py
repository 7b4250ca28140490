"""connected_components / dedup_cluster_representatives: union-find
model parity, chain topology (pointer-jumping path), self-loop node
registration, partition invariance."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from osmflat_rs_spark.operators import graph
from osmflat_rs_spark.operators.graph import (
    connected_components,
    dedup_cluster_representatives,
)


def _uf_components(edges):
    nodes = sorted({x for e in edges for x in e})
    p = {n: n for n in nodes}

    def find(x):
        while p[x] != x:
            p[x] = p[p[x]]
            x = p[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            p[max(ru, rv)] = min(ru, rv)
    comp = {}
    for n in nodes:
        comp.setdefault(find(n), []).append(n)
    return {n: min(ns) for ns in comp.values() for n in ns}


def test_matches_union_find_on_mixed_topology(spark):
    rng = np.random.default_rng(5)
    edges = [(int(rng.integers(0, 400)), int(rng.integers(0, 400))) for _ in range(300)]
    edges += [(1000 + i, 1001 + i) for i in range(200)]  # 201-node chain
    edges += [(2000 + i, 2000 + j) for i in range(8) for j in range(i + 1, 8)]
    edges = [(u, v) for u, v in edges if u != v]
    want = _uf_components(edges)
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}
    assert got == want
    # partition layout must not change anything
    got2 = {
        r["node"]: r["component"]
        for r in connected_components(df.repartition(13)).collect()
    }
    assert got2 == want


def test_chain_converges_in_log_rounds(spark, monkeypatch):
    # a 140-node chain forced onto the iterative path: plain neighbor-min
    # needs ~140 rounds; pointer jumping must land it within the (tight)
    # round budget below
    monkeypatch.setattr(graph, "_CC_SOLVE_EDGES", 0)
    monkeypatch.setattr(graph, "_CC_ROUNDS", 12)
    edges = [(i, i + 1) for i in range(140)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}
    assert got == {i: 0 for i in range(141)}


def test_self_loops_register_isolated_nodes(spark):
    df = spark.createDataFrame([(1, 2), (7, 7)], "src long, dst long")
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}
    assert got == {1: 1, 2: 1, 7: 7}


def test_representatives_flag(spark):
    df = spark.createDataFrame([(3, 5), (5, 9), (20, 21)], "id_a long, id_b long")
    rows = {r["node"]: r for r in dedup_cluster_representatives(df).collect()}
    assert {n: r["component"] for n, r in rows.items()} == {3: 3, 5: 3, 9: 3, 20: 20, 21: 20}
    assert {n for n, r in rows.items() if r["is_representative"]} == {3, 20}


def test_validation_and_guard(spark, monkeypatch):
    # an honest non-convergence guard: 1 round cannot finish a chain
    monkeypatch.setattr(graph, "_CC_SOLVE_EDGES", 0)
    monkeypatch.setattr(graph, "_CC_ROUNDS", 1)
    chain = spark.createDataFrame([(i, i + 1) for i in range(50)], "src long, dst long")
    with pytest.raises(RuntimeError, match="no convergence in 1 rounds"):
        connected_components(chain)


def test_iterative_fallback_is_logged(spark, monkeypatch, caplog):
    """Falling back from the one-task solve to the iterative rounds
    leaves one INFO record naming the edge count and the budget; the
    default budget solves this graph in one task and logs nothing."""
    df = spark.createDataFrame([(i, i + 1) for i in range(30)], "src long, dst long")
    with caplog.at_level("INFO", logger=graph.__name__):
        connected_components(df)
    assert not [r for r in caplog.records if r.name == graph.__name__]
    monkeypatch.setattr(graph, "_CC_SOLVE_EDGES", 10)
    with caplog.at_level("INFO", logger=graph.__name__):
        got = {r["node"]: r["component"] for r in connected_components(df).collect()}
    assert got == {i: 0 for i in range(31)}
    recs = [r for r in caplog.records if r.name == graph.__name__]
    assert len(recs) == 1 and recs[0].levelname == "INFO"
    msg = recs[0].getMessage()
    assert "30 edges" in msg and "budget of 10" in msg


def _bf_model(edges, sources, max_hops):
    """Plain-Python bounded Bellman-Ford: dist[s][v] = min weight over
    directed paths with <= max_hops edges."""
    out = {}
    for s in sources:
        dist = {s: 0}
        for _ in range(max_hops):
            nxt = dict(dist)
            for (u, v, w) in edges:
                if u in dist and dist[u] + w < nxt.get(v, float("inf")):
                    nxt[v] = dist[u] + w
            dist = nxt
        for v, d in dist.items():
            out[(s, v)] = d
    return out


def test_shortest_paths_matches_model_random(spark):
    import numpy as np

    from osmflat_rs_spark.operators.graph import shortest_paths

    rng = np.random.RandomState(3)
    n = 60
    edges = []
    for u in range(n):
        for _ in range(3):
            v = int(rng.randint(0, n))
            if v != u:
                edges.append((u, v, int(rng.randint(1, 20))))
    df = spark.createDataFrame(edges, "src long, dst long, w long").repartition(6)
    for hops in (0, 1, 3, 8):
        got = {
            (r["source"], r["node"]): r["dist"]
            for r in shortest_paths(df, [0, 17, 42], hops).collect()
        }
        want = _bf_model(edges, [0, 17, 42], hops)
        assert got == want, f"max_hops={hops}"


def test_shortest_paths_hop_bound_is_semantic(spark):
    """A cheap long path vs an expensive short path: the bound decides."""
    from osmflat_rs_spark.operators.graph import shortest_paths

    # 0->1->2->3 costs 3 (3 hops); 0->3 direct costs 10 (1 hop)
    edges = [(0, 1, 1), (1, 2, 1), (2, 3, 1), (0, 3, 10)]
    df = spark.createDataFrame(edges, "src long, dst long, w long")
    d1 = {r["node"]: r["dist"] for r in shortest_paths(df, [0], 1).collect()}
    d3 = {r["node"]: r["dist"] for r in shortest_paths(df, [0], 3).collect()}
    assert d1[3] == 10 and d3[3] == 3
    assert d1 == {0: 0, 1: 1, 3: 10}


def test_shortest_paths_early_exit_equals_full(spark):
    """Once the frontier drains, more hops change nothing (the early
    exit is an optimization, not a semantics change)."""
    from osmflat_rs_spark.operators.graph import shortest_paths

    edges = [(0, 1, 2), (1, 2, 2), (2, 0, 2)]
    df = spark.createDataFrame(edges, "src long, dst long, w long")
    a = {(r["source"], r["node"]): r["dist"] for r in shortest_paths(df, [0], 5).collect()}
    b = {(r["source"], r["node"]): r["dist"] for r in shortest_paths(df, [0], 50).collect()}
    assert a == b == {(0, 0): 0, (0, 1): 2, (0, 2): 4}


def test_shortest_paths_rejects_negative_weight(spark):
    import pytest as _pytest

    from osmflat_rs_spark.operators.graph import shortest_paths

    df = spark.createDataFrame([(0, 1, -1)], "src long, dst long, w long")
    with _pytest.raises(ValueError):
        shortest_paths(df, [0], 3)


def _np_pagerank(edges, n, iters, d=0.85):
    import numpy as np

    deg = np.zeros(n)
    for u, _ in edges:
        deg[u] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        nxt = np.full(n, (1 - d) / n)
        for u, v in edges:
            nxt[v] += d * r[u] / deg[u]
        r = nxt
    return r


def test_pagerank_exact_mass_and_float_parity(spark):
    """Σ rank_scaled == n·60^T exactly (integer mass conservation), and
    rank_scaled/denominator matches a dense float power iteration."""
    from osmflat_rs_spark.operators.graph import pagerank_uniform

    n, g, iters = 60, 3, 4
    edges = [(u, (u * 31 + k) % n) for u in range(n) for k in (1, 2, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = {r["node"]: (r["rank_scaled"], r["rank_ppb"]) for r in
           pagerank_uniform(df, n, g, iters).collect()}
    denom = n * (20 * g) ** iters
    assert sum(v[0] for v in out.values()) == denom
    ref = _np_pagerank(edges, n, iters)
    for v in range(n):
        assert abs(out[v][0] / denom - ref[v]) < 1e-12
        assert out[v][1] == out[v][0] * 10**9 // denom


def test_pagerank_rejects_nonuniform_and_overflow(spark):
    import pytest as _pytest

    from osmflat_rs_spark.operators.graph import pagerank_uniform

    bad = spark.createDataFrame([(0, 1), (1, 0), (1, 2), (2, 0), (2, 1)], "src long, dst long")
    with _pytest.raises(ValueError, match="out-degree"):
        pagerank_uniform(bad, 3, 2, 2)
    ok = spark.createDataFrame([(0, 1), (1, 0)], "src long, dst long")
    with _pytest.raises(ValueError, match="overflow"):
        pagerank_uniform(ok, 2, 1, 40)
    # big-graph regime: scaled ranks fit, ppb would not -> NULL ppb
    n = 40
    edges = [(u, (u * 31 + k) % n) for u in range(n) for k in (1, 2, 3)]
    big = spark.createDataFrame(edges, "src long, dst long")
    # force the ppb-unsafe branch by checking the seam directly: T where
    # n*60^T*1e9 >= 2^63 but n*60^T < 2^62  (n=40: T=6)
    out = pagerank_uniform(big, n, 3, 6).collect()
    assert all(r["rank_ppb"] is None for r in out)
    assert sum(r["rank_scaled"] for r in out) == n * 60**6


def test_pagerank_partition_invariance(spark):
    """Same ranks whether the edge table arrives in 1 or 13 partitions —
    the integrality claim is exactly this (no float reassociation)."""
    from osmflat_rs_spark.operators.graph import pagerank_uniform

    n = 40
    edges = [(u, (u * 31 + k) % n) for u in range(n) for k in (1, 2, 3)]
    a = spark.createDataFrame(edges, "src long, dst long").coalesce(1)
    b = spark.createDataFrame(edges, "src long, dst long").repartition(13)
    ra = sorted((r["node"], r["rank_scaled"]) for r in pagerank_uniform(a, n, 3, 4).collect())
    rb = sorted((r["node"], r["rank_scaled"]) for r in pagerank_uniform(b, n, 3, 4).collect())
    assert ra == rb


# ---------------------------------------------------------------- triangles


def _model_graph(edges):
    adj = {}
    for u, v in edges:
        if u == v:
            continue
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    return adj


def _model_triangles(edges):
    adj = _model_graph(edges)
    per = {n: 0 for n in adj}
    for u in adj:
        for v in adj[u]:
            if v <= u:
                continue
            for w in adj[u] & adj[v]:
                if w > v:
                    for x in (u, v, w):
                        per[x] += 1
    return per


def test_triangle_count_matches_model_random(spark):
    import numpy as np

    from osmflat_rs_spark.operators.graph import triangle_count

    rng = np.random.default_rng(11)
    edges = [(int(rng.integers(0, 60)), int(rng.integers(0, 60))) for _ in range(400)]
    edges = [(u, v) for u, v in edges if u != v]
    want = _model_triangles(edges)
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["n_tri"] for r in triangle_count(df).collect()}
    assert got == want
    # partition invariance
    got2 = {r["node"]: r["n_tri"] for r in triangle_count(df.repartition(7)).collect()}
    assert got2 == want


def test_triangle_count_clique_star_and_dupes(spark):
    from osmflat_rs_spark.operators.graph import triangle_count

    # K5: every node is in C(4,2) = 6 triangles; duplicate + reversed +
    # self-loop edges must not change the counts (simple-graph contract)
    k5 = [(i, j) for i in range(5) for j in range(5) if i != j]
    noisy = k5 + k5[:7] + [(2, 2), (4, 4)]
    df = spark.createDataFrame(noisy, "src long, dst long")
    got = {r["node"]: r["n_tri"] for r in triangle_count(df).collect()}
    assert got == {i: 6 for i in range(5)}
    # star graph: hub has huge degree but ZERO triangles (and the
    # degree orientation generates no wedge at the hub)
    star = [(100, 200 + i) for i in range(50)]
    got = {r["node"]: r["n_tri"] for r in triangle_count(
        spark.createDataFrame(star, "src long, dst long")).collect()}
    assert set(got.values()) == {0} and len(got) == 51


def test_triangle_count_64bit_ids(spark):
    """Node ids above 2^32 — the (deg, id) orientation must stay exact
    (a packed deg*2^32+id key would collide here)."""
    from osmflat_rs_spark.operators.graph import triangle_count

    base = 2**33
    tri = [(base, base + 1), (base + 1, base + 2), (base + 2, base)]
    extra = [(base, base + 10), (base + 1, base + 10)]  # second triangle
    df = spark.createDataFrame(tri + extra, "src long, dst long")
    got = {r["node"]: r["n_tri"] for r in triangle_count(df).collect()}
    assert got == {base: 2, base + 1: 2, base + 2: 1, base + 10: 1}


# ------------------------------------------------------------- link pred


def _model_linkpred(edges, min_common, max_degree=None):
    adj = _model_graph(edges)
    out = {}
    nodes = sorted(adj)
    for i, a in enumerate(nodes):
        for b in nodes[i + 1:]:
            if b in adj[a]:
                continue
            mids = adj[a] & adj[b]
            if max_degree is not None:
                mids = {m for m in mids if len(adj[m]) <= max_degree}
            c = len(mids)
            if c >= min_common:
                da, db = len(adj[a]), len(adj[b])
                out[(a, b)] = (c, da, db, c / (da + db - c))
    return out


def test_common_neighbor_pairs_matches_model(spark):
    import numpy as np

    from osmflat_rs_spark.operators.graph import common_neighbor_pairs

    rng = np.random.default_rng(13)
    edges = [(int(rng.integers(0, 40)), int(rng.integers(0, 40))) for _ in range(150)]
    edges = [(u, v) for u, v in edges if u != v]
    df = spark.createDataFrame(edges, "src long, dst long")
    for mc in (1, 2, 3):
        want = _model_linkpred(edges, mc)
        got = {
            (r["node_a"], r["node_b"]): (r["n_common"], r["deg_a"], r["deg_b"], r["jaccard"])
            for r in common_neighbor_pairs(df, min_common=mc).collect()
        }
        assert got == want  # jaccard is one IEEE division — bit-exact


def test_common_neighbor_pairs_max_degree_semantics(spark):
    """Dropping mega-hub middles removes pairs whose ONLY common
    neighbors are hubs; other pairs keep counts minus the hub middles."""
    from osmflat_rs_spark.operators.graph import common_neighbor_pairs

    # hub 0 connects to 1..10; besides, 1-2 share the low-degree mid 20
    edges = [(0, i) for i in range(1, 11)] + [(1, 20), (2, 20)]
    df = spark.createDataFrame(edges, "src long, dst long")
    full = {(r["node_a"], r["node_b"]): r["n_common"]
            for r in common_neighbor_pairs(df).collect()}
    assert full[(1, 2)] == 2 and full[(3, 4)] == 1
    capped = {(r["node_a"], r["node_b"]): r["n_common"]
              for r in common_neighbor_pairs(df, max_degree=5).collect()}
    # hub-0 middles are gone; the low-degree mids (20, and 1/2 for the
    # non-adjacent hub—20 pair) survive
    assert capped == {(1, 2): 1, (0, 20): 2}


# ----------------------------------------------------------------- k-core


def _model_kcore(edges, k):
    adj = _model_graph(edges)
    nodes = set(adj)
    while True:
        drop = {n for n in nodes if len(adj[n] & nodes) < k}
        if not drop:
            break
        nodes -= drop
    return {n: len(adj[n] & nodes) for n in nodes}


def test_k_core_matches_model_and_partition_invariant(spark):
    import numpy as np

    from osmflat_rs_spark.operators.graph import k_core

    rng = np.random.default_rng(17)
    edges = [(int(rng.integers(0, 80)), int(rng.integers(0, 80))) for _ in range(200)]
    edges = [(u, v) for u, v in edges if u != v]
    # attach a chain so peeling takes several rounds
    edges += [(200 + i, 201 + i) for i in range(6)] + [(0, 200)]
    df = spark.createDataFrame(edges, "src long, dst long")
    for k in (2, 3, 4):
        want = _model_kcore(edges, k)
        got = {r["node"]: r["core_deg"] for r in k_core(df, k).collect()}
        assert got == want
        got2 = {r["node"]: r["core_deg"] for r in k_core(df.repartition(9), k).collect()}
        assert got2 == want


def test_k_core_empty_and_validation(spark):
    import pytest as _pytest

    from osmflat_rs_spark.operators.graph import k_core

    chain = spark.createDataFrame([(i, i + 1) for i in range(5)], "src long, dst long")
    assert k_core(chain, 2).count() == 0  # a chain has no 2-core
    with _pytest.raises(ValueError):
        k_core(chain, 0)


# -------------------------------------------------- clustering/assortativity


def test_clustering_coefficient_matches_model(spark):
    import numpy as np

    from osmflat_rs_spark.operators.graph import clustering_coefficient

    rng = np.random.default_rng(19)
    edges = [(int(rng.integers(0, 40)), int(rng.integers(0, 40))) for _ in range(150)]
    edges = [(u, v) for u, v in edges if u != v]
    adj = _model_graph(edges)
    tri = _model_triangles(edges)
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: (r["n_tri"], r["deg"], r["coef"])
           for r in clustering_coefficient(df).collect()}
    for n in adj:
        d = len(adj[n])
        coef = round(2.0 * tri[n] / (d * (d - 1)), 6) if d >= 2 else 0.0
        assert got[n] == (tri[n], d, coef)
    # K4: every node coef exactly 1
    k4 = [(i, j) for i in range(4) for j in range(i + 1, 4)]
    got = {r["node"]: r["coef"] for r in clustering_coefficient(
        spark.createDataFrame(k4, "src long, dst long")).collect()}
    assert got == {i: 1.0 for i in range(4)}


def test_degree_assortativity_model_and_edges(spark):
    import numpy as np

    from osmflat_rs_spark.operators.graph import degree_assortativity

    def model_r(edges):
        adj = _model_graph(edges)
        se = {(min(u, v), max(u, v)) for u, v in edges if u != v}
        xs, ys = [], []
        for u, v in se:
            du, dv = len(adj[u]), len(adj[v])
            xs += [du, dv]
            ys += [dv, du]
        xs, ys = np.array(xs, dtype=float), np.array(ys, dtype=float)
        vx = (xs * xs).mean() - xs.mean() ** 2
        if vx <= 0:
            return len(se), None
        cov = (xs * ys).mean() - xs.mean() * ys.mean()
        return len(se), cov / vx

    rng = np.random.default_rng(29)
    edges = [(int(rng.integers(0, 50)), int(rng.integers(0, 50))) for _ in range(160)]
    edges = [(u, v) for u, v in edges if u != v]
    m_want, r_want = model_r(edges)
    row = degree_assortativity(
        spark.createDataFrame(edges, "src long, dst long")).collect()[0]
    assert row["m"] == m_want
    assert abs(row["r"] - round(r_want, 6)) < 1e-9
    # star graph: perfectly disassortative, r = -1
    star = [(0, i) for i in range(1, 8)]
    row = degree_assortativity(
        spark.createDataFrame(star, "src long, dst long")).collect()[0]
    assert row["r"] == -1.0
    # regular graph (cycle): zero degree variance -> NULL by contract
    cyc = [(i, (i + 1) % 6) for i in range(6)]
    row = degree_assortativity(
        spark.createDataFrame(cyc, "src long, dst long")).collect()[0]
    assert row["m"] == 6 and row["r"] is None


# ------------------------------------------------------------ stitch_lines


def _brute_stitch(segs):
    # segs: list of (sid, a, b, w)
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(x, y):
        rx, ry = find(x), find(y)
        if rx != ry:
            parent[max(rx, ry)] = min(rx, ry)

    for _, a, b, _ in segs:
        union(a, b)
    deg = {}
    for _, a, b, _ in segs:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    out = {}
    for _, a, b, w in segs:
        c = find(a)
        r = out.setdefault(c, {"n_segments": 0, "total_weight": 0, "nodes": set()})
        r["n_segments"] += 1
        r["total_weight"] += w
    for n in deg:
        out[find(n)]["nodes"].add(n)
    rows = {}
    for c, r in out.items():
        # min-find again after all unions (path compression settles)
        c2 = find(c)
        ds = [deg[n] for n in r["nodes"]]
        n_odd = sum(d % 2 for d in ds)
        mx = max(ds)
        rows[c2] = (
            r["n_segments"], len(r["nodes"]), n_odd, mx,
            n_odd == 0 and mx == 2, n_odd == 2 and mx <= 2, r["total_weight"],
        )
    return rows


def test_stitch_lines_topology_classes(spark):
    from osmflat_rs_spark.operators.graph import stitch_lines

    segs = (
        # open path 1-2-3-4
        [(0, 1, 2, 5), (1, 2, 3, 5), (2, 3, 4, 5)]
        # closed ring 10-11-12-10
        + [(3, 10, 11, 1), (4, 11, 12, 1), (5, 12, 10, 1)]
        # Y junction at 20
        + [(6, 20, 21, 2), (7, 20, 22, 2), (8, 20, 23, 2)]
        # self-loop ring
        + [(9, 30, 30, 7)]
        # parallel edges (multigraph 2-cycle)
        + [(10, 40, 41, 3), (11, 40, 41, 4)]
    )
    want = _brute_stitch(segs)
    df = spark.createDataFrame(segs, "seg_id long, a long, b long, w long")
    got = {
        r["chain_id"]: (
            r["n_segments"], r["n_nodes"], r["n_odd_nodes"], r["max_degree"],
            r["is_ring"], r["is_path"], r["total_weight"],
        )
        for r in stitch_lines(df, "seg_id", "a", "b", weight_col="w").collect()
    }
    assert got == want
    # the specific classes we constructed
    assert got[1][5] and not got[1][4]        # path
    assert got[10][4] and not got[10][5]      # ring
    assert not got[20][4] and not got[20][5] and got[20][3] == 3  # junction
    assert got[30] == (1, 1, 0, 2, True, False, 7)  # self-loop ring
    assert got[40][4]                          # parallel pair is a 2-cycle ring


def test_stitch_lines_random_and_partition_invariance(spark):
    import numpy as np

    from osmflat_rs_spark.operators.graph import stitch_lines

    rng = np.random.default_rng(5)
    segs = [
        (i, int(rng.integers(0, 60)), int(rng.integers(0, 60)), int(rng.integers(1, 9)))
        for i in range(120)
    ]
    want = _brute_stitch(segs)
    df = spark.createDataFrame(segs, "seg_id long, a long, b long, w long")
    for d in (df, df.repartition(11)):
        got = {
            r["chain_id"]: (
                r["n_segments"], r["n_nodes"], r["n_odd_nodes"], r["max_degree"],
                r["is_ring"], r["is_path"], r["total_weight"],
            )
            for r in stitch_lines(d, "seg_id", "a", "b", weight_col="w").collect()
        }
        assert got == want


def _lpa_model(edges, iters):
    """Pure-Python synchronous LPA: most frequent neighbor label, ties
    to smallest; isolated nodes keep theirs."""
    from collections import Counter

    adj = {}
    for u, v in edges:
        if u == v:
            adj.setdefault(u, set())
            continue
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    lbl = {n: n for n in adj}
    for _ in range(iters):
        new = {}
        for n, nbrs in adj.items():
            if not nbrs:
                new[n] = lbl[n]
                continue
            cnt = Counter(lbl[m] for m in nbrs)
            best = max(cnt.items(), key=lambda kv: (kv[1], -kv[0]))
            new[n] = best[0]
        lbl = new
    return lbl


def test_label_propagation_two_cliques_with_bridge(spark):
    """Two 6-cliques joined by one bridge edge resolve to exactly two
    communities (each labeled by its clique's minimum id) within 3
    rounds — the canonical LPA sanity case."""
    from osmflat_rs_spark.operators.graph import label_propagation

    edges = []
    for base in (0, 10):
        for i in range(6):
            for j in range(i + 1, 6):
                edges.append((base + i, base + j))
    edges.append((5, 10))  # bridge
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["community"]
        for r in label_propagation(df, iters=3).collect()
    }
    assert got == _lpa_model(edges, 3)
    comms = {}
    for n, c in got.items():
        comms.setdefault(c, set()).add(n)
    assert len(comms) == 2
    assert comms[0] == {0, 1, 2, 3, 4, 5}
    assert comms[10] == {10, 11, 12, 13, 14, 15}


def test_label_propagation_matches_model_random_and_partition_invariant(spark):
    """Random sparse graph: bit parity with the synchronous model at 4
    rounds, invariant to input partitioning, self-loops register
    isolated nodes which keep their own label."""
    from osmflat_rs_spark.operators.graph import label_propagation

    rng = np.random.default_rng(13)
    edges = {(int(a), int(b)) for a, b in rng.integers(0, 60, (150, 2))}
    edges.add((99, 99))  # isolated via self-loop
    want = _lpa_model(sorted(edges), 4)
    df = spark.createDataFrame(sorted(edges), "src long, dst long")
    for d in (df, df.repartition(13)):
        got = {
            r["node"]: r["community"]
            for r in label_propagation(d, iters=4).collect()
        }
        assert got == want
    assert want[99] == 99


def test_hits_scores_matches_numpy_power_iteration(spark):
    """hits_scores vs NumPy AᵀA power iteration on a small digraph:
    exact integer values equal the matrix recurrence, and the RANKING
    matches the normalized textbook HITS after the same iterations.
    Sinks/sources get 0; multi-edges contribute multiply."""
    import numpy as np

    from osmflat_rs_spark.operators.graph import hits_scores

    n = 12
    rng = np.random.RandomState(7)
    A = np.zeros((n, n), dtype=np.int64)
    edges = []
    for _ in range(30):
        u, v = rng.randint(0, n, 2)
        if u != v:
            A[u, v] += 1  # multigraph: duplicates allowed and counted
            edges.append((int(u), int(v)))
    df = spark.createDataFrame(edges, "src long, dst long").repartition(3)
    iters = 3
    got = {r["node"]: (r["hub"], r["auth"]) for r in hits_scores(df, n, iters).collect()}

    h = np.ones(n, dtype=np.int64)
    a = None
    for _ in range(iters):
        a = A.T @ h
        h = A @ a
    for v in range(n):
        assert got[v] == (int(h[v]), int(a[v])), v
    # ranking parity with the normalized float iteration
    hf = np.ones(n)
    for _ in range(iters):
        af = A.T @ hf; af = af / (np.linalg.norm(af) or 1.0)
        hf = A @ af; hf = hf / (np.linalg.norm(hf) or 1.0)
    top_int = max(range(n), key=lambda v: got[v][0])
    assert top_int == int(np.argmax(hf))


def test_hits_scores_validation(spark):
    import pytest as _pytest

    from osmflat_rs_spark.operators.graph import hits_scores

    df = spark.createDataFrame([(0, 1)], "src long, dst long")
    with _pytest.raises(ValueError):
        hits_scores(df, 2, 0)


def test_random_walks_model_and_deadends(spark):
    """random_walks vs a Python model on a digraph WITH a dead end:
    every emitted row matches the md5-mod choice over the sorted
    neighbor list; walks hitting the sink stop early but keep their
    prefix; multi-edges double their pick probability slot; output is
    partition-invariant."""
    import hashlib

    from osmflat_rs_spark.operators.graph import random_walks

    edges = [(0, 1), (0, 2), (0, 2), (1, 3), (2, 0), (2, 3)]  # 3 is a sink
    n, L, W = 4, 3, 2
    df = spark.createDataFrame(edges, "src long, dst long").repartition(3)
    got = {(r["walk_id"], r["step"]): r["node"] for r in random_walks(df, n, L, W).collect()}

    adj = {}
    for u, v in edges:
        adj.setdefault(u, []).append(v)
    for u in adj:
        adj[u].sort()

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    want = {}
    for start in range(n):
        for w in range(W):
            wid = start * W + w
            node = start
            want[(wid, 0)] = node
            for t in range(L):
                if node not in adj:
                    break
                nbrs = adj[node]
                node = nbrs[h60(f"rw:{wid}:{t}") % len(nbrs)]
                want[(wid, t + 1)] = node
    assert got == want
    # sink-started walks emit exactly one row
    for w in range(W):
        wid = 3 * W + w
        assert [k for k in got if k[0] == wid] == [(wid, 0)]


def test_random_walks_validation(spark):
    import pytest as _pytest

    from osmflat_rs_spark.operators.graph import random_walks

    df = spark.createDataFrame([(0, 1)], "src long, dst long")
    with _pytest.raises(ValueError):
        random_walks(df, 2, 0)
    with _pytest.raises(ValueError):
        random_walks(df, 2, 3, 0)


def test_boruvka_mst_matches_prim_reference(spark, monkeypatch):
    """Distributed Borůvka equals a pure-Python Prim under the same
    (w, u, v) total order (unique forest), across a connected random
    graph AND a disconnected forest — also with every row duplicated
    and swapped (src, dst); total weight minimal. A round cap that
    leaves edges between components raises instead of returning a
    partial forest."""
    import heapq

    import numpy as np
    import pytest

    from osmflat_rs_spark.operators import graph
    from osmflat_rs_spark.operators.graph import boruvka_mst

    rng = np.random.default_rng(163)

    def prim_forest(nodes, edges):
        adj = {}
        for u, v, w in edges:
            adj.setdefault(u, []).append((w, u, v))
            adj.setdefault(v, []).append((w, v, u))
        seen, out = set(), []
        for s in sorted(nodes):
            if s in seen:
                continue
            seen.add(s)
            heap = sorted(adj.get(s, []))
            heapq.heapify(heap)
            while heap:
                w, a, b = heapq.heappop(heap)
                if b in seen:
                    continue
                seen.add(b)
                out.append((min(a, b), max(a, b), w))
                for e2 in adj.get(b, []):
                    heapq.heappush(heap, e2)
        return sorted(out)

    # connected-ish random graph
    n = 60
    edges = set()
    for _ in range(250):
        u, v = int(rng.integers(0, n)), int(rng.integers(0, n))
        if u != v:
            edges.add((min(u, v), max(u, v), int(rng.integers(1, 500))))
    # disconnected island
    edges |= {(100, 101, 3), (101, 102, 4), (100, 102, 5)}
    edges = sorted(edges)
    nodes = {u for u, _, _ in edges} | {v for _, v, _ in edges}
    df = spark.createDataFrame(edges, "src long, dst long, w long")
    got = sorted((r["u"], r["v"], r["w"]) for r in boruvka_mst(df).collect())
    want = prim_forest(nodes, edges)
    assert got == want
    assert sum(w for _, _, w in got) == sum(w for _, _, w in want)
    # forest size = n_nodes - n_components
    comps = 2  # main graph is connected with 250 random edges? verify via want
    assert len(got) == len(nodes) - (len(nodes) - len(want))
    # duplicated rows and both orientations: no pre-aggregation needed
    noisy = edges + [(v, u, w) for u, v, w in edges] + edges[::3]
    df2 = spark.createDataFrame(noisy, "src long, dst long, w long")
    assert sorted((r["u"], r["v"], r["w"]) for r in boruvka_mst(df2).collect()) == want
    # path a-b (1), b-c (3), c-d (2): round 0 merges {a,b} and {c,d},
    # so one round leaves the b-c edge live
    path = spark.createDataFrame([(1, 2, 1), (2, 3, 3), (3, 4, 2)], "src long, dst long, w long")
    monkeypatch.setattr(graph, "_BORUVKA_ROUNDS", 1)
    with pytest.raises(RuntimeError, match="after 1 rounds"):
        boruvka_mst(path)


def test_cooccurrence_pairs_matches_counter_model(spark):
    """Unordered distinct pairs per basket, canonical order from the
    sorted array, oversized baskets dropped whole, threshold applied."""
    from collections import Counter
    from itertools import combinations

    from osmflat_rs_spark.operators.graph import cooccurrence_pairs

    rows = [
        (1, 10), (1, 20), (1, 10), (1, 30),     # distinct {10,20,30}
        (2, 20), (2, 10),
        (3, 10), (3, 20),
        (4, 99),                                 # singleton: no pairs
    ]
    rows += [(5, i) for i in range(70)]          # oversized: dropped
    df = spark.createDataFrame(rows, "basket long, item long")
    got = {
        (r["item_a"], r["item_b"]): r["n_baskets"]
        for r in cooccurrence_pairs(df, "basket", "item", min_count=1, max_basket=64).collect()
    }
    want = Counter()
    baskets = {}
    for b, i in rows:
        baskets.setdefault(b, set()).add(i)
    for b, items in baskets.items():
        if 2 <= len(items) <= 64:
            for a, c in combinations(sorted(items), 2):
                want[(a, c)] += 1
    assert got == dict(want)
    got2 = {
        (r["item_a"], r["item_b"]): r["n_baskets"]
        for r in cooccurrence_pairs(df, "basket", "item", min_count=3).collect()
    }
    assert got2 == {(10, 20): 3}


def test_betweenness_matches_model_and_finds_bridge(spark):
    """Sampled Brandes with the fixed-point backward pass matches an
    exact Python reimplementation node-for-node; the bridge node
    between two cliques dominates; float Brandes agrees within the
    lattice tolerance; params validated."""
    from collections import defaultdict, deque

    from osmflat_rs_spark.operators.graph import betweenness

    # two 5-cliques joined through node 10
    edges = []
    for base in (0, 5):
        for i in range(base, base + 5):
            for j in range(i + 1, base + 5):
                edges.append((i, j))
    edges += [(4, 10), (10, 5)]
    df = spark.createDataFrame(edges, "src long, dst long")
    nodes = sorted({u for e in edges for u in e})
    got = {r["node"]: r["bc"] for r in betweenness(df, nodes, max_hops=10).collect()}

    adj = defaultdict(set)
    for u, v in edges:
        adj[u].add(v); adj[v].add(u)

    SC = 10**9

    def brandes_fp(s):
        dist, sigma = {s: 0}, {s: 1}
        levels = defaultdict(list)
        levels[0].append(s)
        q = deque([s])
        while q:
            u = q.popleft()
            for w in adj[u]:
                if w not in dist:
                    dist[w] = dist[u] + 1
                    levels[dist[w]].append(w)
                    q.append(w)
                if dist[w] == dist[u] + 1:
                    sigma[w] = sigma.get(w, 0) + sigma[u]
        dfp = {v: 0 for v in dist}
        for lvl in range(max(levels) - 1, -1, -1):
            for v in levels[lvl]:
                acc = 0
                for w in adj[v]:
                    if dist.get(w) == lvl + 1:
                        c = (sigma[v] / sigma[w]) * (SC + dfp[w]) + 0.5
                        acc += int(c // 1)
                dfp[v] = acc
        return dfp

    want = defaultdict(int)
    for s in nodes:
        for v, d in brandes_fp(s).items():
            if v != s:
                want[v] += d
    for v in nodes:
        assert got[v] == round(want[v] / SC, 6), (v, got[v], want[v] / SC)
    # the bridge and its two gateways carry all cross-clique traffic;
    # interior clique nodes carry none of it
    assert got[10] == max(got.values())
    assert min(got[v] for v in (4, 5, 10)) > 10 * max(
        got[v] for v in nodes if v not in (4, 5, 10)
    )
    # float Brandes agreement within lattice tolerance
    def brandes_float(s):
        dist, sigma = {s: 0}, {s: 1}
        levels = defaultdict(list); levels[0].append(s)
        q = deque([s])
        while q:
            u = q.popleft()
            for w in adj[u]:
                if w not in dist:
                    dist[w] = dist[u] + 1; levels[dist[w]].append(w); q.append(w)
                if dist[w] == dist[u] + 1:
                    sigma[w] = sigma.get(w, 0) + sigma[u]
        delta = {v: 0.0 for v in dist}
        for lvl in range(max(levels) - 1, -1, -1):
            for v in levels[lvl]:
                delta[v] = sum(
                    (sigma[v] / sigma[w]) * (1 + delta[w])
                    for w in adj[v] if dist.get(w) == lvl + 1
                )
        return delta
    true = defaultdict(float)
    for s in nodes:
        for v, d in brandes_float(s).items():
            if v != s:
                true[v] += d
    for v in nodes:
        assert abs(got[v] - true[v]) < 1e-5
    import pytest as _pytest

    with _pytest.raises(ValueError):
        betweenness(df, nodes, max_hops=0)
    with _pytest.raises(ValueError):
        betweenness(df, [], max_hops=3)


def test_harmonic_centrality_matches_model(spark):
    """hc equals the exact floor-lattice model over Dijkstra distances
    on a small weighted graph; a disconnected node scores 0-reached
    rows rather than poisoning anything."""
    import heapq
    from collections import defaultdict

    from osmflat_rs_spark.operators.graph import harmonic_centrality

    edges = [(0, 1, 2), (1, 2, 3), (2, 3, 1), (3, 0, 4), (1, 3, 9), (4, 5, 1)]
    df = spark.createDataFrame(edges, "src long, dst long, w long")
    sources = [0, 1, 4]
    got = {r["node"]: r.asDict() for r in harmonic_centrality(df, sources, max_hops=8).collect()}

    adj = defaultdict(list)
    for u, v, w in edges:
        adj[u].append((v, w))  # directed, like the operator

    def dij(s):
        dist = {s: 0}
        pq = [(0, s)]
        while pq:
            d, u = heapq.heappop(pq)
            if d > dist.get(u, 1 << 60):
                continue
            for v, w in adj[u]:
                nd = d + w
                if nd < dist.get(v, 1 << 60):
                    dist[v] = nd
                    heapq.heappush(pq, (nd, v))
        return dist

    SC = 10**9
    want = defaultdict(lambda: [0, 0])
    for s in sources:
        for v, d in dij(s).items():
            if v != s and d > 0:
                want[v][0] += 1
                want[v][1] += SC // d
    assert set(got) == set(want)
    for v, (nr, h) in want.items():
        assert got[v]["n_reached"] == nr
        assert got[v]["hc"] == round(h / SC, 6)


def test_isochrone_bands_matches_model(spark):
    """Bands equal the first threshold >= the Bellman-Ford distance;
    beyond-last nodes drop; thresholds validated."""
    from osmflat_rs_spark.operators.graph import isochrone_bands

    edges = [(0, 1, 3), (1, 2, 3), (2, 3, 3), (0, 4, 10), (4, 5, 10)]
    df = spark.createDataFrame(edges, "src long, dst long, w long")
    got = {(r["source"], r["node"]): (r["dist"], r["band"]) for r in
           isochrone_bands(df, [0], [5, 10, 15], max_hops=5).collect()}
    want = {(0, 0): (0, 0), (0, 1): (3, 0), (0, 2): (6, 1), (0, 3): (9, 1), (0, 4): (10, 1)}
    # node 5 at dist 20 > 15 -> dropped
    assert got == want
    import pytest as _pytest

    with _pytest.raises(ValueError):
        isochrone_bands(df, [0], [5, 5], max_hops=3)
    with _pytest.raises(ValueError):
        isochrone_bands(df, [0], [], max_hops=3)
