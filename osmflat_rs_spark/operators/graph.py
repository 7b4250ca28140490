"""Connected components — the operator that turns near-duplicate PAIRS
into duplicate CLUSTERS (pick one representative per component, drop the
rest): the step every dedup pipeline needs after MinHash/SimHash/SRP
candidate generation, and the reference has no analog for (its relations
form a static forest resolved at build time; a dedup graph is dynamic).

Plan: the edge count picks it. An edge list that fits one task is
solved there by union-find; a larger one is first shrunk by
per-partition spanning forests (exact), and only a forest that still
does not fit falls back to the iterative algorithm below.

Fallback algorithm: iterative MIN-LABEL PROPAGATION with a ROOT RELAY
and POINTER JUMPING (the hash-to-min family — Rastogi et al. 2013 "Finding
Connected Components in Map-Reduce"; Kiveris et al. 2014). Per round:
(1) each node takes the minimum label over itself and its neighbors
(one shuffle: edges ⋈ labels → groupBy-min, map-side partials);
(2) the node proposes that minimum BOTH to itself and to its current
label node, so label nodes accumulate the min over their whole member
set; (3) one pointer jump (lbl ← lbl(lbl)) reads the relayed value
back. Plain neighbor-min needs O(diameter) rounds, and neighbor-min +
jump alone still stalls on plateau frontiers (measured r6: >45 rounds
on a 99k-node/4.5M-edge radius graph, hundreds of labels still moving
per round); with the root relay the label graph keeps collapsing into
stars and the same graph converges in 8 rounds. Every proposed label
is the id of a same-component node and every step is non-increasing,
so the fixpoint (labels equal across all edges, component min labels
itself) is identical to naive propagation — only the round count
changes.

Scale notes:
- State per round is ONE (node, label) row per node — never edge-
  amplified; the edge table is re-joined each round (re-scan beats
  materializing per-round edge copies).
- Each round ends with an EAGER localCheckpoint: iterative Spark plans
  otherwise nest the full lineage per round (plan size doubles per
  iteration and the optimizer re-walks it — the standard iterative-
  algorithm trap).
- Convergence is detected with a driver-side count of changed labels —
  one scalar action per round, the legitimate driver-loop exception
  (bounded by the O(log n) round count).
- Labels are node ids, so the component representative is the MINIMUM
  node id in the component — deterministic, partition-invariant, and
  reproducible by a SQL recursive CTE (the driver gate's oracle).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osmflat_rs_spark.plans.checkpoint import fresh_local_checkpoint

_log = logging.getLogger(__name__)

# connected_components budgets: a forest-reduction task holds at most
# _CC_REDUCE_EDGES edges (memory bound per task), the one-task solve
# absorbs up to _CC_SOLVE_EDGES (an in-memory union-find over a
# few-million-edge forest is seconds of one core), and the iterative
# fallback raises after _CC_ROUNDS rounds.
_CC_REDUCE_EDGES = 250_000
_CC_SOLVE_EDGES = 4_000_000
_CC_ROUNDS = 30


def _partition_spanning_forest(und: DataFrame, num_partitions: int) -> DataFrame:
    """EXACT edge reduction for dense graphs: per partition, a
    union-find spanning forest keeps only the edges that first connect
    two nodes — every dropped edge closed a cycle WITHIN its partition,
    so global connectivity (and therefore every component) is
    unchanged. The classic filtering step of Karloff-Suri-Vassilvitskii
    MapReduce graph algorithms: output is ≤ Σ_p (nodes_p − 1) rows, so a
    graph with average degree d shrinks ~d/2× in one map-only pass.

    Scale shape: per-task memory is O(nodes in the partition) ≤ 2×
    the edges per partition — the caller derives ``num_partitions``
    from the edge count it already took over the per-task target
    ``_CC_REDUCE_EDGES`` (data-scale, not core-count), so it is bounded
    by construction, independent of the global node count. Input may
    contain duplicate edges (a duplicate never connects two new roots,
    union-find skips it), which lets the caller feed RAW candidate
    pairs and drop its distinct exchange."""
    import pandas as pd

    def forest(it):
        import numpy as np

        us, vs = [], []
        for pdf in it:
            us.append(pdf["u"].to_numpy("int64"))
            vs.append(pdf["v"].to_numpy("int64"))
        if not us:
            return
        u = np.concatenate(us)
        v = np.concatenate(vs)
        nodes, inv = np.unique(np.concatenate([u, v]), return_inverse=True)
        iu, iv = inv[: len(u)], inv[len(u):]
        parent = np.arange(len(nodes), dtype=np.int64)

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        keep = np.zeros(len(u), dtype=bool)
        for i in range(len(u)):
            ra, rb = find(iu[i]), find(iv[i])
            if ra != rb:
                parent[ra] = rb
                keep[i] = True
        yield pd.DataFrame({"u": u[keep], "v": v[keep]})

    return und.repartition(num_partitions).mapInPandas(forest, "u long, v long")


def _solve_components_one_task(red: DataFrame) -> DataFrame:
    """Single-task union-find labeling of a (reduced) edge list →
    (node, component=min node id). Caller guarantees the edge list is
    bounded (≤ ``_CC_SOLVE_EDGES``); nodes present ≤ 2× edges."""
    import pandas as pd

    def solve(it):
        import numpy as np

        us, vs = [], []
        for pdf in it:
            us.append(pdf["u"].to_numpy("int64"))
            vs.append(pdf["v"].to_numpy("int64"))
        if not us:
            return
        u = np.concatenate(us)
        v = np.concatenate(vs)
        if len(u) == 0:
            return
        nodes, inv = np.unique(np.concatenate([u, v]), return_inverse=True)
        iu, iv = inv[: len(u)], inv[len(u):]
        parent = list(range(len(nodes)))

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        for i in range(len(u)):
            ra, rb = find(int(iu[i])), find(int(iv[i]))
            if ra != rb:
                parent[ra] = rb
        roots = np.array([find(i) for i in range(len(nodes))], dtype=np.int64)
        # component label = min ORIGINAL node id per root (nodes is
        # sorted ascending, so the min per root is its first member)
        minid = np.full(len(nodes), np.iinfo(np.int64).max, dtype=np.int64)
        np.minimum.at(minid, roots, nodes)
        yield pd.DataFrame({"node": nodes, "component": minid[roots]})

    return red.repartition(1).mapInPandas(solve, "node long, component long")


def connected_components(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Components of the undirected graph → (node, component).

    ``component`` is the minimum node id in the node's component. Nodes
    are exactly the ids appearing in ``edges`` (isolated ids the caller
    wants labeled can be passed as self-loops).

    The edge count picks the plan (REDUCE-THEN-SOLVE, the
    Karloff-Suri-Vassilvitskii reduce-to-fit shape): the edge list is
    checkpointed and counted, and one union-find task labels it once it
    holds at most ``_CC_SOLVE_EDGES`` edges. A larger list first goes
    through up to two :func:`_partition_spanning_forest` rounds, which
    shrink it toward n−1 exactly (components preserved) — O(1) passes
    instead of O(log n) label-propagation rounds, e.g. for the DBSCAN
    radius graph (4.5M edges over 99k cores). (Feeding the forest to
    label propagation instead is a TRAP, measured r6: tree diameter is
    huge, rounds ballooned and the gate got slower.) If the forest
    still exceeds the solve budget — node count too large for one task
    — an INFO record says so and the iterative rounds (module
    docstring) run on the ORIGINAL dense edge list, where propagation
    converges fastest; they raise RuntimeError if not converged after
    ``_CC_ROUNDS`` rounds (O(log n) suffices — the guard exists so a
    mis-wired input fails loudly, not silently). Labels are identical
    on every path (min node id per component)."""
    # undirected, deduped edge list (both directions, self-edges dropped)
    a = edges.select(F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v"))
    both = a.unionByName(a.select(F.col("v").alias("u"), F.col("u").alias("v")))
    # One forest round shrinks the edge list toward #partitions × (n − 1);
    # since every partition of a dense graph touches most nodes, rounds
    # stop shrinking once edges ≈ parts × n — if that floor is still
    # above the solve budget, n itself is too big for one task and the
    # dense iterative path below takes over (same labels either way).
    red = a.filter(F.col("u") != F.col("v")).select(
        F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
    ).transform(fresh_local_checkpoint, disk=True)
    prev = None
    for _ in range(3):
        n = red.count()
        if n <= _CC_SOLVE_EDGES:
            solved = _solve_components_one_task(red)
            nodes_all = both.select(F.col("u").alias("node")).distinct()
            return (
                nodes_all.join(solved, "node", "left")
                .select(
                    "node",
                    F.coalesce(F.col("component"), F.col("node")).alias("component"),
                )
            )
        if prev is not None and 2 * n > prev:
            # a round that shrinks < 2× means edges ≈ parts × n already —
            # more rounds cannot reach the solve budget, stop wasting
            # passes (bounds the overhead on such graphs to ~one map pass)
            break
        prev = n
        red = fresh_local_checkpoint(_partition_spanning_forest(red, -(-n // _CC_REDUCE_EDGES)))
    _log.info(
        "connected_components: spanning forest keeps %d edges, above the one-task "
        "solve budget of %d; iterating label propagation on the full edge list",
        n,
        _CC_SOLVE_EDGES,
    )
    e = both.filter(F.col("u") != F.col("v")).distinct().transform(fresh_local_checkpoint)
    # nodes come from the PRE-filter edge list so a self-loop registers
    # its node (the documented way to label isolated ids)
    labels = (
        both.select(F.col("u").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("lbl"))
        .transform(fresh_local_checkpoint)
    )
    for _ in range(_CC_ROUNDS):
        # 1. neighborhood minimum m_u = min(lbl over {u} ∪ N(u)) — the
        #    hash-min step (one edge⋈labels shuffle, map-side partials)
        nb = e.join(labels, e["v"] == labels["node"]).select(F.col("u").alias("node"), "lbl")
        m = labels.unionByName(nb).groupBy("node").agg(F.min("lbl").alias("m"))
        # 2. RELAY THROUGH THE ROOT (r6 — the convergence fix): u
        #    proposes m_u both to itself and to its CURRENT label node,
        #    so the label node accumulates the min over everyone pointing
        #    at it; the jump in step 3 reads it back. Neighbor-min +
        #    one-hop jump alone advances a plateau frontier ~1 edge per
        #    round — measured O(diameter) stall on the sf0.1 DBSCAN
        #    radius graph (99k nodes / 4.5M edges: >45 rounds, hundreds
        #    still changing per round); with the root relay the same
        #    graph converges in 8 rounds (16 s). Labels proposed are
        #    always ids of same-component nodes, each step is
        #    non-increasing, and a fixpoint forces equal labels across
        #    every edge — so the result (min id per component) is
        #    unchanged, only the round count drops.
        withlbl = m.join(labels, "node")
        props = withlbl.select("node", "m").unionByName(
            withlbl.select(F.col("lbl").alias("node"), "m")
        )
        tmp = props.groupBy("node").agg(F.min("m").alias("lbl"))
        # 3. pointer jump reading the relayed root label: lbl <- tmp(tmp)
        hop = tmp.select(F.col("node").alias("_n2"), F.col("lbl").alias("_l2"))
        new = (
            tmp.join(hop, tmp["lbl"] == hop["_n2"], "left")
            .select("node", F.coalesce(F.col("_l2"), F.col("lbl")).alias("lbl"))
            .join(labels.select("node", F.col("lbl").alias("_old")), "node")
            .transform(fresh_local_checkpoint)
        )
        changed = new.filter(F.col("lbl") != F.col("_old")).count()
        labels = new.select("node", "lbl")
        if changed == 0:
            break
    else:
        raise RuntimeError(f"connected_components: no convergence in {_CC_ROUNDS} rounds")
    return labels.select("node", F.col("lbl").alias("component"))


def dedup_cluster_representatives(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b"
) -> DataFrame:
    """Near-dup pairs → (node, component, is_representative): the
    keep-one-per-cluster decision. The representative is the component's
    minimum id (the label itself), so the kept set is deterministic."""
    cc = connected_components(pairs, src=id_a, dst=id_b)
    return cc.select(
        "node", "component", (F.col("node") == F.col("component")).alias("is_representative")
    )


def label_propagation(
    edges: DataFrame,
    iters: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Community detection by SYNCHRONOUS deterministic label
    propagation (Raghavan, Albert & Kumara 2007, made reproducible):
    labels start as node ids; each round EVERY node simultaneously
    adopts the most frequent label among its neighbors, ties broken by
    the smallest label; nodes with no neighbors keep their label. A
    FIXED ``iters`` round count is the contract — asynchronous/random
    LPA is non-deterministic and synchronous LPA can 2-cycle on
    bipartite structure, so "run to convergence" is not well-defined;
    fixed rounds make the result bit-reproducible and SQL-restatable
    (the classic GraphX LPA makes the same choice).

    Scale shape per round: one hash join (labels onto the symmetric
    edge list, labels broadcast when small), one map-side-combined
    (node, label) count, one (node) max-struct argmax — no windows;
    lineage truncated per round with localCheckpoint (the
    connected_components discipline). → (node, community)."""
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    a = edges.select(F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v"))
    both = a.unionByName(a.select(F.col("v").alias("u"), F.col("u").alias("v")))
    e = both.filter(F.col("u") != F.col("v")).distinct().transform(fresh_local_checkpoint)
    labels = (
        both.select(F.col("u").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("lbl"))
        .transform(fresh_local_checkpoint)
    )
    for _ in range(iters):
        nb = e.join(labels, e["v"] == labels["node"]).select(
            F.col("u").alias("node"), "lbl"
        )
        counts = nb.groupBy("node", "lbl").agg(F.count(F.lit(1)).alias("c"))
        # argmax by (count DESC, label ASC) as ONE max over a struct —
        # no per-node window; the negated label makes the struct order
        # match the tie rule
        win = (
            counts.groupBy("node")
            .agg(F.max(F.struct(F.col("c"), (-F.col("lbl")).alias("nl"))).alias("m"))
            .select("node", (-F.col("m.nl")).alias("wlbl"))
        )
        labels = (
            labels.join(win, "node", "left")
            .select("node", F.coalesce("wlbl", "lbl").alias("lbl"))
            .transform(fresh_local_checkpoint)
        )
    return labels.select("node", F.col("lbl").alias("community"))


def pagerank_uniform(
    edges: DataFrame,
    n_nodes: int,
    out_degree: int,
    iters: int,
    d_num: int = 17,
    d_den: int = 20,
    src: str = "src",
    dst: str = "dst",
    validate: bool = True,
) -> DataFrame:
    """PageRank power iteration in EXACT integer arithmetic →
    (node, rank_scaled, rank_ppb), for graphs whose every node has the
    same out-degree (the gate's synthetic road mesh; also the shape of
    k-regular similarity graphs from kNN joins).

    With damping d = d_num/d_den and uniform out-degree g, define the
    scaled rank R_t(v) = rank_t(v) · n · (d_den·g)^t. Then the power
    iteration rank' = (1−d)/n + d·Σ_in rank/g becomes PURE BIGINT
    recurrence:

        R_0(v)     = 1
        R_{t+1}(v) = (d_den−d_num)·g·(d_den·g)^t + d_num·Σ_{u→v} R_t(u)

    so every intermediate is an exact integer, partition- and order-
    invariant — the gate hash-checks VALUES, not a float tolerance
    (total mass Σ_v R_t = n·(d_den·g)^t exactly, asserted in tests).
    ``rank_ppb`` = floor(R_T·10⁹ / (n·(d_den·g)^T)) is the rank in
    parts-per-billion, still exact integer division in both engines.

    Scale shape (same discipline as ``shortest_paths``): per round ONE
    (node, R) row per node; one equi-join against the re-scanned edge
    table + one map-side-combined sum + a left join back onto the node
    range for the teleport term; eager localCheckpoint per round (the
    iterative-lineage trap). Fixed ``iters`` — no driver-side
    convergence action at all. Multi-edges contribute multiply
    (multigraph semantics, documented); dangling nodes are rejected by
    ``validate`` because uniform out-degree is the integrality
    precondition.

    The reference has no ranking operator (its graphs are the static
    ways/relations forest); this is north-rule surface — centrality over
    the road mesh the engine already builds shortest paths on.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    if not (0 < d_num < d_den):
        raise ValueError(f"need 0 < d_num < d_den, got {d_num}/{d_den}")
    base = d_den * out_degree
    if n_nodes * base**iters >= 2**62:
        raise ValueError(
            f"scaled ranks would overflow int64: n·(d_den·g)^T = "
            f"{n_nodes * base**iters} >= 2^62 — lower iters or d_den"
        )
    # the ppb projection multiplies by 1e9 BEFORE dividing; when the
    # worst-case product can overflow (big graphs), emit NULL ppb and
    # keep the exact rank_scaled (callers divide driver-side instead)
    ppb_safe = n_nodes * base**iters * 10**9 < 2**63
    spark = edges.sparkSession
    e = edges.select(F.col(src).cast("long").alias("_s"), F.col(dst).cast("long").alias("_d"))
    if validate:
        bad_deg = e.groupBy("_s").count().filter(F.col("count") != out_degree).limit(1).count()
        n_src = e.select("_s").distinct().count()
        if bad_deg or n_src != n_nodes:
            raise ValueError(
                f"pagerank_uniform requires every node in [0, {n_nodes}) to have "
                f"out-degree exactly {out_degree} (found non-uniform degree: "
                f"{bool(bad_deg)}, distinct sources: {n_src})"
            )
    nodes = spark.range(n_nodes).select(F.col("id").alias("node"))
    ranks = nodes.select("node", F.lit(1).cast("long").alias("r"))
    for t in range(iters):
        tele = (d_den - d_num) * out_degree * base**t
        contrib = (
            e.join(ranks, e["_s"] == ranks["node"])
            .groupBy(F.col("_d").alias("node"))
            .agg(F.sum("r").alias("_in"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .select(
                "node",
                (
                    F.lit(tele) + F.lit(d_num) * F.coalesce(F.col("_in"), F.lit(0))
                ).cast("long").alias("r"),
            )
            .transform(fresh_local_checkpoint)
        )
    denom = n_nodes * base**iters
    ppb = (
        F.expr(f"(r * CAST(1000000000 AS BIGINT)) div CAST({denom} AS BIGINT)")
        if ppb_safe
        else F.lit(None).cast("long")
    )
    return ranks.select("node", F.col("r").alias("rank_scaled"), ppb.alias("rank_ppb"))


def _simple_undirected(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Canonical simple undirected edge list → (u, v) with u < v,
    self-loops dropped, duplicates collapsed. Every graph-analytics
    operator below starts here so multigraph noise in the input never
    changes the answer."""
    a = edges.select(F.col(src).cast("long").alias("_a"), F.col(dst).cast("long").alias("_b"))
    return (
        a.filter(F.col("_a") != F.col("_b"))
        .select(
            F.least("_a", "_b").alias("u"),
            F.greatest("_a", "_b").alias("v"),
        )
        .distinct()
    )


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Exact per-node triangle counts → (node, n_tri), one row per node
    that appears in a simple (non-loop) edge; each triangle contributes
    1 to each of its three vertices.

    Scale shape — DEGREE-ORIENTED wedge join (the published MapReduce
    recipe, Cohen 2009 / Suri & Vassilvitskii 2011 "Counting Triangles
    and the Curse of the Last Reducer"): orient every undirected edge
    from its (degree, id)-SMALLER endpoint to its larger one, generate
    wedges only at the low end (self-join of oriented edges on the
    source), and close each wedge with a semi-shaped inner join back
    onto the oriented edge set. Orientation bounds out-degree by
    O(sqrt(m)), so total wedge rows are O(m^{3/2}) regardless of skew —
    a star graph generates ZERO wedges at its hub instead of deg²
    (tests pin this shape). Everything is codegen equi-joins and exact
    integer counts; no Python, no floats, no windows.
    """
    # fully LAZY plan (no persist: there is no driver action here, and
    # the multiply-referenced stages dedupe via ReusedExchange at run
    # time — repo style for one-shot lazy operators)
    e = _simple_undirected(edges, src, dst)
    deg = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # orient by (deg, id) lexicographically: u→v iff (deg_u, u) <
    # (deg_v, v) — explicit two-column compare, NOT a packed bigint key,
    # so 64-bit node ids (real OSM ids exceed 2^32) stay correct
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("_du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("_dv"))
    u_first = (F.col("_du") < F.col("_dv")) | (
        (F.col("_du") == F.col("_dv")) & (F.col("u") < F.col("v"))
    )
    oriented = (
        e.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("lo"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("hi"),
            F.when(u_first, F.col("_dv")).otherwise(F.col("_du")).alias("deg_hi"),
        )
    )
    w1 = oriented.select(
        F.col("lo").alias("apex"), F.col("hi").alias("b"), F.col("deg_hi").alias("deg_b")
    )
    w2 = oriented.select(
        F.col("lo").alias("apex"), F.col("hi").alias("c"), F.col("deg_hi").alias("deg_c")
    )
    # wedges at the apex with a canonical (deg, id) order between the
    # two out-neighbors, then close on the oriented edge (b, c) — each
    # triangle is found exactly once, at its orientation-minimal vertex
    wedges = w1.join(w2, "apex").filter(
        (F.col("deg_b") < F.col("deg_c"))
        | ((F.col("deg_b") == F.col("deg_c")) & (F.col("b") < F.col("c")))
    )
    closing = oriented.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
    tri = wedges.join(closing, ["b", "c"]).select("apex", "b", "c")
    per_node = (
        tri.select(F.col("apex").alias("node"))
        .unionByName(tri.select(F.col("b").alias("node")))
        .unionByName(tri.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    return deg.join(per_node, "node", "left").select(
        "node", F.coalesce("n_tri", F.lit(0)).cast("long").alias("n_tri")
    )


def common_neighbor_pairs(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    min_common: int = 1,
    max_degree: int | None = None,
) -> DataFrame:
    """Link prediction by shared neighborhoods → (node_a, node_b,
    n_common, deg_a, deg_b, jaccard) for every NON-ADJACENT pair with
    at least ``min_common`` common neighbors, node_a < node_b.

    ``n_common``/``deg_*`` are exact integers; ``jaccard`` =
    n_common / (deg_a + deg_b − n_common) is one IEEE division on
    exact-int operands — deterministic and restatable in SQL with no
    tolerance. Existing edges are REMOVED (an anti-join on the simple
    edge set): the operator predicts links, it does not re-score them.

    Scale shape: one wedge self-join keyed on the shared neighbor (the
    same adjacency re-scanned), map-side-combinable count per pair. A
    hub of degree d fans out d·(d−1)/2 wedge rows, so ``max_degree``
    (when set) drops middles above the cap BEFORE wedge generation —
    the standard, documented semantics change (pairs whose only common
    neighbors are mega-hubs disappear; recommended at web scale where
    hub co-citation is uninformative anyway).
    """
    if min_common < 1:
        raise ValueError(f"min_common must be >= 1, got {min_common}")
    e = _simple_undirected(edges, src, dst)
    adj = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = adj.groupBy(F.col("u").alias("node")).agg(F.count(F.lit(1)).alias("deg"))
    mids = adj.select(F.col("u").alias("mid"), F.col("v").alias("leaf"))
    if max_degree is not None:
        ok = deg.filter(F.col("deg") <= max_degree).select(F.col("node").alias("mid"))
        mids = mids.join(ok, "mid")
    wa = mids.select("mid", F.col("leaf").alias("node_a"))
    wb = mids.select("mid", F.col("leaf").alias("node_b"))
    pairs = (
        wa.join(wb, "mid")
        .filter(F.col("node_a") < F.col("node_b"))
        .groupBy("node_a", "node_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= min_common)
    )
    # predicted links only: drop pairs that are already edges
    pairs = pairs.join(
        e.select(F.col("u").alias("node_a"), F.col("v").alias("node_b")),
        ["node_a", "node_b"],
        "left_anti",
    )
    da = deg.select(F.col("node").alias("node_a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("node_b"), F.col("deg").alias("deg_b"))
    out = (
        pairs.join(da, "node_a")
        .join(db, "node_b")
        .select(
            "node_a",
            "node_b",
            F.col("n_common").cast("long").alias("n_common"),
            F.col("deg_a").cast("long").alias("deg_a"),
            F.col("deg_b").cast("long").alias("deg_b"),
            (
                F.col("n_common").cast("double")
                / (F.col("deg_a") + F.col("deg_b") - F.col("n_common")).cast("double")
            ).alias("jaccard"),
        )
    )
    return out


def clustering_coefficient(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Local clustering coefficient per node → (node, n_tri, deg, coef):
    coef = 2·T_v / (deg_v·(deg_v−1)) — how close the node's
    neighborhood is to a clique (the transitivity companion of
    :func:`triangle_count`; global transitivity is the caller's one-row
    aggregate 3·ΣT / Σwedges over these exact columns). Degree-1 nodes
    have no wedge and emit coef = 0.0 by contract (not NULL — the
    convention that keeps downstream averages total).

    n_tri/deg are exact ints straight from the triangle/degree
    aggregates; coef is ONE IEEE division on exact operands (round-6
    contract). Plan: triangle_count's oriented wedge join + one degree
    join — no new shuffle shape.
    """
    tri = triangle_count(edges, src=src, dst=dst)
    e = _simple_undirected(edges, src, dst)
    deg = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    return tri.join(deg, "node").select(
        "node",
        "n_tri",
        F.col("deg").cast("long").alias("deg"),
        F.round(
            F.when(
                F.col("deg") >= 2,
                (F.lit(2.0) * F.col("n_tri").cast("double"))
                / (F.col("deg") * (F.col("deg") - 1)).cast("double"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("coef"),
    )


def degree_assortativity(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Newman's degree assortativity coefficient → ONE row (m, r):
    the Pearson correlation of endpoint degrees over all edge-endpoint
    pairs of the undirected simple graph (r > 0: hubs attach to hubs;
    r < 0: hub-and-spoke). Social graphs are assortative, road/infra
    meshes disassortative — a one-number topology fingerprint.

    Exactness: with each undirected edge contributing BOTH (deg_u,
    deg_v) and (deg_v, deg_u), the three sums Σxy, Σ(x+y), Σ(x²+y²)
    accumulate as DECIMAL(38,0) (degree products can reach n² — int64
    sums would overflow at web scale; decimal/HUGEINT sums are exact
    and order-invariant). r = (S_xy/M − μ²) / (S_xx/M − μ²) with
    M = 2m, μ = S_x/M — a fixed IEEE expression on the exact sums
    (round-6). Degenerate variance (regular graphs) emits NULL r.

    Plan: one degree aggregate + two broadcast-eligible joins onto the
    edge list + ONE global one-row aggregate — no self-joins, no
    windows.
    """
    e = _simple_undirected(edges, src, dst)
    deg = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("_du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("_dv"))
    dec = "decimal(38,0)"
    x, y = F.col("_du").cast("long"), F.col("_dv").cast("long")
    agg = (
        e.join(du, "u")
        .join(dv, "v")
        .agg(
            F.count(F.lit(1)).cast("long").alias("m"),
            F.sum((x * y).cast(dec)).alias("_sxy"),
            F.sum((x + y).cast(dec)).alias("_sx"),
            F.sum((x * x + y * y).cast(dec)).alias("_sxx"),
        )
    )
    # over the M = 2m ordered endpoint pairs: Σxy_pairs = 2·Σxy_edges,
    # so E[xy] = S_xy/m; first-element sums are Σ(x+y) and Σ(x²+y²)
    big_m = (F.col("m") * 2).cast("double")
    mu = F.col("_sx").cast("double") / big_m
    cov = F.col("_sxy").cast("double") / F.col("m").cast("double") - mu * mu
    var = F.col("_sxx").cast("double") / big_m - mu * mu
    return agg.select(
        "m",
        F.round(F.when(var > 0, cov / var), 6).alias("r"),
    )


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 100,
) -> DataFrame:
    """The k-core of the undirected simple graph → (node, core_deg):
    the maximal induced subgraph in which every node has degree ≥ k;
    ``core_deg`` is the node's degree WITHIN that subgraph.

    Algorithm: distributed iterative peeling — each round computes
    degrees over the surviving edge set (one map-side-combined agg),
    drops nodes below k, and semi-joins the edge set down to survivors
    on both endpoints. The fixpoint is unique and order-independent
    (peeling is confluent: removing any below-k node never makes
    another node eligible to stay), so the result is partition-
    invariant and restatable as a fixed chain of SQL CTEs (the gate
    oracle) — extra rounds past convergence are idempotent. Per-round
    lineage is cut with an eager localCheckpoint; convergence is one
    driver-side scalar per round (bounded: each non-final round removes
    ≥ 1 node, and the loop exits as soon as a round removes none).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    e = _simple_undirected(edges, src, dst)
    adj = (
        e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .transform(fresh_local_checkpoint)
    )
    n_prev = adj.select("u").distinct().count()
    for _ in range(max_iter):
        deg = adj.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.filter(F.col("deg") >= k).select("u")
        n_now = keep.count()
        if n_now == n_prev:
            return deg.filter(F.col("deg") >= k).select(
                F.col("u").alias("node"), F.col("deg").cast("long").alias("core_deg")
            )
        if n_now == 0:
            spark = edges.sparkSession
            return spark.createDataFrame([], "node long, core_deg long")
        adj = (
            adj.join(keep, "u")
            .join(keep.select(F.col("u").alias("v")), "v")
            .select("u", "v")
            .transform(fresh_local_checkpoint)
        )
        n_prev = n_now
    raise RuntimeError(f"k_core: no convergence in {max_iter} rounds")


def shortest_paths(
    edges: DataFrame,
    sources: list,
    max_hops: int,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
) -> DataFrame:
    """Multi-source hop-bounded shortest paths (distributed Bellman-Ford
    with delta relaxation) → (source, node, dist).

    ``dist`` is the minimum total ``weight`` over DIRECTED paths from
    ``source`` with at most ``max_hops`` edges; unreachable (source,
    node) pairs emit no row; the source itself is distance 0. The hop
    bound is part of the SEMANTICS (it makes the result finite-path-
    enumerable — exactly restatable as a bounded recursive SQL walk —
    and is the routing-domain "within N segments" question); when the
    frontier drains earlier, the loop exits early with the identical
    answer, because no longer path can improve a settled distance
    under non-negative weights (validated).

    Scale shape (same discipline as ``connected_components``):

    - per-round state is ONE (source, node, dist) row per settled pair;
      only the FRONTIER (pairs improved last round — the delta) joins
      the edge table, so relaxation work tracks the wavefront, not the
      settled mass;
    - each round is one equi-join (frontier ⋈ edges on node = src,
      broadcast-eligible when the frontier is small) + one map-side-
      combined min-agg + one min-merge against the settled table;
    - rounds end with an EAGER localCheckpoint (lineage trap) and a
      driver-side emptiness check (one scalar action, bounded by
      ``max_hops``).
    """
    if max_hops < 0:
        raise ValueError(f"max_hops must be >= 0, got {max_hops}")
    if not sources:
        raise ValueError("sources must be non-empty")
    spark = edges.sparkSession
    e = edges.select(
        F.col(src).cast("long").alias("_es"),
        F.col(dst).cast("long").alias("_ed"),
        F.col(weight).cast("long").alias("_ew"),
    )
    neg = e.filter(F.col("_ew") < 0).limit(1).count()
    if neg:
        raise ValueError("shortest_paths requires non-negative weights")
    dist = spark.createDataFrame(
        [(int(s), int(s), 0) for s in sources], "source long, node long, dist long"
    ).transform(fresh_local_checkpoint)
    frontier = dist
    for _ in range(max_hops):
        relaxed = (
            frontier.join(e, frontier["node"] == e["_es"])
            .select("source", F.col("_ed").alias("node"), (F.col("dist") + F.col("_ew")).alias("dist"))
            .groupBy("source", "node")
            .agg(F.min("dist").alias("dist"))
        )
        # strictly-better candidates only (the delta)
        improved = (
            relaxed.join(
                dist.select("source", "node", F.col("dist").alias("_old")),
                ["source", "node"],
                "left",
            )
            .filter(F.col("_old").isNull() | (F.col("dist") < F.col("_old")))
            .select("source", "node", "dist")
            .transform(fresh_local_checkpoint)
        )
        if improved.isEmpty():
            break
        dist = (
            dist.unionByName(improved)
            .groupBy("source", "node")
            .agg(F.min("dist").alias("dist"))
            .transform(fresh_local_checkpoint)
        )
        frontier = improved
    return dist


def stitch_lines(
    segments: DataFrame,
    seg_id: str = "seg_id",
    a_col: str = "a",
    b_col: str = "b",
    weight_col: str | None = None,
) -> DataFrame:
    """Polyline stitching (line merge): group line segments into maximal
    connected chains by SHARED ENDPOINT NODE ID, one row per chain —
    the network-topology rollup (which ways form one road? is this
    boundary a closed ring?) behind OSM relation assembly (reference
    analog: the outer-way rings render-features.rs:133-149 walks were
    pre-stitched by the mapper; real inputs arrive as loose ways).

    Contract: endpoints are NODE IDS, not coordinates — coordinate-keyed
    stitching is quantize-then-stitch (callers snap first). Segments are
    an undirected MULTIGRAPH (parallel segments both count); a
    self-loop (a = b) is a one-segment ring and contributes 2 to its
    node's degree. → (chain_id, n_segments, n_nodes, n_odd_nodes,
    max_degree, is_ring, is_path[, total_weight]):

    - ``chain_id`` = min endpoint id in the component (deterministic),
    - ``is_ring``  = every node degree exactly 2 (a single closed walk
      with no junctions),
    - ``is_path``  = exactly two odd-degree endpoints and no node above
      degree 2 (one open walk); components with junctions (degree ≥ 3)
      are neither and the caller sees them via ``max_degree``,
    - ``total_weight`` = exact integer sum of ``weight_col`` if given.

    Physical shape: ``connected_components`` over the endpoint graph
    (one union-find task once its edge count fits, else its bounded
    driver loop), then two map-side-combined rollups (segment
    counts/weights; node degrees) joined on the chain key — no
    per-chain collect, all counts exact int64.
    """
    cols = [
        F.col(seg_id).alias("_sid"),
        F.col(a_col).cast("long").alias("_a"),
        F.col(b_col).cast("long").alias("_b"),
    ]
    if weight_col is not None:
        cols.append(F.col(weight_col).cast("long").alias("_w"))
    e = segments.select(*cols)
    cc = connected_components(e, "_a", "_b")

    seg_lab = e.join(cc.withColumnRenamed("node", "_a"), "_a")
    seg_aggs = [F.count(F.lit(1)).alias("n_segments")]
    if weight_col is not None:
        seg_aggs.append(F.sum("_w").alias("total_weight"))
    per_seg = seg_lab.groupBy("component").agg(*seg_aggs)

    incid = e.select(F.col("_a").alias("node")).unionAll(
        e.select(F.col("_b").alias("node"))
    )
    deg = incid.groupBy("node").agg(F.count(F.lit(1)).alias("_deg"))
    per_node = (
        deg.join(cc, "node")
        .groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum((F.col("_deg") % 2).cast("long")).alias("n_odd_nodes"),
            F.max("_deg").alias("max_degree"),
        )
    )
    out = per_seg.join(per_node, "component").select(
        F.col("component").alias("chain_id"),
        "n_segments",
        "n_nodes",
        "n_odd_nodes",
        "max_degree",
        ((F.col("n_odd_nodes") == 0) & (F.col("max_degree") == 2)).alias("is_ring"),
        ((F.col("n_odd_nodes") == 2) & (F.col("max_degree") <= 2)).alias("is_path"),
        *([F.col("total_weight")] if weight_col is not None else []),
    )
    return out


def hits_scores(
    edges: DataFrame,
    n_nodes: int,
    iters: int,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """HITS (Kleinberg) hubs & authorities in EXACT integer arithmetic
    → (node, hub, auth): the link-analysis complement of
    :func:`pagerank_uniform` — authorities are pointed AT by good hubs,
    hubs point TO good authorities.

    The textbook iteration normalizes each round; normalization only
    rescales (the fixpoint is the dominant eigenvector pair of AᵀA /
    AAᵀ), so for a FIXED iteration count the UNNORMALIZED integer
    recurrence carries the identical ranking with no float anywhere:

        h_0(v)     = 1
        a_{t+1}(v) = Σ_{u→v} h_t(u)
        h_{t+1}(u) = Σ_{u→v} a_{t+1}(v)

    Every intermediate is exact int64 and partition-/order-invariant —
    the gate hash-checks values, not tolerances. Values grow like
    (d_in·d_out)^iters: caller keeps ``iters`` small (the classic
    guidance — HITS ranking stabilizes in a handful of rounds);
    per-node sums are monotone so overflow surfaces as an ANSI error,
    never a silent wrap. Multi-edges contribute multiply (multigraph
    semantics, same as pagerank_uniform).

    Scale shape: per half-round ONE edge equi-join + ONE map-side-
    combined sum keyed by node, left-joined back onto the node range
    (sinks/sources get 0); eager localCheckpoint per round cuts the
    iterative lineage. No driver-side convergence action.

    No reference analog (static ways forest); north-rule graph surface.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    spark = edges.sparkSession
    e = edges.select(F.col(src).cast("long").alias("_s"), F.col(dst).cast("long").alias("_d"))
    nodes = spark.range(n_nodes).select(F.col("id").alias("node"))
    h = nodes.select("node", F.lit(1).cast("long").alias("h"))
    a = None
    for _ in range(iters):
        a = (
            nodes.join(
                e.join(h, e["_s"] == h["node"])
                .groupBy(F.col("_d").alias("node"))
                .agg(F.sum("h").alias("_in")),
                "node",
                "left",
            )
            .select("node", F.coalesce(F.col("_in"), F.lit(0)).cast("long").alias("a"))
            .transform(fresh_local_checkpoint)
        )
        h = (
            nodes.join(
                e.join(a, e["_d"] == a["node"])
                .groupBy(F.col("_s").alias("node"))
                .agg(F.sum("a").alias("_out")),
                "node",
                "left",
            )
            .select("node", F.coalesce(F.col("_out"), F.lit(0)).cast("long").alias("h"))
            .transform(fresh_local_checkpoint)
        )
    return h.join(a, "node").select("node", "h", F.col("a").alias("auth")).withColumnRenamed("h", "hub")


def random_walks(
    edges: DataFrame,
    n_nodes: int,
    walk_len: int,
    walks_per_node: int = 1,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Deterministic random-walk corpus (the DeepWalk/node2vec sampling
    step restated for a reproducible distributed engine) → exploded
    (walk_id, step, node) rows: ``walks_per_node`` walks start at every
    node and take up to ``walk_len`` steps; at step t walk w picks
    neighbor index md5₆₀('rw:w:t') mod out-degree in the SORTED
    neighbor list. Hash-driven choice means the walk corpus is a pure
    function of the graph — partition-invariant, resumable, and
    reproducible by any ANSI engine (the gate hash-checks every row) —
    while distributionally it IS the uniform random walk (the 60-bit
    hash is equidistributed mod small degrees). Multi-edges weight the
    choice by multiplicity (the neighbor list keeps duplicates).

    Scale shape: adjacency is ONE groupBy(src) into in-row sorted
    neighbor arrays; each step is ONE equi-join of the live frontier
    against it (keyed by node, map-side combinable, broadcastable for
    small graphs) + a codegen index pick; eager localCheckpoint per
    step cuts the iterative lineage. Dead-end nodes end their walks
    early (inner join drops them); emitted prefixes are kept. Output
    size is exactly Σ walks · (1 + steps-until-sink) — bounded by
    n·walks_per_node·(walk_len+1).

    No reference analog; graph-training-data surface (the walk corpus
    is what a skip-gram embedding trainer consumes).
    """
    if walk_len < 1 or walks_per_node < 1:
        raise ValueError(
            f"need walk_len >= 1 and walks_per_node >= 1, got {walk_len}, {walks_per_node}"
        )
    from osmflat_rs_spark.operators.dedup import md5_int60

    spark = edges.sparkSession
    adj = (
        edges.select(F.col(src).cast("long").alias("node"), F.col(dst).cast("long").alias("_d"))
        .groupBy("node")
        .agg(F.sort_array(F.collect_list("_d")).alias("_nbrs"))
    )
    cur = spark.range(n_nodes).select(
        F.col("id").alias("node"), F.explode(F.sequence(F.lit(0), F.lit(walks_per_node - 1))).alias("_w")
    ).select(
        (F.col("node") * walks_per_node + F.col("_w")).alias("walk_id"),
        F.lit(0).cast("long").alias("step"),
        "node",
    )
    outs = [cur]
    for t in range(walk_len):
        h = md5_int60(
            F.concat(F.lit("rw:"), F.col("walk_id").cast("string"), F.lit(f":{t}"))
        )
        cur = (
            cur.join(adj, "node")
            .select(
                "walk_id",
                F.lit(t + 1).cast("long").alias("step"),
                F.get(F.col("_nbrs"), (h % F.size("_nbrs")).cast("int")).alias("node"),
            )
            .transform(fresh_local_checkpoint)
        )
        outs.append(cur)
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res.select("walk_id", "step", "node")


# Borůvka merging rounds before boruvka_mst gives up: every round at least
# halves the component count of each connected component that still has
# a live edge, so an int64 node set (< 2^64 nodes) converges within 64
_BORUVKA_ROUNDS = 64


def boruvka_mst(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
) -> DataFrame:
    """Minimum spanning forest by distributed Borůvka (1926; THE
    MST algorithm that parallelizes — Kruskal/Prim are inherently
    sequential) → (u, v, w) edges, u < v. Each round, every component
    picks its lightest outgoing edge (ties broken by (w, u, v) — fully
    deterministic, which also makes the forest unique and
    SQL-comparable even with duplicate weights), the picked edges
    merge components via :func:`connected_components` over the
    contracted graph, and edges inside one component drop. O(log n)
    rounds; each is two component-keyed aggregates + one CC call —
    nothing driver-side but the convergence counter (one scalar per
    round). Feed it the bounded radius-join graph and the output is
    the SINGLE-LINKAGE backbone: cutting the forest at distance d
    reproduces dbscan-style clusters for every d ≤ rmax at once
    (HDBSCAN's first phase).

    Input edges are undirected; self-loops drop. Duplicate rows, both
    orientations of a pair and multi-edges need no pre-aggregation:
    every step reduces by MIN over the struct (w, u, v) per component or
    component pair, and the min over all raw rows equals the min over
    per-pair minima, so they are absorbed exactly. Not SQL-restatable
    (iterative contraction), so gates are rows-only; the pytest
    reference is a pure-Python Prim run asserting edge-set equality
    (unique by the deterministic tie-break). Raises RuntimeError if
    edges between components remain after ``_BORUVKA_ROUNDS`` rounds —
    impossible for a correct contraction, so never a partial forest.
    """
    e = edges.select(
        F.least(F.col(src), F.col(dst)).cast("long").alias("u"),
        F.greatest(F.col(src), F.col(dst)).cast("long").alias("v"),
        F.col(weight).cast("long").alias("w"),
    ).filter(F.col("u") != F.col("v"))
    # disk-only: the raw edge list scales with graph density and a
    # deserialized in-memory checkpoint OOMed the JVM at 5x the bench
    # density; every round reads the checkpointed blocks
    e = e.transform(fresh_local_checkpoint, disk=True)
    nodes = e.select(F.col("u").alias("node")).unionByName(
        e.select(F.col("v").alias("node"))
    ).distinct()
    comp = nodes.select("node", F.col("node").alias("c")).transform(fresh_local_checkpoint)
    mst_parts: list[DataFrame] = []
    for rnd in range(_BORUVKA_ROUNDS + 1):
        cu = comp.select(F.col("node").alias("u"), F.col("c").alias("cu"))
        cv = comp.select(F.col("node").alias("v"), F.col("c").alias("cv"))
        live = e.join(cu, "u").join(cv, "v").filter(F.col("cu") != F.col("cv"))
        # Contract to the per-component-PAIR minimum edge (tie-break
        # (w, u, v), the operator's total order): between two components
        # only their min edge can ever be picked — this round or any
        # later one, because a merged pair's min is the min of its
        # constituent pair minima — so everything else drops NOW. This
        # is what makes the round cost collapse: the carried edge list
        # goes from Θ(edges) every round (r6 measurement: a dense 17M-
        # edge sf0.1 radius graph stayed >11M live edges for 7 rounds,
        # and the accumulated per-round checkpoint blocks GC-thrashed
        # the driver JVM into 80s contraction calls) to Θ(component
        # pairs), which shrinks geometrically. Round 0 skips the
        # aggregation — components are singletons, so the pair-min is
        # the per-(u, v) min, which the per-component struct min below
        # takes over the raw rows anyway.
        if rnd == 0:
            # same width class as e itself -> disk-only (see above)
            contracted = live.select(
                F.least("cu", "cv").alias("pa"),
                F.greatest("cu", "cv").alias("pb"),
                "w", "u", "v",
            ).transform(fresh_local_checkpoint, disk=True)
        else:
            contracted = (
                live.groupBy(
                    F.least("cu", "cv").alias("pa"), F.greatest("cu", "cv").alias("pb")
                )
                .agg(F.min(F.struct("w", "u", "v")).alias("_b"))
                .select("pa", "pb", F.col("_b.w").alias("w"), F.col("_b.u").alias("u"), F.col("_b.v").alias("v"))
                .transform(fresh_local_checkpoint)
            )
        if contracted.isEmpty():
            break
        if rnd == _BORUVKA_ROUNDS:
            raise RuntimeError(f"boruvka_mst: edges between components remain after {rnd} rounds")
        # each pair edge is outgoing for BOTH endpoint components; the
        # per-component argmin must see both orientations before the
        # min (two partial minima unioned as edges would let a
        # component adopt a non-minimal edge and close a cycle). The
        # other endpoint's component rides along (any fixed (w, u, v)
        # has exactly one, so the struct min still picks the same edge)
        # and hands the contraction its supernode pairs without
        # re-joining picked edges against the labels.
        sides = contracted.select(
            F.col("pa").alias("cc"), "w", "u", "v", F.col("pb").alias("other")
        ).unionByName(
            contracted.select(F.col("pb").alias("cc"), "w", "u", "v", F.col("pa").alias("other"))
        )
        best = (
            sides.groupBy("cc")
            .agg(F.min(F.struct("w", "u", "v", "other")).alias("_b"))
            .select(
                F.col("_b.u").alias("u"),
                F.col("_b.v").alias("v"),
                F.col("_b.w").alias("w"),
                F.col("cc").alias("pu"),
                F.col("_b.other").alias("pv"),
            )
            .transform(fresh_local_checkpoint)
        )
        # a mutual-min edge is picked by both endpoint components — one
        # MST row (distinct is lazy over the checkpointed best; parts
        # union once at the end, no per-round re-distinct of the
        # accumulated forest: cross-round duplicates are impossible
        # because a picked edge's endpoints merge that same round)
        mst_parts.append(best.select("u", "v", "w").distinct())
        # contract INCREMENTALLY: components over the SUPERNODE graph
        # (this round's picked edges with endpoints mapped to current
        # component ids) — a pseudo-forest of components, whose
        # diameter stays small; rerunning CC over the whole
        # accumulated MST instead would hand label propagation a tree
        # of ever-growing diameter (observed: non-convergence at 10k
        # points), the classic Boruvka implementation mistake.
        sub = connected_components(best, src="pu", dst="pv").select(
            F.col("node").alias("_oc"), F.col("component").alias("_nc")
        )
        comp = (
            comp.join(sub, comp["c"] == F.col("_oc"), "left")
            .select("node", F.coalesce(F.col("_nc"), F.col("c")).alias("c"))
            .transform(fresh_local_checkpoint)
        )
        e = contracted.select("u", "v", "w")
    if not mst_parts:
        return e.filter(F.lit(False)).select("u", "v", "w")
    out = mst_parts[0]
    for p in mst_parts[1:]:
        out = out.unionByName(p)
    return out


def cooccurrence_pairs(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_count: int = 2,
    max_basket: int = 64,
) -> DataFrame:
    """Market-basket co-occurrence → (item_a, item_b, n_baskets) with
    item_a < item_b: for every basket, every unordered pair of its
    DISTINCT items counts once — the bipartite (basket × item) → item
    projection behind "bought together" recommenders and co-view
    graphs.

    Scale shape: items reduce to per-basket DISTINCT lists first (one
    exchange keyed by basket, map-side combine), pairs fan out IN-ROW
    from the sorted item array (two nested sequence-explodes over a
    list whose length is capped at ``max_basket`` — a 10⁶-item
    mega-basket would otherwise explode quadratically; oversized
    baskets are DROPPED and counted nowhere, the standard
    market-basket hygiene, stated), and the pair table aggregates with
    map-side combine. Sorting the array makes (a, b) canonical without
    a post-hoc least/greatest pass.
    """
    if min_count < 1 or max_basket < 2:
        raise ValueError(f"bad params: min_count={min_count}, max_basket={max_basket}")
    baskets = (
        df.groupBy(F.col(basket_col).alias("_b"))
        .agg(F.array_sort(F.collect_set(F.col(item_col))).alias("_items"))
        .filter((F.size("_items") >= 2) & (F.size("_items") <= max_basket))
    )
    n = F.size("_items")
    pairs = (
        baskets.withColumn("_i", F.explode(F.sequence(F.lit(0), n - 2)))
        .withColumn("_j", F.explode(F.sequence(F.col("_i") + 1, n - 1)))
        .select(
            F.get("_items", F.col("_i")).alias("item_a"),
            F.get("_items", F.col("_j")).alias("item_b"),
        )
    )
    return (
        pairs.groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_baskets"))
        .filter(F.col("n_baskets") >= min_count)
    )


def betweenness(
    edges: DataFrame,
    sources: list,
    max_hops: int,
    src: str = "src",
    dst: str = "dst",
    directed: bool = False,
    fp_scale: int = 10**9,
) -> DataFrame:
    """Sampled Brandes betweenness centrality (Brandes 2001; sampled
    pivots per Brandes & Pich 2007) → (node, bc) — "which nodes carry
    the traffic", the centrality degree/PageRank can't see (a bridge
    node between two communities has low degree but maximal
    betweenness). Exact betweenness is all-pairs (O(nm)) — at graph
    scale nobody runs it; the standard estimator runs Brandes' two
    phases from K pivot ``sources`` and reports the sampled sum
    (rescale by n/K downstream if you need the unbiased estimate).

    Phase 1 is a level-synchronous multi-source BFS carrying the
    shortest-path COUNT σ (exact int64: σ(v) = Σ σ over predecessors
    at the previous level) — same frontier-delta discipline as
    :func:`shortest_paths` (one equi-join + one map-side-combined agg
    + one anti-join per level, eager localCheckpoint, driver-bounded
    by ``max_hops``; the hop bound is part of the semantics). Phase 2
    walks levels BACKWARD accumulating the dependency
    δ(v) = Σ_{w∈succ(v)} σ(v)/σ(w) · (1 + δ(w)): each per-edge
    contribution is computed from exact ints and SNAPPED to the
    ``fp_scale`` lattice BEFORE the per-node sum, so every
    aggregation is an order-free exact int64 sum — re-runs, retries
    and partition layouts agree bit-for-bit (the house fixed-point
    contract; the lattice error is ≤ levels·K/2 ulps of 1e-9, pinned
    by the model test).

    Undirected graphs (default) are symmetrized before both phases;
    pass ``directed=True`` to keep edge direction. Sources appear in
    the output only via paths THROUGH them (endpoints excluded, the
    Brandes convention).
    """
    if max_hops < 1:
        raise ValueError(f"max_hops must be >= 1, got {max_hops}")
    if not sources:
        raise ValueError("sources must be non-empty")
    spark = edges.sparkSession
    sc = float(int(fp_scale))
    e = edges.select(
        F.col(src).cast("long").alias("_es"), F.col(dst).cast("long").alias("_ed")
    ).filter(F.col("_es") != F.col("_ed"))
    if not directed:
        e = e.unionByName(
            e.select(F.col("_ed").alias("_es"), F.col("_es").alias("_ed"))
        )
    e = e.distinct()
    visited = spark.createDataFrame(
        [(int(s), int(s), 0, 1) for s in sources],
        "source long, node long, dist int, sigma long",
    ).transform(fresh_local_checkpoint)
    frontier = visited
    max_level = 0
    for lvl in range(1, max_hops + 1):
        cand = (
            frontier.join(e, frontier["node"] == e["_es"])
            .groupBy("source", F.col("_ed").alias("node"))
            .agg(F.sum("sigma").alias("sigma"))
        )
        new = (
            cand.join(visited.select("source", "node"), ["source", "node"], "left_anti")
            .select("source", "node", F.lit(lvl).cast("int").alias("dist"), "sigma")
            .transform(fresh_local_checkpoint)
        )
        if new.isEmpty():
            break
        visited = visited.unionByName(new).transform(fresh_local_checkpoint)
        frontier = new
        max_level = lvl
    # phase 2: dependencies, level by level backward
    delta = visited.select("source", "node", F.lit(0).cast("long").alias("dfp"))
    delta = delta.transform(fresh_local_checkpoint)
    for lvl in range(max_level - 1, -1, -1):
        lower = visited.filter(F.col("dist") == lvl).select("source", "node", "sigma")
        upper = (
            visited.filter(F.col("dist") == lvl + 1)
            .join(delta, ["source", "node"])
            .select(
                F.col("source").alias("_usrc"),
                F.col("node").alias("_w"),
                F.col("sigma").alias("_ws"),
                F.col("dfp").alias("_wd"),
            )
        )
        contrib = (
            lower.join(e, lower["node"] == e["_es"])
            .join(
                upper,
                (F.col("_ed") == F.col("_w"))
                & (F.col("source") == F.col("_usrc")),
            )
            .select(
                "source",
                "node",
                F.floor(
                    (
                        F.col("sigma").cast("double") / F.col("_ws").cast("double")
                    )
                    * (F.lit(sc) + F.col("_wd").cast("double"))
                    + F.lit(0.5)
                )
                .cast("long")
                .alias("_c"),
            )
            .groupBy("source", "node")
            .agg(F.sum("_c").alias("_d"))
        )
        delta = (
            delta.join(contrib, ["source", "node"], "left")
            .select(
                "source", "node",
                (F.col("dfp") + F.coalesce(F.col("_d"), F.lit(0))).alias("dfp"),
            )
            .transform(fresh_local_checkpoint)
        )
    out = (
        delta.filter(F.col("node") != F.col("source"))
        .groupBy("node")
        .agg(F.sum("dfp").alias("_b"))
    )
    return out.select(
        "node", F.round(F.col("_b").cast("double") / F.lit(sc), 6).alias("bc")
    )


def harmonic_centrality(
    edges: DataFrame,
    sources: list,
    max_hops: int,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    fp_scale: int = 10**9,
) -> DataFrame:
    """Sampled harmonic centrality → (node, n_reached, hc) — the
    closeness variant that survives disconnection (Boldi & Vigna
    2014): H(v) = Σ_{s≠v} 1/d(s, v), unreachable pairs contribute 0
    instead of poisoning the sum like classic closeness does.
    Composes directly on :func:`shortest_paths` (same hop-bounded
    Bellman-Ford semantics, same sampled-pivot estimator shape as
    :func:`betweenness` — rescale by n/K downstream).

    Determinism: each term snaps to ``floor(fp_scale / d)`` by exact
    integer division (d is the exact int64 weighted distance), so the
    per-node sum is an order-free int64 sum; one float division at
    the end (ROUND 6). A node distance-0 from a source (the source
    itself) is excluded."""
    d = shortest_paths(edges, sources, max_hops, src=src, dst=dst, weight=weight)
    sc = int(fp_scale)
    terms = d.filter((F.col("node") != F.col("source")) & (F.col("dist") > 0)).select(
        "node", F.expr(f"{sc}L div dist").alias("_t")
    )
    out = terms.groupBy("node").agg(
        F.count(F.lit(1)).alias("n_reached"), F.sum("_t").alias("_h")
    )
    return out.select(
        "node",
        F.col("n_reached").cast("long").alias("n_reached"),
        F.round(F.col("_h").cast("double") / F.lit(float(sc)), 6).alias("hc"),
    )


def isochrone_bands(
    edges: DataFrame,
    sources: list,
    thresholds: list,
    max_hops: int,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
) -> DataFrame:
    """Isochrone banding → (source, node, dist, band) — "everything
    within 5 / 10 / 15 minutes of here", the routing product built
    directly on the hop-bounded multi-source Bellman-Ford kernel
    (:func:`shortest_paths`): each reached node is labeled with the
    FIRST threshold ≥ its shortest distance (band = that threshold's
    index, 0-based); nodes beyond the last threshold are dropped
    (they are outside the outermost isochrone by definition).
    Downstream, a band's polygon is the hull/contour of its nodes'
    coordinates (``hull.convex_hull`` / ``contour`` — composition,
    not duplication).

    Exactness: distances are exact int64 path sums; the banding is a
    pure integer comparison against the sorted thresholds, restated
    by the SQL oracle over the same bounded recursive walk.
    ``thresholds`` must be strictly increasing positive ints."""
    th = [int(t) for t in thresholds]
    if not th or any(b <= a for a, b in zip(th, th[1:])) or th[0] <= 0:
        raise ValueError(f"thresholds must be strictly increasing positive: {thresholds}")
    d = shortest_paths(edges, sources, max_hops, src=src, dst=dst, weight=weight)
    # fold largest-threshold-first so the SMALLEST matching one wins
    band = F.lit(None).cast("long")
    for t_idx in range(len(th) - 1, -1, -1):
        band = F.when(F.col("dist") <= F.lit(th[t_idx]), F.lit(t_idx).cast("long")).otherwise(band)
    return d.filter(F.col("dist") <= F.lit(th[-1])).select(
        "source", "node", "dist", band.alias("band")
    )
