"""Ingest: interleaved text+media documents → columnar entity tables.

This is the engine's restatement of the reference compiler
(``osmflatc``, osmflatc/src/main.rs:588-715): a 3-stage DAG
(nodes → ways → relations, the dictionary dependency of main.rs:666-698)
expressed as declarative DataFrame plans — no per-row Python anywhere;
span parsing is pure Catalyst string expressions.

Plan shape (scale-first): ONE groupBy(doc_id) assembles every per-kind
span array (tags/refs/members/media + header + coord) in a single
shuffle — filtered ``collect_list(when(...))`` per kind — instead of one
shuffle per kind. Ref/member resolution then explodes only the arrays it
needs, LEFT-joins the id dictionaries, and re-collects (the unavoidable
resolution shuffles, SURVEY §2.3 J2/J3). Dense indices use the windowless
two-pass scheme (plans/indexing.py).

Outputs (golden-table schemas of FIXTURES.md §3):
- ``nodes(node_idx, osm_id, lat, lon, tags)`` — consecutive idx in id
  order (main.rs:192-193);
- ``ways(way_idx, osm_id, tags, refs)`` — NULL node_idx for dangling
  refs (left-join semantics, main.rs:232-251);
- ``relations(relation_idx, osm_id, tags, members)`` — typed members
  incl. relation→relation (main.rs:362-397, :531-533);
- ``tags_dim`` — dedup in global first-seen order (main.rs:100-150);
- ``strings_dim`` — interning, offset += len+1 (strings.rs:73-109);
- ``metrics`` — the Stats counters (stats.rs:4-12);
- ``media`` / ``span_layout`` / ``unresolved`` — lossless carriers so the
  per-doc span sequence (kind, text, media_ref, order) can be rebuilt
  exactly (BASELINE.json.input_hint invariant).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from osmflat_rs_spark.plans.indexing import assign_dense_index

STAGE_RANK = {"node": 0, "way": 1, "relation": 2}

#: background executor for ingest's independent validation actions (the
#: strict-kinds probe and the dense-index audit, guide §2.6) — module
#: scope so the two threads are reused across ingest calls; Spark's
#: driver accepts concurrent job submission from multiple threads (FIFO
#: back-fill is exactly the wanted behavior)
_ASYNC_POOL = ThreadPoolExecutor(max_workers=2, thread_name_prefix="ingest-async")


def _check_probe(probe) -> None:
    """Raise the strict-kinds validation error from a collected probe row."""
    problems = []
    if probe["kinds"]:
        problems.append(
            f"unrecognized span kind(s) {sorted(probe['kinds'])} — the carrier "
            f"tables represent only {list(SPAN_KINDS)}"
        )
    if probe["types"]:
        problems.append(
            f"document(s) with unusable entity type(s) {sorted(probe['types'])} — "
            f"every doc needs a header span 'node|way|relation <osm_id>'"
        )
    if problems:
        # NB: headerless docs also trip the dense-index assignment (it
        # rejects NULL group keys); ingest raises THIS error in that case
        # because it names the offending docs' problem precisely.
        raise ValueError("ingest: " + "; ".join(problems) + " — fix the input")

# the six span kinds the carrier tables can represent; ingest REJECTS
# anything else (_check_probe) — an unrecognized kind has no entity-table
# home, so silently passing it would break the lossless-roundtrip
# invariant without any diagnostic
SPAN_KINDS = ("header", "coord", "tag", "ref", "member", "media")


#: canonical sorted-span SQL fragment (see _sorted_spans_expr)
_SORTED_SQL = (
    "array_sort(transform({col}, (s, i) -> named_struct("
    "'offset', s.offset, '_apos', i, 'kind', s.kind, 'text', s.text, "
    "'media_ref', s.media_ref)))"
)
#: sorted spans re-tagged with the doc-level order (rank of offset)
_ORDERED_SQL = (
    "transform(" + _SORTED_SQL + ", (s, i) -> named_struct("
    "'order', cast(i as int), 'kind', s.kind, 'text', s.text, "
    "'media_ref', s.media_ref))"
)


def _sorted_spans_expr(col: str = "spans"):
    """The canonical sorted-span array: array_sort over (offset, original
    array position, kind, text, media_ref) structs. The position
    tie-break pins the total order for duplicate offsets to the input
    sequence (ADVICE r01: breaking ties on kind/text silently diverged
    from the oracle's stable sort). SINGLE source of truth — parse_spans
    and _assemble_keyed must sort identically or the exploded and
    assembled views disagree on duplicate-offset ordering.

    r6: parsed from one SQL string — the lambda-HOF Column builders cost
    ~12 ms of py4j round-trips EACH, and _assemble_keyed stacks seven of
    them per call (measured 0.42 s of plan construction per call, paid
    twice per ingest; bench times construction). The parsed trees are
    the identical expressions."""
    return F.expr(_SORTED_SQL.format(col=col))


def parse_spans(docs: DataFrame) -> DataFrame:
    """docs → one row per span: (doc_id, order, kind, text, media_ref, offset).

    ``order`` is the rank of ``offset`` within the doc (the engine does NOT
    assume the array arrives offset-sorted): re-sort in-row with
    ``array_sort`` on (offset, original array position) — O(n log n) per
    row, no shuffle. The position tie-break pins the total order for
    duplicate offsets to the input sequence, matching the model oracle's
    STABLE sort on offset (ADVICE r01: the old struct order broke offset
    ties on kind/text, silently diverging from the oracle)."""
    sorted_spans = _sorted_spans_expr("spans")
    return docs.select(
        "doc_id", F.posexplode(sorted_spans).alias("order", "s")
    ).select(
        "doc_id",
        F.col("order").cast("int").alias("order"),
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").alias("offset"),
    )


def _keyed(docs: DataFrame) -> DataFrame:
    """docs + parsed (entity_type, osm_id) sort keys — the CHEAP
    projection (one header-span lookup, no sort, no per-kind arrays).
    This is what the range partitioner samples: ``repartitionByRange``
    computes its child twice (sample pass + shuffle pass), so the
    pre-shuffle projection must stay thin — full per-kind assembly runs
    AFTER the shuffle, exactly once (r02 fix: the old plan assembled
    every doc twice and shuffled four derived arrays instead of the one
    raw span array)."""
    hdr = "get(filter(spans, s -> s.kind = 'header'), 0).text"
    return docs.selectExpr(
        "doc_id",
        "spans",
        f"substring_index({hdr}, ' ', 1) AS entity_type",
        f"cast(substring_index({hdr}, ' ', -1) AS bigint) AS osm_id",
    )


def _assemble_keyed(keyed: DataFrame, carrier: bool = True) -> DataFrame:
    """Per-kind array assembly from a (doc_id, spans, entity_type, osm_id
    [, eidx]) row — pure in-row transforms; extra input columns pass
    through. r6: each output column parses from ONE SQL string (the
    lambda-HOF builders cost ~12 ms of py4j per HOF; this function
    stacked seven — 0.42 s of plan-construction time per call, twice
    per ingest). Identical expressions, identical values (roundtrip
    tests unchanged)."""
    ordered = _ORDERED_SQL.format(col="spans")

    def kind_arr(kind: str) -> str:
        return f"filter({ordered}, s -> s.kind = '{kind}')"

    coord = f"get({kind_arr('coord')}, 0).text"
    # value = text after the first '=' (values may contain '=')
    tags = (
        f"transform({kind_arr('tag')}, s -> named_struct("
        "'order', s.order, "
        "'key', substring_index(s.text, '=', 1), "
        "'value', substr(s.text, instr(s.text, '=') + 1)))"
    )
    refs = (
        f"transform({kind_arr('ref')}, s -> named_struct("
        "'order', s.order, 'ref_osm_id', cast(s.text as bigint)))"
    )
    members = (
        f"transform({kind_arr('member')}, s -> named_struct("
        "'order', s.order, "
        "'member_type', split(s.text, ':', 3)[0], "
        "'m_osm_id', cast(split(s.text, ':', 3)[1] as bigint), "
        "'role', split(s.text, ':', 3)[2]))"
    )
    passthrough = [c for c in keyed.columns if c != "spans"]
    cols = [
        *passthrough,
        f"cast(split({coord}, ',')[0] as bigint) AS lat",
        f"cast(split({coord}, ',')[1] as bigint) AS lon",
        f"{tags} AS tags_arr",
        f"{refs} AS refs_arr",
        f"{members} AS members_arr",
    ]
    if carrier:
        media = (
            f"transform({kind_arr('media')}, s -> named_struct("
            "'order', s.order, 'media_ref', s.media_ref))"
        )
        layout = (
            f"transform({ordered}, s -> named_struct("
            "'order', s.order, 'kind', s.kind))"
        )
        cols += [f"{media} AS media_arr", f"{layout} AS layout_arr"]
    return keyed.selectExpr(*cols)


def ingest(
    docs: DataFrame,
    compute_metrics: bool = True,
    with_dims: bool = True,
) -> dict[str, DataFrame]:
    from osmflat_rs_spark.plans.indexing import audit_dense_index

    # r6: the validation probe and the dense-index audit are independent
    # driver ACTIONS (one small job each); run them from background
    # threads (guide §2.6 "overlap independent jobs") so their job +
    # analysis latency overlaps the ~0.7 s of py4j plan construction the
    # rest of ingest spends on the driver. Their exceptions surface at
    # ingest's return (or, for the probe, as soon as the dense-index
    # assignment fails on the same malformed input — precedence kept).
    #
    # ONE validation job, ONE scan (ADVICE r03: the old form ran two
    # eager collect() jobs, each re-scanning the raw docs — one of
    # them exploding every span — inside every ingest call, including
    # the bench's timed window): an unknown span kind, a doc without
    # a header span, or an unknown entity type has nowhere to live in
    # the entity tables, so the lossless roundtrip would break
    # SILENTLY (span_layout's elem_pos join covers SPAN_KINDS only;
    # entity staging filters on node/way/relation). Per-row in-row
    # extraction (no explode), problem rows filtered BEFORE the
    # aggregate so the collected state is empty on clean inputs.
    bad_type_cond = F.col("entity_type").isNull() | ~F.col("entity_type").isin(
        "node", "way", "relation"
    )
    probe = (
        _keyed(docs)
        .select(
            F.filter(
                F.transform("spans", lambda s: F.coalesce(s["kind"], F.lit("<null kind>"))),
                lambda k: ~k.isin(*SPAN_KINDS),
            ).alias("bad_kinds"),
            F.when(
                bad_type_cond, F.coalesce(F.col("entity_type"), F.lit("<no header span>"))
            ).alias("bad_type"),
        )
        .filter((F.size("bad_kinds") > 0) | F.col("bad_type").isNotNull())
        .agg(
            F.array_distinct(F.flatten(F.collect_list("bad_kinds"))).alias("kinds"),
            F.collect_set("bad_type").alias("types"),
        )
    )
    probe_fut = _ASYNC_POOL.submit(lambda df=probe: df.collect()[0])

    # ONE range shuffle assigns all three per-type dense indices (grouped
    # two-pass scheme) — vs. one shuffle+checkpoint per entity type. The
    # shuffled+checkpointed rows are RAW (doc_id, spans, keys): the range
    # partitioner's sample pass then costs one header parse instead of a
    # full assembly, and the shuffle and the checkpoint blocks carry one
    # span array instead of four derived arrays. Per-kind arrays derive
    # in-row (codegen'd transforms) on each read of the checkpointed
    # layout — CPU-cheap vs. the memory traffic they save.
    try:
        indexed = assign_dense_index(_keyed(docs), ["osm_id"], "eidx", group_col="entity_type")
    except Exception:
        # same malformed input (headerless doc → NULL group) trips both
        # the probe and the assigner; surface the probe's specific error
        _check_probe(probe_fut.result())
        raise
    # one vectorized no-shuffle pass over the checkpointed layout: the
    # eidx must tile 0..n_g-1 per entity type in storage order —
    # guards the local-counter/stage-fusion invariant (indexing.py)
    audit_fut = _ASYNC_POOL.submit(
        audit_dense_index, indexed, "eidx", group_col="entity_type"
    )
    assembled = _assemble_keyed(indexed, carrier=False)
    carrier = _assemble_keyed(indexed)  # lazy: only computed if media/layout read

    # ---- stage 1: nodes ---------------------------------------------------
    nodes = assembled.filter(F.col("entity_type") == "node").select(
        F.col("eidx").alias("node_idx"),
        "osm_id",
        "lat",
        "lon",
        _strip_order("tags_arr").alias("tags"),
        "doc_id",
    )
    # the dictionary carries coords so the resolution join denormalizes
    # them into the ways (ways_geo below): downstream geometry consumers
    # (tiling, road length, rendering) then run with ZERO further joins
    # or windows over the vertex stream — the 100-TB tile phase becomes
    # in-row segment expansion + one distinct agg
    node_dict = nodes.select(F.col("osm_id").alias("ref_osm_id"), "node_idx", "lat", "lon")

    # ---- stage 2: ways ----------------------------------------------------
    ways_base = assembled.filter(F.col("entity_type") == "way").withColumn(
        "way_idx", F.col("eidx")
    )
    refs = ways_base.select(
        "doc_id", F.explode("refs_arr").alias("r")
    ).select("doc_id", F.col("r.order").alias("order"), F.col("r.ref_osm_id").alias("ref_osm_id"))
    # THE resolution join (main.rs:232-251): LEFT join keeps dangling refs
    # as NULL node_idx — @optional(INVALID_IDX) semantics. No broadcast
    # hint: AQE picks broadcast at fixture scale; at 10^12 rows the node
    # dictionary exceeds broadcast and this becomes a sort-merge join.
    refs_resolved = refs.join(node_dict, "ref_osm_id", "left").persist(StorageLevel.MEMORY_AND_DISK)
    way_refs = refs_resolved.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("order").alias("_o"),
                    F.col("node_idx"),
                    F.col("ref_osm_id"),
                    F.col("lat"),
                    F.col("lon"),
                )
            )
        ).alias("resolved_refs")
    )
    # ways_geo: refs with denormalized coords (pos, node_idx, lat, lon) —
    # the geometry-carrying variant; the golden-schema `ways` is an
    # in-row projection of it (no extra shuffle)
    ways_geo = ways_base.join(way_refs, "doc_id", "left").select(
        "way_idx",
        "osm_id",
        _strip_order("tags_arr").alias("tags"),
        F.expr(
            "transform(coalesce(resolved_refs, array()), (s, i) -> named_struct("
            "'pos', cast(i as int), 'node_idx', s.node_idx, 'lat', s.lat, "
            "'lon', s.lon))"
        ).alias("refs"),
        "doc_id",
    )
    ways = ways_geo.withColumn(
        "refs",
        F.expr("transform(refs, s -> named_struct('pos', s.pos, 'node_idx', s.node_idx))"),
    )
    way_dict = ways.select(F.col("osm_id").alias("m_osm_id"), F.col("way_idx").alias("member_idx")).withColumn(
        "member_type", F.lit("way")
    )

    # ---- stage 3: relations (dictionary built FIRST — relations reference
    # relations, the pre-pass of main.rs:531-533) ----------------------------
    rels_base = assembled.filter(F.col("entity_type") == "relation").withColumn(
        "relation_idx", F.col("eidx")
    )
    rel_dict = rels_base.select(
        F.col("osm_id").alias("m_osm_id"), F.col("relation_idx").alias("member_idx")
    ).withColumn("member_type", F.lit("relation"))
    node_mdict = node_dict.select(
        F.col("ref_osm_id").alias("m_osm_id"), F.col("node_idx").alias("member_idx")
    ).withColumn("member_type", F.lit("node"))
    member_dict = node_mdict.unionByName(way_dict).unionByName(rel_dict)

    members = rels_base.select("doc_id", F.explode("members_arr").alias("m")).select(
        "doc_id",
        F.col("m.order").alias("order"),
        F.col("m.member_type").alias("member_type"),
        F.col("m.m_osm_id").alias("m_osm_id"),
        F.col("m.role").alias("role"),
    )
    members_resolved = members.join(member_dict, ["member_type", "m_osm_id"], "left").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    rel_members = members_resolved.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("order").alias("_o"),
                    F.col("member_type"),
                    F.col("member_idx"),
                    F.col("role"),
                    F.col("m_osm_id"),
                )
            )
        ).alias("resolved_members")
    )
    relations = rels_base.join(rel_members, "doc_id", "left").select(
        "relation_idx",
        "osm_id",
        _strip_order("tags_arr").alias("tags"),
        F.expr(
            "transform(coalesce(resolved_members, array()), (s, i) -> named_struct("
            "'pos', cast(i as int), 'member_type', s.member_type, "
            "'member_idx', s.member_idx, 'role', s.role))"
        ).alias("members"),
        "doc_id",
    )

    # ---- dimensions: tag dedup + string interning -------------------------
    # (index assignment is eager — driver-side offset collects — so dim
    # construction is skippable for pipelines that don't consume dims)
    tags_dim = strings_dim = None
    if with_dims:
        tags_dim, strings_dim = _build_dims(assembled)

    # ---- media + span layout + unresolved (lossless roundtrip carriers) ---
    media = carrier.select("doc_id", F.posexplode("media_arr").alias("media_pos", "m")).select(
        "doc_id", "media_pos", F.col("m.order").alias("order"), F.col("m.media_ref").alias("media_ref")
    )
    layout = carrier.select("doc_id", F.explode("layout_arr").alias("l")).select(
        "doc_id", F.col("l.order").alias("order"), F.col("l.kind").alias("kind")
    )
    # elem_pos (rank within kind) in-row: position of the span among same-
    # kind spans — computed from the per-kind arrays to avoid any window
    elem_pos = carrier.select(
        "doc_id",
        F.explode(
            F.flatten(
                F.array(
                    *[
                        _elem_pos_arr(kind)
                        for kind in SPAN_KINDS
                    ]
                )
            )
        ).alias("e"),
    ).select("doc_id", F.col("e.order").alias("order"), F.col("e.elem_pos").alias("elem_pos"))
    layout = layout.join(elem_pos, ["doc_id", "order"])

    unresolved_refs = refs_resolved.filter(F.col("node_idx").isNull()).select(
        "doc_id", F.lit("ref").alias("kind"), "order", F.col("ref_osm_id").alias("raw_id")
    )
    unresolved_members = members_resolved.filter(F.col("member_idx").isNull()).select(
        "doc_id", F.lit("member").alias("kind"), "order", F.col("m_osm_id").alias("raw_id")
    )
    unresolved = unresolved_refs.unionByName(unresolved_members)

    # ---- metrics (stats.rs:4-12; counted left-anti joins, main.rs:244) ----
    spark = docs.sparkSession
    if compute_metrics:
        ent_counts = {
            r["entity_type"]: r["n"]
            for r in assembled.groupBy("entity_type").agg(F.count("*").alias("n")).collect()
        }
        ref_nulls = refs_resolved.agg(
            F.sum(F.when(F.col("node_idx").isNull(), 1).otherwise(0)).alias("n")
        ).collect()[0]["n"] or 0
        mem_nulls = {
            r["member_type"]: r["n"]
            for r in members_resolved.filter(F.col("member_idx").isNull())
            .groupBy("member_type")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        metrics = spark.createDataFrame(
            [
                (
                    "ingest",
                    ent_counts.get("node", 0),
                    ent_counts.get("way", 0),
                    ent_counts.get("relation", 0),
                    ref_nulls + mem_nulls.get("node", 0),
                    mem_nulls.get("way", 0),
                    mem_nulls.get("relation", 0),
                )
            ],
            schema=(
                "stage string, num_nodes long, num_ways long, num_relations long, "
                "num_unresolved_node_ids long, num_unresolved_way_ids long, num_unresolved_rel_ids long"
            ),
        )
    else:
        metrics = None

    _check_probe(probe_fut.result())
    audit_fut.result()

    return {
        "_cached": [refs_resolved, members_resolved],
        "nodes": nodes.drop("doc_id"),
        "ways": ways.drop("doc_id"),
        "ways_geo": ways_geo.drop("doc_id"),
        "relations": relations.drop("doc_id"),
        "nodes_full": nodes,
        "ways_full": ways,
        "relations_full": relations,
        "tags_dim": tags_dim,
        "strings_dim": strings_dim,
        "metrics": metrics,
        "media": media,
        "span_layout": layout,
        "unresolved": unresolved,
        "assembled": assembled,
    }


def unpersist_ingest(t: dict[str, DataFrame]) -> None:
    """Release the datasets ingest() pinned (refs/members resolution
    frames, MEMORY_AND_DISK). Call when done with the archive in
    long-lived sessions that ingest repeatedly (e.g. per-scale bench
    loops) — otherwise each call pins cache for the session lifetime.
    The dense-index layout is a local checkpoint, not a cache entry: the
    ContextCleaner frees its blocks once the ingest frames are
    unreachable."""
    for df in t.get("_cached", []):
        try:
            df.unpersist()
        except Exception:
            pass


def _build_dims(assembled: DataFrame):
    tags_global = assembled.select(
        _stage_rank_col().alias("stage"), F.col("osm_id").alias("eid"), F.explode("tags_arr").alias("t")
    ).select(
        F.col("t.key").alias("key"),
        F.col("t.value").alias("value"),
        F.struct(F.col("stage"), F.col("eid"), F.col("t.order").alias("ord")).alias("gpos"),
    )
    tag_first = tags_global.groupBy("key", "value").agg(F.min("gpos").alias("first_pos"))
    tags_dim = assign_dense_index(
        tag_first, ["first_pos.stage", "first_pos.eid", "first_pos.ord"], "tag_idx"
    ).select("tag_idx", "key", "value")

    # string stream: per tag_idx, key then value (strings.rs:73-109);
    # offset = Σ (len+1) of earlier strings (strings.rs:134-145): the
    # scalable two-pass prefix sum minus the string's own length — no
    # global single-partition window (the distinct-string dim is NOT
    # small at web scale; VERDICT r01 missing #6).
    from osmflat_rs_spark.plans.indexing import sorted_prefix_scan

    strs = (
        tags_dim.select((F.col("tag_idx") * 2).alias("spos"), F.col("key").alias("s"))
        .unionByName(tags_dim.select((F.col("tag_idx") * 2 + 1).alias("spos"), F.col("value").alias("s")))
        .groupBy("s")
        .agg(F.min("spos").alias("first_spos"))
        .withColumn("_w", F.length("s") + 1)
    )
    strings_dim = sorted_prefix_scan(strs, ["first_spos"], long_sums=[("_w", "_end")]).select(
        (F.col("_end") - F.col("_w")).alias("offset"), "s"
    )

    return tags_dim, strings_dim


def _elem_pos_arr(kind: str):
    """(order, elem_pos) structs for spans of one kind, in-row (single
    SQL parse — see _assemble_keyed's r6 construction note)."""
    return F.expr(
        f"transform(filter(layout_arr, s -> s.kind = '{kind}'), "
        "(s, i) -> named_struct('order', s.order, 'elem_pos', cast(i as int)))"
    )


def _strip_order(arr_col: str):
    return F.expr(
        f"transform(coalesce({arr_col}, array()), "
        "s -> named_struct('key', s.key, 'value', s.value))"
    )


def _stage_rank_col():
    """entity_type -> STAGE_RANK as a column (single source of truth)."""
    c = F.lit(STAGE_RANK["relation"])
    for etype, rank in sorted(STAGE_RANK.items(), key=lambda kv: -kv[1])[1:]:
        c = F.when(F.col("entity_type") == etype, F.lit(rank)).otherwise(c)
    return c.cast("int")


def reconstruct_spans(t: dict[str, DataFrame]) -> DataFrame:
    """Rebuild (doc_id, order, kind, text, media_ref) from the ingested
    columnar tables — proof of losslessness (the per-row span-sequence
    invariant). Every value is re-derived from entity tables, not cached
    raw spans; unresolved ids come from the ``unresolved`` side table
    (the reference drops them into INVALID_IDX, osm.flatdata:6-9 — our
    invariant is stronger, so they are carried explicitly)."""
    nodes, ways, rels = t["nodes_full"], t["ways_full"], t["relations_full"]
    layout, media, unresolved = t["span_layout"], t["media"], t["unresolved"]

    ent = (
        nodes.select("doc_id", F.lit("node").alias("etype"), "osm_id")
        .unionByName(ways.select("doc_id", F.lit("way").alias("etype"), "osm_id"))
        .unionByName(rels.select("doc_id", F.lit("relation").alias("etype"), "osm_id"))
    )
    header = layout.filter(F.col("kind") == "header").join(ent, "doc_id").select(
        "doc_id", "order", "kind", F.concat_ws(" ", "etype", "osm_id").alias("text"), F.lit("").alias("media_ref")
    )
    coord = layout.filter(F.col("kind") == "coord").join(nodes, "doc_id").select(
        "doc_id", "order", "kind", F.concat_ws(",", "lat", "lon").alias("text"), F.lit("").alias("media_ref")
    )
    all_tags = (
        nodes.select("doc_id", "tags")
        .unionByName(ways.select("doc_id", "tags"))
        .unionByName(rels.select("doc_id", "tags"))
    )
    tag = (
        layout.filter(F.col("kind") == "tag")
        .join(all_tags, "doc_id")
        .select(
            "doc_id",
            "order",
            "kind",
            F.concat(
                F.element_at("tags", F.col("elem_pos") + 1)["key"],
                F.lit("="),
                F.element_at("tags", F.col("elem_pos") + 1)["value"],
            ).alias("text"),
            F.lit("").alias("media_ref"),
        )
    )
    ref_elems = ways.select("doc_id", F.posexplode("refs").alias("elem_pos", "r")).select(
        "doc_id", "elem_pos", F.col("r.node_idx").alias("node_idx")
    )
    ref = (
        layout.filter(F.col("kind") == "ref")
        .join(ref_elems, ["doc_id", "elem_pos"])
        .join(nodes.select(F.col("node_idx"), F.col("osm_id").alias("ref_id")), "node_idx", "left")
        .join(
            unresolved.filter(F.col("kind") == "ref").select("doc_id", "order", F.col("raw_id")),
            ["doc_id", "order"],
            "left",
        )
        .select(
            "doc_id",
            "order",
            F.lit("ref").alias("kind"),
            F.coalesce(F.col("ref_id"), F.col("raw_id")).cast("string").alias("text"),
            F.lit("").alias("media_ref"),
        )
    )
    mem_elems = rels.select("doc_id", F.posexplode("members").alias("elem_pos", "m")).select(
        "doc_id", "elem_pos", "m.member_type", "m.member_idx", "m.role"
    )
    idx_to_id = (
        nodes.select(F.lit("node").alias("member_type"), F.col("node_idx").alias("member_idx"), F.col("osm_id").alias("m_id"))
        .unionByName(ways.select(F.lit("way").alias("member_type"), F.col("way_idx").alias("member_idx"), F.col("osm_id").alias("m_id")))
        .unionByName(
            rels.select(
                F.lit("relation").alias("member_type"), F.col("relation_idx").alias("member_idx"), F.col("osm_id").alias("m_id")
            )
        )
    )
    member = (
        layout.filter(F.col("kind") == "member")
        .join(mem_elems, ["doc_id", "elem_pos"])
        .join(idx_to_id, ["member_type", "member_idx"], "left")
        .join(
            unresolved.filter(F.col("kind") == "member").select("doc_id", "order", "raw_id"),
            ["doc_id", "order"],
            "left",
        )
        .select(
            "doc_id",
            "order",
            F.lit("member").alias("kind"),
            F.concat_ws(":", "member_type", F.coalesce(F.col("m_id"), F.col("raw_id")).cast("string"), "role").alias(
                "text"
            ),
            F.lit("").alias("media_ref"),
        )
    )
    med = layout.filter(F.col("kind") == "media").join(
        media.select("doc_id", "order", "media_ref"), ["doc_id", "order"]
    ).select("doc_id", "order", "kind", F.lit("").alias("text"), "media_ref")

    return header.unionByName(coord).unionByName(tag).unionByName(ref).unionByName(member).unionByName(med)
