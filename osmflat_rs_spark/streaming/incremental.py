"""Incremental (resumable) ingest on top of the snapshot catalog.

The reference is batch-only; its replication metadata
(flatdata/osm.flatdata:35-51) records an upstream diff cursor. Our
restatement: docs arrive as appends to the ``docs`` table; the ingest job
consumes only snapshots after its saved cursor, appends the derived
entity tables, and commits the new cursor — crash anywhere before the
cursor commit and the rerun reprocesses the same increment (idempotent:
appends are keyed by snapshot in lineage; consumers read snapshot-
consistent views).

A Structured-Streaming variant (``stream_docs_counts``) demonstrates the
same pipeline as a file-source stream with ``foreachBatch`` — for engines
fed by a live queue rather than table appends.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from osmflat_rs_spark.ingest import ingest, parse_spans
from osmflat_rs_spark.sources.catalog import SnapshotCatalog

JOB = "incremental_ingest"

DERIVED = ["nodes", "ways", "relations"]


def ingest_increment(cat: SnapshotCatalog, docs_table: str = "docs") -> dict | None:
    """Advance the compile to the docs HEAD: if the cursor is behind,
    recompile the archive from the full (snapshot-consistent) docs table
    and write each derived table as a full-rewrite snapshot, then commit
    the cursor. Returns a summary or None if already up to date.

    Semantics follow the reference compiler: the replication cursor marks
    progress through the INPUT stream (flatdata/osm.flatdata:35-51), and
    each compile yields a complete, internally-consistent archive —
    global dense indices stay valid because derived tables are rewritten
    atomically (full_rewrite snapshots), never mixed across compiles.
    Crash before the cursor commit → rerun reproduces the same state
    (idempotent)."""
    cursors = cat.load_cursor(JOB)
    # head test via the manifest pointer only — the old form constructed
    # (and discarded) a full incremental DataFrame just to learn the head
    head = cat.head(docs_table)
    if head is None or head == cursors.get(docs_table):
        return None

    # compile AT the pinned snapshot: reading the mutable HEAD would let a
    # concurrent append slip rows into this compile while the cursor and
    # lineage still record `head` — breaking the idempotent-rerun contract
    full = cat.read(docs_table, snapshot=head)
    t_full = ingest(full, compute_metrics=False)
    summary = {}
    for name in DERIVED:
        snap = cat.append(
            name, t_full[name], job=JOB, inputs={docs_table: head}, full_rewrite=True
        )
        summary[name] = snap
    cursors[docs_table] = head
    cat.save_cursor(JOB, cursors)
    summary["cursor"] = head
    return summary


def stream_docs_counts(spark, docs_dir: str, schema, checkpoint_dir: str) -> "tuple":
    """Structured Streaming smoke pipeline: watch a directory of docs
    parquet, parse spans, maintain running span-kind counts in the
    ``memory`` sink. Returns (query, result_table_name)."""
    stream = spark.readStream.schema(schema).parquet(docs_dir)
    spans = parse_spans(stream)
    agg = spans.groupBy("kind").count()
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("span_kind_counts")
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    return q, "span_kind_counts"


def stream_cell_assign(spark, docs_dir: str, schema, out_dir: str, checkpoint_dir: str, res: int = 14):
    """Streaming spatial assignment: watch a docs directory, parse node
    headers/coords IN-ROW (same expressions as batch ingest), encode the
    Morton cell, append to parquet. File source + append sink +
    checkpoint = exactly-once per input file; restarts resume from the
    checkpoint (the streaming analog of the snapshot cursor).

    Returns the StreamingQuery (caller awaits/stops)."""
    from pyspark.sql import functions as F

    from osmflat_rs_spark.functions.cells import cell_id_expr
    from osmflat_rs_spark.ingest import _keyed

    stream = spark.readStream.schema(schema).parquet(docs_dir)
    keyed = _keyed(stream)
    coord = F.get(F.filter("spans", lambda s: s["kind"] == "coord"), 0)["text"]
    nodes = keyed.filter(F.col("entity_type") == "node").select(
        "doc_id",
        "osm_id",
        F.split(coord, ",").getItem(0).cast("long").alias("lat"),
        F.split(coord, ",").getItem(1).cast("long").alias("lon"),
    )
    out = nodes.withColumn("cell", cell_id_expr("lat", "lon", res))
    return (
        out.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_pip_assign(
    spark,
    points_dir: str,
    schema,
    polygons: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    point_id: str = "event_id",
    lat: str = "lat",
    lon: str = "lon",
    cover_res: int | None = None,
    parse_docs: bool = False,
):
    """Stream-static spatial join: points arriving as files are assigned
    to the polygons that contain them, exactly once, by composing the
    verified batch PIP kernel (operators/spatial_join.py:pip_join) onto a
    streaming source. Every point-side op in that plan is stateless — a
    Project (cell encode), a stream-static broadcast equi-join on
    ``cell``, a Filter split on ``interior``, a ``mapInPandas`` exact
    refinement, and a union of the two branches — so Structured Streaming
    runs it unchanged in append mode with no state store at all; the
    checkpoint tracks only source progress. This is the live form of the
    north rule's PIP join (reference semantics: render-features.rs
    polygon containment) for a continuously-fed point table.

    ``parse_docs=True`` treats the stream as INTERLEAVED DOCUMENTS
    (doc_id, spans) and extracts node coords in-row first — the same
    expressions as batch ingest — so a live doc feed goes straight to
    polygon assignments; ``point_id`` is then ``osm_id``.

    Parquet append sink + checkpoint = exactly-once per input file;
    restarts resume from the checkpoint. Returns the StreamingQuery."""
    from pyspark.sql import functions as F

    from osmflat_rs_spark.operators.spatial_join import pip_join

    stream = spark.readStream.schema(schema).parquet(points_dir)
    if parse_docs:
        from osmflat_rs_spark.ingest import _keyed

        keyed = _keyed(stream)
        coord = F.get(F.filter("spans", lambda s: s["kind"] == "coord"), 0)["text"]
        stream = keyed.filter(F.col("entity_type") == "node").select(
            F.col("osm_id"),
            F.split(coord, ",").getItem(0).cast("long").alias("lat"),
            F.split(coord, ",").getItem(1).cast("long").alias("lon"),
        )
        point_id, lat, lon = "osm_id", "lat", "lon"

    assigned = pip_join(
        stream, polygons, point_id=point_id, lat=lat, lon=lon, cover_res=cover_res
    )
    return (
        assigned.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_coloc_assign(
    spark,
    points_dir: str,
    schema,
    reference,
    out_dir: str,
    checkpoint_dir: str,
    radius: int,
    window_us: int,
    point_id: str = "event_id",
    ref_id: str = "ref_id",
    t_col: str = "t_us",
    lat: str = "lat",
    lon: str = "lon",
    res: int | None = None,
):
    """Stream-static co-location: points arriving as files are paired
    with every STATIC reference point within the spacetime bounds
    (radius, window_us), exactly once, by composing the verified batch
    kernel (operators/coloc.py:coloc_join) onto a streaming source. The
    stream side carries the stateless 27x neighborhood explode and the
    reference side is broadcast (``coloc_join`` always broadcasts it), so
    the plan is Project -> explode -> BroadcastHashJoin -> Filter — append mode,
    no state store; the checkpoint tracks only source progress. The
    live form of the geofence/proximity-alert workload ("which arriving
    pings are near a known asset, at the right time").

    Parquet append sink + checkpoint = exactly-once per input file;
    restarts resume from the checkpoint. Returns the StreamingQuery."""
    from osmflat_rs_spark.operators.coloc import coloc_join

    stream = spark.readStream.schema(schema).parquet(points_dir)
    pairs = coloc_join(
        stream,
        reference,
        radius=radius,
        window_us=window_us,
        left_id=point_id,
        right_id=ref_id,
        t_col=t_col,
        lat_col=lat,
        lon_col=lon,
        res=res,
    )
    return (
        pairs.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_windowed_event_counts(spark, events_dir: str, schema, checkpoint_dir: str,
                                 window: str = "1 hour", watermark: str = "2 hours"):
    """Watermarked sliding-free tumbling-window aggregation over an event
    stream (the late-data pattern of SURVEY §2.9): counts per
    (event_type, window), watermark bounds state. Memory sink for tests;
    swap for a real sink in production. Returns (query, table_name)."""
    from pyspark.sql import functions as F

    stream = spark.readStream.schema(schema).parquet(events_dir)
    # event-time watermarks require TIMESTAMP (with zone); NTZ sources
    # (plain parquet timestamps) are cast — session TZ is pinned to UTC
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("w_start"), "event_type", "n")
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("windowed_event_counts")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    return q, "windowed_event_counts"


def stream_dedup_first_seen(spark, docs_dir: str, schema, checkpoint_dir: str, out_dir: str):
    """STATEFUL streaming exact-dedup (applyInPandasWithState): keyed by
    content digest, only the FIRST document with a given digest is
    emitted; per-key state (first doc_id) persists across micro-batches
    AND restarts via the checkpointed state store. This is the streaming
    form of ``dedup.exact_dedup`` for continuous training-data intake.

    Parquet append sink (the memory sink cannot recover from a
    checkpoint, so it would forfeit exactly the restart semantics this
    operator exists to provide). Returns the StreamingQuery."""
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        StringType,
        StructField,
        StructType,
    )

    stream = spark.readStream.schema(schema).parquet(docs_dir)
    # doc_id STRINGIFIED up front: the survivor is the lexicographic-min
    # string id, chosen identically within a chunk, across chunks, and
    # across batches — the old mixed native-sort/str-compare picked a
    # chunk-boundary-dependent survivor for numeric ids (and the string
    # out/state schemas broke them at the Arrow cast anyway)
    digested = stream.select(
        F.md5(F.col("text")).alias("digest"),
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col("text"),
    )

    out_schema = StructType(
        [
            StructField("digest", StringType()),
            StructField("doc_id", StringType()),
            StructField("text", StringType()),
        ]
    )
    state_schema = StructType([StructField("first_doc_id", StringType())])

    def dedup_fn(key, pdfs, state: GroupState):
        import pandas as pd

        if state.exists:
            # digest already emitted in an earlier batch — drain and drop
            for _ in pdfs:
                pass
            yield pd.DataFrame({"digest": [], "doc_id": [], "text": []})
            return
        # Track the min-doc_id row across ALL Arrow chunks of the group:
        # a group spanning multiple chunks must not let chunk order pick
        # the survivor (ADVICE r02 — taking only the first non-empty
        # chunk's min made large groups nondeterministic).
        first = None
        for pdf in pdfs:
            if len(pdf):
                cand = pdf.sort_values("doc_id", kind="mergesort").iloc[0]
                if first is None or str(cand["doc_id"]) < str(first["doc_id"]):
                    first = cand
        if first is not None:
            state.update((str(first["doc_id"]),))
            yield pd.DataFrame(
                {"digest": [key[0]], "doc_id": [first["doc_id"]], "text": [first["text"]]}
            )

    deduped = digested.groupBy("digest").applyInPandasWithState(
        dedup_fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )
    return (
        deduped.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_neardup_candidates(
    spark,
    docs_dir: str,
    schema,
    checkpoint_dir: str,
    out_dir: str,
    n_hashes: int = 8,
    n_bands: int = 4,
    threshold: float = 0.5,
    max_state_per_bucket: int | None = None,
):
    """STATEFUL streaming NEAR-dup candidates — the streaming form of the
    batch MinHash-LSH pipeline (``dedup.minhash_dedup``), for dedup of a
    continuous crawl against everything already ingested.

    Per incoming doc, entirely in-row (a stream must not shuffle the
    corpus): k-word shingles → ``n_hashes`` MinHash components
    (``array_min(transform(...))`` — the HOF form; bit-identical to the
    batch codegen form, asserted in tests) → ``n_bands`` LSH band hashes
    exploded to (bucket, doc) rows. Each LSH bucket is then a state key:
    the checkpointed state holds the (doc_id, signature) list previously
    seen in that bucket, each new arrival is compared against it, and
    pairs whose SIGNATURE-ESTIMATED jaccard (matching-component fraction,
    the standard MinHash estimator) clears ``threshold`` are emitted as
    ``(id_a, id_b, est_jaccard)`` with id_a < id_b. State survives
    restarts via the checkpoint, so near-dups are caught ACROSS
    micro-batches and job restarts, not only within one batch.

    Scale notes: by DEFAULT state is unbounded and the output is exactly
    the batch pipeline's band-sharing pairs ≥ threshold (the property the
    driver oracle asserts). ``max_state_per_bucket`` is the production
    opt-in for hot-bucket memory bounds: a bucket stops GROWING at the
    cap, overflow docs are still compared against the stored set — but
    two overflow docs are never compared with EACH OTHER, so a capped
    run emits a SUBSET of the exact output (deterministic: the stored
    sample is first-seen by batch, min doc_id within a batch). Do not
    cap when exactness against the batch twin matters. A pair sharing
    several bands is emitted once
    per bucket — output is a candidate MULTISET; consumers apply
    ``distinct()`` (exactly like the batch ``lsh_candidate_pairs``, whose
    final distinct plays the same role). Verification against full text
    (exact jaccard) stays a batch concern by design: the stream's job is
    candidate surfacing with bounded state.
    """
    import pandas as pd  # noqa: F401 (worker-side import, fail fast on driver)
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from osmflat_rs_spark.operators.dedup import _shingle_arr, band_hash, minhash_hash32

    rows_per_band = n_hashes // n_bands
    if rows_per_band * n_bands != n_hashes:
        raise ValueError("n_bands must divide n_hashes")

    stream = spark.readStream.schema(schema).parquet(docs_dir)
    sh = F.array_distinct(_shingle_arr(F.col("text"), 3))

    def _component(i: int):
        # NB: the transform lambda must take exactly ONE parameter —
        # PySpark treats a two-arg lambda as (element, index), so an
        # `i=i` default would be silently replaced by the array index;
        # bind i via this enclosing function scope instead. The hash is
        # dedup.minhash_hash32, the SAME expression the batch pipeline
        # uses (bit-parity is load-bearing: the driver oracle asserts it).
        def h(x):
            return minhash_hash32(x, i)

        return F.array_min(F.transform(sh, h))

    sigs = F.array(*[_component(i) for i in range(n_hashes)]).alias("sigs")
    # ids are STRINGIFIED: state keys, pair endpoints, and the (id_a <
    # id_b) ordering are all lexicographic on the string form — matching
    # the driver oracle's VARCHAR comparisons; numeric-id callers should
    # expect string pair endpoints. Null-text docs are dropped: they have
    # no signature (every component null) and can never be near-dups —
    # int(None) in the state op would otherwise kill the whole query.
    with_sigs = stream.filter(F.col("text").isNotNull()).select(
        F.col("doc_id").cast("string").alias("doc_id"), sigs
    )
    bands = F.array(
        *[
            F.concat_ws(
                ":",
                F.lit(str(b)),
                band_hash(
                    *[F.element_at("sigs", b * rows_per_band + r + 1) for r in range(rows_per_band)]
                ),
            )
            for b in range(n_bands)
        ]
    )
    bucketed = with_sigs.select("doc_id", "sigs", F.explode(bands).alias("bucket"))

    out_schema = StructType(
        [
            StructField("id_a", StringType()),
            StructField("id_b", StringType()),
            StructField("est_jaccard", DoubleType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("ids", ArrayType(StringType())),
            StructField("sigs", ArrayType(ArrayType(LongType()))),
        ]
    )

    def bucket_fn(key, pdfs, state: GroupState):
        import pandas as pd

        if state.exists:
            st_ids, st_sigs = state.get
            st_ids = list(st_ids)
            st_sigs = [list(s) for s in st_sigs]
        else:
            st_ids, st_sigs = [], []
        # gather ALL chunks, then order by doc_id — chunk order must not
        # influence which docs land in a capped bucket's state (the
        # determinism lesson of stream_dedup_first_seen, ADVICE r02)
        arrivals = []
        for pdf in pdfs:
            for did, s in zip(pdf["doc_id"], pdf["sigs"]):
                arrivals.append((str(did), [int(x) for x in s]))
        arrivals.sort(key=lambda t: t[0])
        out_a, out_b, out_e = [], [], []
        seen_in_batch = set()
        for did, s in arrivals:
            if did in seen_in_batch or did in st_ids:
                continue  # re-delivery of a known doc: no self-pairs
            seen_in_batch.add(did)
            for oid, os_ in zip(st_ids, st_sigs):
                est = sum(1 for a, b in zip(s, os_) if a == b) / float(len(s))
                if est >= threshold:
                    a, b = (did, oid) if did < oid else (oid, did)
                    out_a.append(a)
                    out_b.append(b)
                    out_e.append(est)
            if max_state_per_bucket is None or len(st_ids) < max_state_per_bucket:
                st_ids.append(did)
                st_sigs.append(s)
        state.update((st_ids, st_sigs))
        yield pd.DataFrame({"id_a": out_a, "id_b": out_b, "est_jaccard": out_e})

    pairs = bucketed.groupBy("bucket").applyInPandasWithState(
        bucket_fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )
    return (
        pairs.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_sketch_partials(
    spark,
    src_dir: str,
    schema,
    checkpoint_dir: str,
    out_dir: str,
    build_fn,
):
    """Streaming maintenance of ANY mergeable relational sketch via
    PARTIAL-SKETCH APPEND — the one streaming form every sketch in
    operators/sketch.py gets for free.

    A relational sketch whose merge is union + re-aggregate (histogram,
    count-min, KMV, bloom) needs no state store at all: each micro-batch
    writes its own bounded partial (``build_fn(batch_df)``) to
    ``out_dir/batch_id=<n>/`` and the full sketch is a merge-on-read.
    This is the aggregate-file pattern column stores use for rollups,
    and it is exactly-once by idempotence: on restart Spark replays the
    last uncommitted batch with the SAME batch_id, and the per-batch
    directory overwrite makes the replay a no-op rather than a double
    count. State is bounded by sketch-size × batches on disk and one
    sketch in memory per batch — nothing grows with the stream's
    cardinality (contrast the keyed dedup state above).

    Reference anchor: the reference's statistics pass re-scans the full
    archive per run (osmflat/lib.rs counts); this restates it as an
    incrementally-maintained summary. Returns the StreamingQuery.
    """
    stream = spark.readStream.schema(schema).parquet(src_dir)

    def write_partial(batch_df, batch_id: int):
        # one file is plenty: a partial sketch is bounded small
        build_fn(batch_df).coalesce(1).write.mode("overwrite").parquet(
            out_dir.rstrip("/") + f"/batch_id={batch_id}"
        )

    return (
        stream.writeStream.foreachBatch(write_partial)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_hist_partials(
    spark,
    events_dir: str,
    schema,
    checkpoint_dir: str,
    out_dir: str,
    value_col: str,
    lo: float,
    hi: float,
    bins: int = 256,
):
    """Streaming equi-width histogram: `stream_sketch_partials` over
    `hist_build` (≤ ``bins`` rows per partial); read back with
    `hist_from_partials` → `hist_quantiles`."""
    from osmflat_rs_spark.operators.sketch import hist_build

    return stream_sketch_partials(
        spark, events_dir, schema, checkpoint_dir, out_dir,
        lambda bdf: hist_build(bdf, value_col, lo, hi, bins),
    )


def stream_cell_count_partials(
    spark,
    src_dir: str,
    schema,
    checkpoint_dir: str,
    out_dir: str,
    cell_size: int,
    lat: str = "lat",
    lon: str = "lon",
):
    """Streaming hotspot-map maintenance: `stream_sketch_partials` over
    `hotspot.cell_counts` — each micro-batch appends its (cx, cy, n)
    occupancy partial (bounded by the batch's occupied cells), and the
    live hotspot map at ANY moment is
    ``hotspot_from_cell_counts(spark.read.parquet(out_dir), min_pts)``:
    cell counts merge by re-summing, and the threshold/CC phase runs on
    the merged CELL table, never on the stream's points. min_pts stays a
    READ-time knob — the maintained state is threshold-free, so the
    analyst can re-cut the same partials at any density."""
    from osmflat_rs_spark.operators.hotspot import cell_counts

    return stream_sketch_partials(
        spark, src_dir, schema, checkpoint_dir, out_dir,
        lambda bdf: cell_counts(bdf, cell_size, lat=lat, lon=lon),
    )


def stream_zonal_partials(
    spark,
    src_dir: str,
    schema,
    checkpoint_dir: str,
    out_dir: str,
    polygons,
    value_col: str,
    point_id: str = "event_id",
    **pip_kwargs,
):
    """Streaming zonal statistics: `stream_sketch_partials` over
    `spatial_join.zonal_partials` — each micro-batch runs the two-phase
    pip kernel on ITS points only and appends a <= #polygons-row
    (polygon_id, n_pts, sum_val, min_val, max_val) partial; the live
    per-zone statistics at any moment are
    ``zonal_from_partials(spark.read.parquet(out_dir))`` (avg derived at
    read time from merged sum/count — a ratio is not mergeable, its
    parts are). The maintained state never holds a point: bounded by
    zones x batches on disk, the geofence-dashboard workload."""
    from osmflat_rs_spark.operators.spatial_join import zonal_partials

    return stream_sketch_partials(
        spark, src_dir, schema, checkpoint_dir, out_dir,
        lambda bdf: zonal_partials(
            bdf, polygons, value_col, point_id=point_id, **pip_kwargs
        ),
    )


def stream_cms_partials(
    spark,
    src_dir: str,
    schema,
    checkpoint_dir: str,
    out_dir: str,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
):
    """Streaming count-min sketch (→ streaming heavy hitters):
    `stream_sketch_partials` over `cms_build` (≤ depth·width rows per
    partial). Read back with `cms_from_partials`; feed to
    `cms_estimate`/`cms_heavy_hitters` exactly like a batch sketch —
    counter-wise addition is the CM merge, so the merged partials ARE
    the sketch of everything the stream has absorbed."""
    from osmflat_rs_spark.operators.sketch import cms_build

    return stream_sketch_partials(
        spark, src_dir, schema, checkpoint_dir, out_dir,
        lambda bdf: cms_build(bdf, key_col, depth, width),
    )


def cms_from_partials(spark, out_dir: str) -> DataFrame:
    """Merge-on-read of appended CM partials → (r, c, cnt)."""
    from pyspark.sql import functions as F

    parts = spark.read.option("basePath", out_dir).parquet(out_dir + "/batch_id=*")
    return parts.groupBy("r", "c").agg(F.sum("cnt").alias("cnt"))


def hist_from_partials(spark, out_dir: str) -> DataFrame:
    """Merge-on-read of the appended partial sketches → (bin, cnt).

    Equivalent to `hist_build` over the concatenated inputs because the
    sketch is mergeable (same-bounds partials only). The scan stays tiny
    — bins × batches rows — independent of how much data the stream has
    absorbed; feed the result to `hist_quantiles` as usual."""
    from pyspark.sql import functions as F

    parts = spark.read.option("basePath", out_dir).parquet(out_dir + "/batch_id=*")
    return parts.groupBy("bin").agg(F.sum("cnt").alias("cnt"))


def stream_movement_profile(
    spark,
    pts_dir: str,
    schema,
    checkpoint_dir: str,
    out_dir: str,
    vmax_units_per_s: int,
    entity_col: str = "user_id",
    order_col: str = "event_id",
):
    """STATEFUL streaming form of ``trajectory.movement_profile``:
    per-entity speed/heading features as fixes ARRIVE, one output row
    per consecutive fix pair — the continuous telematics feed (speed
    alerts, heading histograms) instead of the nightly batch window.

    State per entity is ONE row (last fix: t_us, lat, lon) in the
    checkpointed state store — restart-surviving, bounded by #entities,
    and the cross-batch stitch: the first fix of a new micro-batch
    pairs with the state's last fix, so batch boundaries emit no seam.
    The kernel replicates the batch operator's EXACT integer contract
    (octant sectors by sign/magnitude compares, speeding by
    cross-multiplied int compare, truncated-seconds dt) in Python ints
    — the gate proves it: replaying the input as two availableNow runs
    against one checkpoint and unioning the appends hash-matches the
    BATCH operator's oracle bit-for-bit.

    Ordering contract (the standard streaming caveat, stated): per
    entity, fixes must arrive in non-decreasing event time across
    micro-batches; a fix older than the state's last fix is DROPPED
    (counted nowhere) rather than silently emitting a negative-dt pair.
    Within a micro-batch, arrival order is irrelevant (the kernel
    sorts by (t, order_col))."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import BooleanType, LongType, StringType, StructField, StructType

    if not (0 < vmax_units_per_s <= 30_000):
        raise ValueError(f"vmax_units_per_s must be in (0, 30000], got {vmax_units_per_s}")
    v2 = vmax_units_per_s * vmax_units_per_s

    stream = spark.readStream.schema(schema).parquet(pts_dir)
    prepped = stream.select(
        F.col(entity_col).cast("string").alias("entity"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
        F.col(order_col).cast("long").alias("o"),
        F.col("lat").cast("long").alias("lat"),
        F.col("lon").cast("long").alias("lon"),
    )
    out_schema = StructType(
        [
            StructField("entity", StringType()),
            StructField("t0_us", LongType()),
            StructField("dt_us", LongType()),
            StructField("d2", LongType()),
            StructField("sector", StringType()),
            StructField("speeding", BooleanType()),  # nullable tri-state
        ]
    )
    state_schema = StructType(
        [
            StructField("t_us", LongType()),
            StructField("o", LongType()),
            StructField("lat", LongType()),
            StructField("lon", LongType()),
        ]
    )

    def _sector(dx: int, dy: int) -> str:
        ax, ay = abs(dx), abs(dy)
        if dx == 0 and dy == 0:
            return "still"
        if ay >= 2 * ax:
            return "N" if dy > 0 else "S"
        if ax >= 2 * ay:
            return "E" if dx > 0 else "W"
        if dx > 0:
            return "NE" if dy > 0 else "SE"
        return "NW" if dy > 0 else "SW"

    def profile_fn(key, pdfs, state: GroupState):
        rows = []
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if not chunks:
            yield pd.DataFrame(
                {c.name: [] for c in out_schema.fields}
            )
            return
        fixes = pd.concat(chunks).sort_values(["t_us", "o"], kind="mergesort")
        if state.exists:
            lt, lo_ord, lla, llo = state.get
            prev = (int(lt), int(lo_ord), int(lla), int(llo))
        else:
            prev = None
        for t, o, la, lo in fixes[["t_us", "o", "lat", "lon"]].itertuples(index=False):
            t, o, la, lo = int(t), int(o), int(la), int(lo)
            if prev is not None:
                if (t, o) < (prev[0], prev[1]):
                    continue  # late fix: dropped by contract
                dt = t - prev[0]
                dx, dy = lo - prev[3], la - prev[2]
                d2 = dx * dx + dy * dy
                dt_s = dt // 1_000_000
                speeding = None if dt_s < 1 else bool(d2 > v2 * dt_s * dt_s)
                rows.append((key[0], prev[0], dt, d2, _sector(dx, dy), speeding))
            prev = (t, o, la, lo)
        state.update((prev[0], prev[1], prev[2], prev[3]))
        yield pd.DataFrame(
            rows, columns=[c.name for c in out_schema.fields]
        )

    profiled = prepped.groupBy("entity").applyInPandasWithState(
        profile_fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )
    return (
        profiled.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_adaptive_partials(
    spark,
    src_dir: str,
    schema,
    checkpoint_dir: str,
    out_dir: str,
    max_level: int,
    lat: str = "lat",
    lon: str = "lon",
):
    """Streaming adaptive-quadtree maintenance: `stream_sketch_partials`
    over `tiling.adaptive_grid_cell_counts` — each micro-batch appends
    ITS finest-level occupied-cell counts (bounded by the batch's
    cells), and the live adaptive leaf cover at any moment is
    ``adaptive_from_partials(spark.read.parquet(out_dir), max_level,
    cap)``: counts merge by re-summing, the rollup + local leaf test
    run on the merged CELL table (never on the stream's points), and
    ``cap`` stays a READ-time knob — the same partials re-cut at any
    capacity. The dashboard form of the batch operator, state bounded
    by occupied cells × batches on disk."""
    from osmflat_rs_spark.operators.tiling import adaptive_grid_cell_counts

    return stream_sketch_partials(
        spark, src_dir, schema, checkpoint_dir, out_dir,
        lambda bdf: adaptive_grid_cell_counts(bdf, lat=lat, lon=lon, max_level=max_level),
    )


def adaptive_from_partials(partials, max_level: int, cap: int):
    """Merge appended finest-cell partials (groupBy-sum — re-summed
    counts are exactly the batch aggregate's table) and cut the leaf
    cover at ``cap``."""
    from pyspark.sql import functions as F

    from osmflat_rs_spark.operators.tiling import adaptive_grid_from_counts

    merged = partials.groupBy("ix", "iy").agg(F.sum("n").alias("n"))
    return adaptive_grid_from_counts(merged, max_level=max_level, cap=cap)


def stream_funnel_steps(
    spark,
    src_dir: str,
    schema,
    checkpoint_dir: str,
    out_dir: str,
    steps: list,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    order_col: str = "event_id",
):
    """STATEFUL streaming form of ``sessions.funnel_steps``: step
    completions as events ARRIVE — one append row (user, step, ts_us)
    the moment a user's funnel advances (the live conversion feed).

    Equivalence to the batch operator (tested): processing each user's
    events in (ts, order) order and advancing exactly when the event's
    type matches the NEXT needed step with ts STRICTLY after the last
    reached step reproduces the batch chained-min semantics — any
    earlier candidate for step i has ts ≤ ts_{i-1} at the moment it is
    scanned (the scan is time-ordered), so the first taken event IS the
    greedy-earliest minimum.

    State per user: the last processed (t_us, order) pair + the reached
    step timestamps — bounded by #users × K, checkpointed,
    restart-surviving; batch boundaries stitch seamlessly (the state
    carries funnel progress across micro-batches). Ordering contract as
    in ``stream_movement_profile``: per user, non-decreasing event time
    across micro-batches; a late event is DROPPED loudly-by-contract
    (within a batch, arrival order is irrelevant — the kernel sorts).
    """
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType, IntegerType, LongType, StringType, StructField, StructType,
    )

    if not steps:
        raise ValueError("steps must be non-empty")
    steps = list(steps)

    stream = spark.readStream.schema(schema).parquet(src_dir)
    prepped = stream.select(
        F.col(user_col).cast("string").alias("user"),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("t_us"),
        F.col(order_col).cast("long").alias("o"),
        F.col(type_col).cast("string").alias("typ"),
    )
    out_schema = StructType(
        [
            StructField("user", StringType()),
            StructField("step", IntegerType()),
            StructField("ts_us", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("t_us", LongType()),
            StructField("o", LongType()),
            StructField("reached", ArrayType(LongType())),
        ]
    )

    def funnel_fn(key, pdfs, state: GroupState):
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if not chunks:
            yield pd.DataFrame({c.name: [] for c in out_schema.fields})
            return
        evs = pd.concat(chunks).sort_values(["t_us", "o"], kind="mergesort")
        if state.exists:
            lt, lo, reached = state.get
            last = (int(lt), int(lo))
            reached = [int(x) for x in reached]
        else:
            last, reached = None, []
        rows = []
        for t, o, typ in evs[["t_us", "o", "typ"]].itertuples(index=False):
            t, o = int(t), int(o)
            if last is not None and (t, o) < last:
                continue  # late event: dropped by contract
            last = (t, o)
            if len(reached) < len(steps) and typ == steps[len(reached)]:
                if not reached or t > reached[-1]:
                    reached.append(t)
                    rows.append((key[0], len(reached), t))
        if last is not None:
            state.update((last[0], last[1], reached))
        yield pd.DataFrame(rows, columns=[c.name for c in out_schema.fields])

    advanced = prepped.groupBy("user").applyInPandasWithState(
        funnel_fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )
    return (
        advanced.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_merge_intervals(
    spark,
    src_dir: str,
    schema,
    checkpoint_dir: str,
    out_dir: str,
    entity_col: str = "user_id",
    start_col: str = "s",
    end_col: str = "e",
):
    """STATEFUL streaming form of ``intervals.merge_intervals``: per
    entity, coalesce arriving closed [start, end] intervals into
    maximal runs and EMIT each run the moment a gap closes it — the
    continuous uptime/coverage feed (session spans, sensor coverage)
    instead of the nightly batch union.

    State per entity is ONE open run (m_start, m_end, n_source) plus
    the last processed start — checkpointed, restart-surviving,
    bounded by #entities. Append-mode streaming cannot retract, so
    only CLOSED runs are emitted; each entity's final run stays open
    in state forever (or until a later interval closes it). Batch
    parity is therefore exact by construction: the union of appends
    across any replay split equals the batch ``merge_intervals``
    output minus each entity's LAST run — pinned by the time-split
    test.

    Ordering contract (same shape as ``stream_movement_profile``): per
    entity, interval STARTS must be non-decreasing across
    micro-batches; an interval starting before the last processed
    start is DROPPED loudly-by-contract (it could overlap an
    already-emitted run, which append mode cannot repair). Within a
    micro-batch arrival order is irrelevant (the kernel sorts by
    (start, end)); inverted rows (start > end) are dropped — the
    batch operator's poison contract.
    """
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    stream = spark.readStream.schema(schema).parquet(src_dir)
    prepped = stream.select(
        F.col(entity_col).cast("string").alias("entity"),
        F.col(start_col).cast("long").alias("s"),
        F.col(end_col).cast("long").alias("e"),
    ).filter(F.col("s").isNotNull() & F.col("e").isNotNull() & (F.col("s") <= F.col("e")))
    out_schema = StructType(
        [
            StructField("entity", StringType()),
            StructField("m_start", LongType()),
            StructField("m_end", LongType()),
            StructField("n_source", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("m_start", LongType()),
            StructField("m_end", LongType()),
            StructField("n_source", LongType()),
            StructField("last_s", LongType()),
        ]
    )

    def merge_fn(key, pdfs, state: GroupState):
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if not chunks:
            yield pd.DataFrame({c.name: [] for c in out_schema.fields})
            return
        ivs = pd.concat(chunks).sort_values(["s", "e"], kind="mergesort")
        if state.exists:
            ms, me, n, last_s = (int(x) for x in state.get)
            run = [ms, me, n]
        else:
            run, last_s = None, None
        rows = []
        for s, e in ivs[["s", "e"]].itertuples(index=False):
            s, e = int(s), int(e)
            if last_s is not None and s < last_s:
                continue  # late start: dropped by contract
            last_s = s
            if run is not None and s <= run[1]:
                run[1] = max(run[1], e)
                run[2] += 1
            else:
                if run is not None:
                    rows.append((key[0], run[0], run[1], run[2]))
                run = [s, e, 1]
        state.update((run[0], run[1], run[2], last_s))
        yield pd.DataFrame(rows, columns=[c.name for c in out_schema.fields])

    merged = prepped.groupBy("entity").applyInPandasWithState(
        merge_fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )
    return (
        merged.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_cusum(
    spark,
    events_dir: str,
    schema,
    checkpoint_dir: str,
    out_dir: str,
    mu: int,
    slack: int,
    h: int,
    key_col: str = "event_type",
    order_col: str = "event_id",
    value_expr: str = "CAST(floor(value * 100 + 0.5) AS LONG)",
):
    """STATEFUL streaming twin of ``trend.cusum_scan``: per-key
    two-sided CUSUM drift alarms as values ARRIVE. State per key is
    five ints (running sums + prefix mins + last_o, the drawdown form
    of Page's recurrence) in the checkpointed store —
    restart-surviving, bounded by #keys — and the recurrence is the
    SHARED ``trend.cusum_kernel`` (single source of truth, the MinHash
    parity discipline), so replaying a corpus through any number of
    micro-batches appends exactly the batch scan's rows, bit-for-bit
    (asserted in tests/test_streaming.py).

    Ordering contract (as stream_movement_profile): per key,
    ``order_col`` must be non-decreasing across micro-batches; a row
    with o ≤ the state's last o is DROPPED (the recurrence is
    order-sequential and cannot be repaired retroactively). Within a
    micro-batch, arrival order is irrelevant (the kernel sorts).
    """
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import BooleanType, LongType, StringType, StructField, StructType

    from osmflat_rs_spark.operators.trend import cusum_kernel

    if h < 0 or slack < 0:
        raise ValueError(f"h and slack must be >= 0, got h={h}, slack={slack}")
    stream = spark.readStream.schema(schema).parquet(events_dir)
    prepped = stream.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(order_col).cast("long").alias("o"),
        F.expr(value_expr).alias("v"),
    ).filter(F.col("v").isNotNull())
    out_schema = StructType(
        [
            StructField("key", StringType()),
            StructField("o", LongType()),
            StructField("v", LongType()),
            StructField("s_hi", LongType()),
            StructField("s_lo", LongType()),
            StructField("alarm", BooleanType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("p_hi", LongType()),
            StructField("min_hi", LongType()),
            StructField("p_lo", LongType()),
            StructField("min_lo", LongType()),
            StructField("last_o", LongType()),
        ]
    )

    def fn(key, pdfs, state: GroupState):
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if not chunks:
            yield pd.DataFrame({c.name: [] for c in out_schema.fields})
            return
        pdf = pd.concat(chunks).sort_values("o", kind="mergesort")
        # "no rows processed yet" sentinel is LONG_MIN, not -1 (ADVICE
        # r05): a restored -1 sentinel silently dropped legitimate rows
        # with order ids <= -1 that a fresh state would have accepted.
        _no_rows = -(1 << 63)
        if state.exists:
            p_hi, min_hi, p_lo, min_lo, last_o = (int(x) for x in state.get)
            if last_o == _no_rows:
                last_o = None
        else:
            p_hi, min_hi, p_lo, min_lo, last_o = 0, 0, 0, 0, None
        rows = [
            (int(o), int(v))
            for o, v in pdf[["o", "v"]].itertuples(index=False)
            if last_o is None or int(o) > last_o
        ]
        out, p_hi, min_hi, p_lo, min_lo = cusum_kernel(
            rows, mu, slack, h, p_hi, min_hi, p_lo, min_lo
        )
        if rows:
            last_o = rows[-1][0]
        state.update((p_hi, min_hi, p_lo, min_lo, _no_rows if last_o is None else last_o))
        yield pd.DataFrame(
            [(key[0],) + r for r in out],
            columns=[c.name for c in out_schema.fields],
        )

    scored = prepped.groupBy("key").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )
    return (
        scored.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
