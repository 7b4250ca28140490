"""Distributed synthetic docs generator — pure Spark expressions.

The pandas generator (fixtures.py) is the *golden* fixture (bit-exact,
oracle-checked); this one generates the same *shape* of interleaved-doc
table at arbitrary scale entirely JVM-side (``spark.range`` + xxhash64
arithmetic — no driver materialization, no Python), for throughput and
scaling benchmarks where millions of docs are needed. Deterministic for a
given (n_nodes, n_ways, n_rels, seed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osmflat_rs_spark.fixtures import (
    GOOD_HIGHWAYS,
    LAT_MAX,
    LAT_MIN,
    LON_MAX,
    LON_MIN,
    UNWANTED_HIGHWAYS,
)

_ID_STEP = 37
_ID_BASE = 1000


def _h(seed: int, *cols) -> "F.Column":
    return F.abs(F.xxhash64(F.lit(seed), *cols))


def _span(kind: str, text, media_ref=None):
    return F.struct(
        F.lit(kind).alias("kind"),
        (text if text is not None else F.lit("")).alias("text"),
        (media_ref if media_ref is not None else F.lit("")).alias("media_ref"),
        F.lit(0).alias("offset"),  # fixed up (re-numbered) after assembly
    )


def _with_offsets(spans_col):
    """Re-number offsets 0..n-1 in array order (order == offset here)."""
    return F.transform(
        spans_col,
        lambda s, i: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
            i.cast("int").alias("offset"),
        ),
    )


def spark_docs(
    spark: SparkSession, n_nodes: int, n_ways: int, n_rels: int, seed: int = 42
) -> DataFrame:
    hv = GOOD_HIGHWAYS + UNWANTED_HIGHWAYS
    hv_arr = F.array(*[F.lit(v) for v in hv])

    # ---- nodes ------------------------------------------------------------
    n = spark.range(n_nodes).withColumn("osm_id", F.col("id") * _ID_STEP + _ID_BASE)
    lat = (F.lit(LAT_MIN) + _h(seed, F.col("id")) % F.lit(LAT_MAX - LAT_MIN)).cast("long")
    lon = (F.lit(LON_MIN) + _h(seed + 1, F.col("id")) % F.lit(LON_MAX - LON_MIN)).cast("long")
    node_tag = F.when(
        F.col("id") % 20 == 0,
        F.array(
            _span("tag", F.lit("place=city")),
            _span("tag", F.concat(F.lit("name=City"), F.col("id"))),
            _span("tag", F.concat(F.lit("population="), (_h(seed + 2, F.col("id")) % 5000000).cast("string"))),
        ),
    ).otherwise(
        F.when(
            F.col("id") % 17 == 3,
            F.array(_span("tag", F.lit("amenity=pub")), _span("tag", F.concat(F.lit("name=Pub "), F.col("id")))),
        ).otherwise(F.array(_span("tag", F.lit("source=survey"))))
    )
    media = F.when(
        F.col("id") % 3 == 0,
        F.array(_span("media", None, F.concat(F.lit("media://node/"), F.col("osm_id"), F.lit("/0.png")))),
    ).otherwise(F.array().cast("array<struct<kind:string,text:string,media_ref:string,offset:int>>"))
    nodes = n.select(
        F.concat(F.lit("n"), F.col("osm_id")).alias("doc_id"),
        _with_offsets(
            F.concat(
                F.array(_span("header", F.concat(F.lit("node "), F.col("osm_id")))),
                F.array(_span("coord", F.concat(lat, F.lit(","), lon))),
                node_tag,
                media,
            )
        ).alias("spans"),
    )

    # ---- ways -------------------------------------------------------------
    wy = spark.range(n_ways).withColumn("osm_id", F.col("id") * _ID_STEP + _ID_BASE + 7)
    n_refs = (_h(seed + 3, F.col("id")) % 11 + 2).cast("int")
    # ref ids hit real node ids except ~2% dangling (+1 breaks the ≡ base mod step)
    ref_ids = F.transform(
        F.sequence(F.lit(0), n_refs - 1),
        lambda i: (
            (_h(seed + 4, F.col("id"), i) % F.lit(n_nodes)) * _ID_STEP
            + _ID_BASE
            + F.when(_h(seed + 5, F.col("id"), i) % 50 == 0, 1).otherwise(0)
        ).cast("long"),
    )
    way_tag = F.when(
        F.col("id") % 2 == 0,
        F.array(_span("tag", F.concat(F.lit("highway="), F.element_at(hv_arr, (_h(seed + 6, F.col("id")) % len(hv) + 1).cast("int"))))),
    ).otherwise(
        F.when(
            F.col("id") % 7 == 1,
            F.array(
                _span("tag", F.lit("waterway=river")),
                _span("tag", F.concat(F.lit("width="), (_h(seed + 7, F.col("id")) % 40 + 1).cast("string"))),
            ),
        ).otherwise(F.array(_span("tag", F.lit("surface=asphalt"))))
    )
    ways = wy.select(
        F.concat(F.lit("w"), F.col("osm_id")).alias("doc_id"),
        _with_offsets(
            F.concat(
                F.array(_span("header", F.concat(F.lit("way "), F.col("osm_id")))),
                way_tag,
                F.transform(ref_ids, lambda r: _span("ref", r.cast("string"))),
            )
        ).alias("spans"),
    )

    # ---- relations ----------------------------------------------------------
    rl = spark.range(n_rels).withColumn("osm_id", F.col("id") * _ID_STEP + _ID_BASE + 11)
    n_members = (_h(seed + 8, F.col("id")) % 4 + 1).cast("int")
    members = F.transform(
        F.sequence(F.lit(0), n_members - 1),
        lambda i: _span(
            "member",
            F.concat(
                F.lit("way:"),
                ((_h(seed + 9, F.col("id"), i) % F.lit(max(1, n_ways))) * _ID_STEP + _ID_BASE + 7).cast("string"),
                F.lit(":outer"),
            ),
        ),
    )
    rels = rl.select(
        F.concat(F.lit("r"), F.col("osm_id")).alias("doc_id"),
        _with_offsets(
            F.concat(
                F.array(_span("header", F.concat(F.lit("relation "), F.col("osm_id")))),
                F.array(_span("tag", F.lit("type=multipolygon")), _span("tag", F.lit("leisure=park"))),
                members,
            )
        ).alias("spans"),
    )

    return nodes.unionByName(ways).unionByName(rels)


def spark_text_docs(
    spark: SparkSession,
    n_docs: int,
    words_per_doc: int = 40,
    dup_every: int = 10,
) -> DataFrame:
    """Deterministic pure-JVM text-document generator for the dedup bench
    (no Python in the plan, repartition-invariant: every column is a
    function of ``id`` alone). Every ``dup_every``-th doc is a NEAR-DUP of
    its predecessor (same word stream + a distinct suffix word), so
    MinHash-LSH has a real ~1/dup_every duplicate rate to find."""
    base = F.when(
        (F.col("id") % dup_every) == dup_every - 1, F.col("id") - 1
    ).otherwise(F.col("id"))
    words = F.transform(
        F.sequence(F.lit(0), F.lit(words_per_doc - 1)),
        lambda i: F.concat(
            F.lit("w"),
            F.pmod(
                F.xxhash64(F.concat_ws(":", base.cast("string"), i.cast("string"))),
                F.lit(5000),  # vocabulary size
            ).cast("string"),
        ),
    )
    text = F.concat_ws(" ", words)
    text = F.when(
        (F.col("id") % dup_every) == dup_every - 1,
        F.concat(text, F.lit(" zz"), (F.col("id") % 97).cast("string")),
    ).otherwise(text)
    return spark.range(n_docs).select(F.col("id").alias("doc_id"), text.alias("text"))

