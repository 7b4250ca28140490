"""Model-equivalence across regenerated fixture universes (SURVEY §5's
hypothesis-style check, run over fixed seeds so Spark session cost stays
bounded): for every seed, engine ingest + queries must equal the pandas
model on a freshly generated doc table — nothing may depend on the
specific seed-42 universe."""

import pytest

from osmflat_rs_spark import oracle
from osmflat_rs_spark import queries as q
from osmflat_rs_spark.fixtures import docs_to_spark, generate_docs, generate_polygons, polygons_to_spark
from osmflat_rs_spark.ingest import ingest, reconstruct_spans
from osmflat_rs_spark.oracle import parse_docs_model
from tests.util import assert_frames_equal


@pytest.mark.parametrize("seed", [7, 13, 99])
def test_ingest_and_queries_roundtrip_other_seeds(spark, seed):
    pdf, _ = generate_docs(n_nodes=250, n_ways=60, n_rels=15, seed=seed)
    docs = docs_to_spark(spark, pdf)
    t = ingest(docs)
    m = parse_docs_model(pdf)

    assert_frames_equal(t["nodes"], m["nodes"], ["node_idx", "osm_id", "lat", "lon", "tags"])
    assert_frames_equal(t["ways"], m["ways"], ["way_idx", "osm_id", "tags", "refs"])
    assert_frames_equal(t["tags_dim"], m["tags_dim"], ["tag_idx", "key", "value"])
    assert_frames_equal(
        reconstruct_spans(t), m["spans_flat"], ["doc_id", "order", "kind", "text", "media_ref"]
    )
    assert_frames_equal(q.classify(t), oracle.q_classify(m), ["source", "feature_idx", "category", "width"])

    # spatial: PIP pairs on a reseeded polygon set
    from osmflat_rs_spark.operators.spatial_join import pip_join

    poly_pdf = generate_polygons(seed=seed, n_poly=8)
    got = pip_join(t["nodes"], polygons_to_spark(spark, poly_pdf))
    want = oracle.q_pip_join(m, poly_pdf)
    assert_frames_equal(got, want, ["polygon_id", "node_idx"])


@pytest.mark.parametrize("seed", [7, 99])
def test_road_segments_paths_agree_other_seeds(spark, seed):
    """Tiles from both segment sources — the ingest dict (assembled-direct)
    and ways_geo's in-row pairs — equal the model's tiling on reseeded
    universes."""
    from osmflat_rs_spark.operators.tiling import tile_assign_segments

    pdf, _ = generate_docs(n_nodes=250, n_ways=60, n_rels=15, seed=seed)
    t = ingest(docs_to_spark(spark, pdf))
    want = oracle.q_tile_assign(parse_docs_model(pdf))
    cols = ["way_idx", "zoom", "tile_x", "tile_y"]
    assert len(want) > 0
    assert_frames_equal(tile_assign_segments(q.road_segments(t)), want, cols)
    assert_frames_equal(tile_assign_segments(q.road_segments({"ways_geo": t["ways_geo"]})), want, cols)
