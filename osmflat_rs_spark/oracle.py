"""Pure-pandas/NumPy model oracle (no Spark).

The trivially-correct reference model every engine output is compared
against — the same oracle pattern the reference uses for its proptest
model checks (``ReferenceStringTable``, osmflatc/src/strings.rs:164-192).
Deliberately written as simple Python loops over small fixtures; shares
NO code with the engine's DataFrame plans (the PIP here is an
independent scalar crossing test, the engine's is vectorized NumPy).
"""

from __future__ import annotations

import math
import re

import numpy as np
import pandas as pd

from osmflat_rs_spark.fixtures import UNWANTED_HIGHWAYS
from osmflat_rs_spark.functions.geo import COORD_SCALE, EARTH_RADIUS_M


# ---------------------------------------------------------------------------
# model ingest (docs → columnar tables)
# ---------------------------------------------------------------------------


def parse_docs_model(docs_pdf: pd.DataFrame) -> dict:
    docs = []
    for r in docs_pdf.itertuples():
        spans = sorted(r.spans, key=lambda s: s["offset"])
        ent = {"doc_id": r.doc_id, "tags": [], "refs": [], "members": [], "media": [], "spans": []}
        for order, s in enumerate(spans):
            ent["spans"].append((order, s["kind"], s["text"], s["media_ref"]))
            if s["kind"] == "header":
                etype, osm_id = s["text"].split(" ")
                ent["entity_type"], ent["osm_id"] = etype, int(osm_id)
            elif s["kind"] == "coord":
                la, lo = s["text"].split(",")
                ent["lat"], ent["lon"] = int(la), int(lo)
            elif s["kind"] == "tag":
                k, _, v = s["text"].partition("=")
                ent["tags"].append((order, k, v))
            elif s["kind"] == "ref":
                ent["refs"].append((order, int(s["text"])))
            elif s["kind"] == "member":
                t, i, role = s["text"].split(":", 2)
                ent["members"].append((order, t, int(i), role))
            elif s["kind"] == "media":
                ent["media"].append((order, s["media_ref"]))
        docs.append(ent)

    by_type = {"node": [], "way": [], "relation": []}
    for d in docs:
        by_type[d["entity_type"]].append(d)
    for t in by_type:
        by_type[t].sort(key=lambda d: d["osm_id"])

    node_dict = {d["osm_id"]: i for i, d in enumerate(by_type["node"])}
    way_dict = {d["osm_id"]: i for i, d in enumerate(by_type["way"])}
    rel_dict = {d["osm_id"]: i for i, d in enumerate(by_type["relation"])}
    dicts = {"node": node_dict, "way": way_dict, "relation": rel_dict}

    nodes = pd.DataFrame(
        [
            {
                "node_idx": i,
                "osm_id": d["osm_id"],
                "lat": d["lat"],
                "lon": d["lon"],
                "tags": [(k, v) for _, k, v in d["tags"]],
            }
            for i, d in enumerate(by_type["node"])
        ]
    )
    unres = {"node": 0, "way": 0, "relation": 0}
    ways_rows = []
    for i, d in enumerate(by_type["way"]):
        refs = []
        for pos, (_, rid) in enumerate(d["refs"]):
            idx = node_dict.get(rid)
            if idx is None:
                unres["node"] += 1
            refs.append((pos, idx))
        ways_rows.append(
            {"way_idx": i, "osm_id": d["osm_id"], "tags": [(k, v) for _, k, v in d["tags"]], "refs": refs}
        )
    ways = pd.DataFrame(ways_rows)
    rel_rows = []
    for i, d in enumerate(by_type["relation"]):
        members = []
        for pos, (_, t, mid, role) in enumerate(d["members"]):
            idx = dicts[t].get(mid)
            if idx is None:
                unres[t] += 1
            members.append((pos, t, idx, role))
        rel_rows.append(
            {"relation_idx": i, "osm_id": d["osm_id"], "tags": [(k, v) for _, k, v in d["tags"]], "members": members}
        )
    relations = pd.DataFrame(rel_rows)

    # tag dedup in global first-seen order: node stage, then way, then
    # relation; ids ascending; spans in order (osmflatc/src/main.rs:100-150)
    seen = {}
    for t in ["node", "way", "relation"]:
        for d in by_type[t]:
            for _, k, v in d["tags"]:
                if (k, v) not in seen:
                    seen[(k, v)] = len(seen)
    tags_dim = pd.DataFrame(
        [{"tag_idx": i, "key": k, "value": v} for (k, v), i in seen.items()]
    ).sort_values("tag_idx", ignore_index=True)

    # string interning: per tag, key then value; offset += len+1
    # (osmflatc/src/strings.rs:73-109, expectations :134-145)
    soff, off, srows = {}, 0, []
    for (k, v), _ in sorted(seen.items(), key=lambda kv: kv[1]):
        for s in (k, v):
            if s not in soff:
                soff[s] = off
                srows.append({"offset": off, "s": s})
                off += len(s) + 1
    strings_dim = pd.DataFrame(srows)

    metrics = pd.DataFrame(
        [
            {
                "stage": "ingest",
                "num_nodes": len(nodes),
                "num_ways": len(ways),
                "num_relations": len(relations),
                "num_unresolved_node_ids": unres["node"],
                "num_unresolved_way_ids": unres["way"],
                "num_unresolved_rel_ids": unres["relation"],
            }
        ]
    )
    spans_flat = pd.DataFrame(
        [
            {"doc_id": d["doc_id"], "order": o, "kind": k, "text": t, "media_ref": m}
            for d in docs
            for (o, k, t, m) in d["spans"]
        ]
    )
    return {
        "nodes": nodes,
        "ways": ways,
        "relations": relations,
        "tags_dim": tags_dim,
        "strings_dim": strings_dim,
        "metrics": metrics,
        "spans_flat": spans_flat,
        "_by_type": by_type,
    }


# ---------------------------------------------------------------------------
# model scalar kernels
# ---------------------------------------------------------------------------


def haversine_np(lat1, lon1, lat2, lon2):
    """Identical formula order to functions/geo.py (and road-length.rs:32-42)."""
    lat1r = np.radians(lat1)
    lat2r = np.radians(lat2)
    dlat_half = (np.radians(lat2) - np.radians(lat1)) / 2.0
    dlon_half = (np.radians(lon2) - np.radians(lon1)) / 2.0
    a = np.sin(dlat_half) * np.sin(dlat_half) + np.cos(lat1r) * np.cos(lat2r) * np.sin(dlon_half) * np.sin(dlon_half)
    return 2.0 * np.arcsin(np.sqrt(a)) * EARTH_RADIUS_M


def pip_scalar(px: int, py: int, ring: list[tuple[int, int]]) -> bool:
    """Independent scalar crossing-number PIP (boundary inclusive), exact
    Python-int arithmetic. ring = [(lon, lat), ...]."""
    n = len(ring)
    inside = False
    for e in range(n):
        x1, y1 = ring[e]
        x2, y2 = ring[(e + 1) % n]
        # boundary
        cross = (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1)
        if cross == 0 and min(x1, x2) <= px <= max(x1, x2) and min(y1, y2) <= py <= max(y1, y2):
            return True
        if (y1 > py) != (y2 > py):
            lhs = (x2 - x1) * (py - y1)
            rhs = (y2 - y1) * (px - x1)
            if (rhs < lhs) if (y2 - y1) > 0 else (rhs > lhs):
                inside = not inside
    return inside


def dda_line(x0: int, y0: int, x1: int, y1: int) -> list[tuple[int, int]]:
    """Shared integer line-rasterization spec (symmetric DDA, round-half-up
    on both axes; endpoints exact). Deviation note: the reference uses
    error-accumulator Bresenham (render-roads.rs:132-155) — same pixel
    family, tie handling pinned here so both engine and oracle implement
    THIS closed form identically."""
    adx, ady = abs(x1 - x0), abs(y1 - y0)
    sx = 1 if x1 >= x0 else -1
    sy = 1 if y1 >= y0 else -1
    m = max(adx, ady)
    if m == 0:
        return [(x0, y0)]
    return [
        (x0 + sx * ((2 * adx * i + m) // (2 * m)), y0 + sy * ((2 * ady * i + m) // (2 * m)))
        for i in range(m + 1)
    ]


def tile_xy(lat_deg: float, lon_deg: float, zoom: int) -> tuple[int, int]:
    """Slippy-map tile via NumPy double math — the reference for the
    engine's column-expression encode (``geo.mercator_tile_x``/``_y`` in
    ``tiling.tile_assign_segments``); the tiling tests and perfbench's
    model check compare the two through ``q_tile_assign``."""
    n = 1 << zoom
    tx = int(np.floor((lon_deg + 180.0) / 360.0 * n))
    lat = min(85.05112878, max(-85.05112878, lat_deg))
    latr = np.radians(lat)
    ty = int(np.floor((1.0 - np.log(np.tan(latr) + 1.0 / np.cos(latr)) / np.pi) / 2.0 * n))
    return max(0, min(n - 1, tx)), max(0, min(n - 1, ty))


# ---------------------------------------------------------------------------
# model queries (the reference examples + north-rule extensions)
# ---------------------------------------------------------------------------


def _has_tag(tags: list[tuple[str, str]], k: str, v: str) -> bool:
    return any(tk == k and tv == v for tk, tv in tags)


def _find_tag(tags: list[tuple[str, str]], k: str):
    for tk, tv in tags:
        if tk == k:
            return tv
    return None


def _parse_usize(s):
    """Mirror of the ENGINE's guard (queries.py): ASCII-digits regex +
    64-bit range. str.isdigit() accepted superscript/fullwidth digits
    (then int() crashed on '²'), and an unbounded int() diverged from the
    engine's try_cast('long') NULL on >2^63-1 (the reference's
    usize::parse overflow-skip)."""
    if s is None or not re.fullmatch(r"[0-9]+", s):
        return None
    v = int(s)
    return v if v <= 0x7FFFFFFFFFFFFFFF else None


def q_counts(m: dict) -> pd.DataFrame:
    return pd.DataFrame(
        [
            {"entity_type": "node", "n": len(m["nodes"])},
            {"entity_type": "relation", "n": len(m["relations"])},
            {"entity_type": "way", "n": len(m["ways"])},
        ]
    )


def q_cities(m: dict) -> pd.DataFrame:
    rows = []
    for r in m["nodes"].itertuples():
        if _has_tag(r.tags, "place", "city"):
            name = _find_tag(r.tags, "name")
            pop = _parse_usize(_find_tag(r.tags, "population"))
            if name is not None and pop is not None:
                rows.append({"name": name, "population": pop})
    return pd.DataFrame(rows, columns=["name", "population"])


def q_pub_names(m: dict) -> pd.DataFrame:
    rows = []
    for source, df, idcol in (("node", m["nodes"], "node_idx"), ("way", m["ways"], "way_idx")):
        for r in df.itertuples():
            if _has_tag(r.tags, "amenity", "pub"):
                name = _find_tag(r.tags, "name") or "unknown pub name"
                addr = "|".join(f"{k}={v}" for k, v in r.tags if k.startswith("addr:"))
                rows.append({"source": source, "osm_id": r.osm_id, "name": name, "addr_tags": addr})
    return pd.DataFrame(rows, columns=["source", "osm_id", "name", "addr_tags"])


def _way_coords(m: dict, refs) -> list | None:
    """Resolve a way's refs to fixed coords; None if ANY ref unresolved
    (null-poisoning of road-length.rs:68-84 / render-roads.rs:83-97)."""
    nodes = m["nodes"]
    out = []
    for _, idx in refs:
        if idx is None:
            return None
        out.append((int(nodes.iloc[idx]["lat"]), int(nodes.iloc[idx]["lon"])))
    return out


def q_road_length(m: dict) -> float:
    total = 0.0
    for r in m["ways"].itertuples():
        if not any(k == "highway" for k, _ in r.tags):
            continue
        coords = _way_coords(m, r.refs)
        if coords is None:
            continue
        length = 0.0
        for (la1, lo1), (la2, lo2) in zip(coords, coords[1:]):
            length += float(
                haversine_np(la1 / COORD_SCALE, lo1 / COORD_SCALE, la2 / COORD_SCALE, lo2 / COORD_SCALE)
            )
        total += length
    return total


def _is_road(tags) -> bool:
    """way_filter of render-roads.rs:99-120: ∃ tag key=highway with value
    not in the 9 unwanted types."""
    return any(k == "highway" and v not in UNWANTED_HIGHWAYS for k, v in tags)


def roads_with_coords(m: dict) -> list[tuple[int, list]]:
    out = []
    for r in m["ways"].itertuples():
        if not _is_road(r.tags):
            continue
        coords = _way_coords(m, r.refs)
        if coords is not None:
            out.append((r.way_idx, coords))
    return out


def q_bbox(m: dict) -> pd.DataFrame:
    lats, lons = [], []
    for _, coords in roads_with_coords(m):
        for la, lo in coords:
            lats.append(la)
            lons.append(lo)
    return pd.DataFrame(
        [{"min_lat": min(lats), "max_lat": max(lats), "min_lon": min(lons), "max_lon": max(lons)}]
    )


def classify_way_model(tags, n_refs: int):
    """classify_way (render-features.rs:163-200): needs ≥3 refs; first
    highway/waterway tag in order decides; waterway width parse failure
    poisons to None (the `.ok()?` early return)."""
    if n_refs < 3:
        return None
    for k, v in tags:
        if k == "highway":
            if v in UNWANTED_HIGHWAYS:
                return None
            return ("Road", None)
        if k == "waterway":
            for k2, v2 in tags:
                if k2 in ("width", "maxwidth"):
                    w = _parse_usize(v2)
                    if w is None:
                        return None
                    return ("River", w)
            return ("River", 1)
    return None


def classify_relation_model(tags):
    """classify_relation (render-features.rs:202-233): order-dependent
    two-flag automaton."""
    is_mp = is_park = is_lake = False
    for k, v in tags:
        if k == "type" and v == "multipolygon":
            if is_park:
                return ("Park", None)
            if is_lake:
                return ("Water", None)
            is_mp = True
        if (k == "leisure" and v == "park") or (k == "landuse" and v in ("recreation_ground", "forest")):
            if is_mp:
                return ("Park", None)
            is_park = True
        if k == "water" and v == "lake":
            if is_mp:
                return ("Water", None)
            is_lake = True
    return None


def q_classify(m: dict) -> pd.DataFrame:
    rows = []
    for r in m["ways"].itertuples():
        c = classify_way_model(r.tags, len(r.refs))
        if c:
            rows.append({"source": "way", "feature_idx": r.way_idx, "category": c[0], "width": c[1]})
    for r in m["relations"].itertuples():
        c = classify_relation_model(r.tags)
        if c:
            rows.append({"source": "relation", "feature_idx": r.relation_idx, "category": c[0], "width": c[1]})
    return pd.DataFrame(rows, columns=["source", "feature_idx", "category", "width"])


RASTER_W = 512
RASTER_H = 512


def _pixel(lat, lon, bb) -> tuple[int, int]:
    """Affine geo→pixel on integer fixed-point coords (render-roads.rs:71-81),
    y-inverted; exact integer arithmetic."""
    min_lat, max_lat, min_lon, max_lon = bb
    x = (lon - min_lon) * (RASTER_W - 1) // max(1, (max_lon - min_lon))
    y = (lat - min_lat) * (RASTER_H - 1) // max(1, (max_lat - min_lat))
    return int(x), int(RASTER_H - 1 - y)


def q_raster_assign(m: dict) -> pd.DataFrame:
    bb_df = q_bbox(m).iloc[0]
    bb = (int(bb_df.min_lat), int(bb_df.max_lat), int(bb_df.min_lon), int(bb_df.max_lon))
    rows = set()
    for way_idx, coords in roads_with_coords(m):
        pix = [_pixel(la, lo, bb) for la, lo in coords]
        for (x0, y0), (x1, y1) in zip(pix, pix[1:]):
            for x, y in dda_line(x0, y0, x1, y1):
                rows.add((way_idx, x, y))
    return pd.DataFrame(sorted(rows), columns=["way_idx", "x", "y"])


def q_pip_join(m: dict, poly_pdf: pd.DataFrame) -> pd.DataFrame:
    rows = []
    for p in poly_pdf.itertuples():
        ring = [(int(v["lon"]), int(v["lat"])) for v in p.ring]
        for r in m["nodes"].itertuples():
            if pip_scalar(int(r.lon), int(r.lat), ring):
                rows.append({"polygon_id": p.polygon_id, "node_idx": r.node_idx})
    return pd.DataFrame(rows, columns=["polygon_id", "node_idx"])


def q_knn(m: dict, queries: pd.DataFrame, k: int = 5) -> pd.DataFrame:
    rows = []
    nodes = m["nodes"]
    nlat = nodes["lat"].to_numpy(dtype=np.int64)
    nlon = nodes["lon"].to_numpy(dtype=np.int64)
    for q in queries.itertuples():
        d = haversine_np(
            q.lat / COORD_SCALE, q.lon / COORD_SCALE, nlat / COORD_SCALE, nlon / COORD_SCALE
        )
        order = sorted(range(len(d)), key=lambda i: (d[i], int(nodes.iloc[i]["node_idx"])))[:k]
        for rank, i in enumerate(order):
            rows.append(
                {
                    "query_id": q.query_id,
                    "rank": rank + 1,
                    "node_idx": int(nodes.iloc[i]["node_idx"]),
                    "dist_m": float(d[i]),
                }
            )
    return pd.DataFrame(rows, columns=["query_id", "rank", "node_idx", "dist_m"])


def q_radius_join(m: dict, queries: pd.DataFrame, radius_m: float) -> pd.DataFrame:
    """Brute-force geodesic radius join: every (query, node) pair with
    haversine distance ≤ radius_m — the model for operators.knn.radius_join."""
    rows = []
    nodes = m["nodes"]
    nlat = nodes["lat"].to_numpy(dtype=np.int64)
    nlon = nodes["lon"].to_numpy(dtype=np.int64)
    nid = nodes["node_idx"].to_numpy(dtype=np.int64)
    for q in queries.itertuples():
        d = haversine_np(
            q.lat / COORD_SCALE, q.lon / COORD_SCALE, nlat / COORD_SCALE, nlon / COORD_SCALE
        )
        for i in np.flatnonzero(d <= radius_m):
            rows.append(
                {"query_id": q.query_id, "node_idx": int(nid[i]), "dist_m": float(d[i])}
            )
    return pd.DataFrame(rows, columns=["query_id", "node_idx", "dist_m"])


TILE_ZOOM = 14


def q_tile_assign(m: dict) -> pd.DataFrame:
    """Tiles touched at z=14 by each road way: DDA rasterization on the
    tile grid between consecutive vertex tiles (shared spec with engine)."""
    rows = set()
    for way_idx, coords in roads_with_coords(m):
        tiles = [tile_xy(la / COORD_SCALE, lo / COORD_SCALE, TILE_ZOOM) for la, lo in coords]
        for (x0, y0), (x1, y1) in zip(tiles, tiles[1:]):
            for x, y in dda_line(x0, y0, x1, y1):
                rows.add((way_idx, TILE_ZOOM, x, y))
    return pd.DataFrame(sorted(rows), columns=["way_idx", "zoom", "tile_x", "tile_y"])


def q_multipolygon(m: dict) -> pd.DataFrame:
    """Model of multipolygon assembly (render-features.rs:133-149 +
    null-propagating way coords :80-97): outer way members in member
    order; relation dropped if any outer member unresolved or any ring
    way has an unresolved node ref."""
    rows = []
    ways = {int(r.way_idx): r for r in m["ways"].itertuples()}
    for rel in m["relations"].itertuples():
        outer = [(pos, idx) for pos, t, idx, role in rel.members if t == "way" and role == "outer"]
        if not outer:
            continue
        if any(idx is None for _, idx in outer):
            continue
        rings = []
        ok = True
        for ring_pos, (_, widx) in enumerate(sorted(outer, key=lambda x: x[0])):
            coords = _way_coords(m, ways[widx].refs)
            if coords is None:
                ok = False
                break
            rings.append((ring_pos, coords))
        if not ok:
            continue
        for ring_pos, coords in rings:
            for pos, (la, lo) in enumerate(coords):
                rows.append(
                    {"relation_idx": rel.relation_idx, "ring_pos": ring_pos, "pos": pos, "lat": la, "lon": lo}
                )
    return pd.DataFrame(rows, columns=["relation_idx", "ring_pos", "pos", "lat", "lon"])


def generate_query_points(seed: int = 42, n: int = 20) -> pd.DataFrame:
    from osmflat_rs_spark.fixtures import LAT_MAX, LAT_MIN, LON_MAX, LON_MIN

    rng = np.random.RandomState(seed + 3)
    return pd.DataFrame(
        {
            "query_id": [f"q{i:02d}" for i in range(n)],
            "lat": rng.randint(LAT_MIN, LAT_MAX + 1, size=n).astype(np.int64),
            "lon": rng.randint(LON_MIN, LON_MAX + 1, size=n).astype(np.int64),
        }
    )
