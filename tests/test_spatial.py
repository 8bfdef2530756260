"""Spatial operators vs independent numpy brute force (third check beyond the
DuckDB oracle), plus the span-sequence invariant and cell-codec properties."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from wikipedia_wikidata_spark.config import CELL_RES_BITS
from wikipedia_wikidata_spark.functions.cells import cell_id, cell_xy, morton
from wikipedia_wikidata_spark.operators.extract import (
    extract_views_shared, load_documents,
)
from wikipedia_wikidata_spark.operators.spatial import knn_nearest, pip_join
from wikipedia_wikidata_spark.plans.importance import build_scored, entity_points

from .conftest import SF_DIR_SMALL, spark_jobs


def _ray_cast_np(vy, vx, py, px):
    inside = False
    n = len(vy)
    for i in range(n):
        j = (i + 1) % n
        if (vy[i] > py) != (vy[j] > py):
            xint = (vx[j] - vx[i]) * (py - vy[i]) / (vy[j] - vy[i]) + vx[i]
            if px < xint:
                inside = not inside
    return inside


def test_pip_matches_numpy_brute_force(spark):
    ep = entity_points(spark, SF_DIR_SMALL).select("language", "title", "lat", "lon")
    polys = extract_views_shared(spark, SF_DIR_SMALL)["polygons"]
    got = {
        (r.language, r.title, r.item)
        for r in pip_join(ep, polys.select("item", "verts"))
        .select("language", "title", "item")
        .collect()
    }
    pts = ep.collect()
    pls = polys.select("item", "verts").collect()
    exp = set()
    for p in pts:
        for g in pls:
            vy = [v.lat for v in g.verts]
            vx = [v.lon for v in g.verts]
            if _ray_cast_np(vy, vx, p.lat, p.lon):
                exp.add((p.language, p.title, g.item))
    assert got == exp
    assert len(exp) > 0, "synthetic data must exercise PIP hits"


def test_pip_salting_preserves_results(spark, monkeypatch):
    """Mega-cell salting must not change the join result, only the keys."""
    import wikipedia_wikidata_spark.config as cfg

    ep = entity_points(spark, SF_DIR_SMALL).select("language", "title", "lat", "lon")
    polys = extract_views_shared(spark, SF_DIR_SMALL)["polygons"]
    base = {
        tuple(r) for r in pip_join(ep, polys.select("item", "verts"))
        .select("language", "title", "item").collect()
    }
    monkeypatch.setattr(cfg, "MEGA_CELL_THRESHOLD", 5)
    salted = {
        tuple(r) for r in pip_join(
            ep, polys.select("item", "verts"), salt=4
        ).select("language", "title", "item").collect()
    }
    assert base == salted and len(base) > 0


def test_pip_degenerate_rings_contain_nothing(spark):
    """Rings of 0, 1 and 2 vertices contain no point, in pip_join and in the
    oracle's bbox join plus duckdb_ray_cast_sql alike, even for points on
    the ring; a triangle over the same points is the control."""
    import duckdb

    from wikipedia_wikidata_spark.oracle import base_ctes
    from wikipedia_wikidata_spark.operators.spatial import duckdb_ray_cast_sql

    rings = {
        "empty": [],
        "one": [(10.0, 10.0)],
        "two": [(9.0, 9.0), (11.0, 11.0)],
        "tri": [(9.0, 9.0), (11.0, 9.0), (10.0, 11.0)],
    }
    pts = [("on_vertex", 10.0, 10.0), ("inside", 10.0, 9.5), ("off", 12.0, 12.0)]
    tri_y, tri_x = zip(*rings["tri"])
    want = {
        (t, "tri") for t, lat, lon in pts if _ray_cast_np(tri_y, tri_x, lat, lon)
    }
    assert ("inside", "tri") in want

    polys = spark.createDataFrame(
        list(rings.items()), "item string, verts array<struct<lat:double,lon:double>>"
    )
    points = spark.createDataFrame(pts, "title string, lat double, lon double")
    got = {tuple(r) for r in pip_join(points, polys).select("title", "item").collect()}
    assert got == want

    def ring_sql(verts):
        items = ", ".join(f"{{'lat': {a}, 'lon': {b}}}" for a, b in verts)
        return f"CAST([{items}] AS STRUCT(lat DOUBLE, lon DOUBLE)[])"

    ctes = base_ctes()
    start = ctes.index("polygons_bbox AS (")
    bbox_cte = ctes[start:ctes.index("\n)", start) + 2]
    ray = duckdb_ray_cast_sql("g.verts", "p.lat", "p.lon")
    sql = f"""WITH polygons AS (
  SELECT * FROM (VALUES {", ".join(f"('{k}', {ring_sql(v)})" for k, v in rings.items())})
    t(item, verts)
), {bbox_cte}, points AS (
  SELECT * FROM (VALUES {", ".join(f"('{t}', {lat}, {lon})" for t, lat, lon in pts)})
    t(title, lat, lon)
)
SELECT p.title, g.item FROM points p JOIN polygons_bbox g
  ON p.lat BETWEEN g.min_lat AND g.max_lat
 AND p.lon BETWEEN g.min_lon AND g.max_lon
WHERE {ray}"""
    assert set(duckdb.connect().execute(sql).fetchall()) == want


def _knn_fixture(spark):
    """The sf0.001 entity points and places, plus hand-placed ones that
    level 13 cannot resolve: every sf0.001 point sits on its own place."""
    sc, v = build_scored(spark, SF_DIR_SMALL)
    ep = sc.filter(
        F.col("wd_page_title").isNotNull() & F.col("lat").isNotNull()
    ).select("language", "title", "lat", "lon")
    places = v["wikidata_places"].filter(F.col("lat").isNotNull()).select(
        "item", "lat", "lon"
    )
    # "guarded" sits at the south-west corner of a level-13 cell in the
    # mid-Atlantic. Its only neighborhood place is one cell east, beyond
    # the guard; the true nearest is two cells north, outside the 3x3.
    h, w = 180.0 / (1 << 13), 360.0 / (1 << 13)
    lat, lon = -90.0 + 4551 * h + 0.001, -180.0 + 3413 * w + 0.001
    ep = ep.unionByName(spark.createDataFrame(
        [("zz", "lonely", -60.0, -150.0), ("zz", "guarded", lat, lon)],
        ep.schema,
    ))
    places = places.unionByName(spark.createDataFrame(
        [("Q_east", lat, lon + 0.08), ("Q_north", lat + 0.045, lon)],
        places.schema,
    ))
    return ep, places


def _unresolved_kinds(pts, pls, b):
    """Numpy count of the points level ``b`` leaves unresolved, by kind:
    (no place in the 3x3 cells, neighborhood minimum beyond the guard)."""
    n = 1 << b
    px, py = cell_xy(pts.lat.to_numpy(), pts.lon.to_numpy(), b)
    gx, gy = cell_xy(pls.lat.to_numpy(), pls.lon.to_numpy(), b)
    near = (np.isin((gx[None, :] - px[:, None]) % n, (0, 1, n - 1))
            & (np.abs(gy[None, :] - py[:, None]) <= 1))
    d2 = ((pts.lat.to_numpy()[:, None] - pls.lat.to_numpy()[None, :]) ** 2
          + (pts.lon.to_numpy()[:, None] - pls.lon.to_numpy()[None, :]) ** 2)
    nearest = np.where(near, d2, np.inf).min(axis=1)
    empty = ~near.any(axis=1)
    return int(empty.sum()), int((~empty & (nearest > (180.0 / n) ** 2)).sum())


@pytest.mark.parametrize(
    "levels", [[13, 8, 0], [13, 10, 7, 4, 0], [0]],
    ids=lambda ladder: "-".join(map(str, ladder)),
)
def test_knn_matches_numpy_brute_force(spark, levels):
    ep, places = _knn_fixture(spark)
    got = {
        (r.language, r.title): (r.nearest_item, r.dist2)
        for r in knn_nearest(ep, places, levels=levels).collect()
    }
    pts = ep.toPandas()
    pls = places.toPandas()
    assert len(pls) > 3
    # level 13 leaves both kinds of point for the coarser levels: one with
    # no place in its neighborhood (an all-NULL candidate row) and one
    # whose neighborhood minimum is beyond the guard
    no_place, beyond_guard = _unresolved_kinds(pts, pls, 13)
    assert no_place > 0 and beyond_guard > 0, (no_place, beyond_guard)
    for p in pts.itertuples():
        cands = sorted(
            ((p.lat - g.lat) ** 2 + (p.lon - g.lon) ** 2, g.item)
            for g in pls.itertuples()
        )
        d2, item = cands[0]
        gi, gd = got[(p.language, p.title)]
        assert gi == item, ((p.language, p.title), gi, item)
        assert abs(gd - d2) < 1e-12
    assert len(got) == len(pts), "every point must be assigned exactly once"


def test_knn_does_not_leak_persisted_rdds(spark):
    """knn_nearest submits no Spark job when called, and consuming its
    result three times leaves no persisted RDD behind."""
    ep, places = _knn_fixture(spark)

    def n_persisted():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    base = n_persisted()
    out, jobs = spark_jobs(spark, lambda: knn_nearest(ep, places))
    assert jobs == []
    for _ in range(3):
        out.collect()
        assert n_persisted() <= base


def test_cell_codec_properties():
    rng = np.random.default_rng(7)
    lat = rng.uniform(-89.99, 89.99, 20000)
    lon = rng.uniform(-179.99, 179.99, 20000)
    for res, bits in CELL_RES_BITS.items():
        cid = cell_id(lat, lon, res)
        x, y = cell_xy(lat, lon, bits)
        # pack/unpack roundtrip
        assert ((cid >> 58) == res).all()
        assert (((cid >> 29) & ((1 << 29) - 1)) == x).all()
        assert ((cid & ((1 << 29) - 1)) == y).all()
        # same point, finer res -> child cell within parent
        if res > 5:
            pb = CELL_RES_BITS[res - 1]
            px, py = cell_xy(lat, lon, pb)
            assert ((x >> (bits - pb)) == px).all()
            assert ((y >> (bits - pb)) == py).all()
    m = morton(lat, lon)
    x, y = cell_xy(lat, lon, 16)
    # morton decodes back
    def unpart(v):
        v = v & 0x55555555
        v = (v | (v >> 1)) & 0x33333333
        v = (v | (v >> 2)) & 0x0F0F0F0F
        v = (v | (v >> 4)) & 0x00FF00FF
        v = (v | (v >> 8)) & 0x0000FFFF
        return v
    assert (unpart(m) == x).all()
    assert (unpart(m >> 1) == y).all()


def test_tile_cell_cover_zoom_finer_than_cells(spark):
    """zoom > cell bits: a tile FINER than the cell grid covers exactly one
    cell column (advice round 1: the long-cast fac=0 emitted descending
    ranges and negative cell ids)."""
    from wikipedia_wikidata_spark.operators.tiles import tile_cell_cover

    bits = CELL_RES_BITS[5]  # 12
    tiles = spark.createDataFrame(
        [(13, 4100, 2900), (13, 0, 0), (4, 3, 2)],
        "zoom int, tile_x bigint, tile_y bigint",
    )
    rows = tile_cell_cover(tiles, res=5).collect()
    assert all(r.cell_id >= 0 for r in rows)
    by_tile = {}
    for r in rows:
        by_tile.setdefault((r.zoom, r.tile_x, r.tile_y), []).append(r.cell_id)
    for (z, tx, ty), cells in by_tile.items():
        xs = {(c >> 29) & ((1 << 29) - 1) for c in cells}
        if z > bits:
            # fine tile -> exactly one covering cell, at the right column
            assert len(cells) == 1, (z, tx, ty, cells)
            assert xs == {tx // (1 << (z - bits))}, (tx, xs)
        else:
            # coarse tile -> the exact 2^(bits-z) column range
            assert xs == set(
                range(tx * (1 << (bits - z)), (tx + 1) * (1 << (bits - z)))
            ), (z, tx, xs)


def test_tile_importance_matches_numpy_mercator(spark):
    """The JVM mercator expression puts every point in the tile that the
    old numpy projection gave, at every zoom of the pyramid, on a seeded
    latitude sweep plus the clamp edges, the poles and the equator."""
    from wikipedia_wikidata_spark.config import TILE_ZOOMS
    from wikipedia_wikidata_spark.operators.tiles import (
        MERC_LAT_MAX, tile_importance,
    )

    rng = np.random.default_rng(7)
    edges = [MERC_LAT_MAX, -MERC_LAT_MAX, 90.0, -90.0, 0.0]
    lat = np.concatenate([rng.uniform(-90.0, 90.0, 20_000), edges])
    lon = rng.uniform(-180.0, 180.0, len(lat))
    idx = np.arange(len(lat), dtype="float64")
    pts = spark.createDataFrame(
        pd.DataFrame({"lat": lat, "lon": lon, "importance": idx})
    )
    got = {
        (r.zoom, r.tile_x, r.tile_y): (r.n_entities, r.importance_sum)
        for r in tile_importance(pts).collect()
    }

    la = np.clip(lat, -MERC_LAT_MAX, MERC_LAT_MAX)
    rad = la * np.pi / 180.0
    y = (1.0 - np.log(np.tan(rad) + 1.0 / np.cos(rad)) / np.pi) / 2.0
    want: dict = {}
    for z in TILE_ZOOMS:
        n = 2.0 ** z
        tx = np.clip(np.floor((lon + 180.0) / 360.0 * n), 0, n - 1).astype(int)
        ty = np.clip(np.floor(y * n), 0, n - 1).astype(int)
        for x_, y_, i in zip(tx, ty, idx):
            c, s = want.get((z, x_, y_), (0, 0.0))
            want[(z, x_, y_)] = (c + 1, s + i)
    assert got == want


def test_span_sequence_invariant(spark):
    """input_hint: after transformation, per-doc (kind,text,media_ref,offset)
    sequence must equal the input exactly."""
    from wikipedia_wikidata_spark.operators.extract import reassemble_spans

    docs = load_documents(spark, SF_DIR_SMALL)
    re = reassemble_spans(docs)
    a = docs.select("doc_id", F.col("spans").alias("orig"))
    diff = a.join(re, "doc_id").filter(F.col("orig") != F.col("spans"))
    assert diff.count() == 0
    assert re.count() == docs.count()


def _dense_and_sparse_places(rng):
    # dense corpus: 400 places packed into a ~0.2-degree urban blob
    dense = pd.DataFrame({
        "item": [f"Q{i}" for i in range(400)],
        "lat": 48.85 + rng.uniform(-0.1, 0.1, 400),
        "lon": 2.35 + rng.uniform(-0.1, 0.1, 400),
    })
    # sparse corpus: 40 places spread over the whole globe
    sparse = pd.DataFrame({
        "item": [f"Q{i}" for i in range(40)],
        "lat": rng.uniform(-85, 85, 40),
        "lon": rng.uniform(-179, 179, 40),
    })
    return dense, sparse


def test_knn_ladder_derived_from_place_density(spark):
    """suggest_knn_ladder (round-4 verdict item 5): a sparse-places corpus
    selects a COARSER entry level than a dense one, and knn_nearest run on
    the derived ladder matches numpy brute force exactly (the ladder tunes
    cost, never semantics)."""
    from wikipedia_wikidata_spark.operators.spatial import suggest_knn_ladder

    rng = np.random.default_rng(7)
    dense, sparse = _dense_and_sparse_places(rng)
    d_ladder, d_stats = suggest_knn_ladder(spark.createDataFrame(dense))
    s_ladder, s_stats = suggest_knn_ladder(spark.createDataFrame(sparse))
    assert d_ladder[-1] == 0 and s_ladder[-1] == 0
    assert s_ladder[0] < d_ladder[0], (s_ladder, d_ladder)
    assert d_stats["levels"][d_ladder[0]]["max_per_cell"] <= d_stats["entry_target"]
    # correctness is ladder-invariant: derived ladder == brute force
    pts = pd.DataFrame({
        "language": "en",
        "title": [f"p{i}" for i in range(300)],
        "lat": np.concatenate([48.85 + rng.uniform(-0.3, 0.3, 150),
                               rng.uniform(-85, 85, 150)]),
        "lon": np.concatenate([2.35 + rng.uniform(-0.3, 0.3, 150),
                               rng.uniform(-179, 179, 150)]),
    })
    ep = spark.createDataFrame(pts)
    for places_pd, ladder in ((dense, d_ladder), (sparse, s_ladder)):
        places = spark.createDataFrame(places_pd)
        got = {(r.language, r.title): (r.nearest_item, r.dist2)
               for r in knn_nearest(ep, places, levels=ladder).collect()}
        assert len(got) == len(pts)
        for _, p in pts.iterrows():
            d2, item = min(
                ((p.lat - g.lat) ** 2 + (p.lon - g.lon) ** 2, g.item)
                for g in places_pd.itertuples()
            )
            gi, gd = got[(p.language, p.title)]
            assert gi == item and abs(gd - d2) < 1e-9


def test_knn_ladder_levels_match_numpy_in_one_pass(spark):
    """Every level's (max places per cell, occupied cells) equals a numpy
    histogram of the finest-level cells shifted down to that level, and the
    whole sweep is one Spark action: at most 4 jobs (one per AQE shuffle
    stage plus the collect), not one or more per level."""
    from wikipedia_wikidata_spark.operators.spatial import (
        KNN_LADDER_CANDIDATES, suggest_knn_ladder,
    )

    from .conftest import spark_jobs

    finest = max(KNN_LADDER_CANDIDATES)
    n = 1 << finest
    for places in _dense_and_sparse_places(np.random.default_rng(7)):
        x = np.clip(np.floor((places["lon"].to_numpy() + 180.0) / 360.0 * n),
                    0, n - 1).astype(np.int64)
        y = np.clip(np.floor((places["lat"].to_numpy() + 90.0) / 180.0 * n),
                    0, n - 1).astype(np.int64)
        want = {}
        for b in KNN_LADDER_CANDIDATES:
            _, counts = np.unique(
                np.stack([x >> (finest - b), y >> (finest - b)]), axis=1,
                return_counts=True,
            )
            want[b] = {"max_per_cell": int(counts.max()),
                       "n_cells": len(counts)}
        df = spark.createDataFrame(places)
        (_, stats), jobs = spark_jobs(spark, lambda: suggest_knn_ladder(df))
        assert stats["levels"] == want
        assert len(jobs) <= 4, jobs


def test_knn_ladder_of_empty_places(spark):
    """No places: every level reads max 0 over 0 cells, and the ladder is
    the coarsest candidate then level 0."""
    from wikipedia_wikidata_spark.operators.spatial import (
        KNN_LADDER_CANDIDATES, suggest_knn_ladder,
    )

    empty = spark.createDataFrame([], "item string, lat double, lon double")
    ladder, stats = suggest_knn_ladder(empty)
    assert ladder == [min(KNN_LADDER_CANDIDATES), 0] == stats["ladder"]
    assert stats["levels"] == {
        b: {"max_per_cell": 0, "n_cells": 0} for b in KNN_LADDER_CANDIDATES
    }
