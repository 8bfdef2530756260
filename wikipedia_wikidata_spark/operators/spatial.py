"""Spatial operators: cell-bucketed point-in-polygon join (J14) and kNN
nearest-place assignment (J15) — the target extension grounded on the
reference's geo columns (steps/wikidata_import.sh:28-33) and place taxonomy
(steps/wikidata_process.sh:51-66).

Design (SURVEY.md §4 "custom work"):
- Spatial keys are ordinary integer columns (functions/cells.py), so the joins
  are plain equi-joins Catalyst can plan (broadcast / SMJ / AQE skew split) —
  no custom strategy needed.
- PIP refine = ray casting via JVM higher-order functions (whole-stage
  codegen; no Python in the hot path). The DuckDB oracle re-derives candidates
  independently (bbox join) and applies the same ray-cast arithmetic, so the
  two engines agree bit-for-bit.
- kNN = multi-level grid search: resolve each point at the finest level where
  a 3x3 cell neighborhood provably contains its nearest place (guard radius),
  degrading to coarser levels for sparse regions. The result is one lazy
  DataFrame: no driver loop, no Spark job at call time, no cache to release.
  Equals the brute-force oracle by construction.
- Skew (mega-cells, FIXTURES.md §6): optional salting of hot cells +
  AQE skew-join (session.py) — see pip_join(salt=...).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import PIP_RES
from ..functions.cells import xy_cols

# Euclidean-on-degrees metric (planar; documented simplification — the
# reference has no geodesic math either, importance is aspatial).


def polygons_with_bbox(polygons: DataFrame) -> DataFrame:
    lats = F.transform("verts", lambda v: v["lat"])
    lons = F.transform("verts", lambda v: v["lon"])
    return polygons.select(
        "item",
        "verts",
        F.array_min(lats).alias("min_lat"),
        F.array_max(lats).alias("max_lat"),
        F.array_min(lons).alias("min_lon"),
        F.array_max(lons).alias("max_lon"),
    )


# Edge-list ray cast: edges are prepared ONCE per polygon
# (the "prepared geometry" of the north_star) so the 10^7-pair hot loop does
# no per-row sequence/filter array allocation and no element_at indexing —
# higher-order lambdas are interpreted (not codegen'd), so per-element work
# dominates; this form measured ~2x faster at sf1 than a per-row
# sequence/element_at form. The arithmetic is token-identical to the DuckDB
# oracle's duckdb_ray_cast_sql, so results stay bit-equal.
RAY_CAST_EDGES_SQL = """
(aggregate({edges}, 0,
  (acc, e) -> acc + IF((e.y1 > {plat}) != (e.y2 > {plat})
    AND {plon} < (e.x2 - e.x1) * ({plat} - e.y1) / (e.y2 - e.y1) + e.x1,
    1, 0)) % 2) = 1
"""


def edges_col(verts) -> Column:
    """verts -> closed edge list [(y1,x1,y2,x2)] (vertex i paired with i+1,
    last wrapping to first)."""
    rotated = F.concat(
        F.slice(verts, F.lit(2), F.size(verts) - 1), F.slice(verts, F.lit(1), F.lit(1))
    )
    return F.zip_with(
        verts,
        rotated,
        lambda a, b: F.struct(
            a["lat"].alias("y1"), a["lon"].alias("x1"),
            b["lat"].alias("y2"), b["lon"].alias("x2"),
        ),
    )


def duckdb_ray_cast_sql(verts: str, plat: str, plon: str) -> str:
    """Identical arithmetic for the DuckDB oracle (list_filter lambda)."""
    return f"""
(len(list_filter(range(len({verts})), i ->
    ({verts}[i + 1].lat > {plat}) != ({verts}[(i + 1) % len({verts}) + 1].lat > {plat})
    AND {plon} < ({verts}[(i + 1) % len({verts}) + 1].lon - {verts}[i + 1].lon)
                 * ({plat} - {verts}[i + 1].lat)
                 / ({verts}[(i + 1) % len({verts}) + 1].lat - {verts}[i + 1].lat)
                 + {verts}[i + 1].lon
)) % 2) = 1
"""


def pip_join(points: DataFrame, polygons: DataFrame, res: int = PIP_RES,
             salt: int = 1) -> DataFrame:
    """Cell-bucketed point-in-polygon join.

    points:   any DataFrame with lat/lon columns.
    polygons: (item, verts array<struct<lat,lon>>).
    Returns points columns + matching polygon ``item`` (inner; one row per
    (point, containing polygon) pair).

    salt: explicit mega-cell skew handling (north_rule). With salt > 1,
    cells holding more than config.MEGA_CELL_THRESHOLD points get their
    point rows salted into ``salt`` sub-keys and the polygon side
    replicated across the salts, so one urban cell spreads over ``salt``
    shuffle keys instead of pinning a single task; salt=1 is the plain
    join. (AQE skew-join splits oversized *partitions*; salting splits
    oversized *keys* — both are on.) Results are identical with/without.
    """
    from ..config import CELL_RES_BITS, MEGA_CELL_THRESHOLD

    bits = CELL_RES_BITS[res]
    lat_c, lon_c = F.col("lat"), F.col("lon")
    px, py = xy_cols(lat_c, lon_c, bits)
    pts = points.withColumn("_px", px).withColumn("_py", py)

    poly = polygons_with_bbox(polygons).withColumn("edges", edges_col(F.col("verts")))
    x0, _ = xy_cols(F.col("min_lat"), F.col("min_lon"), bits)
    x1, _ = xy_cols(F.col("min_lat"), F.col("max_lon"), bits)
    _, y0 = xy_cols(F.col("min_lat"), F.col("min_lon"), bits)
    _, y1 = xy_cols(F.col("max_lat"), F.col("min_lon"), bits)
    cov = (
        poly.withColumn("_cx", F.explode(F.sequence(x0, x1)))
        .withColumn("_cy", F.explode(F.sequence(y0, y1)))
        .select(
            "item", "edges", "_cx", "_cy",
            "min_lat", "max_lat", "min_lon", "max_lon",
        )
    )
    # Round-robin repartition of the streamed coverage side BEFORE the
    # candidate expansion: the polygon table reads from a small file (often
    # 1-2 scan tasks), and with the point side broadcast the O(points x
    # polygons-per-cell) expansion would otherwise run at the scan's
    # parallelism — the whole join serializes onto a couple of cores no
    # matter the cluster width. The shuffle moves only the compact coverage
    # rows, never the expanded pairs.
    n_parts = int(points.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    cov = cov.repartition(n_parts)
    if salt > 1:
        hot = (
            pts.groupBy("_px", "_py")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > MEGA_CELL_THRESHOLD)
            .select(
                F.col("_px").alias("_hx"), F.col("_py").alias("_hy"),
                F.lit(True).alias("_hot"),
            )
        )
        pts = (
            pts.join(
                F.broadcast(hot),
                (pts["_px"] == F.col("_hx")) & (pts["_py"] == F.col("_hy")),
                "left",
            )
            .withColumn(
                "_salt",
                F.when(
                    F.col("_hot").isNotNull(),
                    F.pmod(F.hash(lat_c, lon_c), F.lit(salt)),
                ).otherwise(F.lit(0)),
            )
            .drop("_hx", "_hy", "_hot")
        )
        cov = (
            cov.join(
                F.broadcast(hot),
                (cov["_cx"] == F.col("_hx")) & (cov["_cy"] == F.col("_hy")),
                "left",
            )
            .withColumn(
                "_salt",
                F.explode(
                    F.when(
                        F.col("_hot").isNotNull(),
                        F.sequence(F.lit(0), F.lit(salt - 1)),
                    ).otherwise(F.array(F.lit(0)))
                ),
            )
            .drop("_hx", "_hy", "_hot")
        )
        cand = pts.join(
            cov,
            (pts["_px"] == cov["_cx"]) & (pts["_py"] == cov["_cy"])
            & (pts["_salt"] == cov["_salt"]),
        )
    else:
        cand = pts.join(cov, (pts["_px"] == cov["_cx"]) & (pts["_py"] == cov["_cy"]))
    # cheap bbox rejection BEFORE the ray cast: a shared cell pairs a point
    # with every polygon overlapping that cell (10^7+ candidates in dense
    # regions); four double compares eliminate most pairs so the per-vertex
    # ray-cast loop runs only on bbox hits. Never drops a true containment
    # (inside polygon => inside bbox).
    bbox_hit = (
        (lat_c >= F.col("min_lat")) & (lat_c <= F.col("max_lat"))
        & (lon_c >= F.col("min_lon")) & (lon_c <= F.col("max_lon"))
    )
    inside = RAY_CAST_EDGES_SQL.format(edges="edges", plat="lat", plon="lon")
    out = cand.filter(bbox_hit).filter(F.expr(inside)).drop(
        "_px", "_py", "_cx", "_cy", "edges",
        "min_lat", "max_lat", "min_lon", "max_lon",
    )
    return out.drop("_salt") if salt > 1 else out


def suggest_pip_salt(points: DataFrame) -> tuple[int, dict]:
    """Measure-then-salt (north_rule 'skew handled explicitly'): per-cell
    point histogram at the PIP join's resolution (config.PIP_RES) -> the
    salt factor that spreads the hottest cell down to
    config.MEGA_CELL_THRESHOLD (the same threshold pip_join salts at).
    Returns (salt, skew_stats dict); salt == 1 means no salting needed. One
    map-side-combined groupBy over the points — a scalar diagnostic job the
    pipeline runs once before the spatial stage, so the shipped salt comes from OBSERVED data, not a guess
    (operators/skew.py is the generic measurement; this binds it to
    pip_join's key space)."""
    from ..config import CELL_RES_BITS, MEGA_CELL_THRESHOLD, PIP_RES
    from .skew import skew_stats

    bits = CELL_RES_BITS[PIP_RES]
    px, py = xy_cols(F.col("lat"), F.col("lon"), bits)
    keyed = points.select(px.alias("_px"), py.alias("_py"))
    stats = skew_stats(
        keyed, ["_px", "_py"], target_rows_per_key=MEGA_CELL_THRESHOLD
    )
    return stats["suggested_salt"], stats


# kNN ladder derivation targets (round-4 verdict item 5): the entry level
# bounds the DENSE-region candidate fan-out (a point in the hottest cell
# sees at most 9 * max_places_per_cell candidates), the mid level bounds the
# same for the wide-guard cascade stage. 16 reproduces the shipped [13,...]
# entry on the sf0.1 corpus (max 9 places/cell at level 13, 24 at level 12);
# 1024 keeps the mid stage's hottest 3x3 neighborhood under ~10^4 pairs per
# point while pushing the guard radius wide enough that level 0 sees only
# far-from-everything stragglers.
KNN_LADDER_CANDIDATES: tuple[int, ...] = tuple(range(13, 3, -1))
KNN_ENTRY_MAX_TARGET = 16
KNN_MID_MAX_TARGET = 1024


def suggest_knn_ladder(places: DataFrame) -> tuple[list[int], dict]:
    """Measure-then-ladder (round-4 verdict item 5, the suggest_pip_salt
    pattern): derive knn_nearest's level ladder from the MEASURED
    places-per-cell histogram instead of the hardcoded default.

    One pass, one Spark action: a map-side-combined groupBy builds the
    histogram at the finest candidate level; each histogram cell is then
    exploded over every candidate's shift ``finest - b`` (cell x/y at level
    b is exactly x>>shift/y>>shift of the finest level for this grid), a
    groupBy on (shift, x>>shift, y>>shift) sums the counts into every
    level's histogram at once, and a last groupBy on shift collects one
    (max, cell count) row per level. Levels with no cells (empty places)
    read as zero. Entry level = the COARSEST candidate whose hottest cell
    holds <= KNN_ENTRY_MAX_TARGET places (dense corpora push it finer,
    sparse corpora coarser); mid level = the coarsest level below entry
    with max <= KNN_MID_MAX_TARGET (dropped when entry is already that
    coarse). The ladder is a pure function of the places snapshot, so a
    checkpoint resume under the same fingerprint re-derives the identical
    plan. Any ladder yields the SAME results (each level's guard proves its
    accepted minima are true nearest) — this tunes cost, not semantics.
    """
    candidates = KNN_LADDER_CANDIDATES
    finest = max(candidates)
    px, py = xy_cols(F.col("lat"), F.col("lon"), finest)
    shifts = F.array(*[F.lit(finest - b) for b in candidates])
    rows = (
        places.groupBy(px.alias("_x"), py.alias("_y"))
        .agg(F.count(F.lit(1)).alias("_n"))
        .select(F.explode(shifts).alias("_s"), "_x", "_y", "_n")
        .groupBy("_s", F.expr("shiftright(_x, _s)"),
                 F.expr("shiftright(_y, _s)"))
        .agg(F.sum("_n").alias("_n"))
        .groupBy("_s")
        .agg(F.max("_n").alias("mx"), F.count(F.lit(1)).alias("nc"))
        .collect()
    )
    per_shift = {r["_s"]: r for r in rows}
    stats: dict[int, dict] = {}
    for b in sorted(candidates, reverse=True):
        r = per_shift.get(finest - b)
        stats[b] = {"max_per_cell": int(r["mx"]) if r else 0,
                    "n_cells": int(r["nc"]) if r else 0}
    entry = next(
        (b for b in sorted(candidates)
         if stats[b]["max_per_cell"] <= KNN_ENTRY_MAX_TARGET),
        finest,
    )
    mid = next(
        (b for b in sorted(candidates)
         if b < entry and stats[b]["max_per_cell"] <= KNN_MID_MAX_TARGET),
        None,
    )
    ladder = [entry, mid, 0] if mid else [entry, 0]
    return ladder, {
        "ladder": ladder,
        "entry_target": KNN_ENTRY_MAX_TARGET,
        "mid_target": KNN_MID_MAX_TARGET,
        "levels": stats,
    }


def knn_release(df: DataFrame) -> None:
    """Unpersist ``df``. knn_nearest results are lazy and hold no cache, so
    on them this does nothing."""
    df.unpersist()


def knn_nearest(points: DataFrame, places: DataFrame,
                levels: list[int] | None = None) -> DataFrame:
    """Top-1 nearest place per point (J15) as one lazy chain of levels.

    points: (language, title, lat, lon, ...); places: (item, lat, lon).
    At grid level ``b`` a point's 3x3 cell neighborhood is searched (places
    exploded to their 9 neighbor cells); a hit is accepted iff
    dist^2 <= (180/2^b)^2 — any place outside the neighborhood is at least one
    full cell (180/2^b degrees) away, so the found minimum is the true
    nearest. Unresolved points cascade to the next coarser level; level 0 is
    one global cell (brute force for the stragglers). Ties broken by item.

    The result is an ordinary DataFrame: nothing runs until it is consumed
    and nothing is cached. Each level reads the previous level's per-point
    minimum once (never the points again), so each level adds one sub-plan
    and exchange reuse runs every shuffle once.
    """
    # start fine so dense (urban mega-cell) regions resolve with small
    # neighborhoods; sparse regions cascade coarser. Level 0 = brute force
    # for the stragglers only. Starting at 13 (vs 10) cuts the dense-region
    # candidate-pair count ~64x (measured 71s -> 12s at sf1): with urban
    # clustering a level-10 3x3 neighborhood pairs nearly every city point
    # with every city place.
    # Three levels, not five: every level is a fixed ~3-shuffle sub-DAG, so
    # ladder length is a per-job constant cost (measured 5.8s for
    # [13,10,7,4,0] vs 2.8s for [13,8,0] on identical output at sf0.1,
    # AQE off, local[4]).
    # Level 13's guard (180/8192 deg ~ 2.4km) resolves the dense mass;
    # level 8's guard (0.70 deg ~ 78km) resolves everything within 78km of
    # any place, so the global level-0 stage sees only >78km-isolated
    # points — a vanishing set at any realistic place density. Denser or
    # sparser worlds tune the ladder via the parameter.
    levels = levels or [13, 8, 0]
    assert levels[-1] == 0, "last level must be global"
    keys = ["language", "title"]

    results = []
    remaining = points.select(*keys, "lat", "lon")
    for b in levels:
        n = 1 << b
        px, py = xy_cols(F.col("lat"), F.col("lon"), b)
        pts = remaining.withColumn("_cx", px).withColumn("_cy", py)
        gx, gy = xy_cols(F.col("g_lat"), F.col("g_lon"), b)
        pl = (
            places.select(
                F.col("item").alias("g_item"),
                F.col("lat").alias("g_lat"),
                F.col("lon").alias("g_lon"),
            )
            .withColumn("_gx0", gx)
            .withColumn("_gy0", gy)
            .withColumn("_dx", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))))
            .withColumn("_dy", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))))
            .select(
                "g_item", "g_lat", "g_lon",
                F.pmod(F.col("_gx0") + F.col("_dx"), F.lit(n)).alias("_gx"),
                (F.col("_gy0") + F.col("_dy")).alias("_gy"),
            )
            .filter((F.col("_gy") >= 0) & (F.col("_gy") < n))
        )
        if b < 2:
            # only a <4-wide grid can alias pmod(x0±1) offsets onto the same
            # cell; at real levels the 9 neighbor rows are distinct by
            # construction and the dedup would be a pointless wide shuffle
            pl = pl.dropDuplicates(["g_item", "_gx", "_gy"])
        # above level 0 a point with no place in its neighborhood keeps one
        # all-NULL candidate: its minimum has a NULL _d2, is not accepted,
        # and carries the point (lat/lon ride in the payload) to the next
        # level. Level 0 is inner, so empty places give no rows.
        cand = pts.join(
            pl, (pts["_cx"] == pl["_gx"]) & (pts["_cy"] == pl["_gy"]),
            "left" if b > 0 else "inner",
        )
        # explicit multiplication (not pow) so the DuckDB oracle's identical
        # expression is bit-equal
        dlat = F.col("lat") - F.col("g_lat")
        dlon = F.col("lon") - F.col("g_lon")
        cand = cand.withColumn("_d2", dlat * dlat + dlon * dlon)
        # top-1 via lexicographic struct MIN, not a ranking window: dense
        # (mega-cell) regions generate 10^7-10^8 candidate pairs, and a window
        # must shuffle+sort ALL of them; min(struct) partial-aggregates
        # map-side so the shuffle carries at most one row per (point,
        # map-task). Ordering (_d2, g_item) is the window's orderBy; the pair
        # is unique per candidate so the pick is deterministic.
        # lat/lon ride in the payload, not the grouping key: they are
        # functionally dependent on the point keys, and the partial
        # SortAggregate's per-partition sort cost tracks key width.
        payload = F.struct(
            F.col("_d2"), F.col("g_item"), F.col("lat"), F.col("lon")
        )
        best = (
            cand.groupBy(*keys)
            .agg(F.min(payload).alias("_b"))
            .select(
                *keys,
                F.col("_b.lat").alias("lat"),
                F.col("_b.lon").alias("lon"),
                F.col("_b._d2").alias("_d2"),
                F.col("_b.g_item").alias("g_item"),
            )
        )
        hit = F.col("_d2") <= F.lit((180.0 / n) ** 2) if b > 0 else F.lit(True)
        results.append(
            best.filter(hit).select(
                *keys, "lat", "lon",
                F.col("g_item").alias("nearest_item"),
                F.col("_d2").alias("dist2"),
            )
        )
        remaining = best.filter(~F.coalesce(hit, F.lit(False))).select(
            *keys, "lat", "lon"
        )
    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r)
    return out


# grid_density_clusters: cell resolution and the points that make a cell dense
CLUSTER_RES = 6
CLUSTER_MIN_PTS = 2


def grid_density_clusters(points: DataFrame) -> DataFrame:
    """Grid-based density clustering (distributed DBSCAN analog) over a
    point set: cells at resolution CLUSTER_RES holding >= CLUSTER_MIN_PTS
    points are "dense"; dense cells that touch (8-neighborhood) merge into
    one cluster; points in sparse cells are noise (excluded). Output one row
    per cluster: (cluster, n_cells, n_points) with cluster = the minimum
    dense-cell node id (cx * 2^29 + cy — the cell_id_col packing sans the
    res prefix).

    100-TB shape — the reason grid-DBSCAN is THE scalable density
    clusterer: the expensive step runs on the CELL table (occupied cells
    ≪ points; one map-side-combined groupBy reduces the corpus), the
    8-neighbor adjacency is an EQUI-join on shifted (cx, cy) keys (the
    offset explosion costs 8 rows per dense cell — never a theta/distance
    join), and the connected-components step (operators/graph.py, with
    its O(log n) large-star/small-star fallback) walks the cell graph,
    not the point graph. Point-pair DBSCAN is O(n^2); this is O(points)
    + CC over a vastly smaller graph. Mega-cell skew is impossible by
    construction here — every cell contributes exactly 8 offset rows
    regardless of its point count.

    Input contract (the DuckDB oracle mirrors both): the grid does not
    wrap at the ±180° seam, so cells on either side of it are never
    neighbours; and coordinates outside [-90, 90] × [-180, 180] are
    clamped into the border cells by xy_cols rather than rejected."""
    from .graph import connected_components

    from ..functions.cells import CELL_RES_BITS

    bits = CELL_RES_BITS[CLUSTER_RES]
    x, y = xy_cols(F.col("lat"), F.col("lon"), bits)
    dense = (
        points.select(x.alias("cx"), y.alias("cy"))
        .groupBy("cx", "cy")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pts"))
        .filter(F.col("n_pts") >= CLUSTER_MIN_PTS)
        .withColumn(
            "node",
            (F.col("cx") * F.lit(1 << 29) + F.col("cy")).cast("bigint"),
        )
        .localCheckpoint()  # tiny table, read 3x below (offsets/join/labels)
    )
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
            if (dx, dy) != (0, 0)
        ]
    )
    nb = dense.select(
        F.col("node").alias("src"), F.explode(offsets).alias("o"), "cx", "cy"
    ).select(
        "src",
        (F.col("cx") + F.col("o.dx")).alias("nx"),
        (F.col("cy") + F.col("o.dy")).alias("ny"),
    )
    right = dense.select(
        F.col("cx").alias("nx"), F.col("cy").alias("ny"), F.col("node").alias("dst")
    )
    edges = (
        nb.join(right, ["nx", "ny"])
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
    )
    comp = connected_components(edges, a="src", b="dst").withColumnRenamed(
        "node", "cnode"
    )
    labeled = dense.join(comp, dense["node"] == comp["cnode"], "left").select(
        F.coalesce(F.col("component"), F.col("node")).alias("cluster"),
        "n_pts",
    )
    return labeled.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.sum("n_pts").cast("bigint").alias("n_points"),
    )
