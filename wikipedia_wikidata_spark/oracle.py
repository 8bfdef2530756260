"""DuckDB oracle SQL for every operator — the independent correctness check.

Each function returns a SELF-CONTAINED ANSI-SQL string (CTEs included) that
DuckDB runs against the SAME parquet bytes Spark reads. Semantics mirror the
Spark implementations 1:1, including the deterministic tie-breaks documented in
plans/importance.py. TRY_CAST mirrors Spark's null-on-failure cast.

Float-valued outputs are quantized with floor(x*1e6 + 0.5) *in both engines*
(same IEEE ops) so cross-engine libm 1-ulp noise cannot break the value hash.
"""

from __future__ import annotations

from .config import LANGUAGES, spans_dir_for

SPANS_SF001 = f"{spans_dir_for('sf0.01')}/documents.parquet"
LEVELS_SF001 = f"{spans_dir_for('sf0.01')}/place_type_levels.parquet"


def _langs_sql(languages: list[str] | None = None) -> str:
    return ", ".join(f"'{x}'" for x in (languages or LANGUAGES))


def _sites_sql(languages: list[str] | None = None) -> str:
    return ", ".join(f"'{x}wiki'" for x in (languages or LANGUAGES))


def base_ctes(
    docs_path: str = SPANS_SF001,
    levels_path: str = LEVELS_SF001,
    languages: list[str] | None = None,
) -> str:
    langs = _langs_sql(languages)
    sites = _sites_sql(languages)
    return f"""
spans AS (
  SELECT doc_id,
         split_part(doc_id, ':', 1) AS language,
         s.kind AS kind, s.text AS text, s.media_ref AS media_ref, s."offset" AS off,
         split_part(s.text, chr(31), 1) AS f1,
         split_part(s.text, chr(31), 2) AS f2,
         split_part(s.text, chr(31), 3) AS f3,
         split_part(s.text, chr(31), 4) AS f4,
         split_part(s.text, chr(31), 5) AS f5
  FROM (SELECT doc_id, unnest(spans) AS s FROM read_parquet('{docs_path}'))
),
page AS (
  SELECT language, TRY_CAST(f1 AS INTEGER) AS page_id,
         replace(f2, chr(13), '') AS page_title
  FROM spans
  WHERE kind = 'page' AND f3 = '0' AND length(replace(f2, chr(13), '')) > 0
),
linktarget AS (
  SELECT language, TRY_CAST(f1 AS BIGINT) AS lt_id,
         replace(f3, chr(13), '') AS lt_title
  FROM spans
  WHERE kind = 'linktarget' AND f2 = '0' AND length(replace(f3, chr(13), '')) > 0
),
redirect AS (
  SELECT language, TRY_CAST(f1 AS INTEGER) AS rd_from,
         replace(f3, chr(13), '') AS rd_title
  FROM spans
  WHERE kind = 'redirect' AND f2 = '0' AND length(replace(f3, chr(13), '')) > 0
),
pagelink AS (
  SELECT language, TRY_CAST(f1 AS INTEGER) AS pl_from,
         TRY_CAST(f3 AS BIGINT) AS pl_target_id
  FROM spans WHERE kind = 'pagelink' AND f2 = '0'
),
langlinks AS (
  SELECT language, TRY_CAST(f1 AS INTEGER) AS ll_from, f2 AS ll_lang,
         replace(replace(f3, chr(13), ''), ' ', '_') AS ll_title
  FROM spans WHERE kind = 'langlink' AND f2 IN ({langs})
),
wd_page AS (
  SELECT TRY_CAST(f1 AS BIGINT) AS page_id, f3 AS page_title
  FROM spans WHERE kind = 'wikidata_page' AND f2 = '0' AND f3 LIKE 'Q%'
),
geo_tags AS (
  SELECT TRY_CAST(f1 AS BIGINT) AS gt_page_id,
         round_even(TRY_CAST(f4 AS DOUBLE) * 100000.0, 0) / 100000.0 AS gt_lat,
         round_even(TRY_CAST(f5 AS DOUBLE) * 100000.0, 0) / 100000.0 AS gt_lon
  FROM spans
  WHERE kind = 'wikidata_coord' AND f2 = 'earth' AND f3 = '1'
    AND NOT (TRY_CAST(f4 AS DOUBLE) = 0 AND TRY_CAST(f5 AS DOUBLE) = 0)
    AND TRY_CAST(f4 AS DOUBLE) BETWEEN -90 AND 90
    AND TRY_CAST(f5 AS DOUBLE) BETWEEN -180 AND 180
),
sitelinks AS (
  SELECT TRY_CAST(f1 AS INTEGER) AS ips_item_id, f2 AS ips_site_id,
         replace(f3, chr(13), '') AS ips_site_page
  FROM spans
  WHERE kind = 'sitelink' AND length(replace(f3, chr(13), '')) > 0
    AND replace(f2, 'wiki', '') IN ({langs})
),
places0 AS (
  SELECT DISTINCT f1 AS item, f2 AS instance_of
  FROM spans WHERE kind = 'place' AND f1 LIKE 'Q%'
),
levels AS (SELECT place_type, CAST(level AS INTEGER) AS level FROM read_parquet('{levels_path}')),
plc AS (
  SELECT p.language AS language, lt.lt_title AS pl_title,
         CAST(count(*) AS BIGINT) AS langcount
  FROM pagelink p
  JOIN linktarget lt ON p.language = lt.language AND p.pl_target_id = lt.lt_id
  GROUP BY 1, 2
),
oc AS (
  SELECT ll.language AS language, pg.page_title AS title,
         CAST(SUM(o.langcount) AS BIGINT) AS othercount
  FROM langlinks ll
  JOIN page pg ON ll.language = pg.language AND ll.ll_from = pg.page_id
  JOIN plc o ON ll.ll_lang = o.language AND ll.ll_title = o.pl_title
  GROUP BY 1, 2
),
article_full AS (
  SELECT plc.language, plc.pl_title AS title, plc.langcount,
         COALESCE(oc.othercount, 0) AS othercount,
         plc.langcount + COALESCE(oc.othercount, 0) AS totalcount
  FROM plc
  LEFT JOIN oc ON plc.language = oc.language AND plc.pl_title = oc.title
),
geo_earth AS (
  SELECT DISTINCT g.gt_page_id, g.gt_lat, g.gt_lon, p.page_title
  FROM geo_tags g LEFT JOIN wd_page p ON g.gt_page_id = p.page_id
),
places_lvl AS (
  SELECT p.item, p.instance_of, l.level AS ont_level
  FROM places0 p LEFT JOIN levels l ON p.instance_of = l.place_type
),
wikidata_places0 AS (
  SELECT item, instance_of, ont_level FROM (
    SELECT *, row_number() OVER (
      PARTITION BY item ORDER BY ont_level DESC NULLS LAST, instance_of) AS rn
    FROM places_lvl) WHERE rn = 1
),
geo_pick AS (
  SELECT page_title, gt_lat, gt_lon FROM (
    SELECT *, row_number() OVER (
      PARTITION BY page_title ORDER BY gt_lat, gt_lon, gt_page_id) AS rn
    FROM geo_earth WHERE page_title IS NOT NULL) WHERE rn = 1
),
wikidata_places AS (
  SELECT w.item, w.instance_of, w.ont_level, g.gt_lat AS lat, g.gt_lon AS lon
  FROM wikidata_places0 w LEFT JOIN geo_pick g ON w.item = g.page_title
),
wikidata_pages AS (
  SELECT w.item, w.instance_of, w.lat, w.lon,
         replace(s.ips_site_page, ' ', '_') AS wp_page_title,
         left(s.ips_site_id, length(s.ips_site_id) - 4) AS language
  FROM wikidata_places w
  JOIN sitelinks s ON TRY_CAST(ltrim(w.item, 'Q') AS INTEGER) = s.ips_item_id
  WHERE s.ips_site_id IN ({sites})
),
wp_pick AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY language, wp_page_title ORDER BY item, instance_of) AS rn
    FROM wikidata_pages) WHERE rn = 1
),
af2 AS (
  SELECT a.language, a.title, a.langcount, a.othercount, a.totalcount,
         w.lat, w.lon, w.item AS wd_page_title, w.instance_of
  FROM article_full a
  LEFT JOIN wp_pick w ON a.language = w.language AND a.title = w.wp_page_title
),
mx AS (
  SELECT MAX(totalcount) AS max_total FROM af2 WHERE wd_page_title IS NOT NULL
),
scored AS (
  SELECT af2.*,
         GREATEST(log(totalcount) / log(mx.max_total), 0.0000000001) AS importance
  FROM af2, mx
),
article AS (
  SELECT language, title, importance, wd_page_title
  FROM scored WHERE wd_page_title IS NOT NULL AND importance != 0
),
redirect_full AS (
  SELECT r.language, p.page_title AS from_title, r.rd_title AS to_title
  FROM redirect r JOIN page p ON r.language = p.language AND r.rd_from = p.page_id
),
from_redirects AS (
  SELECT r.language, 'r' AS type, r.from_title AS title,
         a.importance, a.wd_page_title AS wikidata_id
  FROM redirect_full r
  JOIN article a ON a.language = r.language AND a.title = r.to_title
),
articles_out AS (
  SELECT language, 'a' AS type, title, importance, wd_page_title AS wikidata_id
  FROM article
),
wmi AS (
  SELECT * FROM articles_out
  UNION ALL
  SELECT f.* FROM from_redirects f
  ANTI JOIN articles_out a ON f.language = a.language AND f.title = a.title
),
polygons AS (
  SELECT f1 AS item,
         list_transform(string_split(f3, ','), s -> {{
           lat: TRY_CAST(split_part(s, ':', 1) AS DOUBLE),
           lon: TRY_CAST(split_part(s, ':', 2) AS DOUBLE)
         }}) AS verts
  FROM spans WHERE kind = 'place_polygon'
),
polygons_bbox AS (
  SELECT item, verts,
         list_aggregate(list_transform(verts, v -> v.lat), 'min') AS min_lat,
         list_aggregate(list_transform(verts, v -> v.lat), 'max') AS max_lat,
         list_aggregate(list_transform(verts, v -> v.lon), 'min') AS min_lon,
         list_aggregate(list_transform(verts, v -> v.lon), 'max') AS max_lon
  FROM polygons
),
entity_points AS (
  SELECT language, title, wd_page_title AS wikidata_id, lat, lon, importance
  FROM scored WHERE wd_page_title IS NOT NULL AND lat IS NOT NULL
),
geo_places AS (
  SELECT item, lat, lon FROM wikidata_places WHERE lat IS NOT NULL
)
"""


def q(
    final_select: str,
    docs_path: str = SPANS_SF001,
    levels_path: str = LEVELS_SF001,
    languages: list[str] | None = None,
) -> str:
    return "WITH " + base_ctes(docs_path, levels_path, languages) + "\n" + final_select


E6 = "CAST(floor(importance * 1000000.0 + 0.5) AS BIGINT)"


def _hexpair_sql(e: str, i: int) -> str:
    c1 = f"CAST(strpos('0123456789abcdef', substr(md5({e}), {2 * i + 1}, 1)) - 1 AS BIGINT)"
    c2 = f"CAST(strpos('0123456789abcdef', substr(md5({e}), {2 * i + 2}, 1)) - 1 AS BIGINT)"
    return f"({c1} * 16 + {c2})"


def _multimodal_oracle() -> str:
    b = [_hexpair_sql("media_ref", i) for i in range(8)]
    feat = ", ".join(
        f"CAST(CAST(floor(CAST(CAST({bi} / 255.0 AS FLOAT) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS VARCHAR)"
        for bi in b
    )
    return q(
        f"""SELECT doc_id, media_ref,
       CAST(256 + {b[0]} * 4 AS INTEGER) AS width,
       CAST(256 + {b[1]} * 4 AS INTEGER) AS height,
       CAST(1 + {b[2]} % 8 AS INTEGER) AS n_frames,
       concat_ws(',', {feat}) AS feature_e6
FROM (SELECT doc_id, media_ref FROM spans WHERE kind = 'media')"""
    )


def _media_resize_oracle() -> str:
    b0, b1 = _hexpair_sql("media_ref", 0), _hexpair_sql("media_ref", 1)
    w, h = f"(256 + {b0} * 4)", f"(256 + {b1} * 4)"
    mx = f"greatest({w}, {h})"
    rw, rh = f"(({w} * 128) // {mx})", f"(({h} * 128) // {mx})"
    return q(
        f"""SELECT doc_id, media_ref,
       CAST({w} AS INTEGER) AS width,
       CAST({h} AS INTEGER) AS height,
       CAST({rw} AS INTEGER) AS resized_w,
       CAST({rh} AS INTEGER) AS resized_h,
       md5(concat(media_ref, ':', CAST({rw} AS VARCHAR), 'x', CAST({rh} AS VARCHAR)))
         AS resized_md5
FROM (SELECT doc_id, media_ref FROM spans WHERE kind = 'media')"""
    )


def _media_frame_sample_oracle() -> str:
    from .operators.multimodal import FRAME_STEP

    b2 = _hexpair_sql("media_ref", 2)
    n = f"(1 + {b2} % 8)"
    return q(
        f"""SELECT doc_id, media_ref,
       CAST(fi AS INTEGER) AS frame_idx,
       md5(concat(media_ref, ':', CAST(fi AS VARCHAR))) AS frame_md5
FROM (
  SELECT doc_id, media_ref, unnest(range(0, {n}, {FRAME_STEP})) AS fi
  FROM (SELECT doc_id, media_ref FROM spans WHERE kind = 'media')
)"""
    )


def _spatial_oracles() -> dict[str, str]:
    from .config import TILE_ZOOMS
    from .functions.cells import cell_sql, morton_sql
    from .operators.spatial import duckdb_ray_cast_sql
    from .operators.tiles import DEFAULT_VIEWPORT as _VP
    from .operators.tiles import tile_sql

    # derived from config, not a literal twin: editing TILE_ZOOMS must keep
    # both engines on the same pyramid
    zooms = ", ".join(str(int(z)) for z in TILE_ZOOMS)
    cells = ", ".join(
        f"{cell_sql('lat', 'lon', r)} AS cell_r{r}" for r in (5, 6, 7, 8, 9)
    )
    ray = duckdb_ray_cast_sql("g.verts", "p.lat", "p.lon")
    tx, ty = tile_sql("z.zoom", "p.lat", "p.lon")
    return {
        "cell_encode": q(
            f"SELECT language, title, {cells}, {morton_sql('lat', 'lon')} AS s2_morton"
            " FROM entity_points"
        ),
        "spatial_join_pip": q(
            f"""SELECT p.language, p.title, p.wikidata_id, g.item AS place_item
FROM entity_points p
JOIN polygons_bbox g
  ON p.lat BETWEEN g.min_lat AND g.max_lat
 AND p.lon BETWEEN g.min_lon AND g.max_lon
WHERE {ray}"""
        ),
        "knn_nearest_place": q(
            """SELECT language, title, nearest_item,
       CAST(floor(dist2 * 1000000000.0 + 0.5) AS BIGINT) AS dist2_e9
FROM (
  SELECT p.language, p.title, g.item AS nearest_item,
         (p.lat - g.lat) * (p.lat - g.lat) + (p.lon - g.lon) * (p.lon - g.lon) AS dist2,
         row_number() OVER (
           PARTITION BY p.language, p.title
           ORDER BY (p.lat - g.lat) * (p.lat - g.lat) + (p.lon - g.lon) * (p.lon - g.lon),
                    g.item) AS rn
  FROM entity_points p CROSS JOIN geo_places g
) WHERE rn = 1"""
        ),
        "tile_importance": q(
            f"""SELECT z.zoom, {tx} AS tile_x, {ty} AS tile_y,
       CAST(count(*) AS BIGINT) AS n_entities,
       CAST(floor(SUM(p.importance) * 1000000.0 + 0.5) AS BIGINT) AS importance_sum_e6
FROM entity_points p
CROSS JOIN (SELECT unnest([{zooms}]) AS zoom) z
GROUP BY 1, 2, 3"""
        ),
        "tile_viewport": q(
            f"""SELECT * FROM (
  SELECT z.zoom, {tx} AS tile_x, {ty} AS tile_y,
         CAST(count(*) AS BIGINT) AS n_entities,
         CAST(floor(SUM(p.importance) * 1000000.0 + 0.5) AS BIGINT) AS importance_sum_e6
  FROM entity_points p
  CROSS JOIN (SELECT unnest([{zooms}]) AS zoom) z
  GROUP BY 1, 2, 3
) WHERE zoom = {_VP['zoom']}
  AND tile_x BETWEEN {_VP['x_min']} AND {_VP['x_max']}
  AND tile_y BETWEEN {_VP['y_min']} AND {_VP['y_max']}"""
        ),
        "tile_cell_cover": _tile_cell_cover_oracle(),
        "cell_vector": _cell_vector_oracle(),
    }


def _tile_cell_cover_oracle(res: int = 5, zoom: int = 8) -> str:
    """Mirrors operators/tiles.py tile_cell_cover: exact integer x-refinement,
    inverse-mercator y bounds (token-identical float expression)."""
    from .config import CELL_RES_BITS
    from .operators.tiles import _inv_mercator_lat_sql, tile_sql

    bits = CELL_RES_BITS[res]
    nb = 1 << bits
    tx, ty = tile_sql("z.zoom", "p.lat", "p.lon")
    n = "CAST(pow(2.0, t.zoom) AS DOUBLE)"
    lat_b = _inv_mercator_lat_sql("CAST(t.tile_y + 1 AS DOUBLE)", n)
    lat_t = _inv_mercator_lat_sql("CAST(t.tile_y AS DOUBLE)", n)
    y0 = (
        f"least(greatest(CAST(floor(({lat_b} + 90.0) / 180.0 * {float(nb)}) AS BIGINT), 0), {nb - 1})"
    )
    y1 = (
        f"least(greatest(CAST(floor(({lat_t} + 90.0) / 180.0 * {float(nb)}) AS BIGINT), 0), {nb - 1})"
    )
    # float fac + floor mirrors tiles.py: zoom > bits (tile finer than a
    # cell) must yield the single covering column, not a truncated-to-0
    # range (the round-1 integer-cast bug existed on BOTH sides)
    fac = f"pow(2.0, {bits} - t.zoom)"
    return q(
        f"""SELECT zoom, tile_x, tile_y,
       (CAST({res} AS BIGINT) * {1 << 58} + cx * {1 << 29} + unnest(range(y0, y1 + 1))) AS cell_id
FROM (
  SELECT zoom, tile_x, tile_y, y0, y1,
         unnest(range(
           CAST(floor(tile_x * fac) AS BIGINT),
           greatest(CAST(floor((tile_x + 1) * fac) AS BIGINT) - 1,
                    CAST(floor(tile_x * fac) AS BIGINT)) + 1)) AS cx
  FROM (
    SELECT t.zoom, t.tile_x, t.tile_y, {fac} AS fac, {y0} AS y0, {y1} AS y1
    FROM (
      SELECT DISTINCT z.zoom, {tx} AS tile_x, {ty} AS tile_y
      FROM entity_points p CROSS JOIN (SELECT unnest([{zoom}]) AS zoom) z
    ) t
  )
)"""
    )


def _cell_vector_oracle(res: int = 5) -> str:
    """Mirrors operators/tiles.py cell_vector (integer shift/mask decode)."""
    from .config import CELL_RES_BITS
    from .functions.cells import cell_sql

    bits = CELL_RES_BITS[res]
    n = float(1 << bits)
    x = f"CAST((cell_id >> 29) & {(1 << 29) - 1} AS DOUBLE)"
    y = f"CAST(cell_id & {(1 << 29) - 1} AS DOUBLE)"
    lon0 = f"({x} / {n!r} * 360.0 - 180.0)"
    lon1 = f"(({x} + 1) / {n!r} * 360.0 - 180.0)"
    lat0 = f"({y} / {n!r} * 180.0 - 90.0)"
    lat1 = f"(({y} + 1) / {n!r} * 180.0 - 90.0)"
    wkt = (
        f"concat('POLYGON((', CAST({lon0} AS VARCHAR), ' ', CAST({lat0} AS VARCHAR), ',', "
        f"CAST({lon1} AS VARCHAR), ' ', CAST({lat0} AS VARCHAR), ',', "
        f"CAST({lon1} AS VARCHAR), ' ', CAST({lat1} AS VARCHAR), ',', "
        f"CAST({lon0} AS VARCHAR), ' ', CAST({lat1} AS VARCHAR), ',', "
        f"CAST({lon0} AS VARCHAR), ' ', CAST({lat0} AS VARCHAR), '))')"
    )
    return q(
        f"""SELECT cell_id,
       {lat0} AS min_lat, {lon0} AS min_lon,
       {lat1} AS max_lat, {lon1} AS max_lon,
       {wkt} AS wkt
FROM (SELECT DISTINCT {cell_sql('lat', 'lon', res)} AS cell_id FROM entity_points)"""
    )


ORACLES: dict[str, str] = {
    "extract_page": q("SELECT language, page_id, page_title FROM page"),
    "extract_pagelink": q("SELECT language, pl_from, pl_target_id FROM pagelink"),
    "extract_langlinks": q("SELECT language, ll_from, ll_lang, ll_title FROM langlinks"),
    "extract_wd_page": q("SELECT page_id, page_title FROM wd_page"),
    "extract_geo_tags": q("SELECT gt_page_id, gt_lat, gt_lon FROM geo_tags"),
    "extract_sitelinks": q("SELECT ips_item_id, ips_site_id, ips_site_page FROM sitelinks"),
    "extract_places": q("SELECT item, instance_of FROM places0"),
    "pagelink_counts": q("SELECT language, pl_title, langcount FROM plc"),
    "othercounts": q("SELECT language, title, othercount FROM oc"),
    "article_full": q("SELECT language, title, langcount, othercount, totalcount FROM article_full"),
    "geo_earth_wikidata": q("SELECT gt_page_id, gt_lat, gt_lon, page_title FROM geo_earth"),
    "wikidata_places": q("SELECT item, instance_of, ont_level, lat, lon FROM wikidata_places"),
    "wikidata_pages": q("SELECT item, instance_of, lat, lon, wp_page_title, language FROM wikidata_pages"),
    "redirect_full": q("SELECT language, from_title, to_title FROM redirect_full"),
    "scored_articles": q(
        "SELECT language, title, langcount, othercount, totalcount, lat, lon,"
        " wd_page_title, instance_of,"
        " CAST(floor(importance * 1000000.0 + 0.5) AS BIGINT) AS importance_e6"
        " FROM scored"
    ),
    "uniqueness_audit": q(
        "SELECT language, title, CAST(count(*) AS BIGINT) AS n FROM wmi"
        " GROUP BY language, title HAVING count(*) > 1"
    ),
    "top_languages": q(
        "SELECT language, CAST(count(*) AS BIGINT) AS size FROM wmi GROUP BY language"
    ),
    "importance_pipeline": q(
        f"SELECT language, type, title, {E6} AS importance_e6, wikidata_id FROM wmi"
    ),
}
ORACLES.update(_spatial_oracles())
ORACLES["multimodal_features"] = _multimodal_oracle()
ORACLES["mysqldump_scan"] = """SELECT page_id, page_title, ns FROM (VALUES
  (CAST(1 AS BIGINT), 'Main_Page', '0'),
  (CAST(2 AS BIGINT), 'Title''s,comma', '0'),
  (CAST(3 AS BIGINT), NULL, '1'),
  (CAST(4 AS BIGINT), 'back\\slash' || chr(9) || 'tab', '0')
) t(page_id, page_title, ns)"""
ORACLES["media_resize"] = _media_resize_oracle()
ORACLES["media_frame_sample"] = _media_frame_sample_oracle()


def _importance_39lang_oracle() -> str:
    """The identical importance program parameterized at the reference's
    full 39-language production configuration (config/languages.txt:1-40)
    over the dedicated 39-language corpus dir. get_oracle_sql() ensures the
    corpus exists before the driver runs this. NOTE: like the Spark side
    (queries.q_importance_39lang), this row is pinned to that dedicated
    corpus and is insensitive to the driver's sf_dir choice by design —
    the L=39 configuration is the thing under test, not the corpus size."""
    from .config import LANGUAGES_FULL
    from .sources.synth import spans_dir_path

    d, _sf = spans_dir_path(0.004, LANGUAGES_FULL)
    return q(
        f"SELECT language, type, title, {E6} AS importance_e6, wikidata_id FROM wmi",
        docs_path=f"{d}/documents.parquet",
        levels_path=f"{d}/place_type_levels.parquet",
        languages=LANGUAGES_FULL,
    )


ORACLES["importance_39lang"] = _importance_39lang_oracle()

# Span-sequence invariant digest (input_hint): md5 of the offset-ordered
# kind\x1ftext\x1fmedia_ref\x1foffset serialization per doc — DuckDB's
# string_agg ORDER BY (off, kind, text, media_ref) mirrors Spark's
# array_sort over the FULL (offset, kind, text, media_ref) struct: the
# extra keys are the tie-break for documents with two spans at one offset
# (offset-only ordering would be nondeterministic there).
ORACLES["spans_roundtrip"] = f"""WITH s AS (
  SELECT doc_id, s.kind AS kind, s.text AS text, s.media_ref AS media_ref,
         s."offset" AS off
  FROM (SELECT doc_id, unnest(spans) AS s FROM read_parquet('{SPANS_SF001}'))
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
       md5(string_agg(
         kind || chr(31) || text || chr(31) || media_ref || chr(31) || CAST(off AS VARCHAR),
         chr(30) ORDER BY off, kind, text, media_ref)) AS span_md5,
       TRUE AS roundtrip_ok
FROM s GROUP BY doc_id"""


def _checkpoint_lineage_oracle() -> str:
    """Independent row count for every committed pipeline stage
    (plans/pipeline.py stage order): 19 UNION ALL counts over the same
    corpus. knn is one-nearest-per-point by construction (the level-0
    global fallback guarantees a match whenever geo_places is non-empty),
    so its count equals entity_points'."""
    from .config import TILE_ZOOMS
    from .operators.spatial import duckdb_ray_cast_sql
    from .operators.tiles import tile_sql

    ray = duckdb_ray_cast_sql("g.verts", "p.lat", "p.lon")
    zooms = ", ".join(str(int(z)) for z in TILE_ZOOMS)
    tx, ty = tile_sql("z.zoom", "p.lat", "p.lon")
    counts = {
        "spans_flat": "SELECT count(*) FROM spans",
        "view_page": "SELECT count(*) FROM page",
        "view_linktarget": "SELECT count(*) FROM linktarget",
        "view_redirect": "SELECT count(*) FROM redirect",
        "view_pagelink": "SELECT count(*) FROM pagelink",
        "view_wd_page": "SELECT count(*) FROM wd_page",
        "view_geo_tags": "SELECT count(*) FROM geo_tags",
        "view_places": "SELECT count(*) FROM places0",
        "view_polygons": "SELECT count(*) FROM polygons",
        "view_langlinks": "SELECT count(*) FROM langlinks",
        "view_sitelinks": "SELECT count(*) FROM sitelinks",
        "article_full": "SELECT count(*) FROM article_full",
        "wikidata_places": "SELECT count(*) FROM wikidata_places",
        "scored": "SELECT count(*) FROM scored",
        "importance": "SELECT count(*) FROM wmi",
        "entity_points": "SELECT count(*) FROM entity_points",
        "spatial_assign": (
            "SELECT count(*) FROM entity_points p JOIN polygons_bbox g"
            " ON p.lat BETWEEN g.min_lat AND g.max_lat"
            " AND p.lon BETWEEN g.min_lon AND g.max_lon"
            f" WHERE {ray}"
        ),
        "knn": "SELECT count(*) FROM entity_points",
        "tiles": (
            f"SELECT count(*) FROM (SELECT DISTINCT z.zoom, {tx} AS tile_x,"
            f" {ty} AS tile_y FROM entity_points p"
            f" CROSS JOIN (SELECT unnest([{zooms}]) AS zoom) z)"
        ),
    }
    selects = "\nUNION ALL\n".join(
        f"SELECT '{stage}' AS stage, CAST(({sql}) AS BIGINT) AS rows"
        for stage, sql in counts.items()
    )
    return q(selects)


ORACLES["checkpoint_lineage"] = _checkpoint_lineage_oracle()


def _pagerank_oracle() -> str:
    """Unrolled fixed-iteration PageRank mirroring operators/graph.pagerank
    term-for-term IN INT64 FIXED POINT (scale 1e15): same edge resolution,
    same 15/100 / 85/100 integer literals, same lost-dangling-mass
    convention, same `//` floor divisions. Integer sums are order-invariant,
    so this oracle is bit-equal to the Spark side at any graph size (no
    float-summation bucket-boundary tail risk — round-3 ADVICE)."""
    from .operators.graph import (
        PR_DAMPING, PR_ITERS, PR_SCALE, PR_TELEPORT,
    )

    d_num, t_num = round(PR_DAMPING * 100), round(PR_TELEPORT * 100)
    t_fp = PR_SCALE * t_num // 100
    ctes = [f""",
edges AS (
  SELECT DISTINCT p.language, p.pl_from AS src, pg.page_id AS dst
  FROM pagelink p
  JOIN linktarget lt ON lt.language = p.language AND lt.lt_id = p.pl_target_id
  JOIN page pg ON pg.language = p.language AND pg.page_title = lt.lt_title
  WHERE p.pl_from <> pg.page_id
),
pr_nodes AS (
  SELECT language, src AS node FROM edges
  UNION
  SELECT language, dst FROM edges
),
pr_n AS (SELECT language, CAST(count(*) AS BIGINT) AS n FROM pr_nodes GROUP BY 1),
pr_outdeg AS (
  SELECT language, src, CAST(count(*) AS BIGINT) AS od FROM edges GROUP BY 1, 2
),
pr_r0 AS (
  SELECT nd.language, nd.node, {PR_SCALE} // nn.n AS rank_fp
  FROM pr_nodes nd JOIN pr_n nn ON nn.language = nd.language
)"""]
    for i in range(1, PR_ITERS + 1):
        ctes.append(f""",
pr_r{i} AS (
  SELECT nd.language, nd.node,
         ({t_fp} // nn.n) + ({d_num} * COALESCE(c.c, 0)) // 100 AS rank_fp
  FROM pr_nodes nd
  JOIN pr_n nn ON nn.language = nd.language
  LEFT JOIN (
    SELECT e.language, e.dst AS node, SUM(r.rank_fp // od.od) AS c
    FROM edges e
    JOIN pr_r{i - 1} r ON r.language = e.language AND r.node = e.src
    JOIN pr_outdeg od ON od.language = e.language AND od.src = e.src
    GROUP BY 1, 2
  ) c ON c.language = nd.language AND c.node = nd.node
)""")
    final = f"""
SELECT r.language, pg.page_title AS title,
       CAST(r.rank_fp // 1000000 AS BIGINT) AS rank_e9
FROM pr_r{PR_ITERS} r
JOIN page pg ON pg.language = r.language AND pg.page_id = r.node"""
    return q("".join(ctes) + final)


ORACLES["pagerank_links"] = _pagerank_oracle()


def _spatial_cluster_oracle() -> str:
    """DuckDB twin of operators/spatial.grid_density_clusters over
    entity_points: dense CLUSTER_RES cells (>= CLUSTER_MIN_PTS points),
    8-neighbor adjacency, recursive-CTE connected components seeded from
    EVERY dense cell (so singleton dense cells label themselves), min-node
    cluster labels. Adjacency here is the direct abs-diff theta join — the oracle
    mirrors SEMANTICS, not the Spark plan's shifted-key equi-join."""
    from .functions.cells import CELL_RES_BITS, x_sql, y_sql
    from .operators.spatial import CLUSTER_MIN_PTS, CLUSTER_RES

    bits = CELL_RES_BITS[CLUSTER_RES]
    return (
        "WITH RECURSIVE "
        + base_ctes()
        + f""",
gcells AS (
  SELECT {x_sql('lon', bits)} AS cx, {y_sql('lat', bits)} AS cy,
         CAST(count(*) AS BIGINT) AS n_pts
  FROM entity_points GROUP BY 1, 2 HAVING count(*) >= {CLUSTER_MIN_PTS}
),
gdense AS (SELECT cx, cy, n_pts, cx * {1 << 29} + cy AS node FROM gcells),
gund AS (
  SELECT a.node AS src, b.node AS dst FROM gdense a JOIN gdense b
  ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1 AND a.node <> b.node
),
gwalk(node, label) AS (
  SELECT node, node FROM gdense
  UNION
  SELECT e.dst, w.label FROM gwalk w JOIN gund e ON e.src = w.node
),
gcomp AS (SELECT node, MIN(label) AS component FROM gwalk GROUP BY node)
SELECT g.component AS cluster, CAST(count(*) AS BIGINT) AS n_cells,
       CAST(sum(d.n_pts) AS BIGINT) AS n_points
FROM gdense d JOIN gcomp g ON d.node = g.node
GROUP BY 1"""
    )


ORACLES["spatial_cluster"] = _spatial_cluster_oracle()


def _hits_oracle() -> str:
    """Unrolled fixed-iteration HITS mirroring operators/graph.hits
    term-for-term: same edge resolution as pagerank, L1 normalization per
    half-step with the raw·SCALE numerator in HUGEINT and `//` floor —
    the Spark side computes the identical floor via decimal(38,0)
    subtract-remainder (sketches.py idiom). Integer sums order-invariant:
    bit-equal at any scale."""
    from .operators.graph import HITS_ITERS, HITS_SCALE

    S = HITS_SCALE
    ctes = [f""",
edges AS MATERIALIZED (
  SELECT DISTINCT p.language, p.pl_from AS src, pg.page_id AS dst
  FROM pagelink p
  JOIN linktarget lt ON lt.language = p.language AND lt.lt_id = p.pl_target_id
  JOIN page pg ON pg.language = p.language AND pg.page_title = lt.lt_title
  WHERE p.pl_from <> pg.page_id
),
pr_nodes AS MATERIALIZED (
  SELECT language, src AS node FROM edges
  UNION
  SELECT language, dst FROM edges
),
a0 AS (SELECT language, node, CAST({S} AS BIGINT) AS fp FROM pr_nodes)"""]

    def half(i: int, out: str, src_vec: str, edge_key: str, grp_key: str) -> str:
        # ONE materialized CTE per half-step, normalization via a window
        # SUM — a separate per-language sum CTE would be referenced twice
        # and DuckDB inlines CTEs by default, doubling the whole prior
        # chain's evaluation per half-step (measured: 6 half-steps hung;
        # this shape runs in seconds)
        return f""",
{out} AS MATERIALIZED (
  SELECT language, node,
         CASE WHEN ssum > 0
              THEN CAST((CAST(raw AS HUGEINT) * {S}) // ssum AS BIGINT)
              ELSE 0 END AS fp
  FROM (
    SELECT n.language, n.node, COALESCE(x.raw, 0) AS raw,
           SUM(CAST(COALESCE(x.raw, 0) AS HUGEINT))
             OVER (PARTITION BY n.language) AS ssum
    FROM pr_nodes n LEFT JOIN (
      SELECT e.language, e.{grp_key} AS node, SUM(v.fp) AS raw
      FROM edges e
      JOIN {src_vec} v ON v.language = e.language AND v.node = e.{edge_key}
      GROUP BY 1, 2
    ) x ON x.language = n.language AND x.node = n.node
  )
)"""

    for i in range(1, HITS_ITERS + 1):
        # hubs from previous auths: h(u) = sum over u->v of a(v)
        ctes.append(half(i, f"h{i}", f"a{i - 1}", "dst", "src"))
        # auths from the new hubs: a(v) = sum over u->v of h(u)
        ctes.append(half(i, f"a{i}", f"h{i}", "src", "dst"))
    k = HITS_ITERS
    final = f"""
SELECT h.language, pg.page_title AS title,
       CAST(h.fp // 1000 AS BIGINT) AS hub_e6,
       CAST(a.fp // 1000 AS BIGINT) AS auth_e6
FROM h{k} h
JOIN a{k} a ON a.language = h.language AND a.node = h.node
JOIN page pg ON pg.language = h.language AND pg.page_id = h.node"""
    return q("".join(ctes) + final)


ORACLES["hits_links"] = _hits_oracle()
