"""The importance pipeline — reference semantics, Spark-first execution.

Re-expresses the reference's three Postgres/bash stages
(steps/wikipedia_process.sh, steps/wikidata_process.sh, steps/output.sh) as ONE
lazily-composed DataFrame program over the extracted views, so Catalyst sees the
whole tree (pushdowns, broadcast selection, AQE skew splitting).

Key departures from the reference's *execution* (never its *semantics*):
- The 39x39 UPDATE...FROM loop (steps/wikipedia_process.sh:52-71, 2:20 h of the
  reference's 9 h build) collapses into one grouped-SUM + left join (J3/J4).
- The scalar MAX subquery (steps/wikidata_process.sh:151-155) becomes a 1-row
  broadcast cross join — no driver-side collect.
- Underdetermined Postgres picks (DISTINCT ON at steps/wikidata_process.sh:52-66;
  multi-match UPDATE...FROM at :68-73 and :127-135) get explicit deterministic
  tie-breaks via row_number windows, mirrored exactly in the DuckDB oracle.

Output schema (README.md:54-62): (language, type, title, importance, wikidata_id).
"""

from __future__ import annotations

import os
import threading
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

from ..config import IMPORTANCE_FLOOR, LANGUAGES, spans_dir_for
from ..operators import extract as ex
from ..operators.spatial import pip_join
from ..sources.catalog import session_table


@pandas_udf(DoubleType())
def log10_ratio_floor(total: pd.Series, mx: pd.Series) -> pd.Series:
    """importance = max(log10(total)/log10(max), 1e-10), Arrow-vectorized.

    Deliberately NOT the JVM F.log10 (F9, byte-exact TSV): java.lang.Math
    .log10 differs from numpy/libm log10 by 1 ulp on ~2% of integer inputs,
    which breaks the byte-level golden comparison of repr-formatted
    importance against the pure-Python reference oracle
    (tests/test_importance.py). numpy's scalar and SIMD paths are bit-equal
    (verified), so the oracle's per-row np.log10 matches this batch form
    exactly. Same precedent as round5 (bin/filter_wikidata_geo_tags.py:50),
    except there a JVM twin (rint) existed; for log10 none does."""
    t = np.log10(total.to_numpy(dtype="float64"))
    m = np.log10(mx.to_numpy(dtype="float64"))
    with np.errstate(divide="ignore", invalid="ignore"):
        r = np.maximum(t / m, IMPORTANCE_FLOOR)
    # NULL max_total (no geo-linked article at all) or max_total==1 (0/0)
    # arrives as NaN; GREATEST-with-NULL floors to 1e-10 in the reference's
    # Postgres and in the DuckDB oracle — never emit NaN importance
    return pd.Series(np.where(np.isnan(r), IMPORTANCE_FLOOR, r))


def pagelink_counts(v: dict[str, DataFrame]) -> DataFrame:
    """J1+A1: bin/filter_pagelinks.py:21-49 — resolve pl_target_id via the
    linktarget side (reference: a 30M-entry Python dict = its memory cliff;
    here: an ordinary equi-join Catalyst can broadcast or shuffle) and count
    inlinks per title."""
    pl = v["pagelink"]
    lt = v["linktarget"].select(
        F.col("language").alias("lt_language"), "lt_id", "lt_title"
    )
    return (
        pl.join(
            lt,
            (pl.language == lt.lt_language) & (pl.pl_target_id == lt.lt_id),
            "inner",
        )
        .select(pl.language.alias("language"), lt.lt_title.alias("pl_title"))
        .groupBy("language", "pl_title")
        .agg(F.count(F.lit(1)).alias("langcount"))
    )


def othercounts(v: dict[str, DataFrame], plc: DataFrame) -> DataFrame:
    """J3+J4+A2: steps/wikipedia_process.sh:52-71 — cross-language link weight.
    For each (W,O): W-langlinks joined to W-page (ll_from=page_id) and to
    O-pagelink-counts (ll_lang=O AND ll_title=pl_title); weights SUM into the
    W article's othercount. One shuffle instead of 1521 UPDATE statements."""
    ll = v["langlinks"]
    pg = v["page"].select(
        F.col("language").alias("pg_language"), "page_id", "page_title"
    )
    ll_pages = ll.join(
        pg, (ll.language == pg.pg_language) & (ll.ll_from == pg.page_id)
    ).select(
        ll.language.alias("language"),
        pg.page_title.alias("title"),
        ll.ll_lang.alias("ll_lang"),
        ll.ll_title.alias("ll_title"),
    )
    other = plc.select(
        F.col("language").alias("o_language"),
        F.col("pl_title").alias("o_title"),
        F.col("langcount").alias("o_count"),
    )
    return (
        ll_pages.join(
            other,
            (ll_pages.ll_lang == other.o_language)
            & (ll_pages.ll_title == other.o_title),
        )
        .groupBy("language", "title")
        .agg(F.sum("o_count").alias("othercount"))
    )


def article_full(plc: DataFrame, oc: DataFrame) -> DataFrame:
    """A3/U1: steps/wikipedia_process.sh:79-104 — totalcount = langcount+othercount."""
    oc2 = oc.select(
        F.col("language").alias("oc_language"),
        F.col("title").alias("oc_title"),
        F.col("othercount").alias("oc_count"),
    )
    j = plc.join(
        oc2,
        (plc.language == oc2.oc_language) & (plc.pl_title == oc2.oc_title),
        "left",
    ).select(
        plc.language.alias("language"),
        plc.pl_title.alias("title"),
        plc.langcount.alias("langcount"),
        F.coalesce(oc2.oc_count, F.lit(0).cast("long")).alias("othercount"),
    )
    return j.withColumn("totalcount", F.col("langcount") + F.col("othercount"))


def geo_earth_wikidata(v: dict[str, DataFrame]) -> DataFrame:
    """J5+A5: steps/wikidata_process.sh:26-36."""
    g, p = v["geo_tags"], v["wd_page"]
    return (
        g.join(p, g.gt_page_id == p.page_id, "left")
        .select("gt_page_id", "gt_lat", "gt_lon", "page_title")
        .dropDuplicates()
    )


def wikidata_places(v: dict[str, DataFrame], levels: DataFrame, geo_earth: DataFrame) -> DataFrame:
    """J6+A6+J7: steps/wikidata_process.sh:38-73.

    A6's Postgres `DISTINCT ON (item) ... MAX(ont_level) ... ORDER BY item`
    picks an arbitrary (instance_of, ont_level) per item; we fix the pick
    deterministically: highest ont_level first (NULLS LAST), then instance_of.
    J7's UPDATE picks an arbitrary coordinate when a title has several distinct
    geo rows; we pick MIN (gt_lat, gt_lon, gt_page_id). Both tie-breaks are
    mirrored in the DuckDB oracle.
    """
    pl = v["places"].join(
        F.broadcast(levels),
        v["places"].instance_of == levels.place_type,
        "left",
    ).select("item", "instance_of", F.col("level").cast("int").alias("ont_level"))
    w = Window.partitionBy("item").orderBy(
        F.desc_nulls_last("ont_level"), F.asc("instance_of")
    )
    best = pl.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1).drop("rn")
    wg = Window.partitionBy("page_title").orderBy("gt_lat", "gt_lon", "gt_page_id")
    geo_pick = (
        geo_earth.filter(F.col("page_title").isNotNull())
        .withColumn("rn", F.row_number().over(wg))
        .filter(F.col("rn") == 1)
        .select("page_title", "gt_lat", "gt_lon")
    )
    return best.join(geo_pick, best.item == geo_pick.page_title, "left").select(
        "item",
        "instance_of",
        "ont_level",
        F.col("gt_lat").alias("lat"),
        F.col("gt_lon").alias("lon"),
    )


def wikidata_pages(places: DataFrame, sitelinks: DataFrame, languages: list[str]) -> DataFrame:
    """J8+F4: steps/wikidata_process.sh:83-118 — expression join on
    CAST(LTRIM(item,'Q') AS INT) = ips_item_id, one pass for all languages
    (the reference loops); title ' '->'_' (:114)."""
    sites = [f"{L}wiki" for L in languages]
    sl = sitelinks.filter(F.col("ips_site_id").isin(sites))
    q = places.withColumn(
        "qnum", F.expr("try_cast(trim(LEADING 'Q' FROM item) AS int)")
    )
    return q.join(sl, q.qnum == sl.ips_item_id, "inner").select(
        "item",
        "instance_of",
        "lat",
        "lon",
        F.translate("ips_site_page", " ", "_").alias("wp_page_title"),
        F.expr("substring(ips_site_id, 1, length(ips_site_id)-4)").alias("language"),
    )


def scored_articles(af: DataFrame, wp: DataFrame) -> DataFrame:
    """J9+A4+F6: steps/wikidata_process.sh:127-158 — patch geo/wikidata onto
    articles, then importance = GREATEST(LOG10(total)/LOG10(max over geo-linked),
    1e-10). Scalar max via 1-row broadcast cross join (no collect)."""
    wsel = Window.partitionBy("language", "wp_page_title").orderBy("item", "instance_of")
    wp1 = (
        wp.withColumn("rn", F.row_number().over(wsel))
        .filter(F.col("rn") == 1)
        .select(
            F.col("language").alias("w_language"),
            F.col("wp_page_title").alias("w_title"),
            F.col("lat").alias("w_lat"),
            F.col("lon").alias("w_lon"),
            F.col("item").alias("w_item"),
            F.col("instance_of").alias("w_instance_of"),
        )
    )
    af2 = af.join(
        wp1,
        (af.language == wp1.w_language) & (af.title == wp1.w_title),
        "left",
    ).select(
        af.language.alias("language"),
        af.title.alias("title"),
        "langcount",
        "othercount",
        "totalcount",
        wp1.w_lat.alias("lat"),
        wp1.w_lon.alias("lon"),
        wp1.w_item.alias("wd_page_title"),
        wp1.w_instance_of.alias("instance_of"),
    )
    mx = af2.filter(F.col("wd_page_title").isNotNull()).agg(
        F.max("totalcount").alias("max_total")
    )
    return af2.crossJoin(F.broadcast(mx)).withColumn(
        "importance",
        log10_ratio_floor(
            F.col("totalcount").cast("double"), F.col("max_total").cast("double")
        ),
    )


def redirect_full(v: dict[str, DataFrame]) -> DataFrame:
    """J2/U1: per-language redirect x page join (steps/wikipedia_process.sh:19-35)."""
    rd = v["redirect"]
    pg = v["page"].select(
        F.col("language").alias("pg_language"), "page_id", "page_title"
    )
    return rd.join(
        pg, (rd.language == pg.pg_language) & (rd.rd_from == pg.page_id)
    ).select(
        rd.language.alias("language"),
        pg.page_title.alias("from_title"),
        rd.rd_title.alias("to_title"),
    )


def wikimedia_importance(scored: DataFrame, v: dict[str, DataFrame]) -> DataFrame:
    """P7+J2+J10-J13+U2: steps/output.sh:26-81 — article rows as type 'a',
    redirect rows as type 'r' with importance propagated from the target
    article, anti-join dedup on (language, title)."""
    article = scored.filter(
        F.col("wd_page_title").isNotNull() & (F.col("importance") != 0.0)
    ).select("language", "title", "importance", "wd_page_title")

    rf = redirect_full(v)
    art2 = article.select(
        F.col("language").alias("a_language"),
        F.col("title").alias("a_title"),
        F.col("importance").alias("a_importance"),
        F.col("wd_page_title").alias("a_wikidata_id"),
    )
    from_redirects = rf.join(
        art2, (rf.language == art2.a_language) & (rf.to_title == art2.a_title),
    ).select(
        rf.language.alias("language"),
        F.lit("r").alias("type"),
        rf.from_title.alias("title"),
        art2.a_importance.alias("importance"),
        art2.a_wikidata_id.alias("wikidata_id"),
    )
    articles_out = article.select(
        "language",
        F.lit("a").alias("type"),
        "title",
        "importance",
        F.col("wd_page_title").alias("wikidata_id"),
    )
    red_out = from_redirects.join(
        articles_out.select("language", "title"), ["language", "title"], "left_anti"
    )
    return articles_out.unionByName(red_out)


# ------------------------------------------------------------------ the DAG
#
# The documents -> scored DAG, defined once: each node is built from the
# nodes before it, read as g[name]. How a node is made is the evaluation's
# choice, not the node's: the session (session_graph) builds the views,
# article_full and wikidata_places lazily over two checkpoints, spans_flat
# and scored; the staged pipeline (plans/pipeline.py) commits every node as
# a catalog stage, in this order, and reads the commits back.


@dataclass(frozen=True)
class Node:
    """One table of the DAG: ``build(g)`` makes it from the tables before
    it; ``stage`` names its pipeline commit."""

    name: str
    stage: str
    build: Callable[[Graph], DataFrame]
    partition_by: list[str] | None = None


class Graph(dict):
    """One evaluation of the DAG over a corpus and language set: node name
    -> DataFrame, each made by ``make(name)`` on first use, once even when
    concurrent pipeline stages ask together. A Graph is also the views
    mapping the builders above take (``v["page"]``)."""

    def __init__(self, spark: SparkSession, sf_dir: str, languages: list[str], make):
        super().__init__()
        self.spark, self.sf_dir, self.languages = spark, sf_dir, languages
        self._make = make
        self._lock = threading.RLock()

    def __missing__(self, name: str) -> DataFrame:
        with self._lock:
            if name not in self:
                self[name] = self._make(name)
            return dict.__getitem__(self, name)

    def build(self, name: str) -> DataFrame:
        """Node ``name`` built from this evaluation's tables."""
        return NODES[name].build(self)


def _spans(g: Graph) -> DataFrame:
    return ex.span_fields(g["spans_flat"])


def _article_full(g: Graph) -> DataFrame:
    plc = pagelink_counts(g)
    return article_full(plc, othercounts(g, plc))


def _wikidata_places(g: Graph) -> DataFrame:
    levels = ex.load_place_type_levels(g.spark, g.sf_dir)
    return wikidata_places(g, levels, geo_earth_wikidata(g))


def _scored(g: Graph) -> DataFrame:
    wp = wikidata_pages(g["wikidata_places"], g["sitelinks"], g.languages)
    return scored_articles(g["article_full"], wp)


NODES: dict[str, Node] = {n.name: n for n in [
    Node("spans_flat", "spans_flat",
         lambda g: ex.spans_flat(ex.load_documents(g.spark, g.sf_dir)), ["kind"]),
    Node("page", "view_page", lambda g: ex.page_view(_spans(g))),
    Node("linktarget", "view_linktarget", lambda g: ex.linktarget_view(_spans(g))),
    Node("redirect", "view_redirect", lambda g: ex.redirect_view(_spans(g))),
    Node("pagelink", "view_pagelink", lambda g: ex.pagelink_view(_spans(g))),
    Node("wd_page", "view_wd_page", lambda g: ex.wd_page_view(_spans(g))),
    Node("geo_tags", "view_geo_tags", lambda g: ex.geo_tags_view(_spans(g))),
    Node("places", "view_places", lambda g: ex.places_view(_spans(g))),
    Node("polygons", "view_polygons", lambda g: ex.polygons_view(_spans(g))),
    Node("langlinks", "view_langlinks",
         lambda g: ex.langlinks_view(_spans(g), g.languages)),
    Node("sitelinks", "view_sitelinks",
         lambda g: ex.sitelinks_view(_spans(g), g.languages)),
    Node("article_full", "article_full", _article_full),
    Node("wikidata_places", "wikidata_places", _wikidata_places),
    Node("scored", "scored", _scored),
]}
VIEWS = [n.name for n in NODES.values() if n.stage.startswith("view_")]


def session_graph(
    spark: SparkSession, sf_dir: str, languages: list[str] | None = None
) -> Graph:
    """The DAG for in-session use: spans_flat and scored are session
    checkpoints, every other node a lazy tree over them.

    spans_flat turns the views' repeated scan+explode of the nested payload
    into partition-pruned columnar scans. (persist() of the exploded table
    measured SLOWER, 88s vs 15s at sf0.1, because it materializes the wide
    array and defeats pushdown; the parquet checkpoint keeps both.) scored is
    checkpointed because wikimedia_importance is a DIAMOND DAG
    (articles_out, from_redirects and the anti-join all reference it) and
    Catalyst performs no cross-reference CSE, so the lazy tree evaluated the
    10-join scored subtree three times per run (plus twice more for the
    scalar-max aggregate), measured 3-5x the end-to-end importance wall time
    at sf0.1. Both are session_tables keyed by the corpus dir (and, for
    scored, the language set), so a fresh SparkContext, such as each timed
    perfbench pass, pays their writes inside its own run."""
    languages = languages or LANGUAGES
    corpus = os.path.abspath(spans_dir_for(sf_dir))
    keys = {"spans_flat": corpus, "scored": f"{corpus}:{','.join(languages)}"}

    def make(name: str) -> DataFrame:
        if name not in keys:
            return g.build(name)
        return session_table(
            spark, name, keys[name], lambda: g.build(name), NODES[name].partition_by
        )

    g = Graph(spark, sf_dir, languages, make)
    return g


def build_scored(
    spark: SparkSession, sf_dir: str, languages: list[str] | None = None
) -> tuple[DataFrame, Graph]:
    """(scored, views): the session DAG's scored checkpoint, and the DAG
    itself as the views mapping (``v["polygons"]``, ``v["wikidata_places"]``,
    ...) — the multi-consumer form every in-session run uses."""
    g = session_graph(spark, sf_dir, languages)
    return g["scored"], g


def geo_points(scored: DataFrame) -> DataFrame:
    """Geo-tagged scored articles — the point set for the spatial extension
    (north_star: 'entity points' joined to place polygons / kNN / tiles).
    The one definition of the projection: every point consumer, in-session
    or in the staged pipeline, builds its points here."""
    return scored.filter(
        F.col("wd_page_title").isNotNull() & F.col("lat").isNotNull()
    ).select(
        "language",
        "title",
        F.col("wd_page_title").alias("wikidata_id"),
        "lat",
        "lon",
        "importance",
    )


def point_places(points: DataFrame, polygons: DataFrame, salt: int = 1) -> DataFrame:
    """(language, title, wikidata_id, place_item): each geo_points row with
    every polygon that contains it (pip_join). The one definition of the PIP
    output, shared by the query and the pipeline's spatial stage (which
    passes the salt its manifest records)."""
    return pip_join(points, polygons.select("item", "verts"), salt=salt).select(
        "language", "title", "wikidata_id", F.col("item").alias("place_item")
    )


def geo_places(places: DataFrame) -> DataFrame:
    """Places with coordinates — the kNN target set. The one definition of
    the projection, shared by the in-session and staged spatial jobs."""
    return places.filter(F.col("lat").isNotNull()).select("item", "lat", "lon")


def entity_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """geo_points over the session's scored checkpoint."""
    sc, _ = build_scored(spark, sf_dir)
    return geo_points(sc)


def run_importance(
    spark: SparkSession, sf_dir: str, languages: list[str] | None = None
) -> DataFrame:
    """Full pipeline: documents -> wikimedia_importance rows (unordered)."""
    sc, v = build_scored(spark, sf_dir, languages)
    return wikimedia_importance(sc, v)


def sorted_output(wmi: DataFrame) -> DataFrame:
    """THE sink ordering (steps/output.sh:103-123): join top_languages,
    ORDER BY language-size DESC, type, title. One definition — the TSV sink
    and the flagship entry must never diverge on ordering/tie-breaks."""
    top = wmi.groupBy("language").agg(F.count(F.lit(1)).alias("size"))
    return (
        wmi.join(F.broadcast(top), "language")
        .orderBy(F.desc("size"), "type", "title")
        .select("language", "type", "title", "importance", "wikidata_id")
    )


def run_importance_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final sink shaping: run_importance + the shared sorted_output."""
    return sorted_output(run_importance(spark, sf_dir))
