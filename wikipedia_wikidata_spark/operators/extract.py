"""Extract relational views from the interleaved documents table.

Re-expresses the reference's seven ``bin/filter_*.py`` stream filters (P1-P8 in
SURVEY.md §2.2) as declarative DataFrame expressions over
``explode(spans)`` — Catalyst pushes the ``kind`` predicates and prunes
columns; nothing here is per-row Python. ``round5_col`` models the
reference's Python ``round(x, 5)`` half-even semantics
(bin/filter_wikidata_geo_tags.py:50-51) as a JVM expression.

Each extractor cites the reference filter it models.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import LANGUAGES, SEP
from ..sources.catalog import session_table


def round5_col(col: str) -> Column:
    """Half-even round to 5 decimals, the reference's Python round() in
    bin/filter_wikidata_geo_tags.py:50-51: rint(x*1e5)/1e5 is numpy.round's
    exact algorithm (same IEEE ops, half-even), and stays in whole-stage
    codegen — no Python exchange in the middle of the importance chain."""
    return F.expr(f"rint({col} * 100000.0) / 100000.0")


def load_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load (generating on first use) the interleaved corpus for an sf dir."""
    from ..sources.synth import ensure_spans_data

    d = ensure_spans_data(sf_dir)
    return spark.read.parquet(f"{d}/documents.parquet")


def load_place_type_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus's (place_type, level) table, generating it on first use."""
    from ..sources.synth import ensure_spans_data

    d = ensure_spans_data(sf_dir)
    return spark.read.parquet(f"{d}/place_type_levels.parquet")


def spans_flat(docs: DataFrame) -> DataFrame:
    """One row per span: (doc_id, language, kind, text, media_ref, offset, f).

    ``language`` is the doc_id namespace prefix (per-language table families of
    steps/wikipedia_import.sh:22-88 become one column); ``f`` is the
    \\x1f-split payload field array.
    """
    s = docs.select("doc_id", F.explode("spans").alias("s"))
    return s.select(
        "doc_id",
        F.split_part("doc_id", F.lit(":"), F.lit(1)).alias("language"),
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").alias("offset"),
        F.split("s.text", SEP, 3).alias("f"),
    )


# Session-scoped kind-partitioned materialization of spans_flat. Ten-plus
# views each re-scanning + exploding the full nested spans payload is the
# dominant cost of the lineage-only path (kind predicates cannot be pushed
# into a parquet array<struct>); writing the exploded table ONCE partitioned
# by kind turns every extractor into a partition-pruned columnar scan — the
# in-session analog of the staged pipeline's spans_flat checkpoint
# (plans/pipeline.py) and of the reference's "any work done here cuts down
# time/space in the database" pushdown (steps/wikipedia_sql2csv.sh:36-40).
# It is a session_table keyed by (applicationId, corpus dir), so a fresh
# SparkContext never reads an earlier context's checkpoint: perfbench opens
# one per timed pass, and each pass must pay the write inside its own timed
# region.
def shared_spans_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """spans_flat backed by a once-per-session kind-partitioned checkpoint."""
    from ..sources.synth import ensure_spans_data

    d = ensure_spans_data(sf_dir)

    def build() -> DataFrame:
        docs = spark.read.parquet(f"{d}/documents.parquet")
        return (
            spans_flat(docs)
            # the relational views consume only (language, kind, text):
            # prose spans (half the corpus bytes) and the doc_id/media_ref/
            # offset columns are never read by an extractor — text analysis
            # and multimodal ops run on their own tables. Writing just the
            # three live columns roughly halves checkpoint IO again.
            .filter(F.col("kind") != "prose")
            .select("language", "kind", "text")
            # cluster by (kind, small bucket) before the partitioned write:
            # otherwise every scan task writes a file per kind (~100s of
            # tiny files) and the serial commit dominates the checkpoint
            .repartition(
                24, F.col("kind"), F.pmod(F.xxhash64("text"), F.lit(8))
            )
        )

    sp = session_table(
        spark, "spans_flat", os.path.abspath(d), build, partition_by=["kind"]
    )
    return sp.withColumn("f", F.split("text", SEP, 3))


def _f(i: int):
    """1-based safe payload-field access: try_element_at + try_cast keep a
    malformed span (fewer fields / non-numeric text) as NULLs under Spark 4's
    ANSI mode instead of aborting the query — mirroring the DuckDB oracle's
    split_part + TRY_CAST semantics. (Verified: plain f[i]/cast() THROW under
    ansi=true; polygons_view always used the try_ forms for this reason.)"""
    return F.try_element_at("f", F.lit(i))


def _clean_title(col):
    # bin/filter_page.py:33 strips '\r'; empty titles dropped.
    return F.regexp_replace(col, "\r", "")


def page_view(sp: DataFrame) -> DataFrame:
    """P1: bin/filter_page.py:29-37 — namespace 0, non-empty \\r-stripped title."""
    v = sp.filter(F.col("kind") == "page").select(
        "language",
        _f(1).try_cast("int").alias("page_id"),
        _clean_title(_f(2)).alias("page_title"),
        _f(3).alias("ns"),
    )
    return v.filter((F.col("ns") == "0") & (F.length("page_title") > 0)).drop("ns")


def linktarget_view(sp: DataFrame) -> DataFrame:
    """P2: bin/filter_redirect.py reused for linktarget (same shape)."""
    v = sp.filter(F.col("kind") == "linktarget").select(
        "language",
        _f(1).try_cast("bigint").alias("lt_id"),
        _f(2).alias("ns"),
        _clean_title(_f(3)).alias("lt_title"),
    )
    return v.filter((F.col("ns") == "0") & (F.length("lt_title") > 0)).drop("ns")


def redirect_view(sp: DataFrame) -> DataFrame:
    """P2: bin/filter_redirect.py:28-36."""
    v = sp.filter(F.col("kind") == "redirect").select(
        "language",
        _f(1).try_cast("int").alias("rd_from"),
        _f(2).alias("ns"),
        _clean_title(_f(3)).alias("rd_title"),
    )
    return v.filter((F.col("ns") == "0") & (F.length("rd_title") > 0)).drop("ns")


def pagelink_view(sp: DataFrame) -> DataFrame:
    """Raw pagelinks rows (pre-join): bin/filter_pagelinks.py:32-36 ns filter."""
    v = sp.filter(F.col("kind") == "pagelink").select(
        "language",
        _f(1).try_cast("int").alias("pl_from"),
        _f(2).alias("ns"),
        _f(3).try_cast("bigint").alias("pl_target_id"),
    )
    return v.filter(F.col("ns") == "0").drop("ns")


def langlinks_view(sp: DataFrame, languages: list[str] | None = None) -> DataFrame:
    """P5: bin/filter_langlinks.py:26-40 — language semi-filter, ' '->'_',
    split-first-2-commas (F8) modeled by the limit-3 split in spans_flat."""
    languages = languages or LANGUAGES
    v = sp.filter(F.col("kind") == "langlink").select(
        "language",
        _f(1).try_cast("int").alias("ll_from"),
        _f(2).alias("ll_lang"),
        F.translate(F.regexp_replace(_f(3), "\r", ""), " ", "_").alias("ll_title"),
    )
    return v.filter(F.col("ll_lang").isin(languages))


def wd_page_view(sp: DataFrame) -> DataFrame:
    """P3: bin/filter_wikidata_page.py:33-41 — ns 0 and title starts with 'Q'."""
    v = sp.filter(F.col("kind") == "wikidata_page").select(
        _f(1).try_cast("bigint").alias("page_id"),
        _f(2).alias("ns"),
        _f(3).alias("page_title"),
    )
    return v.filter((F.col("ns") == "0") & F.col("page_title").startswith("Q")).drop("ns")


def geo_tags_view(sp: DataFrame) -> DataFrame:
    """P4+F5: bin/filter_wikidata_geo_tags.py:28-53 — earth, primary, not
    (0,0), in-bounds; round to 5 decimals (half-even, round5_col).

    Payload: gt_page_id\\x1fglobe\\x1fprimary\\x1flat\\x1flon.
    """
    f5 = F.split(F.col("text"), SEP, 5)
    v = sp.filter(F.col("kind") == "wikidata_coord").select(
        F.try_element_at(f5, F.lit(1)).try_cast("bigint").alias("gt_page_id"),
        F.try_element_at(f5, F.lit(2)).alias("globe"),
        F.try_element_at(f5, F.lit(3)).alias("gt_primary"),
        F.try_element_at(f5, F.lit(4)).try_cast("double").alias("lat"),
        F.try_element_at(f5, F.lit(5)).try_cast("double").alias("lon"),
    )
    v = v.filter(
        (F.col("globe") == "earth")
        & (F.col("gt_primary") == "1")
        & ~((F.col("lat") == 0.0) & (F.col("lon") == 0.0))
        & (F.col("lat") >= -90.0) & (F.col("lat") <= 90.0)
        & (F.col("lon") >= -180.0) & (F.col("lon") <= 180.0)
    )
    return v.select(
        "gt_page_id",
        round5_col("lat").alias("gt_lat"),
        round5_col("lon").alias("gt_lon"),
    )


def sitelinks_view(sp: DataFrame, languages: list[str] | None = None) -> DataFrame:
    """P6+F3: bin/filter_wikidata_wb_items_per_site.py:36-44 — strips ALL
    'wiki' substrings from site id (reference quirk), language semi-filter."""
    languages = languages or LANGUAGES
    v = sp.filter(F.col("kind") == "sitelink").select(
        _f(1).try_cast("int").alias("ips_item_id"),
        _f(2).alias("ips_site_id"),
        _clean_title(_f(3)).alias("ips_site_page"),
    )
    return v.filter(
        (F.length("ips_site_page") > 0)
        & F.regexp_replace("ips_site_id", "wiki", "").isin(languages)
    )


def places_view(sp: DataFrame) -> DataFrame:
    """P8: steps/wikidata_api_fetch_placetypes.sh:131-134 — Q-rows, dedup."""
    v = sp.filter(F.col("kind") == "place").select(
        _f(1).alias("item"),
        _f(2).alias("instance_of"),
    )
    return v.filter(F.col("item").startswith("Q")).dropDuplicates()


def polygons_view(sp: DataFrame) -> DataFrame:
    """Target-extension polygons: place_item \\x1f n \\x1f 'lat:lon,lat:lon,...'."""
    # try_element_at / try_cast, not [] / cast: predicates derived from
    # vertex values (e.g. the PIP bbox) are pushable and Catalyst may
    # evaluate them before the kind filter, where other kinds' payloads
    # (fewer fields, non-numeric tokens) would make ANSI access/cast throw.
    v = sp.filter(F.col("kind") == "place_polygon").select(
        F.try_element_at("f", F.lit(1)).alias("item"),
        F.try_element_at("f", F.lit(2)).try_cast("int").alias("n_vertices"),
        F.try_element_at("f", F.lit(3)).alias("verts_str"),
    )
    vert = F.transform(
        F.split("verts_str", ","),
        lambda p: F.struct(
            F.split_part(p, F.lit(":"), F.lit(1)).try_cast("double").alias("lat"),
            F.split_part(p, F.lit(":"), F.lit(2)).try_cast("double").alias("lon"),
        ),
    )
    return v.select("item", "n_vertices", vert.alias("verts"))


def extract_views(
    docs: DataFrame, languages: list[str] | None = None
) -> dict[str, DataFrame]:
    """All relational views over one lazy span explode (for a shared
    scan+explode use extract_views_shared or plans/pipeline.py)."""
    return views_from_flat(spans_flat(docs), languages)


def extract_views_shared(
    spark: SparkSession, sf_dir: str, languages: list[str] | None = None
) -> dict[str, DataFrame]:
    """All relational views over the session-shared spans_flat checkpoint —
    one corpus scan+explode per session instead of one per view subtree."""
    return views_from_flat(shared_spans_flat(spark, sf_dir), languages)


def views_from_flat(
    sp: DataFrame, languages: list[str] | None = None
) -> dict[str, DataFrame]:
    return {
        "page": page_view(sp),
        "linktarget": linktarget_view(sp),
        "redirect": redirect_view(sp),
        "pagelink": pagelink_view(sp),
        "langlinks": langlinks_view(sp, languages),
        "wd_page": wd_page_view(sp),
        "geo_tags": geo_tags_view(sp),
        "sitelinks": sitelinks_view(sp, languages),
        "places": places_view(sp),
        "polygons": polygons_view(sp),
    }


def reassemble_spans(docs: DataFrame) -> DataFrame:
    """Span-sequence invariant (input_hint): explode then re-aggregate; the
    result must equal the input per doc (order by offset)."""
    s = docs.select("doc_id", F.explode("spans").alias("s"))
    return s.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(
                F.struct("s.offset", "s.kind", "s.text", "s.media_ref")
            )
        ).alias("ordered")
    ).select(
        "doc_id",
        F.transform(
            "ordered",
            lambda x: F.struct(
                x["kind"].alias("kind"),
                x["text"].alias("text"),
                x["media_ref"].alias("media_ref"),
                x["offset"].alias("offset"),
            ),
        ).alias("spans"),
    )
