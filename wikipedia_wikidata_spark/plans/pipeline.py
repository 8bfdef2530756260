"""Staged, checkpoint/resume pipeline runner (north_rule).

The DAG mirrors the reference's stage boundaries (complete_run.sh:29-45) but
each boundary is an atomic catalog commit instead of a bash-script disk file;
a killed run resumes by skipping every stage whose manifest fingerprint
matches (the reference can only skip downloads, steps/wikipedia_download.sh:22-25
— everything else recomputes).

Stage DAG (``a | b`` = a and b run concurrently, on their own threads):

  spans_flat -> relational views -> article_full -> wikidata_places -> scored
  -> ( importance
     | entity_points -> ( spatial_assign (PIP) | knn | tiles ) )

Past ``scored`` the stages depend on each other only through committed
snapshots, so independent ones run side by side: Spark runs jobs submitted
from separate threads at the same time, and a resume's cold-JVM driver work
(analysis, planning, codegen) overlaps instead of queueing. Every stage still
commits on its own; a failed branch acts like a kill (its siblings commit,
and the next run rebuilds only what is missing).

The two plan decisions the spatial stages take from measured data, the PIP
salt and the kNN ladder, commit with the snapshots they are functions of:
``scored`` records the salt and ``wikidata_places`` the ladder, each derived
from the files just written (``Catalog.write(derive=...)``). Their consumers
read the decision from the manifest, so a resume after a kill past those
snapshots derives nothing. A run opens a committed table only when a stage
it rebuilds reads it.

spans_flat is written partitioned by span kind: every downstream extractor
then prunes to its kind's partition at the parquet-scan level (the reference's
"any work done here cuts down time/space" pushdown, steps/wikipedia_sql2csv.sh:36-40,
done once instead of per filter program).
"""

from __future__ import annotations

import threading
import time
import uuid
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from ..config import LANGUAGES, spans_dir_for
from ..operators import extract as ex
from ..operators.spatial import (
    knn_nearest, pip_join, suggest_knn_ladder, suggest_pip_salt,
)
from ..operators.tiles import tile_importance
from ..sources.catalog import Catalog
from . import importance as imp

# v8: the PIP salt and kNN ladder commit with scored / wikidata_places
PIPELINE_VERSION = 8

# Shard sizing for the shard-granular resumable spatial stage: resume
# granularity vs K× replay of the (small) polygon build side. Derived from
# the committed entity_points row count (deterministic per fingerprint, so
# a resume re-derives the identical shard split): one shard per
# SPATIAL_SHARD_ROWS points, so a kill loses at most that many points of
# work, and at least one shard (empty input); capped at 256 (the
# docstring's 10^12-doc figure — beyond that, shard count stops paying
# because each shard is already thousands of tasks).
SPATIAL_SHARDS_MAX = 256
SPATIAL_SHARD_ROWS = 1_000_000


def spatial_shards_for(n_points: int) -> int:
    return max(1, min(SPATIAL_SHARDS_MAX, -(-n_points // SPATIAL_SHARD_ROWS)))


def _pip_salt_of(scored: DataFrame) -> dict:
    """Manifest extras of the ``scored`` commit: the PIP salt from the
    MEASURED per-cell histogram of its points (suggest_pip_salt) — the
    pipeline consumes its own skew diagnostics instead of a hand guess."""
    t0 = time.time()
    salt, sk = suggest_pip_salt(imp.geo_points(scored))
    return {
        "pip_salt": salt,
        "pip_cell_skew": {
            k: sk[k] for k in ("n_keys", "max_count", "p99", "skew_ratio")
        } | {"derive_ms": int((time.time() - t0) * 1000)},
    }


def _knn_ladder_of(places: DataFrame) -> dict:
    """Manifest extras of the ``wikidata_places`` commit: the kNN ladder
    from the MEASURED places-per-cell histogram (suggest_knn_ladder, round-4
    verdict item 5). Any ladder returns identical results (per-level guards
    prove exactness); this tunes cost."""
    t0 = time.time()
    _, stats = suggest_knn_ladder(imp.geo_places(places))
    return {"knn_ladder": stats | {"derive_ms": int((time.time() - t0) * 1000)}}


class _Tables(dict):
    """name -> DataFrame, each opened by ``open_table`` on first use, once
    even when concurrent stages ask together."""

    def __init__(self, open_table):
        super().__init__()
        self._open = open_table
        self._lock = threading.Lock()

    def __missing__(self, name: str) -> DataFrame:
        with self._lock:
            if name not in self:
                self[name] = self._open(name)
            return dict.__getitem__(self, name)


def _fan_out(spark: SparkSession, *branches) -> None:
    """Run ``branches`` concurrently, one thread each, under the caller's
    job group and local properties; wait for all of them, then re-raise the
    first failure in branch order."""
    # one wrap per branch: a wrap clones the caller's local properties once,
    # and threads sharing a clone would overwrite each other's SQL
    # execution id in it
    with ThreadPoolExecutor(max_workers=len(branches)) as pool:
        futures = [
            pool.submit(inheritable_thread_target(spark)(b)) for b in branches
        ]
    for f in futures:
        f.result()


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    out_root: str,
    languages: list[str] | None = None,
) -> dict:
    """Run (or resume) the full pipeline; returns {stage: manifest}."""
    languages = languages or LANGUAGES
    cat = Catalog(out_root)
    run_id = uuid.uuid4().hex[:12]
    # fingerprint covers EVERYTHING that changes stage outputs: pipeline
    # logic version, corpus generator version, corpus location, and the
    # language configuration — otherwise a resume against the same out_root
    # silently serves stages built under a different configuration
    from ..sources.synth import GENERATOR_VERSION

    fp = (
        f"v{PIPELINE_VERSION}:g{GENERATOR_VERSION}:{spans_dir_for(sf_dir)}"
        f":{','.join(languages)}"
    )
    report: dict[str, dict] = {}

    def ensure(name: str, commit) -> None:
        report[name] = cat.ensure(name, fp, commit)

    def stage(name: str, build, partition_by=None, cluster_by=None,
              extra=None, derive=None):
        ensure(name, lambda: cat.write(
            spark, build(), name, fp, run_id, partition_by,
            extra=extra, cluster_by=cluster_by, derive=derive,
        ))

    # the corpus, the place-type levels and every committed table are read
    # only by the stages built from them, so a resume past them submits no
    # read job and opens no table it does not rebuild from
    t = _Tables(lambda name: cat.read(spark, name))
    v = _Tables(lambda name: t[f"view_{name}"])
    stage("spans_flat", lambda: ex.spans_flat(
        ex.load_documents(spark, sf_dir)).drop("f"), ["kind"])

    def sp() -> DataFrame:
        return t["spans_flat"].withColumn("f", F.split("text", "\x1f", 3))

    view_builders = {
        "page": ex.page_view, "linktarget": ex.linktarget_view,
        "redirect": ex.redirect_view, "pagelink": ex.pagelink_view,
        "wd_page": ex.wd_page_view, "geo_tags": ex.geo_tags_view,
        "places": ex.places_view, "polygons": ex.polygons_view,
    }
    for name, fn in view_builders.items():
        stage(f"view_{name}", lambda fn=fn: fn(sp()))
    stage("view_langlinks", lambda: ex.langlinks_view(sp(), languages))
    stage("view_sitelinks", lambda: ex.sitelinks_view(sp(), languages))

    def build_af():
        plc = imp.pagelink_counts(v)
        return imp.article_full(plc, imp.othercounts(v, plc))

    stage("article_full", build_af)

    # wikidata_places commits FIRST and 'scored' reads the snapshot: on a
    # cold run the places subtree used to be evaluated twice (once inside
    # scored, once for its own stage), and resume could pair a 'scored'
    # built from a different places computation than the committed one
    def build_places():
        levels = ex.load_place_type_levels(spark, sf_dir)
        return imp.wikidata_places(v, levels, imp.geo_earth_wikidata(v))

    stage("wikidata_places", build_places, derive=_knn_ladder_of)

    def build_scored():
        wp = imp.wikidata_pages(t["wikidata_places"], v["sitelinks"], languages)
        return imp.scored_articles(t["article_full"], wp)

    stage("scored", build_scored, derive=_pip_salt_of)

    # shard-granular resumable stage (north_star: a killed job resumes
    # without recomputing completed cells): points are split by a stable
    # hash, each shard's PIP assignment commits atomically on its own, and
    # a resume rebuilds only the missing shards (catalog.write_sharded).
    # Shard count derives from the committed point count; the PIP salt was
    # derived when 'scored' committed, and the manifest names that snapshot
    # (the kNN ladder likewise, from 'wikidata_places').
    def build_spatial() -> dict:
        pts = t["entity_points"]
        n_shards = spatial_shards_for(report["entity_points"]["rows"])
        src = report["scored"]
        salt = src["pip_salt"]

        def spatial_shard(k: int) -> DataFrame:
            sub = pts.filter(
                F.pmod(F.xxhash64("wikidata_id"), F.lit(n_shards)) == k
            )
            return pip_join(
                sub, v["polygons"].select("item", "verts"), salt=salt
            ).select(
                "language", "title", "wikidata_id", F.col("item").alias("place_item")
            )

        return cat.write_sharded(
            spark, spatial_shard, "spatial_assign", fp, run_id, n_shards,
            extra={
                "pip_salt": salt,
                "pip_cell_skew": src["pip_cell_skew"],
                "derived_from": {"table": "scored", "version": src["version"]},
            },
        )

    def knn() -> None:
        src = report["wikidata_places"]
        stage(
            "knn",
            lambda: knn_nearest(
                t["entity_points"], imp.geo_places(t["wikidata_places"]),
                levels=src["knn_ladder"]["ladder"],
            ),
            extra={
                "knn_ladder": src["knn_ladder"],
                "derived_from": {
                    "table": "wikidata_places", "version": src["version"]},
            },
        )

    def spatial() -> None:
        stage("entity_points", lambda: imp.geo_points(t["scored"]))
        # zoom dirs for partition pruning + tile range clustering inside each
        # dir: a viewport query (tile range at one zoom) prunes to one
        # partition dir AND skips files whose footer tile range misses the
        # viewport (catalog cluster_by = the Iceberg SORTED BY analog). zoom
        # LEADS the range keys so each shuffle task holds a zoom-contiguous
        # slice — partitionBy(zoom) then emits ~one file per task instead of
        # tasks x zooms small files.
        _fan_out(
            spark,
            lambda: ensure("spatial_assign", build_spatial),
            knn,
            lambda: stage(
                "tiles", lambda: tile_importance(t["entity_points"]), ["zoom"],
                cluster_by=["zoom", "tile_x", "tile_y"],
            ),
        )

    _fan_out(
        spark,
        lambda: stage(
            "importance", lambda: imp.wikimedia_importance(t["scored"], v),
            ["language"],
        ),
        spatial,
    )
    # branches finish in any order; the report keeps the stage order
    for name in ("importance", "entity_points", "spatial_assign", "knn", "tiles"):
        report[name] = report.pop(name)
    return report
