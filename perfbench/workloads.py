"""The two workloads. Each reaches the engine only through the package's
public functions and returns a run record: timed passes, operation counts,
CPU, steal and, when traced, spans with Spark status-store sums.

batch_sf0.1     the whole import at sf0.1 with digest sinks, one pass at a
                time, each in a fresh SparkContext of the same JVM.
pipeline_sf0.01 the committed, resumable plans.pipeline run: resume, in
                the run's fresh JVM, after a kill that lost every stage
                after `scored`; then a seeded mix of tile_viewport reads
                over the catalog's tiles table.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time

from . import prepare
from .probes import (
    Spans, arrow_rows, canonical_digest, collect_digest, digest_frame,
    host_ticks, job_windows, join_probe_rows, loadavg_1m, percentile, plan_metric,
    stage_sums, steal_pct, tail_percentile, tree_cpu_s,
)

# Output projections the DuckDB oracles (prepare.ORACLE_OF) also produce:
# floats quantized the way oracle.py and queries.py quantize them, columns
# in oracle order.


def _e6(col: str, alias: str):
    from pyspark.sql import functions as F

    return F.floor(F.col(col) * 1000000.0 + 0.5).cast("bigint").alias(alias)


def project_importance(df):
    return df.select("language", "type", "title", _e6("importance", "importance_e6"),
                     "wikidata_id")


def project_pip(df):
    from pyspark.sql import functions as F

    return df.select("language", "title", "wikidata_id",
                     F.col("item").alias("place_item"))


def project_knn(df):
    from pyspark.sql import functions as F

    return df.select(
        "language", "title", "nearest_item",
        F.floor(F.col("dist2") * 1000000000.0 + 0.5).cast("bigint").alias("dist2_e9"),
    )


def project_tiles(df):
    return df.select("zoom", "tile_x", "tile_y", "n_entities",
                     _e6("importance_sum", "importance_sum_e6"))


class Ops:
    """Operations attempted and failed; an operation fails when its output
    disagrees with its reference. An operation that raises is not counted:
    it aborts the run, which then prints no result and exits non-zero."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)
        return ok


def check_oracle(ops: Ops, name: str, table, ref: dict) -> None:
    n, dig = canonical_digest(arrow_rows(table))
    ops.check(n == ref["n"] and dig == ref["digest"],
              f"{name}: {n} rows vs oracle {ref['n']}")


# ================================================================== batch


class BatchPass:
    """One pass of the north-star job: extract -> scored + importance ->
    cell encode -> PIP -> kNN -> tiles, every output consumed by a digest
    sink. Spans (when traced) wrap each public call."""

    def __init__(self, spark, sf_dir: str, spans: Spans):
        self.spark, self.sf_dir, self.spans = spark, sf_dir, spans
        self.digests: dict[str, tuple] = {}
        self.tables: dict[str, object] = {}
        self.counts: dict[str, int] = {}

    def _sink(self, name: str, df, keep: bool):
        """Digest ``df``; returns the executed digest query (its plan holds
        the SQL metrics of the work)."""
        if keep:  # reference pass: also bring the rows back for the oracle
            df = df.persist()
        agg = digest_frame(df)
        self.digests[name] = collect_digest(agg)
        if keep:
            self.tables[name] = df.toArrow()
            df.unpersist()
        return agg

    def run(self, keep: bool = False) -> None:
        from pyspark.sql import functions as F

        from wikipedia_wikidata_spark.functions.cells import (
            make_cell_udf, make_morton_udf,
        )
        from wikipedia_wikidata_spark.operators.extract import extract_views_shared
        from wikipedia_wikidata_spark.operators.spatial import (
            knn_nearest, knn_release, pip_join,
        )
        from wikipedia_wikidata_spark.operators.tiles import tile_importance
        from wikipedia_wikidata_spark.plans.importance import (
            build_scored, wikimedia_importance,
        )

        spark, sp = self.spark, self.spans
        with sp.span("extract", spark):
            extract_views_shared(spark, self.sf_dir)
        with sp.span("importance", spark):
            scored, v = build_scored(spark, self.sf_dir)
            self._sink("importance", project_importance(
                wikimedia_importance(scored, v)), keep)
        with sp.span("cells", spark):
            ep = scored.filter(
                F.col("wd_page_title").isNotNull() & F.col("lat").isNotNull()
            ).select(
                "language", "title", F.col("wd_page_title").alias("wikidata_id"),
                "lat", "lon", "importance",
            )
            ep = ep.withColumn("cell_r7", make_cell_udf(7)(F.col("lat"), F.col("lon")))
            ep = ep.withColumn("s2", make_morton_udf()(F.col("lat"), F.col("lon")))
            ep.persist()
            self._sink("cells", ep.select("language", "title", "cell_r7", "s2"), False)
        with sp.span("pip", spark) as rec:
            pairs = project_pip(pip_join(ep, v["polygons"].select("item", "verts"), res=5))
            agg = self._sink("pip", pairs, keep)
            if rec is not None:
                rec["probe_rows"] = join_probe_rows(agg)
        with sp.span("knn", spark):
            places = v["wikidata_places"].filter(F.col("lat").isNotNull()).select(
                "item", "lat", "lon")
            places.persist()
            knn = knn_nearest(ep, places)
            self._sink("knn", project_knn(knn), keep)
            knn_release(knn)
            places.unpersist()
        with sp.span("tiles", spark):
            self._sink("tiles", project_tiles(tile_importance(ep)), keep)
        ep.unpersist()
        self.counts = {k: d[0] for k, d in self.digests.items()}


def _fresh_session(master: str, aqe: bool):
    from wikipedia_wikidata_spark.session import get_spark

    return get_spark("perfbench", master=master, aqe=aqe)


def run_batch(ctx) -> dict:
    sf_dir = prepare.corpus_dir(ctx.work, 0.1)
    n_docs = prepare.corpus_docs(sf_dir)
    spans = Spans(ctx.trace)
    ops = Ops()

    t = time.time()
    spark = _fresh_session(ctx.master, aqe=False)
    start_s = time.time() - t

    # untimed full-size warm-up pass; it also yields the reference digests
    # and the rows the oracles check
    t = time.time()
    ref = BatchPass(spark, sf_dir, Spans(False))
    ref.run(keep=True)
    warmup_s = time.time() - t
    setup_end = time.time()

    oracles = prepare.oracle_refs(ctx.work, sf_dir)
    for name, oname in prepare.ORACLE_OF.items():
        check_oracle(ops, oname, ref.tables[name], oracles[oname])
    check_s = time.time() - setup_end

    passes, cpu_s = [], 0.0
    h0, t_timed0 = host_ticks(), time.time()
    while True:
        # each pass starts with no session checkpoint left from the last
        spark.stop()
        t = time.time()
        spark = _fresh_session(ctx.master, aqe=False)
        restart_s = time.time() - t
        spans.pass_id = len(passes)
        c0 = tree_cpu_s(ctx.pid)
        with spans.span("pass"):
            t0 = time.time()
            p = BatchPass(spark, sf_dir, spans)
            p.run()
            wall = time.time() - t0
        cpu_s += tree_cpu_s(ctx.pid) - c0
        for name, d in p.digests.items():
            ops.check(d == ref.digests[name], f"pass {spans.pass_id}: {name} digest")
        rec = {"wall_s": wall, "restart_s": restart_s, "counts": p.counts}
        if ctx.trace:
            rec["layers"] = _layer_sums(spark, spans, spans.pass_id)
            for layer, n in p.counts.items():
                rec["layers"][layer]["rows_out"] = n
        passes.append(rec)
        if time.time() - t_timed0 >= ctx.seconds:
            break
    h1 = host_ticks()
    spark.stop()
    ctx.stop_gateway()

    walls = [p["wall_s"] for p in passes]
    return {
        "workload": "batch_sf0.1", "n_docs": n_docs, "passes": passes,
        "docs_per_s": n_docs / statistics.median(walls),
        "cpu_s_per_kdoc": cpu_s / (len(passes) * n_docs / 1000.0),
        "start_s": start_s, "warmup_s": warmup_s, "check_s": check_s,
        "setup_end": setup_end,
        "steal_pct": steal_pct(h0, h1), "loadavg": loadavg_1m(),
        "ops": ops, "spans": spans,
    }


def _merge_spark(d: dict, sums: dict) -> None:
    for k, val in sums.items():
        d[k] = max(d.get(k, 1.0), val) if k == "task_skew" else d.get(k, 0) + val


def _layer_sums(spark, spans: Spans, pass_id: int) -> dict:
    """Per-layer self time and status-store sums for one pass; read before
    the pass's SparkContext goes away. A span marked ``split_jobs`` has its
    jobs attributed to its child spans by submission time instead."""
    selfs = spans.self_times(pass_id)
    mine = [s for s in spans.spans if s["pass"] == pass_id]
    out: dict[str, dict] = {"trace": {"coverage": spans.leaf_coverage(pass_id)}}
    for s in mine:
        d = out.setdefault(s["layer"], {"wall_s": 0.0})
        d["wall_s"] += selfs[s["id"]]
        for k in ("probe_rows", "rows_out"):
            if k in s:
                d[k] = d.get(k, 0) + s[k]
        if not s.get("group"):
            continue
        ids = spark.sparkContext.statusTracker().getJobIdsForGroup(s["group"])
        if not s.get("split_jobs"):
            s["spark"] = stage_sums(spark, ids)
            _merge_spark(d, s["spark"])
            continue
        kids = [c for c in mine if c["parent"] == s["id"]]
        by_kid: dict[int, list[int]] = {}
        for jid, sub in job_windows(spark, ids):
            owner = next((c["id"] for c in kids if c["start"] <= sub <= c["end"]),
                         s["id"])
            by_kid.setdefault(owner, []).append(jid)
        for owner, jids in by_kid.items():
            rec = spans.spans[owner]
            rec["spark"] = stage_sums(spark, jids)
            _merge_spark(out.setdefault(rec["layer"], {"wall_s": 0.0}), rec["spark"])
    return out


# =============================================================== pipeline

# stages a kill after `scored` loses (tests/test_pipeline_and_streaming.py
# simulates the same kill) and the layer each one's work belongs to
RESUMED = {
    "importance": "importance", "entity_points": "importance",
    "spatial_assign": "pip", "knn": "knn", "tiles": "tiles",
}


def viewport_mix(seed: int, oracle_tiles: list[tuple], n: int) -> list[dict]:
    """Seeded tile_viewport queries: the zooms in turn, each query the shape
    of tiles.DEFAULT_VIEWPORT (a screen of +-4 tiles) centred on a tile the
    oracle shows occupied at that zoom, chosen uniformly."""
    from wikipedia_wikidata_spark.config import TILE_ZOOMS
    from wikipedia_wikidata_spark.operators.tiles import DEFAULT_VIEWPORT as vp

    hx = (vp["x_max"] - vp["x_min"]) // 2
    hy = (vp["y_max"] - vp["y_min"]) // 2
    rng = random.Random(seed)
    by_zoom: dict[int, list[tuple]] = {}
    for r in oracle_tiles:
        by_zoom.setdefault(r[0], []).append(r)
    zooms = [z for z in TILE_ZOOMS if z in by_zoom]
    out = []
    for i in range(n):
        z = zooms[i % len(zooms)]
        _, cx, cy = rng.choice(by_zoom[z])[:3]
        out.append({"zoom": z, "x_min": cx - hx, "x_max": cx + hx,
                    "y_min": cy - hy, "y_max": cy + hy})
    return out


def _expected_viewport(oracle_tiles, q) -> list[tuple]:
    return sorted(
        r for r in oracle_tiles
        if r[0] == q["zoom"] and q["x_min"] <= r[1] <= q["x_max"]
        and q["y_min"] <= r[2] <= q["y_max"]
    )


def _catalog_bytes(root: str) -> tuple[int, int]:
    n_bytes = n_files = 0
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            n_bytes += os.path.getsize(os.path.join(dirpath, f))
            n_files += 1
    return n_bytes, n_files


def _pipeline_tables(spark, cat) -> dict:
    return {
        "importance": project_importance(cat.read(spark, "importance")),
        "pip": cat.read(spark, "spatial_assign").select(
            "language", "title", "wikidata_id", "place_item"),
        "knn": project_knn(cat.read(spark, "knn")),
        "tiles": project_tiles(cat.read(spark, "tiles")),
    }


def run_pipeline_workload(ctx) -> dict:
    """Resume after a kill, then serve viewports. The resume is timed in the
    run's fresh JVM, as a resumed spark-submit after a kill runs; a warm-up
    resume would not fit the run budget. The reads that follow fill
    --seconds."""
    from wikipedia_wikidata_spark.operators.tiles import tile_viewport
    from wikipedia_wikidata_spark.plans.pipeline import run_pipeline
    from wikipedia_wikidata_spark.sources.catalog import Catalog

    sf_dir = prepare.corpus_dir(ctx.work, prepare.PIPELINE_SF)
    n_docs = prepare.corpus_docs(sf_dir)
    doc_bytes = os.path.getsize(os.path.join(sf_dir, "documents.parquet"))
    spans = Spans(ctx.trace)
    ops = Ops()
    oracles = prepare.oracle_refs(ctx.work, sf_dir)
    oracle_tiles = [tuple(r) for r in oracles["tile_importance"]["rows"]]
    mix = viewport_mix(ctx.seed, oracle_tiles, 1000)

    root = os.path.join(ctx.work, "runs", "catalog")
    shutil.rmtree(root, ignore_errors=True)
    shutil.copytree(prepare.ref_catalog(ctx.work), root)
    cat = Catalog(root)

    for st in RESUMED:  # the kill: every stage after `scored` is lost
        cat.drop(st)

    t = time.time()
    spark = _fresh_session(ctx.master, aqe=True)
    start_s = time.time() - t
    setup_end = time.time()

    spans.pass_id = 0
    h0, c0 = host_ticks(), tree_cpu_s(ctx.pid)
    with spans.span("pass"):
        with spans.span("pipeline", spark) as prec:
            t0 = time.time()
            report = run_pipeline(spark, sf_dir, root)
            wall = time.time() - t0
    cpu_s = tree_cpu_s(ctx.pid) - c0
    t_check = time.time()
    rebuilt = sorted(k for k, m in report.items() if not m["skipped"])
    ops.check(rebuilt == sorted(RESUMED), f"resume rebuilt {rebuilt}")
    for name, df in _pipeline_tables(spark, cat).items():
        oname = prepare.ORACLE_OF[name]
        check_oracle(ops, oname, df.toArrow(), oracles[oname])
    written = [_catalog_bytes(cat.path(k)) for k in rebuilt]
    stage_s = sum(report[k]["wall_ms"] for k in rebuilt) / 1e3
    rec = {"wall_s": wall, "stages": {
        k: {"wall_ms": m.get("wall_ms"), "rows": m.get("rows"),
            "skipped": m["skipped"]} for k, m in report.items()}}
    catalog = {
        "stage_s": stage_s, "between_stage_s": wall - stage_s,
        "bytes_written": sum(b for b, _ in written),
        "files_written": sum(f for _, f in written),
        "stages_skipped": len(report) - len(rebuilt),
        "stages_rebuilt": len(rebuilt),
    }
    if prec is not None:
        prec["split_jobs"] = True
        _stage_spans(spans, cat, report, prec)
        rec["layers"] = _layer_sums(spark, spans, 0)
    check_s = time.time() - t_check
    disk_ratio = _catalog_bytes(root)[0] / doc_bytes

    # serving reads from one closed-loop client for --seconds
    spans.pass_id = None
    lat_ms, files_read = [], []
    t_reads0 = time.time()
    with spans.span("viewport"):
        while not lat_ms or time.time() - t_reads0 < ctx.seconds:
            q = mix[len(lat_ms) % len(mix)]
            t0 = time.time()
            res = tile_viewport(cat.read(spark, "tiles"), **q)
            rows = res.collect()
            lat_ms.append((time.time() - t0) * 1e3)
            files_read.append(plan_metric(res, lambda n: "FileSourceScan" in n, "numFiles"))
            got = sorted(
                (r.zoom, r.tile_x, r.tile_y, r.n_entities,
                 int((r.importance_sum * 1000000.0 + 0.5) // 1))
                for r in rows)
            ops.check(got == _expected_viewport(oracle_tiles, q), f"viewport {q}")
    h1 = host_ticks()
    spark.stop()
    ctx.stop_gateway()

    tail_p = tail_percentile(len(lat_ms))
    return {
        "workload": "pipeline_sf0.01", "n_docs": n_docs, "passes": [rec],
        "docs_per_s": n_docs / wall,
        "cpu_s_per_kdoc": cpu_s / (n_docs / 1000.0),
        "resume_s": wall,
        "viewport_ms": lat_ms,
        "viewport_p50_ms": percentile(lat_ms, 50.0),
        "viewport_tail_ms": percentile(lat_ms, tail_p) if tail_p else max(lat_ms),
        "viewport_tail_pct": tail_p,
        "viewport_files_read": sum(files_read) / len(files_read),
        "disk_bytes_per_input_byte": disk_ratio, "catalog": catalog,
        "start_s": start_s, "warmup_s": 0.0, "check_s": check_s,
        "setup_end": setup_end,
        "steal_pct": steal_pct(h0, h1), "loadavg": loadavg_1m(),
        "ops": ops, "spans": spans,
    }


def _stage_spans(spans: Spans, cat, report: dict, parent: dict) -> None:
    """Child spans of the run_pipeline call, one per rebuilt stage, from its
    manifest: it ends when _manifest.json was written and lasts wall_ms."""
    for name, m in report.items():
        if m["skipped"]:
            continue
        end = os.path.getmtime(os.path.join(cat.path(name), "_manifest.json"))
        spans.add(RESUMED.get(name, "catalog"), end - m["wall_ms"] / 1e3, end,
                  parent["id"], stage=name, rows_out=m.get("rows") or 0)
