"""Checkpoint/resume (north_rule) + multimodal stub + streaming==batch."""

import shutil

import pytest
from pyspark.sql import functions as F

import wikipedia_wikidata_spark.plans.pipeline as pipeline
from wikipedia_wikidata_spark.plans.pipeline import run_pipeline
from wikipedia_wikidata_spark.sources.catalog import Catalog

from .conftest import SF_DIR_SMALL, spark_jobs

# every stage a kill after 'scored' loses, in report order
AFTER_SCORED = ["importance", "entity_points", "spatial_assign", "knn", "tiles"]


def test_catalog_time_travel(spark, tmp_path_factory):
    """Snapshot versioning: earlier committed versions stay readable
    (Iceberg VERSION AS OF analog)."""
    out = str(tmp_path_factory.mktemp("tt"))
    cat = Catalog(out)
    cat.write(spark, spark.range(5).withColumnRenamed("id", "x"), "t", "fp1", "r1")
    cat.write(spark, spark.range(9).withColumnRenamed("id", "x"), "t", "fp2", "r2")
    assert cat.current_version("t") == 2
    assert cat.read(spark, "t").count() == 9
    assert cat.read(spark, "t", version=1).count() == 5
    assert [s["version"] for s in cat.snapshots("t")] == [1, 2]
    assert cat.is_complete("t", "fp2") and not cat.is_complete("t", "fp1")


def test_pipeline_resume(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("pipe"))
    r1 = run_pipeline(spark, SF_DIR_SMALL, out)
    assert all(not m["skipped"] for m in r1.values())
    assert r1["importance"]["rows"] > 0
    # per-partition lineage present
    assert r1["importance"]["n_partitions"] >= 1
    assert sum(p["rows"] for p in r1["importance"]["partitions"]) == r1["importance"]["rows"]
    # the spatial stage consulted its own skew diagnostics and recorded them
    sa = r1["spatial_assign"]
    assert sa["pip_salt"] >= 1 and sa["pip_cell_skew"]["max_count"] >= 1
    # one shard per SPATIAL_SHARD_ROWS points: the small corpus is one shard
    assert sa["n_shards"] == 1
    # the tiles stage ships zoom partitioning + tile range clustering
    # (zoom leads the range keys: zoom-contiguous tasks -> ~1 file per task)
    assert r1["tiles"]["cluster_by"] == ["zoom", "tile_x", "tile_y"]

    # simulate a kill after 'scored': drop everything downstream of it
    cat = Catalog(out)
    for st in AFTER_SCORED:
        cat.drop(st)
    r2 = run_pipeline(spark, SF_DIR_SMALL, out)
    # upstream stages resumed (skipped), downstream recomputed
    assert r2["spans_flat"]["skipped"] and r2["article_full"]["skipped"]
    # every manifest carries the data schema its reads take
    assert all("schema" in m for m in r2.values()), [
        s for s, m in r2.items() if "schema" not in m]
    assert r2["scored"]["skipped"]
    assert not r2["importance"]["skipped"]
    # resumed stages kept the first run's id; recomputed got the new one
    assert r2["spans_flat"]["run_id"] == r1["spans_flat"]["run_id"]
    assert r2["importance"]["run_id"] != r1["importance"]["run_id"]
    # identical output rows after resume
    assert (
        Catalog(out).read(spark, "importance").count() == r1["importance"]["rows"]
    )

    # kill DURING a stage write: committed snapshot gone, only a half-written
    # tmp dir remains -> the next run must list snapshots without crashing,
    # GC the orphan, and recompute the stage
    import os
    import shutil

    tdir = os.path.join(out, "tiles")
    for d in list(os.listdir(tdir)):
        full = os.path.join(tdir, d)
        if d.startswith("v") or d.startswith("_"):
            shutil.rmtree(full, ignore_errors=True)
            if os.path.isfile(full):
                os.remove(full)
    orphan = os.path.join(tdir, "v00001.tmp-deadbeef")
    os.makedirs(orphan, exist_ok=True)
    with open(os.path.join(orphan, "_manifest.json"), "w") as f:
        import json as _json

        _json.dump({"status": "committed", "rows": 1}, f)
    import time as _time

    from wikipedia_wikidata_spark.sources.catalog import TMP_GC_AGE_S

    _old = _time.time() - TMP_GC_AGE_S - 60
    os.utime(orphan, (_old, _old))
    os.utime(os.path.join(orphan, "_manifest.json"), (_old, _old))
    r3 = run_pipeline(spark, SF_DIR_SMALL, out)
    assert not r3["tiles"]["skipped"] and r3["tiles"]["rows"] > 0
    assert r3["scored"]["skipped"]
    assert not os.path.exists(orphan)


@pytest.fixture(scope="module")
def full_pipeline(spark, tmp_path_factory):
    """One full pipeline run: (catalog root, report)."""
    out = str(tmp_path_factory.mktemp("pipe_full"))
    return out, run_pipeline(spark, SF_DIR_SMALL, out)


def _killed_after_scored(full_pipeline, tmp_path_factory) -> str:
    """A copy of the full run's catalog with every stage after 'scored'
    dropped."""
    out = str(tmp_path_factory.mktemp("pipe_kill") / "cat")
    shutil.copytree(full_pipeline[0], out)
    cat = Catalog(out)
    for st in AFTER_SCORED:
        cat.drop(st)
    return out


def test_pipeline_resume_runs_under_the_callers_job_group(
    spark, full_pipeline, tmp_path_factory
):
    """The concurrent stage threads inherit the caller's job group, and the
    report keeps the stage order."""
    out = _killed_after_scored(full_pipeline, tmp_path_factory)
    ungrouped = spark.sparkContext.statusTracker().getJobIdsForGroup
    before = set(ungrouped())
    report, jobs = spark_jobs(spark, lambda: run_pipeline(spark, SF_DIR_SMALL, out))
    assert jobs
    # no job of the resume ran outside the group (a set difference, not
    # equality: the status store may evict old jobs meanwhile)
    assert set(ungrouped()) - before == set()
    assert [k for k, m in report.items() if not m["skipped"]] == AFTER_SCORED
    assert list(report) == [
        "spans_flat", "view_page", "view_linktarget", "view_redirect",
        "view_pagelink", "view_wd_page", "view_geo_tags", "view_places",
        "view_polygons", "view_langlinks", "view_sitelinks", "article_full",
        "wikidata_places", "scored", *AFTER_SCORED,
    ]


def test_pipeline_resume_derives_nothing(
    spark, full_pipeline, tmp_path_factory, monkeypatch
):
    """The PIP salt and the kNN ladder commit with the snapshots they are
    derived from, so a resume after the 'scored' kill reads them from the
    manifests: neither derivation runs, the consumers record the same
    decisions as the full run, and they name their source snapshot."""
    full = Catalog(full_pipeline[0]).manifest  # as committed, JSON keys
    out = _killed_after_scored(full_pipeline, tmp_path_factory)

    def derive(*args):
        raise AssertionError("a resume re-derived a plan decision")

    monkeypatch.setattr(pipeline, "suggest_pip_salt", derive)
    monkeypatch.setattr(pipeline, "suggest_knn_ladder", derive)
    report, jobs = spark_jobs(spark, lambda: run_pipeline(spark, SF_DIR_SMALL, out))
    assert [k for k, m in report.items() if not m["skipped"]] == AFTER_SCORED
    # the five rebuilt tables' writes, and no derivation or read job
    assert len(jobs) <= 18, len(jobs)

    sa, kn = Catalog(out).manifest("spatial_assign"), Catalog(out).manifest("knn")
    for key in ("pip_salt", "pip_cell_skew"):
        assert sa[key] == full("spatial_assign")[key] == full("scored")[key]
    assert kn["knn_ladder"] == full("knn")["knn_ladder"] == (
        full("wikidata_places")["knn_ladder"])
    assert sa["pip_cell_skew"]["derive_ms"] >= 0
    assert kn["knn_ladder"]["derive_ms"] >= 0
    assert sa["derived_from"] == {
        "table": "scored", "version": report["scored"]["version"]}
    assert kn["derived_from"] == {
        "table": "wikidata_places",
        "version": report["wikidata_places"]["version"]}


def test_spatial_shards_for():
    """One shard per SPATIAL_SHARD_ROWS points, at least one (empty input),
    at most SPATIAL_SHARDS_MAX."""
    rows = pipeline.SPATIAL_SHARD_ROWS
    assert pipeline.spatial_shards_for(0) == 1
    assert pipeline.spatial_shards_for(rows) == 1
    assert pipeline.spatial_shards_for(rows + 1) == 2
    assert pipeline.SPATIAL_SHARDS_MAX == 256
    assert pipeline.spatial_shards_for(rows * 10_000) == 256


def test_pipeline_tables_open_once_under_concurrent_stages():
    """Concurrent stages asking for one table share one open of it."""
    import sys
    import threading
    import time

    opened: list[str] = []

    def open_table(name):
        opened.append(name)
        time.sleep(0.01)
        return object()

    tables = pipeline._Tables(open_table)
    names = [f"t{i % 4}" for i in range(64)]
    start = threading.Barrier(len(names), timeout=30)
    got: list = []

    def ask(name):
        start.wait()
        got.append((name, tables[name]))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=ask, args=(n,)) for n in names]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=30)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads)
    assert sorted(opened) == ["t0", "t1", "t2", "t3"]
    assert len(got) == 64 and all(df is tables[n] for n, df in got)


def test_pipeline_spatial_shards_resume(
    spark, full_pipeline, tmp_path_factory, monkeypatch
):
    """With small shards, a PIP build that fails on the second shard leaves
    the first committed; the rerun rebuilds only the missing shards, to the
    rows of the one-shard run."""
    full = full_pipeline[1]
    n_points = full["entity_points"]["rows"]
    monkeypatch.setattr(pipeline, "SPATIAL_SHARD_ROWS", max(1, n_points // 3))
    out = _killed_after_scored(full_pipeline, tmp_path_factory)
    pip_join = pipeline.pip_join
    calls: list[int] = []

    def failing_pip_join(*args, **kwargs):
        calls.append(1)
        if len(calls) == 2:
            raise RuntimeError("PIP failed on shard 1")
        return pip_join(*args, **kwargs)

    monkeypatch.setattr(pipeline, "pip_join", failing_pip_join)
    with pytest.raises(RuntimeError, match="PIP failed on shard 1"):
        run_pipeline(spark, SF_DIR_SMALL, out)
    monkeypatch.setattr(pipeline, "pip_join", pip_join)
    report = run_pipeline(spark, SF_DIR_SMALL, out)
    assert [k for k, m in report.items() if not m["skipped"]] == [
        "spatial_assign"]
    sa = report["spatial_assign"]
    # shards build in order: shard 0 committed before shard 1 failed
    assert sa["n_shards"] >= 3 and sa["resumed_shards"] == 1
    assert sa["rows"] == full["spatial_assign"]["rows"]
    assert sorted(Catalog(out).read(spark, "spatial_assign").collect()) == sorted(
        Catalog(full_pipeline[0]).read(spark, "spatial_assign").collect())


@pytest.mark.parametrize("module, builder, failed", [
    (pipeline, "tile_importance", "tiles"),
    (pipeline.imp, "wikimedia_importance", "importance"),
], ids=["tiles", "importance"])
def test_pipeline_failed_branch_acts_like_a_kill(
    spark, full_pipeline, tmp_path_factory, monkeypatch, module, builder, failed
):
    """A failing branch re-raises after its siblings commit; the next run
    rebuilds only the failed stage, to the same rows."""
    out = _killed_after_scored(full_pipeline, tmp_path_factory)

    def fail(*args):
        raise RuntimeError(f"{failed} failed")

    monkeypatch.setattr(module, builder, fail)
    with pytest.raises(RuntimeError, match=f"{failed} failed"):
        run_pipeline(spark, SF_DIR_SMALL, out)
    cat = Catalog(out)
    fp = full_pipeline[1]["scored"]["fingerprint"]
    for st in AFTER_SCORED:
        assert cat.is_complete(st, fp) == (st != failed), st

    monkeypatch.undo()
    report = run_pipeline(spark, SF_DIR_SMALL, out)
    assert [k for k, m in report.items() if not m["skipped"]] == [failed]
    assert sorted(cat.read(spark, failed).collect()) == sorted(
        Catalog(full_pipeline[0]).read(spark, failed).collect())


def test_pipeline_selects_salt_on_hot_cell_corpus(spark, tmp_path_factory, monkeypatch):
    """When a cell's point count exceeds the mega-cell threshold, the
    shipped pipeline must pick salt > 1 FROM ITS OWN DIAGNOSTICS and the
    salted spatial stage must commit the identical row count (round-3
    verdict item 1: the pipeline consumes skew_stats, not a hand guess).
    The sf0.001 corpus already clusters points into urban cells; lowering
    the threshold below the hottest cell's count makes it 'mega'."""
    import wikipedia_wikidata_spark.config as cfg
    from wikipedia_wikidata_spark.operators.spatial import suggest_pip_salt

    out_ref = str(tmp_path_factory.mktemp("pipe_nosalt"))
    ref = run_pipeline(spark, SF_DIR_SMALL, out_ref)
    assert ref["spatial_assign"]["pip_salt"] == 1  # default threshold: cold

    monkeypatch.setattr(cfg, "MEGA_CELL_THRESHOLD", 3)
    out_hot = str(tmp_path_factory.mktemp("pipe_salt"))
    hot = run_pipeline(spark, SF_DIR_SMALL, out_hot)
    assert hot["spatial_assign"]["pip_salt"] > 1
    # salting is result-invariant at the pipeline level, not just in the
    # operator test: same committed rows either way
    assert hot["spatial_assign"]["rows"] == ref["spatial_assign"]["rows"]

    # and the diagnostic itself: hot-cell points -> salt > 1, uniform -> 1
    pts = spark.createDataFrame(
        # res-5 cells are ~0.044 deg; a 0.0004-step ramp from lat/lon 0
        # stays inside one cell (boundary at 0), the rest spread out
        [(0.0004 * i, 0.0004 * i) for i in range(50)]
        + [(float(i), float(i)) for i in range(1, 11)],
        "lat double, lon double",
    )
    monkeypatch.setattr(cfg, "MEGA_CELL_THRESHOLD", 10)
    salt, stats = suggest_pip_salt(pts)
    assert salt == 5 and stats["max_count"] == 50


def test_multimodal_stub(spark):
    from wikipedia_wikidata_spark.operators.extract import load_documents
    from wikipedia_wikidata_spark.operators.multimodal import (
        fake_decode_reference, media_features, media_table,
    )

    docs = load_documents(spark, SF_DIR_SMALL)
    media = media_table(docs)
    feats = media_features(media).collect()
    assert len(feats) > 50
    for r in feats[:20]:
        w, h, nf, fv = fake_decode_reference(r.media_ref)
        assert (r.width, r.height, r.n_frames) == (w, h, nf)
        assert [float(x) for x in r.feature] == [float(x) for x in fv]


def test_streaming_equals_batch(spark, tmp_path_factory):
    import pathlib

    from wikipedia_wikidata_spark.queries_training import q_events_tumbling
    from wikipedia_wikidata_spark.streaming.events import run_stream_available_now

    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy("/root/testdata/sf0.001/events.parquet", str(d / "part-0.parquet"))
    got = run_stream_available_now(spark, str(d), "t_stream_tumbling")
    batch = q_events_tumbling(spark, "/root/testdata/sf0.001").select(
        (F.col("window_start") * 1000000).alias("window_start_us"),
        "event_type",
        "n_events",
        "value_sum_e6",
    )
    a = {tuple(r) for r in got.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert a == b and len(a) > 0


def test_streaming_file_sink_resume_no_dup_no_loss(spark, tmp_path_factory):
    """Scale-path streaming (append parquet sink + checkpointLocation):
    process half the input, 'restart' the job (fresh query, same
    checkpoint), deliver the rest — every watermark-closed window is
    emitted exactly once with batch-equal values, and a further restart
    with no new data emits nothing."""
    import pyarrow.parquet as pq

    from wikipedia_wikidata_spark.queries_training import q_events_tumbling
    from wikipedia_wikidata_spark.streaming.events import run_stream_file_sink

    root = tmp_path_factory.mktemp("stream_resume")
    in_dir, out_dir, ck_dir = root / "in", root / "out", root / "ck"
    in_dir.mkdir()
    t = pq.read_table("/root/testdata/sf0.001/events.parquet").sort_by("ts")
    half = t.num_rows // 2
    pq.write_table(t.slice(0, half), str(in_dir / "part-0.parquet"))

    got1 = {
        tuple(r)
        for r in run_stream_file_sink(
            spark, str(in_dir), str(out_dir), str(ck_dir)
        ).collect()
    }
    assert len(got1) > 0, "first run must emit watermark-closed windows"

    # 'restart': second invocation = fresh streaming query over the same
    # checkpoint; deliver the remaining data first
    pq.write_table(t.slice(half), str(in_dir / "part-1.parquet"))
    got2 = {
        tuple(r)
        for r in run_stream_file_sink(
            spark, str(in_dir), str(out_dir), str(ck_dir)
        ).collect()
    }
    # no duplicates: (window, event_type) keys unique across both runs
    keys = [(r[0], r[1]) for r in got2]
    assert len(keys) == len(set(keys)), "restart duplicated windows"
    assert got1 <= got2 and len(got2) > len(got1)

    # no loss + correct values: every batch window whose end the final
    # watermark passed is present and value-equal (watermark = max ts - 10
    # min; 1h tumbling windows)
    batch = {
        (r.window_start * 1000000, r.event_type): (r.n_events, r.value_sum_e6)
        for r in q_events_tumbling(spark, "/root/testdata/sf0.001").collect()
    }
    import pyarrow.compute as pc

    max_us = pc.max(t.column("ts")).value  # true max event time (us)
    got_map = {(r[0], r[1]): (r[2], r[3]) for r in got2}
    for (ws, et), vals in batch.items():
        closed = ws + 3600 * 1000000 <= max_us - 600 * 1000000
        if closed:
            assert got_map.get((ws, et)) == vals, (ws, et)
    for k, v in got_map.items():
        assert batch[k] == v, k

    # idempotent restart with no new data: nothing new emitted
    got3 = {
        tuple(r)
        for r in run_stream_file_sink(
            spark, str(in_dir), str(out_dir), str(ck_dir)
        ).collect()
    }
    assert got3 == got2


def test_stateful_sessionize_out_of_order_bridge(spark, tmp_path_factory):
    """A late-but-admissible event (>= watermark, later micro-batch) that
    BRIDGES two provisional sessions must merge them into one — the folded
    (start,last,n) state design emits the first half early and corrupts on
    the regression; the buffered design must get it right. Also exercises a
    drain that closes zero sessions (empty sink + explicit schema read)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from wikipedia_wikidata_spark.streaming.sessions import (
        run_sessionize_available_now,
    )

    root = tmp_path_factory.mktemp("sess_ooo")
    in_dir, out_dir, ck_dir = root / "in", root / "out", root / "ck"
    in_dir.mkdir()

    def write_events(name, rows):
        # rows: (event_id, ts_seconds, user_id)
        t = pa.table({
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array(
                [r[1] * 1_000_000 for r in rows], pa.timestamp("us")
            ),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array(["e"] * len(rows), pa.string()),
            "value": pa.array([1.0] * len(rows), pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        })
        pq.write_table(t, str(in_dir / name))

    # batch 1: u1 at 12000s and 14200s (2200s apart -> provisionally TWO
    # sessions); watermark after the run = 14200 - 600 = 13600s
    write_events("b1.parquet", [(1, 12000, 1), (2, 14200, 1), (3, 13000, 99)])
    got1 = run_sessionize_available_now(
        spark, str(in_dir), str(out_dir), str(ck_dir)
    ).collect()
    assert got1 == [], "nothing is closable while the watermark is behind"

    # batch 2: u1's LATE event at 13700s (>= watermark 13600, out of order
    # vs the already-seen 14200) bridges the two provisional sessions
    # (1700s and 500s gaps, both < 1800); u99 at 20000s pushes the final
    # watermark to 19400s so the merged session closes
    write_events("b2.parquet", [(4, 13700, 1), (5, 20000, 99)])
    got2 = {
        tuple(r)
        for r in run_sessionize_available_now(
            spark, str(in_dir), str(out_dir), str(ck_dir)
        ).collect()
    }
    assert got2 == {
        # u1: ONE merged session (the bridge worked)
        (1, 12000 * 1_000_000, 14200 * 1_000_000, 3),
        # u99: first session closed by watermark 19400 > 13000+1800;
        # the 20000s session stays open
        (99, 13000 * 1_000_000, 13000 * 1_000_000, 1),
    }, got2


def test_stateful_streaming_sessionize(spark, tmp_path_factory):
    """Custom stateful operator (applyInPandasWithState): per-user
    sessionization with event-time timeout. Every session the watermark
    closed — by a gap-exceeding successor OR by timeout after the user went
    quiet — must be emitted exactly once with values matching an
    independent pandas oracle; state is watermark-bounded."""
    import pandas as pd
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from wikipedia_wikidata_spark.streaming.sessions import (
        SESSION_GAP_S, run_sessionize_available_now, sessions_pandas_oracle,
    )

    root = tmp_path_factory.mktemp("sessionize")
    in_dir, out_dir, ck_dir = root / "in", root / "out", root / "ck"
    in_dir.mkdir()
    t = pq.read_table("/root/testdata/sf0.001/events.parquet").sort_by("ts")
    half = t.num_rows // 2
    pq.write_table(t.slice(0, half), str(in_dir / "part-0.parquet"))
    got1 = {
        tuple(r)
        for r in run_sessionize_available_now(
            spark, str(in_dir), str(out_dir), str(ck_dir)
        ).collect()
    }
    assert len(got1) > 0
    # restart with the rest of the input (checkpointed state carries over)
    pq.write_table(t.slice(half), str(in_dir / "part-1.parquet"))
    got2 = {
        tuple(r)
        for r in run_sessionize_available_now(
            spark, str(in_dir), str(out_dir), str(ck_dir)
        ).collect()
    }
    assert got1 <= got2 and len(got2) > len(got1)
    keys = [(r[0], r[1]) for r in got2]
    assert len(keys) == len(set(keys)), "duplicate sessions across restarts"

    ev = pd.DataFrame(
        {
            "user_id": t.column("user_id").to_pandas(),
            "ts_us": pd.Series(
                [v.value for v in pc.cast(t.column("ts"), "timestamp[us]")],
                dtype="int64",
            ),
        }
    )
    expected = sessions_pandas_oracle(ev)
    max_us = pc.max(t.column("ts")).value
    wm_final = max_us - 600 * 1_000_000
    exp_map = {(u, s): (e, n) for u, s, e, n in expected}
    got_map = {(r[0], r[1]): (r[2], r[3]) for r in got2}
    # no false sessions, values exact
    for k, v in got_map.items():
        assert exp_map.get(k) == v, (k, v, exp_map.get(k))
    # every session provably closed by the final watermark is present
    for (u, s), (e, n) in exp_map.items():
        if e + SESSION_GAP_S * 1_000_000 <= wm_final:
            assert got_map.get((u, s)) == (e, n), (u, s)


def test_incremental_rollup_recomputes_only_changed_days(spark, tmp_path_factory):
    """Hypertable-style continuous aggregate: a refresh after new data must
    recompute ONLY the days whose input fingerprint changed, carry every
    other day forward from the previous snapshot, and still bit-match a
    full recompute."""
    from pyspark.sql import functions as F

    from wikipedia_wikidata_spark.operators.rollup import (
        daily_rollup, refresh_rollup,
    )

    cat = Catalog(str(tmp_path_factory.mktemp("rollup")))
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    days = sorted(r.d for r in ev.select(F.to_date("ts").alias("d")).distinct().collect())
    assert len(days) >= 5
    cut = days[len(days) // 2]

    ev1 = ev.filter(F.to_date("ts") <= F.lit(cut))
    m1 = refresh_rollup(spark, ev1, cat, "daily", "r1")
    assert m1["carried_days"] == [] and len(m1["changed_days"]) >= 2

    # second refresh over a superset: one existing day gains rows (shift a
    # few later events onto `cut`), plus genuinely new later days
    extra = ev.filter(F.to_date("ts") > F.lit(cut)).limit(7).withColumn(
        "ts", F.lit(str(cut) + " 12:00:00").cast("timestamp_ntz")
    )
    ev2 = ev1.unionByName(extra).unionByName(
        ev.filter(F.to_date("ts") > F.lit(cut))
    )
    m2 = refresh_rollup(spark, ev2, cat, "daily", "r2")
    changed = set(m2["changed_days"])
    assert str(cut) in changed, "modified day must be recomputed"
    assert all(d > str(cut) for d in changed - {str(cut)}), (
        "only the modified day and new days may be recomputed: " + str(changed)
    )
    assert set(m2["carried_days"]) == {str(d) for d in days if d < cut}

    got = {
        (str(r.day), r.event_type): (r.n_events, r.value_sum_e6, r.n_users)
        for r in cat.read(spark, "daily").collect()
    }
    exp = {
        (str(r.day), r.event_type): (r.n_events, r.value_sum_e6, r.n_users)
        for r in daily_rollup(ev2).collect()
    }
    assert got == exp
    # time travel to the first snapshot still works
    assert cat.read(spark, "daily", version=m1["version"]).count() > 0


def test_sharded_write_resumes_without_recomputing(spark, tmp_path_factory):
    """north_star: a killed job resumes without recomputing completed
    shards. Kill shard 2 on the first attempt; the retry must rebuild ONLY
    shards 2 and 3, and the promoted table must equal the full union."""
    import pytest as _pt

    cat = Catalog(str(tmp_path_factory.mktemp("shardcat")))
    calls: list[int] = []

    def make(k: int):
        calls.append(k)
        if k == 2 and calls.count(2) == 1:
            raise RuntimeError("simulated kill mid-stage")
        return spark.range(k * 10, k * 10 + 5).withColumn("shard", F.lit(k))

    with _pt.raises(RuntimeError, match="simulated kill"):
        cat.write_sharded(spark, make, "t", "fp1", "run1", 4)
    assert calls == [0, 1, 2]  # shards 0,1 committed atomically before the kill

    m = cat.write_sharded(spark, make, "t", "fp1", "run2", 4)
    assert calls == [0, 1, 2, 2, 3]  # resume rebuilt ONLY the missing shards
    assert m["resumed_shards"] == 2 and m["n_shards"] == 4
    assert m["status"] == "committed" and m["rows"] == 20
    got = sorted(r["id"] for r in cat.read(spark, "t").collect())
    want = sorted(x for k in range(4) for x in range(k * 10, k * 10 + 5))
    assert got == want
    # pending state is cleared by the successful commit
    import os
    assert not [d for d in os.listdir(cat.path("t")) if d.startswith("_pending-")]


def test_sharded_commit_spares_concurrent_pending_state(spark, tmp_path_factory):
    """A commit must clear ONLY its own _pending-<digest> dir: a concurrent
    write_sharded on the same table (different fingerprint) owns a live
    pending dir whose deletion would crash its next os.rename and destroy
    its resume state. Stale (age-gated) foreign dirs ARE reclaimed."""
    import os
    import time

    from wikipedia_wikidata_spark.sources import catalog as catmod

    cat = Catalog(str(tmp_path_factory.mktemp("shardcat2")))
    root = cat.path("t")
    os.makedirs(root)
    # a FRESH foreign pending dir = a live concurrent writer mid-run
    live = os.path.join(root, "_pending-feedfeedfeed")
    os.makedirs(os.path.join(live, "shard_00000"))
    with open(os.path.join(live, "shard_00000", "part-x.parquet"), "w") as f:
        f.write("x")
    # a STALE foreign pending dir = a fingerprint nobody will resume
    stale = os.path.join(root, "_pending-deaddeaddead")
    os.makedirs(stale)
    old = time.time() - catmod.TMP_GC_AGE_S - 60
    os.utime(stale, (old, old))

    def make(k: int):
        return spark.range(k * 10, k * 10 + 3).withColumn("shard", F.lit(k))

    cat.write_sharded(spark, make, "t", "fpX", "runX", 2)
    left = {d for d in os.listdir(root) if d.startswith("_pending-")}
    assert os.path.basename(live) in left, "live concurrent pending dir deleted"
    assert os.path.basename(stale) not in left, "stale pending dir not reclaimed"
    # and the live writer's resume state is intact
    assert os.path.isfile(os.path.join(live, "shard_00000", "part-x.parquet"))


def test_stream_static_enrich_matches_batch_and_restarts(spark, tmp_path_factory):
    """Stream-static broadcast enrichment: micro-batches join a static dim
    statelessly; the closed-input drain must equal the batch join exactly,
    and a second drain after new files arrive (restart from checkpoint)
    emits only the new rows — no duplicates, no loss."""
    import pyarrow.parquet as pq

    from wikipedia_wikidata_spark.streaming.events import run_stream_enrich

    root = tmp_path_factory.mktemp("stream_enrich")
    in_dir, out_dir, ck_dir = root / "in", root / "out", root / "ck"
    in_dir.mkdir()
    t = pq.read_table("/root/testdata/sf0.001/events.parquet").sort_by("ts")
    half = t.num_rows // 2
    dim = spark.createDataFrame(
        [("click", 1.5), ("view", 0.25), ("purchase", 10.0)],
        "event_type string, type_weight double",
    )

    pq.write_table(t.slice(0, half), str(in_dir / "part-0.parquet"))
    got1 = run_stream_enrich(
        spark, str(in_dir), dim, str(out_dir), str(ck_dir)
    ).collect()
    ids1 = sorted(r["event_id"] for r in got1)
    assert len(ids1) == len(set(ids1))

    # 'restart': fresh query, same checkpoint, second half delivered
    pq.write_table(t.slice(half), str(in_dir / "part-1.parquet"))
    got2 = run_stream_enrich(
        spark, str(in_dir), dim, str(out_dir), str(ck_dir)
    ).collect()
    ids2 = sorted(r["event_id"] for r in got2)
    assert len(ids2) == len(set(ids2)), "restart duplicated rows"

    # closed-input equality with the batch join (the oracle)
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    batch = (
        ev.join(F.broadcast(dim), "event_type")
        .select(
            "event_id",
            F.floor(F.col("value") * F.col("type_weight") * 1000000.0 + 0.5)
            .cast("bigint")
            .alias("weighted_value_e6"),
        )
    )
    want = {(r["event_id"], r["weighted_value_e6"]) for r in batch.collect()}
    got = {(r["event_id"], r["weighted_value_e6"]) for r in got2}
    assert got == want and len(want) > 0


def test_streaming_dedup_within_watermark_and_restart(spark, tmp_path_factory):
    """Streaming exact dedup (dropDuplicatesWithinWatermark): an
    at-least-once upstream (redelivered file) emits each event_id once,
    including across a restart from the checkpoint."""
    import pyarrow.parquet as pq

    from wikipedia_wikidata_spark.streaming.events import run_stream_dedup

    root = tmp_path_factory.mktemp("stream_dedup")
    in_dir, out_dir, ck_dir = root / "in", root / "out", root / "ck"
    in_dir.mkdir()
    t = pq.read_table("/root/testdata/sf0.001/events.parquet").sort_by("ts")
    half = t.num_rows // 2

    # run 1: first half delivered TWICE (producer retry in the same drain)
    pq.write_table(t.slice(0, half), str(in_dir / "part-0.parquet"))
    pq.write_table(t.slice(0, half), str(in_dir / "part-0-retry.parquet"))
    got1 = run_stream_dedup(spark, str(in_dir), str(out_dir), str(ck_dir)).collect()
    ids1 = [r["event_id"] for r in got1]
    want1 = {r["event_id"] for r in t.slice(0, half).to_pylist()}
    assert len(ids1) == len(set(ids1)), "duplicate event_id emitted in run 1"
    assert set(ids1) == want1

    # 'restart': fresh query on the same checkpoint; redeliver half 1 AGAIN
    # plus the new second half
    pq.write_table(t.slice(0, half), str(in_dir / "part-0-redeliver.parquet"))
    pq.write_table(t.slice(half), str(in_dir / "part-1.parquet"))
    got2 = run_stream_dedup(spark, str(in_dir), str(out_dir), str(ck_dir)).collect()
    ids2 = [r["event_id"] for r in got2]
    assert len(ids2) == len(set(ids2)), "restart emitted a duplicate event_id"
    all_ids = {r["event_id"] for r in t.to_pylist()}
    # every event appears exactly once across both drains; nothing lost
    assert set(ids2) == all_ids and len(ids2) == len(all_ids)


def test_streaming_sliding_equals_batch(spark, tmp_path_factory):
    """Sliding windows (1 h / 30 min): the streaming agg on a closed input
    equals the batch explode-over-starts query — every event in exactly two
    windows on both paths."""
    from wikipedia_wikidata_spark.queries_training import q_events_sliding
    from wikipedia_wikidata_spark.streaming.events import (
        run_sliding_available_now,
    )

    d = tmp_path_factory.mktemp("events_sliding")
    shutil.copy("/root/testdata/sf0.001/events.parquet", str(d / "part-0.parquet"))
    got = run_sliding_available_now(spark, str(d), "t_stream_sliding")
    batch = q_events_sliding(spark, "/root/testdata/sf0.001").select(
        (F.col("window_start") * 1000000).alias("window_start_us"),
        "event_type",
        "n_events",
        "value_sum_e6",
    )
    a = {tuple(r) for r in got.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert a == b and len(a) > 0
    # overlap sanity: sliding rows ~= 2x the 30-min tumbling group count
    n_events = spark.read.parquet("/root/testdata/sf0.001/events.parquet").count()
    assert sum(r[2] for r in a) == 2 * n_events


def _attrib_batch(spark, sf_dir):
    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .withColumn("ts_ltz", F.col("ts").cast("timestamp"))
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts_ltz").alias("v_ts"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts_ltz").alias("p_ts"),
    )
    return (
        v.join(
            p,
            (F.col("v_user") == F.col("p_user"))
            & (F.col("p_ts") > F.col("v_ts"))
            & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 6 HOURS")),
        )
        .select(
            "view_id",
            "purchase_id",
            F.col("v_user").alias("user_id"),
            (F.unix_micros("p_ts") - F.unix_micros("v_ts")).alias("delay_us"),
        )
    )


def test_stream_stream_attribution_equals_batch(spark, tmp_path_factory):
    """Stream-stream watermarked inner join on a closed input == the batch
    theta-join, both single-batch and across four time-ordered micro-batches
    (the multi-batch leg proves watermark state eviction never drops a row
    that could still match)."""
    from wikipedia_wikidata_spark.queries_training import _ensure_utc
    from wikipedia_wikidata_spark.streaming.events import (
        run_attribution_available_now,
    )

    _ensure_utc(spark)
    sf = "/root/testdata/sf0.001"
    want = {tuple(r) for r in _attrib_batch(spark, sf).collect()}
    assert len(want) > 0

    d1 = tmp_path_factory.mktemp("attrib_one")
    shutil.copy(f"{sf}/events.parquet", str(d1 / "part-0.parquet"))
    got1 = {
        tuple(r)
        for r in run_attribution_available_now(spark, str(d1), "t_attrib1").collect()
    }
    assert got1 == want

    # four time-ordered files, one per micro-batch: the join must buffer
    # open views across batches and evict only watermark-dead state
    ev = spark.read.parquet(f"{sf}/events.parquet").orderBy("ts").collect()
    d2 = tmp_path_factory.mktemp("attrib_multi")
    n = len(ev)
    for i in range(4):
        chunk = ev[i * n // 4 : (i + 1) * n // 4]
        spark.createDataFrame(chunk, spark.read.parquet(f"{sf}/events.parquet").schema) \
            .coalesce(1).write.parquet(str(d2 / f"in_{i}"))
    import glob
    import os
    dst = tmp_path_factory.mktemp("attrib_multi_in")
    # FileStreamSource picks files oldest-mtime-first; sequential copies can
    # land on the same mtime tick, leaving the tie order to the filesystem
    # (ext4 readdir is hash-ordered). A purchase chunk processed BEFORE its
    # view chunk arrives watermark-late and is dropped — observed as a rare
    # full-suite-only flake. Pin strictly-increasing mtimes so micro-batch
    # order == time order, which is the contract the oracle equality assumes.
    base_mtime = os.stat(str(dst)).st_mtime
    for i in range(4):
        src = glob.glob(str(d2 / f"in_{i}" / "part-*.parquet"))[0]
        tgt = str(dst / f"part-{i}.parquet")
        shutil.copy(src, tgt)
        os.utime(tgt, (base_mtime + i, base_mtime + i))
    got2 = {
        tuple(r)
        for r in run_attribution_available_now(
            spark, str(dst), "t_attrib2", max_files_per_trigger=1
        ).collect()
    }
    assert got2 == want


def test_stream_merge_to_catalog_exactly_once(spark, tmp_path_factory):
    """foreachBatch MERGE into the versioned catalog: multi-epoch drain
    equals one batch aggregation bit-for-bit (per-event e6 quantization is
    associative); a REPLAYED epoch no-ops on its committed fingerprint; a
    restart with new files merges only the delta; untouched day partitions
    carry over."""
    import os

    import pyarrow.parquet as pq

    from wikipedia_wikidata_spark.sources.catalog import Catalog
    from wikipedia_wikidata_spark.streaming.events import (
        run_stream_merge_to_catalog,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    root = tmp_path_factory.mktemp("stream_merge")
    in_dir, cat_root, ck_dir = root / "in", root / "cat", root / "ck"
    in_dir.mkdir()
    t = pq.read_table("/root/testdata/sf0.001/events.parquet").sort_by("ts")
    third = t.num_rows // 3
    pq.write_table(t.slice(0, third), str(in_dir / "part-0.parquet"))
    pq.write_table(t.slice(third, third), str(in_dir / "part-1.parquet"))
    os.utime(str(in_dir / "part-0.parquet"), (1000000000, 1000000000))
    os.utime(str(in_dir / "part-1.parquet"), (1000000001, 1000000001))

    got1 = run_stream_merge_to_catalog(
        spark, str(in_dir), str(cat_root), "totals", str(ck_dir)
    )

    def agg(rows):
        ev = spark.createDataFrame(rows.to_pandas())
        return {
            (r["day"], r["event_type"]): (r["n_events"], r["value_sum_e6"])
            for r in ev.select(
                F.date_format("ts", "yyyy-MM-dd").alias("day"),
                "event_type",
                F.floor(F.col("value") * 1000000.0 + 0.5)
                .cast("bigint")
                .alias("_e6"),
            )
            .groupBy("day", "event_type")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_events"),
                F.sum("_e6").cast("bigint").alias("value_sum_e6"),
            )
            .collect()
        }

    as_map = lambda df: {  # noqa: E731
        (r["day"], r["event_type"]): (r["n_events"], r["value_sum_e6"])
        for r in df.collect()
    }
    assert as_map(got1) == agg(t.slice(0, 2 * third))

    cat = Catalog(str(cat_root))
    v_before = cat.current_version("totals")
    assert v_before >= 2  # one commit per non-empty epoch

    # replay: re-deliver the LAST committed epoch under its ORIGINAL
    # batch_id (crash between catalog commit and checkpoint commit) — the
    # fingerprint check must no-op, version unchanged
    from wikipedia_wikidata_spark.streaming.events import (
        make_catalog_merge_batch_fn,
    )

    last_fp = cat.manifest("totals")["fingerprint"]
    last_epoch = int(last_fp.rsplit("=", 1)[1])
    replay_df = spark.createDataFrame(t.slice(third, third).to_pandas())
    make_catalog_merge_batch_fn(spark, cat, "totals")(replay_df, last_epoch)
    assert cat.current_version("totals") == v_before, "replayed epoch re-applied"

    # re-running the whole drain with the same checkpoint and no new files
    # must also not commit anything
    got_rerun = run_stream_merge_to_catalog(
        spark, str(in_dir), str(cat_root), "totals", str(ck_dir)
    )
    assert cat.current_version("totals") == v_before
    assert as_map(got_rerun) == as_map(got1)

    # restart with a third file: only the new delta merges; totals now equal
    # the batch aggregation over ALL input
    pq.write_table(t.slice(2 * third), str(in_dir / "part-2.parquet"))
    os.utime(str(in_dir / "part-2.parquet"), (1000000002, 1000000002))
    got2 = run_stream_merge_to_catalog(
        spark, str(in_dir), str(cat_root), "totals", str(ck_dir)
    )
    assert as_map(got2) == agg(t)
    # the final merge's manifest records only the days the delta touched
    m = cat.manifest("totals")
    assert m.get("merge_touched_partitions") or m.get("extra", {}).get(
        "merge_touched_partitions"
    )
