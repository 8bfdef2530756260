"""Declared-schema CSV ingest (S5 read side) + snapshot selection (S2)."""

import gzip
import json
import os

from pyspark.sql import functions as F

from wikipedia_wikidata_spark.sources.catalog import Catalog
from wikipedia_wikidata_spark.sources.csv_source import (
    REFERENCE_TABLE_DDL, read_table_csv,
)


def test_csv_declared_schema_ingest(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("csv_src")
    p = str(d / "pages.csv.gz")
    with gzip.open(p, "wt") as f:
        f.write('1,Main_Page\n')
        f.write('2,"Title, with comma"\n')
        f.write('3,"He said ""hi"""\n')
        f.write('4,\n')             # empty -> NULL (COPY ... NULL AS '')
        f.write('5,Größe_München\n')
    df = read_table_csv(spark, p, REFERENCE_TABLE_DDL["page"])
    assert [f.dataType.simpleString() for f in df.schema.fields] == ["int", "string"]
    rows = {r.page_id: r.page_title for r in df.collect()}
    assert rows == {
        1: "Main_Page",
        2: "Title, with comma",
        3: 'He said "hi"',
        4: None,
        5: "Größe_München",
    }


def test_csv_decimal_schema_geo(spark, tmp_path_factory):
    """The reference's numeric(11,8) lat/lon land as DecimalType at ingest
    (SURVEY §1.2), not a lossy inferred double."""
    d = tmp_path_factory.mktemp("csv_geo")
    p = str(d / "geo.csv")
    with open(p, "w") as f:
        f.write("900001,52.51666667,13.38333333\n")
        f.write("900002,-33.87000000,151.21000000\n")
    df = read_table_csv(spark, p, REFERENCE_TABLE_DDL["geo_tags"])
    assert df.schema["gt_lat"].dataType.simpleString() == "decimal(11,8)"
    got = {r.gt_page_id: str(r.gt_lat) for r in df.collect()}
    assert got[900001] == "52.51666667"  # exact decimal, no float drift


def test_bucketed_join_is_shuffle_free(spark, tmp_path_factory):
    """Co-located join: both sides bucketed+sorted on the join key with the
    same bucket count -> SortMergeJoin with ZERO Exchange (the pay-the-
    shuffle-once-at-write-time layout for repeated 100-TB fact joins)."""
    from wikipedia_wikidata_spark.sources.bucketed import (
        colocated_join, save_bucketed,
    )

    d = tmp_path_factory.mktemp("bucketed")
    o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    save_bucketed(o, "t_orders_b", "o_orderkey", str(d / "orders"), 8)
    save_bucketed(li, "t_lineitem_b", "l_orderkey", str(d / "lineitem"), 8)
    try:
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = colocated_join(
                spark, "t_lineitem_b", "t_orders_b", "l_orderkey", "o_orderkey"
            )
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan
            assert j.count() == li.join(
                o, li.l_orderkey == o.o_orderkey
            ).count() > 0
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_catalog_latest_complete_selection(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("cat_latest"))
    cat = Catalog(root)
    for k in (1, 2, 3):
        df = spark.range(k * 10).select(F.col("id"))
        cat.write(spark, df, "t", fingerprint=f"fp{k}", run_id=f"r{k}")
    # simulate a commit killed between manifest write and rename: an orphan
    # tmp dir containing a manifest must not crash listing nor be selected
    orphan = os.path.join(root, "t", "v00009.tmp-deadbeef")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "_manifest.json"), "w") as f:
        json.dump({"status": "committed", "rows": 999}, f)
    # backdate past the GC age gate (young tmp dirs may be a live writer's)
    import time as _time

    from wikipedia_wikidata_spark.sources.catalog import TMP_GC_AGE_S

    old = _time.time() - TMP_GC_AGE_S - 60
    os.utime(orphan, (old, old))
    os.utime(os.path.join(orphan, "_manifest.json"), (old, old))

    snaps = cat.snapshots("t")
    assert [m["version"] for m in snaps] == [1, 2, 3]
    latest = cat.latest_complete("t")
    assert latest["version"] == 3 and latest["rows"] == 30
    # predicate selection: 'latest complete dump matching a condition'
    # (steps/latest_available_data.sh analog)
    small = cat.latest_complete("t", lambda m: m["rows"] <= 20)
    assert small["version"] == 2
    # a YOUNG tmp dir (a live concurrent writer's) must survive the GC...
    live = os.path.join(root, "t", "v00010.tmp-cafebabe")
    os.makedirs(os.path.join(live, "_temporary"))
    # ...while the backdated orphan is collected by the next write
    cat.write(spark, spark.range(5), "t", fingerprint="fp4", run_id="r4")
    assert os.path.exists(live), "live writer's tmp dir was GC'd"
    assert not os.path.exists(orphan)
    assert cat.latest_complete("t")["version"] == 4


def test_catalog_lineage_keys_files_by_partition_path(spark, tmp_path_factory):
    """Lineage comes from the parquet footers and is keyed by the path
    relative to the version dir: a partitioned write reuses part-file names
    across partition dirs, so basename keys would collide."""
    cat = Catalog(str(tmp_path_factory.mktemp("lineagecat")))
    df = spark.range(300).repartition(3).select(
        "id", (F.col("id") % 4).alias("k")
    )
    m = cat.write(spark, df, "t", "fp1", "r1", partition_by=["k"])
    files = [p["file"] for p in m["partitions"]]
    assert len(files) == len(set(files)) == m["n_partitions"] > 4
    vdir = os.path.join(cat.path("t"), "v00001")
    per_k: dict[str, int] = {}
    for p in m["partitions"]:
        part, rest = p["file"].split("/", 1)
        assert part in {f"k={k}" for k in range(4)} and "/" not in rest, p
        assert os.path.isfile(os.path.join(vdir, p["file"])), p
        per_k[part] = per_k.get(part, 0) + p["rows"]
    assert per_k == {f"k={k}": 75 for k in range(4)}
    assert sum(p["rows"] for p in m["partitions"]) == m["rows"] == 300


def test_json_props_declared_schema(spark, ddb):
    """Semi-structured extraction: from_json with a DECLARED schema over the
    events.props JSON column, aggregated per event type; DuckDB json oracle."""
    from wikipedia_wikidata_spark.operators.text import props_stats

    from .conftest import SF_DIR, compare_frames

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    got = props_stats(ev)
    exp = ddb.execute(
        """SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS k_sum,
       CAST(count(DISTINCT CAST(json_extract(props, '$.k') AS INT)) AS BIGINT)
         AS k_distinct
FROM events GROUP BY event_type"""
    ).fetchdf()
    compare_frames(got, exp, "props_stats")
    # malformed JSON -> NULL field, not an error (PERMISSIVE analog)
    from wikipedia_wikidata_spark.operators.text import parse_props

    bad = spark.createDataFrame(
        [(1, '{"k": 5}'), (2, "not json"), (3, None)], "event_id long, props string"
    )
    rows = {r.event_id: r.props_k for r in parse_props(bad).collect()}
    assert rows == {1: 5, 2: None, 3: None}


def test_asof_join_matches_duckdb_native(spark, ddb):
    """As-of join (union-sort-fill, one shuffle, no range explosion) vs
    DuckDB's native ASOF JOIN on the events table: for every event, the
    latest preceding same-user 'click' value."""
    from wikipedia_wikidata_spark.operators.temporal import asof_join

    from .conftest import SF_DIR

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    etype = ev.select("event_type").orderBy("event_type").limit(1).collect()[0][0]
    right = ev.filter(F.col("event_type") == etype).select(
        "user_id", "ts", F.col("value").alias("ref_value"), "event_id"
    )
    got = asof_join(
        ev.select("event_id", "user_id", "ts"),
        right.select("user_id", "ts", "ref_value"),
        key="user_id",
        ts="ts",
        value_cols=["ref_value"],
    ).select(
        "event_id",
        F.floor(F.col("asof_ref_value") * 1000000.0 + 0.5)
        .cast("bigint")
        .alias("ref_e6"),
    )
    exp = ddb.execute(
        f"""SELECT l.event_id,
       CAST(floor(r.value * 1000000.0 + 0.5) AS BIGINT) AS ref_e6
FROM events l
ASOF LEFT JOIN (
  SELECT user_id, ts, value FROM events WHERE event_type = '{etype}'
) r ON l.user_id = r.user_id AND l.ts >= r.ts"""
    ).fetchdf()
    from .conftest import compare_frames

    compare_frames(got, exp, "asof_join")
    # plan shape: one window, no join operator at all
    p = got._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in p, p


def test_asof_join_null_column_comes_from_single_row(spark):
    """ADVICE r2: when the latest preceding right row has NULL in one value
    column while an older row has it non-NULL, ALL asof_* values must come
    from that single latest row (including its NULLs) — DuckDB's native ASOF
    semantics — not a per-column carry that stitches rows together."""
    from wikipedia_wikidata_spark.operators.temporal import asof_join

    right = spark.createDataFrame(
        [
            ("u1", 10, 1.0, "old"),   # older row: both non-NULL
            ("u1", 20, None, "new"),  # latest row: a IS NULL
        ],
        "user_id string, ts long, a double, b string",
    )
    left = spark.createDataFrame(
        [("u1", 25, "e1"), ("u1", 15, "e2"), ("u1", 5, "e3")],
        "user_id string, ts long, event string",
    )
    rows = {
        r.event: (r.asof_a, r.asof_b)
        for r in asof_join(left, right, key="user_id", ts="ts", value_cols=["a", "b"]).collect()
    }
    assert rows["e1"] == (None, "new")   # latest row ts=20: a=NULL rides along
    assert rows["e2"] == (1.0, "old")    # only ts=10 precedes
    assert rows["e3"] == (None, None)    # nothing precedes


def test_range_join_matches_duckdb(spark, ddb):
    """Bucketed interval join vs a DuckDB theta-join oracle: every event
    paired with the synthetic maintenance windows containing its timestamp;
    plan must be an equi-join (no BroadcastNestedLoopJoin/cartesian)."""
    from wikipedia_wikidata_spark.operators.temporal import range_join

    from .conftest import SF_DIR

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "event_id", "ts"
    )
    # deterministic intervals derived from the data itself: one 2h window
    # every 8 hours across the observed span
    iv = spark.sql(
        """SELECT id AS win_id,
                  timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,CAST(id*8 AS INT),0,0) AS lo,
                  timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,CAST(id*8+2 AS INT),0,0) AS hi
           FROM range(0, 92) AS t(id)"""
    )
    got = range_join(ev, iv, ts="ts", lo="lo", hi="hi").select(
        "event_id", "win_id"
    )
    exp = ddb.execute(
        """SELECT e.event_id, CAST(w.id AS BIGINT) AS win_id
FROM events e
JOIN (
  SELECT id,
         TIMESTAMP '2024-01-01 00:00:00' + to_hours(CAST(id*8 AS BIGINT)) AS lo,
         TIMESTAMP '2024-01-01 00:00:00' + to_hours(CAST(id*8+2 AS BIGINT)) AS hi
  FROM range(0, 92) AS t(id)
) w ON e.ts >= w.lo AND e.ts <= w.hi"""
    ).fetchdf()
    from .conftest import compare_frames

    compare_frames(got, exp, "range_join")
    assert len(got.collect()) > 0
    p = got._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in p and "Cartesian" not in p, p


def test_catalog_merge_partition_pruned(spark, tmp_path_factory):
    """Partition-aware MERGE: only touched partitions rewrite; untouched
    partition files are carried over verbatim; old version time-travels."""
    import os

    from wikipedia_wikidata_spark.sources.catalog import Catalog

    cat = Catalog(str(tmp_path_factory.mktemp("mergecat")))
    base = spark.createDataFrame(
        [("en", 1, "a"), ("en", 2, "b"), ("de", 3, "c"), ("fr", 4, "d")],
        "language string, k long, payload string",
    )
    cat.write(spark, base, "t", "fp1", "r1", partition_by=["language"])

    def files_of(version, part):
        d = os.path.join(cat.path("t"), f"v{version:05d}", f"language={part}")
        return sorted(f for f in os.listdir(d) if f.endswith(".parquet"))

    de_before = files_of(1, "de")
    updates = spark.createDataFrame(
        [("en", 2, "B2"), ("en", 9, "new")], "language string, k long, payload string"
    )
    m = cat.merge(spark, updates, "t", ["language", "k"], "fp2", "r2",
                  partition_by="language")
    assert m["merge_touched_partitions"] == ["en"]
    got = {(r.language, r.k): r.payload for r in cat.read(spark, "t").collect()}
    assert got == {("en", 1): "a", ("en", 2): "B2", ("en", 9): "new",
                   ("de", 3): "c", ("fr", 4): "d"}
    # untouched partition carried over as the SAME files (no rewrite)
    assert files_of(2, "de") == de_before
    # time travel: version 1 still has the pre-merge row
    old = {(r.language, r.k): r.payload
           for r in cat.read(spark, "t", version=1).collect()}
    assert old[("en", 2)] == "b" and ("en", 9) not in old


def test_catalog_merge_rejects_unencodable_partition_values(spark, tmp_path_factory):
    """The carry-over matches raw f'col=value' dir names, so a NULL (Spark
    writes __HIVE_DEFAULT_PARTITION__) or a Hive-escaped value must be
    rejected up front — silently duplicating rows is the failure mode."""
    import pytest

    from wikipedia_wikidata_spark.sources.catalog import Catalog

    cat = Catalog(str(tmp_path_factory.mktemp("mergecat2")))
    base = spark.createDataFrame(
        [("en", 1, "a"), (None, 2, "b")],
        "language string, k long, payload string",
    )
    cat.write(spark, base, "t", "fp1", "r1", partition_by=["language"])
    null_updates = spark.createDataFrame(
        [(None, 2, "B2")], "language string, k long, payload string"
    )
    with pytest.raises(ValueError, match="NULL partition value"):
        cat.merge(spark, null_updates, "t", ["language", "k"], "fp2", "r2",
                  partition_by="language")
    esc_updates = spark.createDataFrame(
        [("e n/x", 3, "c")], "language string, k long, payload string"
    )
    with pytest.raises(ValueError, match="Hive escaping"):
        cat.merge(spark, esc_updates, "t", ["language", "k"], "fp3", "r3",
                  partition_by="language")


def test_catalog_clustered_write_prunes_row_groups(spark, tmp_path_factory):
    """cluster_by (Iceberg SORTED BY analog): range-partition + sort before
    write must produce DISJOINT per-file cell ranges (parquet footer
    min/max), so a cell-range scan skips most files at the reader level —
    the data-locality layout for spatial tables at scale. An unclustered
    write of the same rows leaves every file spanning the full key domain."""
    import glob
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from wikipedia_wikidata_spark.sources.catalog import Catalog

    cat = Catalog(str(tmp_path_factory.mktemp("clustcat")))
    df = (
        spark.range(0, 40000)
        .withColumn("cell", F.pmod(F.xxhash64("id"), F.lit(10000)))
        .withColumn("payload", F.col("id") * 2)
        .repartition(8)  # hash layout: every partition spans all cells
    )
    cat.write(spark, df, "plain", "fp1", "r1")
    # cluster_partitions pinned: under AQE a 40k-row range shuffle coalesces
    # to ONE partition (one file — correct for tiny tables, useless for the
    # layout assertion); at scale AQE keeps many range partitions and the
    # disjointness holds per file exactly as asserted here
    m = cat.write(
        spark, df, "clustered", "fp1", "r1",
        cluster_by=["cell"], cluster_partitions=8,
    )
    assert m["cluster_by"] == ["cell"]

    def ranges(table):
        out = []
        vdir = os.path.join(cat.path(table), "v00001")
        for f in glob.glob(os.path.join(vdir, "*.parquet")):
            md = pq.ParquetFile(f).metadata
            cols = {
                md.row_group(0).column(i).path_in_schema: i
                for i in range(md.row_group(0).num_columns)
            }
            i = cols["cell"]
            mins = [md.row_group(g).column(i).statistics.min
                    for g in range(md.num_row_groups)]
            maxs = [md.row_group(g).column(i).statistics.max
                    for g in range(md.num_row_groups)]
            out.append((min(mins), max(maxs)))
        return sorted(out)

    clustered = ranges("clustered")
    assert len(clustered) > 1
    # disjoint, ordered file ranges when clustered
    for (a_min, a_max), (b_min, b_max) in zip(clustered, clustered[1:]):
        assert a_max < b_min, (clustered,)
    # unclustered hash layout: every file spans ~the whole domain (overlaps)
    plain = ranges("plain")
    overlaps = sum(
        1 for (a_min, a_max), (b_min, b_max) in zip(plain, plain[1:])
        if a_max >= b_min
    )
    assert overlaps == len(plain) - 1

    # rows identical either way, and a range filter is answered correctly
    lo, hi = 100, 200
    want = sorted(
        r["id"] for r in cat.read(spark, "plain")
        .filter(F.col("cell").between(lo, hi)).collect()
    )
    got = sorted(
        r["id"] for r in cat.read(spark, "clustered")
        .filter(F.col("cell").between(lo, hi)).collect()
    )
    assert got == want and len(got) > 0

    # clustered compaction restores the layout after a merge-style rewrite
    m2 = cat.compact(spark, "clustered", 4, "fp2", "r2", cluster_by=["cell"])
    assert m2["compaction"] and m2["cluster_by"] == ["cell"]
    vdir = os.path.join(cat.path("clustered"), "v00002")
    files = glob.glob(os.path.join(vdir, "*.parquet"))
    assert 1 <= len(files) <= 4
    assert cat.read(spark, "clustered").count() == 40000


def test_catalog_expire_snapshots(spark, tmp_path_factory):
    """Retention: all but the newest `keep` versions are deleted, the
    current version survives any keep value, expired time travel fails
    cleanly, and the snapshot listing never poisons."""
    import pytest

    from wikipedia_wikidata_spark.sources.catalog import Catalog

    cat = Catalog(str(tmp_path_factory.mktemp("expirecat")))
    for i in range(5):
        cat.write(spark, spark.range(0, 10 + i), "t", f"fp{i}", f"r{i}")
    assert [m["version"] for m in cat.snapshots("t")] == [1, 2, 3, 4, 5]

    expired = cat.expire_snapshots("t", keep=2)
    assert expired == [1, 2, 3]
    assert [m["version"] for m in cat.snapshots("t")] == [4, 5]
    assert cat.current_version("t") == 5
    assert cat.read(spark, "t").count() == 14          # current intact
    assert cat.read(spark, "t", version=4).count() == 13  # kept sibling
    with pytest.raises(Exception):
        cat.read(spark, "t", version=2).count()        # expired -> gone

    # keep floored at 1 and the current version is never expired
    expired2 = cat.expire_snapshots("t", keep=0)
    assert expired2 == [4]
    assert [m["version"] for m in cat.snapshots("t")] == [5]
    assert cat.read(spark, "t").count() == 14
    # next write continues the version sequence past the expired range
    m = cat.write(spark, spark.range(0, 3), "t", "fp9", "r9")
    assert m["version"] == 6 and cat.read(spark, "t").count() == 3


def test_catalog_compact_small_files(spark, tmp_path_factory):
    import os

    from wikipedia_wikidata_spark.sources.catalog import Catalog

    cat = Catalog(str(tmp_path_factory.mktemp("compcat")))
    df = spark.range(0, 1000).repartition(16)
    cat.write(spark, df, "t", "fp1", "r1")
    m = cat.compact(spark, "t", 2, "fp2", "r2")
    assert m["compaction"] is True and m["rows"] == 1000
    vdir = os.path.join(cat.path("t"), f"v{m['version']:05d}")
    files = [f for f in os.listdir(vdir) if f.endswith(".parquet")]
    assert len(files) == 2
    assert cat.read(spark, "t").count() == 1000
    # persisted manifest carries the compaction marker too
    assert cat.manifest("t")["compaction"] is True


def test_tile_viewport_serves_from_pruned_files(spark, tmp_path_factory):
    """Serving proof for the clustered tiles layout (round-4 verdict item 7):
    a viewport query (one zoom, tile_x range) against the pipeline-shaped
    snapshot (partitioned by zoom, cluster_by zoom/tile_x/tile_y) must
    (a) partition-prune to the one zoom directory — MEASURED: the executed
    FileSourceScan's numFiles metric < the snapshot's total file count,
    (b) push the range predicates into the parquet scan (PushedFilters),
    (c) lay out tile_x DISJOINTLY across the zoom dir's files (footer
    min/max), so a footer-stats planner (Iceberg-style) reads only the
    overlapping file subset — asserted strictly smaller,
    (d) return exactly the full-scan answer."""
    import glob
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from wikipedia_wikidata_spark.operators.tiles import tile_importance, tile_viewport
    from wikipedia_wikidata_spark.sources.catalog import Catalog

    cat = Catalog(str(tmp_path_factory.mktemp("tilecat")))
    pts = (
        spark.range(0, 30000)
        .select(
            (F.pmod(F.xxhash64("id"), F.lit(130_000)) / 1000.0 - 60.0).alias("lat"),
            (F.pmod(F.xxhash64("id", F.lit(1)), F.lit(340_000)) / 1000.0 - 170.0).alias("lon"),
            (F.pmod(F.xxhash64("id", F.lit(2)), F.lit(1000)) / 1000.0).alias("importance"),
        )
    )
    tiles = tile_importance(pts)
    cat.write(
        spark, tiles, "tiles", "fp1", "r1", ["zoom"],
        cluster_by=["zoom", "tile_x", "tile_y"], cluster_partitions=16,
    )
    vdir = os.path.join(cat.path("tiles"), "v00001")
    all_files = glob.glob(os.path.join(vdir, "**", "*.parquet"), recursive=True)
    z10_files = glob.glob(os.path.join(vdir, "zoom=10", "*.parquet"))
    assert len(z10_files) > 1, "need a multi-file zoom dir for the proof"

    snap = cat.read(spark, "tiles")
    vp = dict(zoom=10, x_min=500, x_max=540, y_min=0, y_max=1 << 20)
    res = tile_viewport(snap, **vp)
    got = sorted(
        (r.tile_x, r.tile_y, r.n_entities) for r in res.collect()
    )
    assert got, "viewport must be non-empty"

    # (d) correctness: equals the same filter applied to the source rows
    want = sorted(
        (r.tile_x, r.tile_y, r.n_entities)
        for r in tile_viewport(tiles, **vp).collect()
    )
    assert got == want

    # (a) measured partition pruning: scan read only the zoom=10 files
    def scan_num_files(df):
        node = df._jdf.queryExecution().executedPlan()
        stack = [node]
        while stack:
            n = stack.pop()
            name = n.getClass().getSimpleName()
            if name == "AdaptiveSparkPlanExec":
                stack.append(n.executedPlan())
                continue
            if "FileSourceScan" in name:
                return int(n.metrics().apply("numFiles").value())
            for i in range(n.children().size()):
                stack.append(n.children().apply(i))
        raise AssertionError("no FileSourceScan in executed plan")

    n_read = scan_num_files(res)
    assert n_read <= len(z10_files) < len(all_files), (
        n_read, len(z10_files), len(all_files)
    )

    # (b) range predicates reached the parquet scan
    plan = res._sc._jvm.PythonSQLUtils.explainString(
        res._jdf.queryExecution(), "formatted"
    )
    assert "PushedFilters" in plan and "GreaterThanOrEqual(tile_x,500" in plan, plan

    # (c) zoom-dir files hold disjoint tile_x ranges; the viewport overlaps
    # a strict subset (what a footer-stats planner would schedule)
    ranges = []
    for f in z10_files:
        md = pq.ParquetFile(f).metadata
        cols = {
            md.row_group(0).column(i).path_in_schema: i
            for i in range(md.row_group(0).num_columns)
        }
        i = cols["tile_x"]
        stats = [md.row_group(g).column(i).statistics for g in range(md.num_row_groups)]
        ranges.append((min(s.min for s in stats), max(s.max for s in stats)))
    ranges.sort()
    for (a_min, a_max), (b_min, b_max) in zip(ranges, ranges[1:]):
        assert a_max <= b_min, (ranges,)
    overlapping = [
        r for r in ranges if r[0] <= vp["x_max"] and r[1] >= vp["x_min"]
    ]
    assert 0 < len(overlapping) < len(ranges), (ranges,)
