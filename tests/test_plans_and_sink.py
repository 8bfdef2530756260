"""Physical-plan quality checks (the 100-TB design criteria) + TSV sink."""

import os
import re

from pyspark.sql import functions as F

from wikipedia_wikidata_spark.plans.importance import run_importance
from wikipedia_wikidata_spark.plans.pipeline import run_pipeline
from wikipedia_wikidata_spark.sinks import read_importance_tsv, write_importance_tsv
from wikipedia_wikidata_spark.sources.catalog import Catalog

from .conftest import SF_DIR_SMALL


def _plan(df) -> str:
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def test_driver_table_scan_pushdown(spark):
    """Filters/column pruning must reach the parquet scan on flat tables."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    q = docs.filter(F.col("lang") == "en").select("doc_id", "n_chars")
    p = _plan(q)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in p, p
    m = re.search(r"ReadSchema: ([^\n]*)", p)
    assert m and "text" not in m.group(1), "column pruning failed: " + m.group(1)


def test_spans_checkpoint_partition_pruning(spark, tmp_path_factory):
    """The pipeline's kind-partitioned spans_flat checkpoint must give
    partition pruning for per-kind extractors (the scale answer to nested-
    column scans)."""
    out = str(tmp_path_factory.mktemp("pruning"))
    run_pipeline(spark, SF_DIR_SMALL, out)
    sp = Catalog(out).read(spark, "spans_flat")
    q = sp.filter(F.col("kind") == "page").select("language", "text")
    p = _plan(q)
    assert "PartitionFilters" in p and "kind" in p.split("PartitionFilters", 1)[1][:200], p


def test_importance_uses_broadcast_joins(spark):
    """Small dims (levels, 1-row max) must broadcast, not shuffle."""
    from wikipedia_wikidata_spark.plans.importance import session_graph

    p = _plan(session_graph(spark, SF_DIR_SMALL).build("scored"))
    assert "BroadcastHashJoin" in p, p
    # the scalar-max denominator must NOT be a driver collect: it appears as a
    # broadcast nested-loop (cross) join in-plan
    assert "BroadcastNestedLoopJoin" in p, p


def test_importance_serving_plan_reads_scored_checkpoint(spark):
    """wikimedia_importance is a diamond DAG over `scored` (3 references);
    the serving plan must read the session checkpoint — ZERO ArrowEvalPython
    (the importance UDF runs once, in the checkpoint write) and no repeated
    evaluation of the 10-join scored subtree."""
    p = _plan(run_importance(spark, SF_DIR_SMALL))
    assert "ArrowEvalPython" not in p, p
    assert "wws_scored_" in p, p


def test_scored_session_checkpoint_is_one_catalog_table_per_key(spark):
    """build_scored commits its checkpoint once per SparkContext and key as
    a session-catalog table: a second call reads the committed version, and
    a different language set gets a table of its own."""
    from urllib.parse import urlparse

    from wikipedia_wikidata_spark.plans.importance import build_scored
    from wikipedia_wikidata_spark.sources.catalog import session_catalog

    cat = session_catalog(spark)

    def table_of(df) -> str:
        (t,) = {
            os.path.relpath(urlparse(f).path, cat.root).split(os.sep)[0]
            for f in df.inputFiles()
        }
        return t

    first, _ = build_scored(spark, SF_DIR_SMALL)
    again, _ = build_scored(spark, SF_DIR_SMALL)
    t = table_of(first)
    assert t.startswith("wws_scored_") and table_of(again) == t
    assert [m["version"] for m in cat.snapshots(t)] == [1]
    assert cat.manifest(t)["rows"] == again.count()

    other, _ = build_scored(spark, SF_DIR_SMALL, ["en", "de"])
    t2 = table_of(other)
    assert t2.startswith("wws_scored_") and t2 != t
    assert [m["version"] for m in cat.snapshots(t2)] == [1]


def test_whole_stage_codegen_in_extraction(spark):
    from wikipedia_wikidata_spark.operators.extract import extract_views_shared

    v = extract_views_shared(spark, SF_DIR_SMALL)
    p = _plan(v["page"])
    assert "codegen id" in p, p  # '* Project [codegen id : 1]' spans the stage


def test_scale_paths_have_no_cartesian_plans(spark):
    """The scale-path operators must contain no BroadcastNestedLoopJoin /
    CartesianProduct: ANN, PIP join, kNN, and the LSH dedup are all
    equi-join shaped (the round-1 brute-force cosine was the one offender
    and is now exact-baseline-only)."""
    from wikipedia_wikidata_spark.operators.dedup import (
        augment_docs, minhash_candidates,
    )
    from wikipedia_wikidata_spark.operators.extract import extract_views_shared
    from wikipedia_wikidata_spark.operators.similarity import ann_lsh_topk
    from wikipedia_wikidata_spark.operators.spatial import knn_nearest, pip_join

    v = extract_views_shared(spark, SF_DIR_SMALL)
    # lineage-free point set (geo view only): the importance lineage would
    # legitimately contribute its 1-row scalar-max broadcast cross join,
    # which is not what this test inspects
    pts = v["geo_tags"].select(
        F.lit("en").alias("language"),
        F.col("gt_page_id").alias("title"),
        F.col("gt_lat").alias("lat"),
        F.col("gt_lon").alias("lon"),
    )
    emb = spark.read.parquet(f"{SF_DIR_SMALL}/embeddings.parquet")
    docs = spark.read.parquet(f"{SF_DIR_SMALL}/documents.parquet")
    plans = {
        "ann": _plan(ann_lsh_topk(emb, n_planes=4)),
        "pip": _plan(pip_join(pts, v["polygons"].select("item", "verts"))),
        "knn": _plan(
            knn_nearest(pts, pts.select(F.col("title").alias("item"), "lat", "lon"))
        ),
        "minhash": _plan(minhash_candidates(augment_docs(docs))),
    }
    for name, p in plans.items():
        assert "BroadcastNestedLoopJoin" not in p, name
        assert "CartesianProduct" not in p, name


def test_tsv_sink_roundtrip(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("tsv") / "wikimedia_importance.tsv.gz")
    wmi = run_importance(spark, SF_DIR_SMALL)
    write_importance_tsv(wmi, out)
    rows = read_importance_tsv(out)
    assert rows[0] == ["language", "type", "title", "importance", "wikidata_id"]
    body = rows[1:]
    assert len(body) == wmi.count()
    # order: language block sizes descending, then type, then title
    from collections import Counter

    sizes = Counter(r[0] for r in body)
    key = [(-sizes[r[0]], r[1], r[2]) for r in body]
    assert key == sorted(key)
    assert all(r[1] in ("a", "r") for r in body)


def test_tsv_sink_raw_quotes(spark, tmp_path_factory):
    """Quoting must be DISABLED: a title containing '\"' is emitted raw (the
    reference's COPY TO STDOUT never quotes), and the 1e-10 floor renders in
    repr form."""
    import gzip

    out = str(tmp_path_factory.mktemp("tsvq") / "x.tsv.gz")
    df = spark.createDataFrame(
        [("en", "a", '"Weird_Al"_Yankovic', 0.5, "Q100"),
         ("en", "a", "Plain", 1e-10, "Q101")],
        "language string, type string, title string, importance double, wikidata_id string",
    )
    write_importance_tsv(df, out)
    with gzip.open(out, "rt") as f:
        body = f.read().splitlines()[1:]
    assert body == [
        'en\ta\t"Weird_Al"_Yankovic\t0.5\tQ100',
        "en\ta\tPlain\t1e-10\tQ101",
    ]


def test_tsv_sink_raises_on_tab_in_title(spark, tmp_path_factory):
    """The raw-quoting invariant's guard must FAIL LOUDLY, not corrupt: a
    tab-bearing title under unquoted emission would silently shift every
    downstream column; sinks.py raises inside the write job instead."""
    import os

    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    out = str(tmp_path_factory.mktemp("tsvg") / "x.tsv.gz")
    df = spark.createDataFrame(
        [("en", "a", "Tab\there", 0.5, "Q100"),
         ("en", "a", "Plain", 0.25, "Q101")],
        "language string, type string, title string, importance double, wikidata_id string",
    )
    with pytest.raises(SparkRuntimeException) as exc:
        write_importance_tsv(df, out)
    assert "title contains tab/newline" in str(exc.value)
    assert not os.path.exists(out)  # nothing promoted to the final path


def test_jsonl_sink_roundtrip_and_determinism(spark, tmp_path_factory, monkeypatch):
    """Sharded gzip JSONL export: schema-declared read-back returns the
    exact row set, and (shard, pos)-ordered writes are byte-deterministic
    under a different input partitioning (Java GZIPOutputStream writes
    MTIME=0, so content determinism is file-byte determinism)."""
    import glob
    import hashlib

    from wikipedia_wikidata_spark import sinks
    from wikipedia_wikidata_spark.operators.sampling import shard_shuffle
    from wikipedia_wikidata_spark.sinks import (
        read_training_jsonl,
        write_training_jsonl,
    )

    monkeypatch.setattr(sinks, "JSONL_SHARDS", 4)

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sharded = shard_shuffle(docs, "doc_id", 4)
    schema = ("doc_id long, text string, lang string, source string,"
              " n_chars long, shard long, pos long")

    def digests(path):
        out = write_training_jsonl(sharded_in, str(path))
        files = sorted(glob.glob(f"{out}/part-*.json.gz"))
        return sorted(
            hashlib.md5(open(f, "rb").read()).hexdigest() for f in files
        )

    sharded_in = sharded
    d1 = tmp_path_factory.mktemp("jsonl1")
    h1 = digests(d1)
    back = read_training_jsonl(spark, str(d1), schema)
    assert back.count() == docs.count()
    a = {tuple(r) for r in back.select("doc_id", "text", "shard", "pos").collect()}
    b = {tuple(r) for r in sharded.select("doc_id", "text", "shard", "pos").collect()}
    assert a == b
    sharded_in = shard_shuffle(docs.repartition(7), "doc_id", 4)
    d2 = tmp_path_factory.mktemp("jsonl2")
    h2 = digests(d2)
    # hash-partitioning 8 shard values into 4 partitions can leave a
    # partition empty (no file is written for it) — the determinism claim
    # is h1 == h2, not the file count
    assert h1 == h2 and len(h1) >= 2
