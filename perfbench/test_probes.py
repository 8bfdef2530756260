"""Self-tests of the benchmark's measurement helpers.

    python3 -m pytest perfbench/test_probes.py -q

The last test starts a small local Spark session (about 15 s).
"""

from __future__ import annotations

import os

import pytest

from perfbench import probes

STAT = """cpu  100 5 50 800 10 1 2 40 7 0
cpu0 50 2 25 400 5 0 1 20 3 0
intr 12345
"""


def test_cpu_line_and_steal_share():
    before = probes.parse_cpu_line(STAT)
    assert before["steal"] == 40 and before["guest"] == 7
    after = dict(before, user=before["user"] + 60, idle=before["idle"] + 30,
                 steal=before["steal"] + 10, guest=before["guest"] + 5)
    # guest ticks sit inside user already: total = 60 + 30 + 10
    assert probes.steal_pct(before, after) == pytest.approx(10.0)
    assert probes.steal_pct(before, before) == 0.0


def test_pid_stat_with_parentheses_in_name():
    fields = ["S", "17"] + ["0"] * 9 + ["300", "200", "50", "25"] + ["0"] * 30
    text = "4242 (java (main) x) " + " ".join(fields)
    assert probes.parse_pid_stat(text) == (17, 575)


def test_tree_cpu_sums_descendants_only(tmp_path):
    def proc(pid, ppid, ticks):
        d = tmp_path / str(pid)
        d.mkdir()
        fields = ["S", str(ppid)] + ["0"] * 9 + [str(ticks), "0", "0", "0"]
        (d / "stat").write_text(f"{pid} (p) " + " ".join(fields))

    proc(10, 1, 100)    # root
    proc(11, 10, 50)    # child
    proc(12, 11, 25)    # grandchild
    proc(13, 1, 1000)   # unrelated
    (tmp_path / "self").mkdir()
    got = probes.tree_cpu_s(10, proc_dir=str(tmp_path))
    assert got == pytest.approx(175 / probes.CLK_TCK)


@pytest.mark.parametrize("n,want", [
    (0, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (100, 90.0),
    (200, 95.0), (1000, 99.0), (2000, 99.5), (10000, 99.9),
])
def test_tail_percentile_leaves_ten_beyond(n, want):
    assert probes.tail_percentile(n) == want


def test_percentile_interpolates():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert probes.percentile(xs, 50.0) == 2.5
    assert probes.percentile(xs, 100.0) == 4.0
    assert probes.percentile(xs, 0.0) == 1.0


def test_digest_ignores_order_and_integral_float_spelling():
    rows = [("en", "A", 3, None), ("de", "B", 1, "Q1")]
    n, d = probes.canonical_digest(rows)
    assert n == 2
    assert probes.canonical_digest(list(reversed(rows)))[1] == d
    assert probes.canonical_digest(
        [("en", "A", 3.0, float("nan")), ("de", "B", 1.0, "Q1")])[1] == d
    assert probes.canonical_digest([("en", "A", 4, None), rows[1]])[1] != d
    # a multiset: a duplicated row changes the digest
    assert probes.canonical_digest(rows + rows[:1])[1] != d


def test_self_time_subtracts_children():
    sp = probes.Spans(True)
    root = sp.add("pass", 0.0, 10.0, None)
    sp.add("a", 1.0, 4.0, root["id"])
    sp.add("b", 3.0, 6.0, root["id"])  # overlaps a: union covers 1..6
    sp.add("c", 12.0, 13.0, None)
    st = sp.self_times()
    assert st[root["id"]] == pytest.approx(5.0)
    assert st[1] == pytest.approx(3.0) and st[2] == pytest.approx(3.0)


def test_leaf_coverage_ignores_enclosing_spans():
    sp = probes.Spans(True)
    sp.pass_id = 0
    root = sp.add("pass", 0.0, 10.0, None)
    mid = sp.add("pipeline", 0.0, 10.0, root["id"])  # encloses, not a layer leaf
    sp.add("a", 1.0, 4.0, mid["id"])
    sp.add("b", 3.0, 6.0, mid["id"])
    sp.add("c", 8.0, 11.0, root["id"])  # clipped to the pass: 8..10
    assert sp.leaf_coverage(0) == pytest.approx(0.7)


def test_disabled_spans_record_nothing():
    sp = probes.Spans(False)
    with sp.span("x") as rec:
        assert rec is None
    assert sp.spans == []


@pytest.fixture(scope="module")
def spark():
    from perfbench import run

    run.configure_env()
    from wikipedia_wikidata_spark.session import get_spark

    s = get_spark("perfbench-tests", master="local[2]", shuffle_partitions=4,
                  aqe=False)
    yield s
    s.stop()


def test_status_store_sums_a_known_job(spark):
    from pyspark.sql import functions as F

    df = spark.range(0, 1000, 1, 4).withColumn("k", F.col("id") % 10)
    sp = probes.Spans(True)
    with sp.span("agg", spark) as rec:
        agg = probes.digest_frame(df.groupBy("k").count())
        n, _, _ = probes.collect_digest(agg)
    assert n == 10
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup(rec["group"])
    sums = probes.stage_sums(spark, ids)
    assert sums["jobs"] == len(ids) >= 1
    # range(4 partitions) -> partial agg -> shuffle (k) -> final agg
    assert sums["stages"] >= 2
    assert sums["task_s"] > 0 and sums["shuffle_w_bytes"] > 0
    assert sums["shuffle_r_bytes"] == sums["shuffle_w_bytes"]
    assert sums["task_skew"] >= 1.0
    # jobs outside the group are not counted
    spark.range(10).count()
    assert probes.stage_sums(spark, ids) == sums
    # the digest does not depend on row order or partitioning
    again = probes.collect_digest(probes.digest_frame(
        df.groupBy("k").count().repartition(3).orderBy(F.desc("k"))))
    assert again == probes.collect_digest(agg)


def test_cpu_of_own_tree_grows(spark):
    before = probes.tree_cpu_s(os.getpid())
    spark.range(0, 3_000_000, 1, 2).selectExpr("sum(id * id)").collect()
    assert probes.tree_cpu_s(os.getpid()) > before


def test_metric_names_and_units_match_benchmark_json():
    import json

    from perfbench import run

    with open(os.path.join(run.REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert e2e == run.END_TO_END
    rec = {"passes": [{"wall_s": 2.0, "layers": {"pass": {"wall_s": 0.1}}}],
           "start_s": 1.0, "warmup_s": 1.0, "steal_pct": 0.5, "loadavg": 1.0,
           "docs_per_s": 10.0}
    got = {k: u for k, (_, u) in run.per_layer_metrics(rec).items()}
    assert got == {m["name"]: m["unit"] for m in spec["per_layer"]}
