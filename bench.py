#!/usr/bin/env python3
"""Benchmark entrypoint (driver contract).

perfbench/ (BENCHMARK.json) is the benchmark of record for docs/sec; this
file keeps the suite record of BENCH_r01-r05.json comparable.

`python bench.py` runs the four headline queries at $SPARK_GRAFT_SF_DIR
(default: the sf0.1 corpus) on local[$SPARK_GRAFT_CPUS] (default: every
core) RUNS times, each in a cold subprocess followed by its own host index
(BENCH/calibrate.py legs at local[8]), and prints ONE JSON line with the
per-query medians over the runs whose CPU steal stayed at or below
MAX_RUN_STEAL_PCT, `docs_per_sec` through the spatial job (scan -> extract
-> score -> cell encode -> PIP -> kNN -> tiles, noop sinks), `host_index`
and `suite_over_host_index`.

`python bench.py --scaling` is the N -> 4N check: the spatial job at
local[n/4] and local[n] (n = $SPARK_GRAFT_CPUS) in pinned cold subprocesses
with SCALING_PARTS fixed shuffle partitions, as SCALING_PAIRS lo/hi pairs in
alternating order (AB, BA, AB) so steady host drift lands on both widths.
Each pair's efficiency is (t_lo / t_hi) / (n_hi / n_lo); the value is their
median, and every leg records its CPU steal.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
# the tiny corpus that warms codegen and Python workers before a timed pass
WARM_SF_DIR = os.path.join(os.path.dirname(SF_DIR), "sf0.001")

RUNS = 3
MAX_RUN_STEAL_PCT = 5.0
HOST_INDEX_WIDTH = 8  # local[8]: keeps *_local8_s comparable with r01-r05
SCALING_PAIRS = 3
SCALING_PARTS = 192  # fine tasks smooth stragglers at both widths


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def spatial_job(spark, sf_dir):
    """The north-star job: interleaved corpus -> spatial join + tile assign."""
    from wikipedia_wikidata_spark.operators.spatial import (
        knn_nearest, knn_release, pip_join,
    )
    from wikipedia_wikidata_spark.operators.tiles import tile_importance
    from wikipedia_wikidata_spark.plans.importance import (
        build_scored, geo_places, geo_points,
    )

    sc, v = build_scored(spark, sf_dir)
    ep = geo_points(sc)
    ep.persist()  # materialized by the first consumer; no extra count() job
    _noop(pip_join(ep, v["polygons"].select("item", "verts"), res=5))
    places = geo_places(v["wikidata_places"])
    places.persist()
    # kNN runs the SHIPPED default level ladder (round-1 verdict: the timed
    # job must match the operator default, not a bench-only [13,0] shortcut)
    knn = knn_nearest(ep, places)
    _noop(knn)
    knn_release(knn)
    _noop(tile_importance(ep))
    ep.unpersist()
    places.unpersist()


def run_suite(master: str, sf_dir: str) -> dict:
    """One cold pass over the headline suite; returns per-query seconds."""
    from wikipedia_wikidata_spark.session import get_spark
    from wikipedia_wikidata_spark.sources.synth import ensure_spans_data

    ensure_spans_data(sf_dir)  # corpus generation is not timed
    spark = get_spark("wws-bench", master=master, aqe=False)
    try:
        from wikipedia_wikidata_spark.plans.importance import run_importance
        from wikipedia_wikidata_spark.queries_training import (
            q_dedup_minhash_lsh, q_emb_ann_lsh,
        )

        # warm codegen/Python-UDF workers on the tiny corpus so the timed
        # region measures the job, not JIT (same protocol as --scaling)
        if os.path.normpath(sf_dir) != os.path.normpath(WARM_SF_DIR):
            _noop(run_importance(spark, WARM_SF_DIR))
            spatial_job(spark, WARM_SF_DIR)

        queries = {}
        t0 = time.time()
        _noop(run_importance(spark, sf_dir))
        queries["importance_pipeline"] = round(time.time() - t0, 3)

        t0 = time.time()
        spatial_job(spark, sf_dir)
        queries["spatial_join_tiles"] = round(time.time() - t0, 3)

        t0 = time.time()
        _noop(q_dedup_minhash_lsh(spark, sf_dir))
        queries["dedup_minhash_lsh"] = round(time.time() - t0, 3)

        # scale path, not the brute-force baseline: cosine_topk is a
        # cartesian-shaped BroadcastNestedLoopJoin (exact oracle only); the
        # timed suite must contain no plan that degenerates at 100x data.
        t0 = time.time()
        _noop(q_emb_ann_lsh(spark, sf_dir))
        queries["emb_ann_lsh"] = round(time.time() - t0, 3)
        return queries
    finally:
        spark.stop()


def run_spatial(master: str, sf_dir: str) -> dict:
    """One cold, codegen-warmed pass of the spatial job at SCALING_PARTS."""
    from wikipedia_wikidata_spark.session import get_spark

    n_docs = _corpus_docs(sf_dir)
    spark = get_spark("wws-scaling", master=master,
                      shuffle_partitions=SCALING_PARTS, aqe=False)
    try:
        spatial_job(spark, WARM_SF_DIR)
        t0 = time.time()
        spatial_job(spark, sf_dir)
        dt = time.time() - t0
    finally:
        spark.stop()
    return {"t_spatial_sec": round(dt, 2), "docs_per_sec": round(n_docs / dt, 1),
            "n_docs": n_docs, "master": master}


def _corpus_docs(sf_dir: str) -> int:
    from wikipedia_wikidata_spark.sources.synth import ensure_spans_data

    d = ensure_spans_data(sf_dir)
    import duckdb

    return int(duckdb.connect().execute(
        f"SELECT count(*) FROM read_parquet('{d}/documents.parquet')"
    ).fetchone()[0])


def _cpu_counters() -> tuple[int, int, int] | None:
    """(steal, idle+iowait, total) ticks from /proc/stat. Steal is time a
    vCPU was runnable while the hypervisor ran another tenant."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [int(x) for x in parts[1:]]
        steal = vals[7] if len(vals) > 7 else 0
        idle = vals[3] + (vals[4] if len(vals) > 4 else 0)  # idle + iowait
        return steal, idle, sum(vals)
    except (OSError, ValueError, IndexError):
        return None


def _steal_pct(before, after) -> float | None:
    """Stolen share of DEMANDED cpu: Δsteal / (Δtotal − Δidle−iowait). On a
    mostly idle box a raw Δsteal/Δtotal would hide a large per-core effect."""
    if not before or not after or after[2] <= before[2]:
        return None
    demanded = (after[2] - before[2]) - (after[1] - before[1])
    if demanded <= 0:
        return None
    return round(100.0 * (after[0] - before[0]) / demanded, 2)


def _pin(cmd: list[str], n: int) -> list[str]:
    """`cmd` pinned by taskset to the top min(n, nproc) cores: the whole
    process tree (executor, JVM GC/JIT and Python worker threads) then runs
    on them, away from the low cores that system daemons favour."""
    if not shutil.which("taskset"):
        return cmd
    total = os.cpu_count() or 1
    n = max(1, min(n, total))
    return ["taskset", "-c", f"{total - n}-{total - 1}", *cmd]


def _run_json(cmd: list[str], timeout: float | None = None) -> dict:
    """Run `cmd` and parse the JSON object on its last stdout line."""
    r = subprocess.run(cmd, capture_output=True, text=True, check=True,
                       timeout=timeout)
    return json.loads(r.stdout.strip().splitlines()[-1])


def run_bench(master: str, sf_dir: str) -> dict:
    """Median of RUNS cold suite passes, each paired with its host index."""
    n_docs = _corpus_docs(sf_dir)  # also pre-generates the corpus, untimed
    samples: list[dict] = []
    indices: list[dict] = []
    steals: list[float | None] = []
    # Each suite pass is followed by its own host-index legs: a suite pass
    # and its calibration share one host state, so their RATIO stays put
    # when the VM's absolute speed moves between runs.
    for _ in range(RUNS):
        c0 = _cpu_counters()
        samples.append(_run_json(
            [sys.executable, __file__, "--suite-json", master, sf_dir]))
        steals.append(_steal_pct(c0, _cpu_counters()))
        hi = _host_index()
        if hi:
            indices.append(hi)
    # A run whose own steal stamp exceeds the threshold measures the noisy
    # neighbour, not the engine (111 s at 34% steal vs 26.8 s at 1.8% on
    # identical code and data); every run stays in the record for audit.
    clean_idx = [
        i for i, sp in enumerate(steals) if sp is None or sp <= MAX_RUN_STEAL_PCT
    ]
    all_polluted = not clean_idx
    if all_polluted:
        clean_idx = list(range(len(samples)))
    picked = [samples[i] for i in clean_idx]
    queries = {
        k: round(statistics.median(s[k] for s in picked), 3)
        for k in samples[0]
    }
    total = round(sum(queries.values()), 3)
    from wikipedia_wikidata_spark.config import sf_of

    out = {
        "metric": "headline_suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "sf": sf_of(sf_dir),  # handles spans_* dirs and suffixed names too
        "n_docs": n_docs,
        "docs_per_sec": round(n_docs / queries["spatial_join_tiles"], 1),
        "master": master,
        "runs": len(samples),
        "clean_runs": 0 if all_polluted else len(clean_idx),
        "totals": [round(sum(s.values()), 3) for s in samples],
    }
    if all_polluted:
        out["all_runs_polluted"] = True  # fell back to all-runs medians
    if indices and len(indices) == len(samples):
        ratios = [
            round(sum(s.values()) / h["composite_s"], 3)
            for s, h in zip(samples, indices)
        ]
        # median per-run ratio over the same clean subset; the last index
        # is also kept whole for absolute-seconds context
        out["host_index"] = indices[-1]
        out["host_index_per_run"] = [h["composite_s"] for h in indices]
        out["ratios_per_run"] = ratios
        out["suite_over_host_index"] = round(
            statistics.median(ratios[i] for i in clean_idx), 3)
    if any(s is not None for s in steals):
        out["cpu_steal_pct_per_run"] = steals
    return out


def _host_index() -> dict | None:
    """Same-moment host speed index: BENCH/calibrate.py's codegen and
    shuffle legs at local[8], pinned to the top `pinned_cores` =
    min(8, nproc) cores. Suite seconds / composite_s stays comparable when
    the VM's absolute speed moves. None when calibration fails."""
    calib = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH", "calibrate.py"
    )
    out: dict = {"pinned_cores": min(HOST_INDEX_WIDTH, os.cpu_count() or 1)}
    try:
        for kind in ("codegen", "shuffle"):
            cmd = [sys.executable, calib, "--leg", kind, str(HOST_INDEX_WIDTH)]
            t = _run_json(_pin(cmd, HOST_INDEX_WIDTH), timeout=900)["t"]
            out[f"{kind}_local8_s"] = round(t, 2)
    except (OSError, subprocess.SubprocessError, ValueError, KeyError):
        return None
    out["composite_s"] = round(
        out["codegen_local8_s"] + out["shuffle_local8_s"], 2
    )
    return out


def _scaling_leg(n: int, sf_dir: str) -> dict:
    """One pinned cold `--spatial-only` subprocess at local[n], steal-stamped."""
    cmd = [sys.executable, __file__, "--spatial-only", f"local[{n}]", sf_dir]
    c0 = _cpu_counters()
    out = _run_json(_pin(cmd, n))
    out["cpu_steal_pct"] = _steal_pct(c0, _cpu_counters())
    return out


def run_scaling(sf_dir: str) -> dict:
    """SCALING_PAIRS alternating (local[CPUS/4], local[CPUS]) leg pairs."""
    n_lo, n_hi = max(1, CPUS // 4), CPUS
    samples: list[dict] = []
    legs: list[dict] = []
    for i in range(SCALING_PAIRS):
        order = "AB" if i % 2 == 0 else "BA"
        t = {}
        for n in ((n_lo, n_hi) if order == "AB" else (n_hi, n_lo)):
            leg = _scaling_leg(n, sf_dir)
            legs.append({"n": n, **leg})
            t[n] = leg["t_spatial_sec"]
        samples.append({
            "order": order,
            f"t_local{n_lo}_sec": t[n_lo],
            f"t_local{n_hi}_sec": t[n_hi],
            "efficiency": round((t[n_lo] / t[n_hi]) / (n_hi / n_lo), 3),
        })
    return {
        "metric": "scaling_efficiency", "unit": "ratio", "sf_dir": sf_dir,
        "parts": SCALING_PARTS,
        "headline_pair": f"{n_lo},{n_hi}",
        "value": statistics.median(s["efficiency"] for s in samples),
        "samples": samples,
        "legs": legs,
        "n_docs": legs[0]["n_docs"],
    }


def main():
    if "--scaling" in sys.argv:
        print(json.dumps(run_scaling(SF_DIR)))
    elif "--spatial-only" in sys.argv:
        i = sys.argv.index("--spatial-only")
        print(json.dumps(run_spatial(sys.argv[i + 1], sys.argv[i + 2])))
    elif "--suite-json" in sys.argv:
        i = sys.argv.index("--suite-json")
        print(json.dumps(run_suite(sys.argv[i + 1], sys.argv[i + 2])))
    else:
        print(json.dumps(run_bench(f"local[{CPUS}]", SF_DIR)))


if __name__ == "__main__":
    main()
