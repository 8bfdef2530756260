#!/usr/bin/env python3
"""Mega-cell skew evidence for the salted PIP join (round-3 verdict item 1).

The north_rule requires skew "handled explicitly"; pip_join ships a salting
mechanism (operators/spatial.py) and the pipeline now picks its salt from
measured per-cell histograms (suggest_pip_salt). This script produces the
EVIDENCE that salting flattens the straggler tail on a mega-cell-skewed
corpus — the analog of en's 19% output share in the reference
(/root/reference/README.md:75-77) — by timing the same join salted vs
unsalted and recording the PER-TASK DURATION distribution of the dominant
stage from Spark's status REST API.

Corpus (deterministic, seed 42, no external data — BASELINE.json input_hint):
- N points (default 2,000,000): 50% packed into ONE res-5 cell (a ~0.02-deg
  urban box), 50% uniform over [-60, 60].
- 24 polygons overlapping the hot cell + 200 scattered elsewhere
  (12-gon rings) — so the hot cell's candidate pairs (~1e6 x 24) land on a
  single shuffle key unless salted.

Protocol: each leg runs in a FRESH subprocess (cold JVM, like bench.py);
local[8] x 64 shuffle partitions, AQE OFF for both legs so the comparison
isolates the salting mechanism (AQE skew-join splits are a second,
orthogonal defense and are ON in the shipped session defaults). The salt is
NOT hand-picked: the leg calls suggest_pip_salt and uses what the
diagnostics recommend.

Broadcast is DISABLED (autoBroadcastJoinThreshold=-1): this bench models
the at-scale regime. At toy scale Catalyst broadcasts the 224-polygon
coverage side and the PIP join runs as a BroadcastHashJoin inside the point
scan — no shuffle on the cell key, so single-key skew physically cannot
form (measured here: unsalted == salted wall within noise with broadcast
on). At 10^12 documents the polygon/coverage side is far past any broadcast
threshold and the join IS a shuffle join on (cell_x, cell_y) — one reducer
task owns the mega-cell key. That is the straggler salting exists for.

Output: one JSON line with per-leg wall seconds, the dominant stage's task
duration quantiles (p50/p75/p95/p99/max), straggler ratio (max/p50), and
the measured skew stats + chosen salt.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_POINTS = int(os.environ.get("SKEW_BENCH_POINTS", "2000000"))
HOT_FRACTION = 0.5
UI_PORT = 4071
DATA_DIR = os.environ.get(
    "SKEW_BENCH_DATA", "/tmp/wws_skew_bench_data"
)


def make_corpus() -> None:
    """Deterministic skewed corpus -> parquet (untimed; reused across legs)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(DATA_DIR, exist_ok=True)
    pts_path = os.path.join(DATA_DIR, f"points_{N_POINTS}.parquet")
    poly_path = os.path.join(DATA_DIR, "polygons.parquet")
    if os.path.exists(pts_path) and os.path.exists(poly_path):
        return
    rng = np.random.default_rng(42)
    n_hot = int(N_POINTS * HOT_FRACTION)
    # hot box [10.0, 10.02]^2 sits inside one res-5 cell (~0.044 deg): cell
    # boundaries at k*180/4096; 10.0 is inside [9.975, 10.019] -> keep the
    # box within [10.0, 10.018] to stay in a single cell
    hot_lat = rng.uniform(10.0, 10.018, n_hot)
    hot_lon = rng.uniform(10.0, 10.018, n_hot)
    cold_lat = rng.uniform(-60, 60, N_POINTS - n_hot)
    cold_lon = rng.uniform(-60, 60, N_POINTS - n_hot)
    lat = np.concatenate([hot_lat, cold_lat])
    lon = np.concatenate([hot_lon, cold_lon])
    pq.write_table(
        pa.table({
            "point_id": pa.array(np.arange(N_POINTS), type=pa.int64()),
            "lat": pa.array(lat, type=pa.float64()),
            "lon": pa.array(lon, type=pa.float64()),
        }),
        pts_path,
        row_group_size=65536,
    )

    def ring(cy, cx, r, k=12):
        ang = np.linspace(0, 2 * np.pi, k, endpoint=False)
        return [
            {"lat": float(cy + r * np.sin(a)), "lon": float(cx + r * np.cos(a))}
            for a in ang
        ]

    polys = []
    for i in range(24):  # hot-cell polygons: candidate-pair amplifiers
        cy = rng.uniform(10.002, 10.016)
        cx = rng.uniform(10.002, 10.016)
        polys.append(("HOT%03d" % i, ring(cy, cx, rng.uniform(0.004, 0.012))))
    for i in range(200):  # background polygons
        cy = rng.uniform(-59, 59)
        cx = rng.uniform(-59, 59)
        polys.append(("BG%04d" % i, ring(cy, cx, rng.uniform(0.02, 0.08))))
    vert_t = pa.list_(pa.struct([("lat", pa.float64()), ("lon", pa.float64())]))
    pq.write_table(
        pa.table({
            "item": pa.array([p[0] for p in polys], type=pa.string()),
            "verts": pa.array([p[1] for p in polys], type=vert_t),
        }),
        poly_path,
    )


def _rest(app_id: str, path: str):
    url = f"http://localhost:{UI_PORT}/api/v1/applications/{app_id}{path}"
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.loads(r.read())


def run_leg(salted: bool) -> dict:
    from pyspark.sql import SparkSession

    from wikipedia_wikidata_spark.operators.spatial import (
        pip_join, suggest_pip_salt,
    )

    spark = (
        SparkSession.builder.appName("wws-skew-bench")
        .master("local[8]")
        .config("spark.sql.shuffle.partitions", "64")
        .config("spark.sql.adaptive.enabled", "false")
        # model the at-scale shuffle-join regime (see module docstring)
        .config("spark.sql.autoBroadcastJoinThreshold", "-1")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", str(UI_PORT))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    try:
        pts = spark.read.parquet(
            os.path.join(DATA_DIR, f"points_{N_POINTS}.parquet")
        )
        polys = spark.read.parquet(os.path.join(DATA_DIR, "polygons.parquet"))
        # measured diagnostics pick the salt (untimed: it is a pre-job
        # scalar diagnostic in the shipped pipeline too)
        salt, stats = suggest_pip_salt(pts)
        app_id = spark.sparkContext.applicationId
        pre = {
            s["stageId"] for s in _rest(app_id, "/stages?status=complete")
        }
        t0 = time.time()
        out = pip_join(pts, polys, salt=salt if salted else 1)
        n_pairs = out.count()
        wall = time.time() - t0
        # per-task duration quantiles of the TIMED job's stages only (the
        # diagnostic job's stages are excluded via the pre-timed id set)
        stages = [
            s for s in _rest(app_id, "/stages?status=complete")
            if s["stageId"] not in pre
        ]
        stages.sort(key=lambda s: -s.get("executorRunTime", 0))
        qs = [0.0, 0.5, 0.75, 0.95, 0.99, 1.0]
        tops = []
        for s in stages[:3]:
            summ = _rest(
                app_id,
                f"/stages/{s['stageId']}/{s['attemptId']}/taskSummary"
                f"?quantiles={','.join(str(q) for q in qs)}",
            )
            dur = [round(x / 1000.0, 2) for x in summ["duration"]]
            tops.append({
                "stage_id": s["stageId"],
                "num_tasks": s["numTasks"],
                "executor_run_time_sec": round(s["executorRunTime"] / 1000.0, 2),
                "task_duration_sec": dict(zip(
                    ["min", "p50", "p75", "p95", "p99", "max"], dur
                )),
                "straggler_ratio_max_over_p50": (
                    round(dur[-1] / dur[1], 1) if dur[1] > 0 else None
                ),
            })
        return {
            "salted": salted,
            "salt_used": salt if salted else 1,
            "suggested_salt": salt,
            "skew_stats": {
                k: stats[k] for k in ("n_keys", "max_count", "p99", "skew_ratio")
            },
            "n_result_pairs": n_pairs,
            "wall_sec": round(wall, 2),
            "top_stages": tops,
        }
    finally:
        spark.stop()


def main():
    if "--leg" in sys.argv:
        salted = sys.argv[sys.argv.index("--leg") + 1] == "salted"
        make_corpus()
        print(json.dumps(run_leg(salted)))
        return
    make_corpus()  # untimed, shared by both legs
    legs = {}
    for name in ("unsalted", "salted"):
        r = subprocess.run(
            [sys.executable, __file__, "--leg", name],
            capture_output=True, text=True, check=True,
        )
        legs[name] = json.loads(r.stdout.strip().splitlines()[-1])
    assert legs["salted"]["n_result_pairs"] == legs["unsalted"]["n_result_pairs"]
    print(json.dumps({
        "metric": "pip_join_mega_cell_skew",
        "n_points": N_POINTS,
        "hot_fraction": HOT_FRACTION,
        "master": "local[8]",
        "shuffle_partitions": 64,
        "aqe": False,
        "speedup_salted": round(
            legs["unsalted"]["wall_sec"] / legs["salted"]["wall_sec"], 2
        ),
        "legs": legs,
    }))


if __name__ == "__main__":
    main()
