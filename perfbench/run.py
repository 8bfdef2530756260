#!/usr/bin/env python3
"""Benchmark of the spatial importance engine.

    python3 perfbench/run.py --workload batch_sf0.1 --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the per-layer ones, and the
run's spans plus Spark status-store sums go to .bench_work/records/.
Everything the benchmark writes stays under .bench_work/ in the checkout.
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import time

T_PROC = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(REPO, ".bench_work")
PREPARE_TIMEOUT_S = 840

END_TO_END = {
    "docs_per_s": "docs/s", "cpu_s_per_kdoc": "s", "setup_s": "s",
    "ok_share": "ratio",
}


def configure_env() -> None:
    """Keep Spark, the JVM, Python workers and DuckDB inside the checkout."""
    import tempfile

    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p)
    # -XX:-UsePerfData: no /tmp/hsperfdata file from the launcher or driver JVM
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "{jvm_opts}" '
        f"--conf spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')} "
        "pyspark-shell"
    )
    if REPO not in sys.path:
        sys.path.insert(0, REPO)


def n_cpus() -> int:
    return len(os.sched_getaffinity(0))


class Ctx:
    def __init__(self, args):
        self.work = WORK
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.pid = os.getpid()
        self.master = f"local[{n_cpus()}]"

    @staticmethod
    def stop_gateway() -> None:
        """Stop the JVM this process started and wait for it to exit: it
        leaves when its stdin (a pipe from this process) closes."""
        from py4j.protocol import Py4JError
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Py4JError:  # the JVM side may already be gone
            pass
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _median_layers(passes: list[dict]) -> dict[str, dict[str, float]]:
    keys = {(layer, k) for p in passes for layer, d in p.get("layers", {}).items()
            for k in d}
    out: dict[str, dict[str, float]] = {}
    for layer, k in keys:
        vals = [p["layers"].get(layer, {}).get(k, 0) for p in passes]
        out.setdefault(layer, {})[k] = statistics.median(vals)
    return out


def per_layer_metrics(rec: dict) -> dict[str, tuple[float, str]]:
    """Every per-layer metric, by name with its unit. A layer the workload
    does not run reports 0."""
    L = _median_layers(rec["passes"])

    def g(layer, key):
        return float(L.get(layer, {}).get(key, 0))

    cat = rec.get("catalog", {})
    m = {
        "session.start_s": (rec["start_s"], "s"),
        "session.warmup_s": (rec["warmup_s"], "s"),
        "host.steal_pct": (rec["steal_pct"], "%"),
        "host.loadavg_1m": (rec["loadavg"], "load"),
        "trace.docs_per_s": (rec["docs_per_s"], "docs/s"),
        "trace.layer_coverage": (g("trace", "coverage"), "ratio"),
        "extract.wall_s": (g("extract", "wall_s"), "s"),
        "extract.task_s": (g("extract", "task_s"), "s"),
        "extract.shuffle_w_bytes": (g("extract", "shuffle_w_bytes"), "bytes"),
        "extract.rows_out": (g("extract", "records_written"), "count"),
        "importance.wall_s": (g("importance", "wall_s"), "s"),
        "importance.task_s": (g("importance", "task_s"), "s"),
        "importance.shuffle_r_bytes": (g("importance", "shuffle_r_bytes"), "bytes"),
        "importance.shuffle_w_bytes": (g("importance", "shuffle_w_bytes"), "bytes"),
        "importance.spill_bytes": (g("importance", "spill_bytes"), "bytes"),
        "importance.rows_out": (g("importance", "rows_out"), "count"),
        "cells.wall_s": (g("cells", "wall_s"), "s"),
        "cells.task_s": (g("cells", "task_s"), "s"),
        "pip.wall_s": (g("pip", "wall_s"), "s"),
        "pip.task_s": (g("pip", "task_s"), "s"),
        "pip.shuffle_r_bytes": (g("pip", "shuffle_r_bytes"), "bytes"),
        "pip.task_skew": (g("pip", "task_skew"), "ratio"),
        "pip.probe_rows": (g("pip", "probe_rows"), "count"),
        "pip.pairs_out": (g("pip", "rows_out"), "count"),
        "knn.wall_s": (g("knn", "wall_s"), "s"),
        "knn.task_s": (g("knn", "task_s"), "s"),
        "knn.jobs": (g("knn", "jobs"), "count"),
        "knn.rows_out": (g("knn", "rows_out"), "count"),
        "tiles.wall_s": (g("tiles", "wall_s"), "s"),
        "tiles.rows_out": (g("tiles", "rows_out"), "count"),
        "viewport.p50_ms": (rec.get("viewport_p50_ms", 0.0), "ms"),
        "viewport.tail_ms": (rec.get("viewport_tail_ms", 0.0), "ms"),
        "viewport.tail_pct": (rec.get("viewport_tail_pct") or 0.0, "%"),
        "viewport.files_read": (rec.get("viewport_files_read", 0.0), "count"),
        "catalog.stage_s": (cat.get("stage_s", 0.0), "s"),
        "catalog.bytes_written": (cat.get("bytes_written", 0), "bytes"),
        "catalog.files_written": (cat.get("files_written", 0), "count"),
        "catalog.stages_skipped": (cat.get("stages_skipped", 0), "count"),
        "catalog.stages_rebuilt": (cat.get("stages_rebuilt", 0), "count"),
        "catalog.disk_bytes_per_input_byte": (
            rec.get("disk_bytes_per_input_byte", 0.0), "ratio"),
        "pipeline.resume_s": (rec.get("resume_s", 0.0), "s"),
        "pipeline.between_stage_s": (cat.get("between_stage_s", 0.0), "s"),
    }
    return {k: (float(v), u) for k, (v, u) in m.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--prepare", action="store_true",
                    help="build the shared one-time inputs and exit")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(REPO, "wikipedia_wikidata_spark")):
        print("perfbench: engine package wikipedia_wikidata_spark not found "
              f"under {REPO}", file=sys.stderr)
        return 2
    configure_env()
    from perfbench import prepare, workloads

    if args.prepare:
        prepare.prepare_all(WORK, REPO, f"local[{n_cpus()}]", n_cpus())
        return 0
    runners = {"batch_sf0.1": workloads.run_batch,
               "pipeline_sf0.01": workloads.run_pipeline_workload}
    if args.workload not in runners:
        ap.error(f"--workload must be one of {sorted(runners)}")

    t = time.time()
    if not prepare.is_ready(WORK, REPO):
        subprocess.run([sys.executable, os.path.abspath(__file__), "--prepare"],
                       check=True, timeout=PREPARE_TIMEOUT_S, stdout=sys.stderr)
    prep_s = time.time() - t

    try:
        rec = runners[args.workload](Ctx(args))
    finally:  # a failed run still waits for its JVM to exit
        Ctx.stop_gateway()
    ops = rec["ops"]
    rec["setup_s"] = rec["setup_end"] - T_PROC - prep_s
    rec["ok_share"] = (ops.attempted - ops.failed) / ops.attempted
    if args.trace:
        metrics = per_layer_metrics(rec)
    else:
        metrics = {k: (float(rec[k]), u) for k, u in END_TO_END.items()}

    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    path = os.path.join(
        WORK, "records",
        f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(T_PROC)}.json")
    record = {
        k: v for k, v in rec.items() if k not in ("ops", "spans")
    } | {
        "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "prep_s": prep_s, "failures": ops.failures,
        "spans": rec["spans"].spans, "metrics": metrics,
    }
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    for msg in ops.failures:
        print(f"perfbench: FAILED {msg}", file=sys.stderr)
    print(json.dumps({
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
