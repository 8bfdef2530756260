"""One-time inputs the runs share, kept under the work directory and keyed
by the engine's source so a changed engine rebuilds them:

- the synthetic corpora (sources/synth.py, fixed corpus seed 42);
- the DuckDB oracle answers (oracle.ORACLES pointed at each corpus), as
  row counts and order-independent digests;
- a complete pipeline catalog at sf0.01 that every pipeline run copies and
  then resumes after a simulated kill.

Nothing here is timed. It runs in its own process before a run starts its
JVM, so a run's set-up never includes it.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

from .probes import arrow_rows, canonical_digest

# each checked output of a workload and the oracle.ORACLES entry whose
# answer it must equal; the answers are built per corpus scale
ORACLE_OF = {
    "importance": "importance_pipeline",
    "pip": "spatial_join_pip",
    "knn": "knn_nearest_place",
    "tiles": "tile_importance",
}
SCALES = (0.1, 0.01)
PIPELINE_SF = 0.01


def corpus_dir(work: str, sf: float) -> str:
    # a dir named spans_sf<x> is used as-is by the engine (config.spans_dir_for)
    return os.path.join(work, "data", f"spans_sf{sf:g}")


def corpus_docs(sf_dir: str) -> int:
    with open(os.path.join(sf_dir, "_meta.json")) as f:
        return int(json.load(f)["n_docs"])


def code_key(repo: str) -> str:
    """Digest of the engine's sources: oracles and catalogs built from one
    version are never served to another."""
    h = hashlib.sha256()
    pkg = os.path.join(repo, "wikipedia_wikidata_spark")
    for dirpath, dirs, files in os.walk(pkg):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, pkg).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def _oracle_path(work: str, sf_dir: str) -> str:
    return os.path.join(work, "oracle", os.path.basename(sf_dir) + ".json")


def ref_catalog(work: str) -> str:
    return os.path.join(work, "catalog_ref")


def _read_json(path: str) -> dict | None:
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, json.JSONDecodeError):
        return None


def oracle_refs(work: str, sf_dir: str) -> dict:
    return _read_json(_oracle_path(work, sf_dir))["oracles"]


def is_ready(work: str, repo: str) -> bool:
    key = code_key(repo)
    for sf in SCALES:
        d = corpus_dir(work, sf)
        if not os.path.exists(os.path.join(d, "_meta.json")):
            return False
        o = _read_json(_oracle_path(work, d))
        if not o or o.get("key") != key:
            return False
    m = _read_json(os.path.join(ref_catalog(work), "_perfbench.json"))
    return bool(m) and m.get("key") == key


def _write_json(path: str, payload: dict) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(payload, f)
    os.replace(tmp, path)


def oracle_sql(name: str, sf_dir: str) -> str:
    """oracle.ORACLES[name], reading the given corpus instead of sf0.01."""
    from wikipedia_wikidata_spark import oracle

    sql = oracle.ORACLES[name]
    if oracle.SPANS_SF001 not in sql:
        raise ValueError(f"oracle {name} does not read the corpus")
    return (sql.replace(oracle.SPANS_SF001, os.path.join(sf_dir, "documents.parquet"))
               .replace(oracle.LEVELS_SF001,
                        os.path.join(sf_dir, "place_type_levels.parquet")))


def build_oracles(work: str, sf_dir: str, key: str, threads: int) -> None:
    import duckdb

    tmp = os.path.join(work, "tmp", "duckdb")
    os.makedirs(tmp, exist_ok=True)
    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory='{tmp}'")
        con.execute(f"SET threads={int(threads)}")
        con.execute("SET memory_limit='3GB'")
        out = {}
        for name in ORACLE_OF.values():
            rows = arrow_rows(con.execute(oracle_sql(name, sf_dir)).arrow())
            n, dig = canonical_digest(rows)
            out[name] = {"n": n, "digest": dig}
            if name == "tile_importance":  # viewport reads check against these
                out[name]["rows"] = sorted(rows)
    finally:
        con.close()
    _write_json(_oracle_path(work, sf_dir), {"key": key, "oracles": out})


def build_ref_catalog(work: str, key: str, master: str) -> None:
    from wikipedia_wikidata_spark.plans.pipeline import run_pipeline
    from wikipedia_wikidata_spark.session import get_spark

    dst = ref_catalog(work)
    tmp = dst + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    spark = get_spark("perfbench-prepare", master=master)
    try:
        run_pipeline(spark, corpus_dir(work, PIPELINE_SF), tmp)
    finally:
        spark.stop()
    _write_json(os.path.join(tmp, "_perfbench.json"), {"key": key})
    shutil.rmtree(dst, ignore_errors=True)
    os.rename(tmp, dst)


def prepare_all(work: str, repo: str, master: str, threads: int) -> None:
    from wikipedia_wikidata_spark.sources.synth import ensure_spans_data

    key = code_key(repo)
    for sf in SCALES:
        d = ensure_spans_data(corpus_dir(work, sf))
        o = _read_json(_oracle_path(work, d))
        if not o or o.get("key") != key:
            build_oracles(work, d, key, threads)
    m = _read_json(os.path.join(ref_catalog(work), "_perfbench.json"))
    if not m or m.get("key") != key:
        build_ref_catalog(work, key, master)
