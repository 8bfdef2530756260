"""Iceberg-style table catalog emulated on partitioned Parquet + JSON
manifests (SURVEY.md §7.1: no Iceberg jars in the sandbox; the interface keeps
a real Iceberg catalog drop-in-able via --packages on a cluster).

Each table directory holds versioned snapshot dirs (``v00001``, ``v00002``,
…) plus ``_manifest.json`` (latest) and ``_current.json`` (the snapshot
pointer). Every manifest records: stage name, input fingerprint, row count,
wall-clock, run id, and PER-PARTITION lineage (file -> rows) — the
north_rule's "resumable from checkpoint with per-partition lineage +
metrics". Commits are atomic (write-to-tmp + rename, then pointer swap); a
killed job leaves no half-visible snapshot, and earlier snapshots stay
readable (``read(..., version=k)`` = Iceberg ``VERSION AS OF``).

The per-file lineage comes from each data file's parquet footer, keyed by
its path relative to the version dir (``kind=page/part-…``): no Spark job
re-reads a commit to count it, and partitioned layouts that reuse part-file
names across partition dirs keep one entry per file. The footers also give
the manifest its ``schema``, which ``read`` hands to Spark, so no Spark job
infers it either (Iceberg keeps the table schema in its metadata likewise).

``session_table`` puts the engine's in-session checkpoints (the shared
spans_flat and scored tables) through the same commit path, on one temporary
catalog root per SparkContext.
"""

from __future__ import annotations

import atexit
import hashlib
import json
import os
import re
import shutil
import tempfile
import time
import uuid

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


# Footer key under which Spark's parquet writer stores the data schema.
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _as_nullable(t):
    """Spark's ``asNullable`` on a schema's JSON form: a file-source read
    makes every field, array element and map value nullable."""
    if not isinstance(t, dict):
        return t
    if t["type"] == "struct":
        return {**t, "fields": [
            {**f, "nullable": True, "type": _as_nullable(f["type"])}
            for f in t["fields"]
        ]}
    if t["type"] == "array":
        return {**t, "containsNull": True,
                "elementType": _as_nullable(t["elementType"])}
    if t["type"] == "map":
        return {**t, "valueContainsNull": True,
                "keyType": _as_nullable(t["keyType"]),
                "valueType": _as_nullable(t["valueType"])}
    return t


# Orphaned-commit tmp dirs older than this are reclaimed by the next write;
# younger ones may belong to a live concurrent writer.
TMP_GC_AGE_S = 6 * 3600


class Catalog:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _manifest_path(self, name: str) -> str:
        return os.path.join(self.path(name), "_manifest.json")

    def manifest(self, name: str) -> dict | None:
        try:
            with open(self._manifest_path(name)) as f:
                return json.load(f)
        except (OSError, json.JSONDecodeError):
            return None

    def is_complete(self, name: str, fingerprint: str) -> bool:
        m = self.manifest(name)
        return bool(m) and m.get("fingerprint") == fingerprint and m.get("status") == "committed"

    def ensure(self, name: str, fingerprint: str, commit) -> dict:
        """The one reuse-or-build rule: the current manifest when ``name``
        is already committed under ``fingerprint``, else ``commit()``'s
        manifest. ``skipped`` says which."""
        if self.is_complete(name, fingerprint):
            return {**self.manifest(name), "skipped": True}
        return {**commit(), "skipped": False}

    def _current(self, name: str) -> dict | None:
        try:
            with open(os.path.join(self.path(name), "_current.json")) as f:
                return json.load(f)
        except (OSError, json.JSONDecodeError):
            return None

    def current_version(self, name: str) -> int | None:
        cur = self._current(name)
        return cur["version"] if cur else None

    def snapshots(self, name: str) -> list[dict]:
        """All committed snapshots of a table (version, rows, run_id, ...).

        Strict ``vNNNNN`` match: a commit killed between the in-dir manifest
        write and the os.rename leaves a ``vNNNNN.tmp-<hex>/`` orphan that
        contains a _manifest.json — it must not be listed (and int('NNNNN.tmp'
        ...) must not crash the listing after exactly the crash the catalog is
        designed to survive)."""
        out = []
        root = self.path(name)
        if not os.path.isdir(root):
            return out
        # 5+ digits: f"v{version:05d}" grows to 6 digits past 99,999 commits;
        # sort NUMERICALLY (lexicographic order breaks at the width change:
        # 'v100000' < 'v99999')
        vdirs = [d for d in os.listdir(root) if re.fullmatch(r"v\d{5,}", d)]
        for d in sorted(vdirs, key=lambda d: int(d[1:])):
            mp = os.path.join(root, d, "_manifest.json")
            if os.path.isfile(mp):
                # tolerate a truncated/unreadable manifest (crash mid-write
                # of an auxiliary rewrite): skip the snapshot rather than
                # poison every future listing with JSONDecodeError
                try:
                    with open(mp) as f:
                        m = json.load(f)
                except (json.JSONDecodeError, OSError):
                    continue
                m["version"] = int(d[1:])
                out.append(m)
        return out

    def latest_complete(self, name: str, predicate=None) -> dict | None:
        """Newest COMMITTED snapshot, optionally filtered by a manifest
        predicate — the catalog analog of the reference's 'latest complete
        dump' selection (steps/latest_available_data.sh:54-143 probes dump
        dates newest-first and picks the first whose every artifact exists;
        here the manifest IS the completeness record, so the probe is a
        reverse scan over committed manifests)."""
        for m in reversed(self.snapshots(name)):
            if m.get("status") == "committed" and (predicate is None or predicate(m)):
                return m
        return None

    def read(self, spark: SparkSession, name: str, version: int | None = None) -> DataFrame:
        """Read a table snapshot; ``version`` = Iceberg VERSION AS OF (None
        = current). A table with no committed version raises
        FileNotFoundError."""
        if version is None:
            version = self.current_version(name)
            if version is None:
                raise FileNotFoundError(
                    f"catalog table {name!r} was never committed: {self.path(name)}"
                )
        vdir = os.path.join(self.path(name), f"v{version:05d}")
        try:
            with open(os.path.join(vdir, "_manifest.json")) as f:
                schema = json.load(f).get("schema")
        except (OSError, json.JSONDecodeError):
            schema = None
        return _read_dir(spark, vdir, schema)

    def write(
        self,
        spark: SparkSession,
        df: DataFrame,
        name: str,
        fingerprint: str,
        run_id: str,
        partition_by: list[str] | None = None,
        extra: dict | None = None,
        cluster_by: list[str] | None = None,
        cluster_partitions: int | None = None,
        derive=None,
    ) -> dict:
        """Atomic snapshot commit with per-partition lineage; earlier
        snapshots remain readable (time travel).

        derive: ``derive(written) -> dict`` of manifest extras computed from
        the files just written (``written`` reads them by their footer
        schema), before the atomic rename. A plan decision that is a pure
        function of this snapshot thus commits with it, as Iceberg keeps
        table statistics with the snapshot they describe, and its consumers
        read it from the manifest instead of re-deriving it. The manifest's
        ``wall_ms`` includes the derivation.

        cluster_by: Iceberg SORTED BY analog — range-partition + sort the
        rows on these columns before writing, so parquet row-group min/max
        stats become TIGHT, DISJOINT ranges and any scan filtered on a
        cluster-key range skips whole files/row groups at the reader level
        (Spark pushes the filter into the parquet reader; the footer stats
        do the pruning). This is the data-locality lever for the spatial
        tables at 10^12 rows: cell-clustered points make a viewport query
        touch only the files whose cell range overlaps it. Orthogonal to
        ``partition_by`` (dir-level pruning on low-cardinality keys vs
        stat-level pruning on high-cardinality sort keys)."""
        t0 = time.time()
        root = self.path(name)
        os.makedirs(root, exist_ok=True)
        self._gc_orphaned_tmp(root)
        cur = self._current(name)
        version = (cur["version"] + 1) if cur else 1
        vdir = os.path.join(root, f"v{version:05d}")
        tmp = vdir + ".tmp-" + uuid.uuid4().hex[:8]
        if cluster_by:
            # repartitionByRange gives DISJOINT per-file key ranges (a plain
            # sortWithinPartitions on hash-partitioned data leaves every file
            # spanning the full key domain — no pruning win)
            if cluster_partitions:
                df = df.repartitionByRange(cluster_partitions, *cluster_by)
            else:
                df = df.repartitionByRange(*cluster_by)
            df = df.sortWithinPartitions(*cluster_by)
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(tmp)
        if cluster_by:
            extra = {**(extra or {}), "cluster_by": list(cluster_by)}

        def derive_written(schema: dict | None) -> dict:
            return derive(_read_dir(spark, tmp, schema))

        return self._commit_dir(
            tmp, name, version, fingerprint, run_id, t0, extra=extra,
            derive=derive_written if derive else None,
        )

    def _gc_orphaned_tmp(self, root: str) -> None:
        """Garbage-collect tmp dirs orphaned by a previously KILLED commit —
        age-gated so a concurrent writer's in-flight tmp dir (uuid-named,
        actively being written) is never deleted from under it. Age = the
        NEWEST mtime anywhere under the dir: Spark streams task files into
        nested _temporary/ attempt dirs without touching the top-level
        mtime, so a long-running live write keeps its recursive mtime
        fresh while a killed one goes stale everywhere."""
        self._gc_stale_dirs(root, lambda d: ".tmp-" in d)

    def _gc_stale_dirs(self, root: str, match, keep: str | None = None) -> None:
        """Remove dirs under ``root`` matching ``match`` whose RECURSIVE
        mtime is older than TMP_GC_AGE_S (never ``keep``). Shared by the
        .tmp-* commit-orphan GC and the foreign _pending-* shard-state GC."""
        now = time.time()
        for d in os.listdir(root):
            if not match(d) or d == keep:
                continue
            p = os.path.join(root, d)
            newest = 0.0
            try:
                for dirpath, _dirs, files in os.walk(p):
                    newest = max(newest, os.path.getmtime(dirpath))
                    for fn in files:
                        try:
                            newest = max(
                                newest,
                                os.path.getmtime(os.path.join(dirpath, fn)),
                            )
                        except OSError:
                            pass
            except OSError:
                continue
            if now - newest > TMP_GC_AGE_S:
                shutil.rmtree(p, ignore_errors=True)

    def _commit_dir(
        self,
        tmp: str,
        name: str,
        version: int,
        fingerprint: str,
        run_id: str,
        t0: float,
        extra: dict | None = None,
        derive=None,
    ) -> dict:
        """Lineage + manifest + atomic rename + pointer swap over a fully
        written tmp data dir (shared by write and write_sharded).
        ``derive(schema) -> dict`` adds extras before the rename."""
        root = self.path(name)
        vdir = os.path.join(root, f"v{version:05d}")
        # lineage: per-written-file row counts (partition granularity) from
        # the parquet footers; the data files are what a Spark reader sees
        lineage = []
        schemas = set()
        for dirpath, dirs, files in os.walk(tmp):
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            for fn in files:
                if fn.startswith(("_", ".")):
                    continue
                p = os.path.join(dirpath, fn)
                meta = pq.read_metadata(p)
                lineage.append({
                    "file": os.path.relpath(p, tmp),
                    "rows": meta.num_rows,
                })
                schemas.add((meta.metadata or {}).get(SPARK_SCHEMA_KEY))
        # the data schema (partition columns excluded) Spark wrote into every
        # footer, as a read types it, recorded only when all files agree on
        # it, so read() needs no inference job
        found = [_as_nullable(json.loads(r)) if r else None for r in schemas]
        schema = None
        if found and found[0] is not None and all(f == found[0] for f in found):
            schema = found[0]
        if derive:
            extra = {**(extra or {}), **derive(schema)}
        rows = sum(p["rows"] for p in lineage)
        manifest = {
            "stage": name,
            "fingerprint": fingerprint,
            "run_id": run_id,
            "status": "committed",
            "version": version,
            "rows": rows,
            "n_partitions": len(lineage),
            "wall_ms": int((time.time() - t0) * 1000),
            "partitions": sorted(lineage, key=lambda p: p["file"]),
        }
        if schema is not None:
            manifest["schema"] = schema
        if extra:
            manifest.update(extra)
        with open(os.path.join(tmp, "_manifest.json"), "w") as f:
            json.dump(manifest, f, indent=1)
        if os.path.exists(vdir):
            shutil.rmtree(vdir)
        os.rename(tmp, vdir)
        # snapshot pointer + latest-manifest swap (os.replace = atomic)
        for fname, payload in (
            ("_current.json", {"version": version}),
            ("_manifest.json", manifest),
        ):
            ptmp = os.path.join(root, fname + ".tmp")
            with open(ptmp, "w") as f:
                json.dump(payload, f, indent=1)
            os.replace(ptmp, os.path.join(root, fname))
        return manifest

    def write_sharded(
        self,
        spark: SparkSession,
        build_shard,
        name: str,
        fingerprint: str,
        run_id: str,
        n_shards: int,
        extra: dict | None = None,
    ) -> dict:
        """Shard-granular RESUMABLE snapshot commit — the north_star's
        'a killed job resumes without recomputing completed cells'.

        ``build_shard(k) -> DataFrame`` must yield a disjoint subset per
        k ∈ [0, n_shards) whose union is the full table (e.g. points
        filtered by ``pmod(xxhash64(id), n_shards) == k``). Each shard is
        written ATOMICALLY (tmp + rename) into a fingerprint-keyed pending
        dir; shard-dir existence IS the completion record, so a kill loses
        at most the one in-flight shard and a re-run with the same
        fingerprint rebuilds ONLY the missing shards. When every shard
        exists, the shard trees are merged (shard-prefixed file names, so
        partitioned layouts interleave cleanly) and promoted through the
        same atomic version-commit path as write(); the manifest records
        ``n_shards`` and ``resumed_shards`` alongside the per-file lineage.
        Stage-level is_complete()/read() semantics are unchanged.
        """
        t0 = time.time()
        root = self.path(name)
        os.makedirs(root, exist_ok=True)
        # a kill during a previous PROMOTION leaves a vNNNNN.tmp-* orphan;
        # reclaim it here the same way write() does (shard dirs under
        # _pending-* are the resume state and are NOT touched by this)
        self._gc_orphaned_tmp(root)
        digest = hashlib.sha1(
            f"{fingerprint}:{n_shards}".encode()
        ).hexdigest()[:12]
        pend = os.path.join(root, f"_pending-{digest}")
        # reclaim STALE foreign pending dirs (other fingerprints) through the
        # same recursive-mtime age gate as .tmp-* orphans; never this run's
        # own dir (it IS the resume state) and never a fresh one (a live
        # concurrent writer keeps its recursive mtime fresh)
        self._gc_stale_dirs(
            root, lambda d: d.startswith("_pending-"),
            keep=os.path.basename(pend),
        )
        os.makedirs(pend, exist_ok=True)

        def shard_dir(k: int) -> str:
            return os.path.join(pend, f"shard_{k:05d}")

        resumed = [k for k in range(n_shards) if os.path.isdir(shard_dir(k))]
        for k in range(n_shards):
            if os.path.isdir(shard_dir(k)):
                continue
            stmp = shard_dir(k) + ".tmp-" + uuid.uuid4().hex[:8]
            build_shard(k).write.mode("overwrite").parquet(stmp)
            os.rename(stmp, shard_dir(k))  # atomic: existence == completed

        # promote: merge shard trees into one version dir (file names get a
        # shard prefix; relative partition paths are preserved, so
        # partitionBy layouts from different shards interleave)
        cur = self._current(name)
        version = (cur["version"] + 1) if cur else 1
        vtmp = os.path.join(root, f"v{version:05d}") + ".tmp-" + uuid.uuid4().hex[:8]
        os.makedirs(vtmp)
        for k in range(n_shards):
            sdir = shard_dir(k)
            for dirpath, _dirs, files in os.walk(sdir):
                rel = os.path.relpath(dirpath, sdir)
                for fn in files:
                    if fn.startswith("_") or fn.startswith("."):
                        continue
                    dst_dir = vtmp if rel == "." else os.path.join(vtmp, rel)
                    os.makedirs(dst_dir, exist_ok=True)
                    shutil.copy2(
                        os.path.join(dirpath, fn),
                        os.path.join(dst_dir, f"s{k:05d}-{fn}"),
                    )
        m = self._commit_dir(
            vtmp, name, version, fingerprint, run_id, t0,
            extra={
                "n_shards": n_shards,
                "resumed_shards": len(resumed),
                **(extra or {}),
            },
        )
        # the commit supersedes THIS RUN's pending state only: a concurrent
        # write_sharded under a different fingerprint owns its own
        # _pending-<digest> dir (deleting it mid-run would crash its next
        # os.rename and destroy its resume state); stale foreign dirs are
        # reclaimed by the age-gated GC above on the next write
        shutil.rmtree(pend, ignore_errors=True)
        return m

    def merge(
        self,
        spark: SparkSession,
        updates: DataFrame,
        name: str,
        key_cols: list[str],
        fingerprint: str,
        run_id: str,
        partition_by: str | None = None,
    ) -> dict:
        """Iceberg-style MERGE (upsert): rows of the current snapshot whose
        key matches an update row are replaced; new keys are inserted. The
        result commits as a NEW version — earlier versions stay readable
        (time travel), exactly like write().

        ``updates`` must be key-unique, and with ``partition_by`` a key's
        partition value must be stable across versions (an update that MOVES
        a key to another partition would leave the old row behind in an
        untouched partition — language-keyed tables satisfy this by
        construction). Partition values must be plain (no URL-escaped
        characters in the dir name).

        With ``partition_by`` (the column the table is partitioned on), the
        merge is PARTITION-PRUNED: only partitions that appear in
        ``updates`` are recomputed (anti-join + union over those partitions
        alone); every untouched partition's files are carried into the new
        version as straight file copies — no scan, no shuffle, no rewrite.
        That is the property that makes a 10^12-row table mergeable: cost
        scales with the touched partitions, not the table. Without
        ``partition_by`` the whole table is rewritten (fine for small dims).
        """
        t0 = time.time()
        root = self.path(name)
        cur = self.read(spark, name)
        if partition_by is None:
            merged = cur.join(
                updates.select(*key_cols).distinct(), key_cols, "left_anti"
            ).unionByName(updates)
            return self.write(spark, merged, name, fingerprint, run_id)

        touched = [
            r[partition_by]
            for r in updates.select(partition_by).distinct().collect()
        ]
        # the carry-over below compares f"{partition_by}={v}" against on-disk
        # dir names, so the touched values must round-trip through Spark's
        # partition-dir encoding verbatim: a NULL writes
        # __HIVE_DEFAULT_PARTITION__ (the 'col=None' literal would silently
        # carry the old partition over ALONGSIDE the merged rows — row
        # duplication), and a value needing Hive %-escaping would crash
        # copytree on a name mismatch. Reject both up front.
        for v in touched:
            if v is None:
                raise ValueError(
                    "merge(): NULL partition value in updates — Spark encodes "
                    "it as __HIVE_DEFAULT_PARTITION__, which the carry-over "
                    "cannot match; filter NULLs or use a sentinel value"
                )
            if not re.fullmatch(r"[A-Za-z0-9._\-]+", str(v)):
                raise ValueError(
                    f"merge(): partition value {v!r} needs Hive escaping in "
                    "the dir name; only [A-Za-z0-9._-]+ values are mergeable"
                )
        self._gc_orphaned_tmp(root)
        cur_v = self.current_version(name)
        assert cur_v is not None, "merge() needs an existing versioned table"
        version = cur_v + 1
        vtmp = os.path.join(root, f"v{version:05d}") + ".tmp-" + uuid.uuid4().hex[:8]
        # recompute ONLY the touched partitions, in the table's column order
        # (the using-join puts the keys first), so the rewritten files and
        # the carried-over ones share one footer schema
        merged = (
            cur.filter(F.col(partition_by).isin(touched))
            .join(updates.select(*key_cols).distinct(), key_cols, "left_anti")
            .unionByName(updates)
            .select(*cur.columns)
        )
        merged.write.mode("overwrite").partitionBy(partition_by).parquet(vtmp)
        # carry every untouched partition dir over as plain file copies
        cur_dir = os.path.join(root, f"v{cur_v:05d}")
        touched_dirs = {f"{partition_by}={v}" for v in touched}
        for d in os.listdir(cur_dir):
            if (
                d.startswith(f"{partition_by}=")
                and d not in touched_dirs
                and os.path.isdir(os.path.join(cur_dir, d))
            ):
                shutil.copytree(
                    os.path.join(cur_dir, d), os.path.join(vtmp, d)
                )
        return self._commit_dir(
            vtmp, name, version, fingerprint, run_id, t0,
            extra={
                "merge_touched_partitions": sorted(map(str, touched)),
                "merge_key": key_cols,
            },
        )

    def compact(
        self,
        spark: SparkSession,
        name: str,
        target_files: int,
        fingerprint: str,
        run_id: str,
        cluster_by: list[str] | None = None,
    ) -> dict:
        """Small-file compaction: rewrite the current snapshot into
        ``target_files`` files as a new version (identical rows, same
        schema). The small-files problem is the classic failure mode of
        long-lived incrementally-merged tables at scale — thousands of tiny
        parquet files turn every scan into an open()-bound crawl; periodic
        compaction restores scan bandwidth. Old versions remain readable.

        cluster_by: re-cluster while compacting (incremental merges
        interleave key ranges across files; a clustered compaction restores
        the disjoint-range layout that makes row-group pruning work)."""
        df = self.read(spark, name)
        if not cluster_by:
            df = df.repartition(target_files)
        return self.write(
            spark, df, name, fingerprint, run_id,
            extra={"compaction": True},
            cluster_by=cluster_by,
            cluster_partitions=target_files if cluster_by else None,
        )

    def expire_snapshots(self, name: str, keep: int = 2) -> list[int]:
        """Iceberg ``expire_snapshots`` analog: delete all but the newest
        ``keep`` committed versions and return the expired version numbers.
        Time travel to an expired version stops working (that is the point —
        reclaiming the storage old versions pin); the CURRENT version is
        always kept (keep is floored at 1). Deletion order is oldest-first
        and each version dir is removed atomically-enough for readers: the
        manifest listing tolerates a half-deleted dir (snapshots() skips
        dirs whose _manifest.json is gone), so a reader racing an expiry
        sees either the version or nothing — never a poisoned listing.

        At 10^12-row scale this is the retention lever that keeps a
        frequently-merged table's storage proportional to keep x table size
        instead of versions x table size."""
        keep = max(1, keep)
        snaps = self.snapshots(name)
        cur = self.current_version(name)
        # never expire the current pointer target, whatever 'keep' says
        candidates = [m["version"] for m in snaps if m["version"] != cur]
        n_expire = max(0, len(snaps) - keep)
        expired = []
        root = self.path(name)
        for v in candidates[:n_expire]:
            vdir = os.path.join(root, f"v{v:05d}")
            # drop the manifest FIRST so a concurrent snapshots() listing
            # stops returning the version before its data disappears
            try:
                os.remove(os.path.join(vdir, "_manifest.json"))
            except OSError:
                pass
            shutil.rmtree(vdir, ignore_errors=True)
            expired.append(v)
        return expired

    def drop(self, name: str) -> None:
        if os.path.exists(self.path(name)):
            shutil.rmtree(self.path(name))

    def snapshot_diff(
        self,
        spark: SparkSession,
        name: str,
        key_cols: list[str],
        v_from: int,
        v_to: int | None = None,
    ) -> DataFrame:
        """Iceberg changelog (CDC) analog: the row-level changes between two
        committed snapshots, as (change, *key_cols, *value_cols) with
        change in {'insert','delete','update'} — the post-image for
        insert/update, the pre-image for delete. Downstream incremental
        consumers (index refresh, cache invalidation, replication) read
        this instead of re-scanning the table.

        Plan shape: one full-outer sort-merge/hash join on the key columns
        (both sides shuffle-partitioned the same way, so the join
        co-locates) + null-safe value comparison; unchanged keys drop out.
        No collects, no windows — at 10^12 rows the cost is the two
        snapshot scans plus one co-partitioned join, and when the table is
        partition_by'd the consumer can pre-filter both sides to the
        partitions a manifest marks as touched (`merge_touched_partitions`)
        before joining.
        """
        old = self.read(spark, name, v_from)
        new = self.read(spark, name, v_to)
        val_cols = [c for c in new.columns if c not in key_cols]
        o = old.select(
            *key_cols,
            F.lit(True).alias("_in_old"),
            *[F.col(c).alias(f"_old_{c}") for c in val_cols],
        )
        n = new.select(
            *key_cols,
            F.lit(True).alias("_in_new"),
            *[F.col(c).alias(f"_new_{c}") for c in val_cols],
        )
        j = o.join(n, on=key_cols, how="full_outer")
        changed = F.lit(False)
        for c in val_cols:
            changed = changed | ~F.col(f"_new_{c}").eqNullSafe(
                F.col(f"_old_{c}")
            )
        change = (
            F.when(F.col("_in_old").isNull(), F.lit("insert"))
            .when(F.col("_in_new").isNull(), F.lit("delete"))
            .when(changed, F.lit("update"))
        )
        out_vals = [
            F.when(
                F.col("_in_new").isNull(), F.col(f"_old_{c}")
            )
            .otherwise(F.col(f"_new_{c}"))
            .alias(c)
            for c in val_cols
        ]
        return (
            j.withColumn("change", change)
            .filter(F.col("change").isNotNull())
            .select("change", *key_cols, *out_vals)
        )


def _read_dir(spark: SparkSession, d: str, schema: dict | None) -> DataFrame:
    """The parquet files under ``d``, typed by ``schema`` when there is one.
    The recorded data schema spares the footer-inference job; Spark still
    types the partition columns from the dir names. Without one (older
    manifest, no data file, foreign files) Spark infers it."""
    if schema is None:
        return spark.read.parquet(d)
    return spark.read.schema(StructType.fromJson(schema)).parquet(d)


def tmpdir(prefix: str) -> str:
    """mkdtemp that is removed at interpreter exit (driver-session hygiene)."""
    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


# One temporary catalog root per SparkContext (applicationId -> Catalog).
_SESSION_CATALOGS: dict[str, Catalog] = {}


def session_catalog(spark: SparkSession) -> Catalog:
    """The catalog that holds this SparkContext's session checkpoints."""
    app = spark.sparkContext.applicationId
    if app not in _SESSION_CATALOGS:
        _SESSION_CATALOGS[app] = Catalog(tmpdir("wws_session_"))
    return _SESSION_CATALOGS[app]


def session_table(
    spark: SparkSession,
    name: str,
    key: str,
    build,
    partition_by: list[str] | None = None,
) -> DataFrame:
    """An in-session checkpoint: ``build()`` committed once per SparkContext
    and ``key`` as a catalog table (manifest, per-file lineage), then read
    back by every consumer. The applicationId is part of the key, so a fresh
    SparkContext rewrites the table instead of reading an earlier context's
    copy."""
    cat = session_catalog(spark)
    app = spark.sparkContext.applicationId
    fp = f"{app}:{key}"
    table = f"wws_{name}_{hashlib.sha1(fp.encode()).hexdigest()[:12]}"
    cat.ensure(table, fp, lambda: cat.write(
        spark, build(), table, fp, app, partition_by))
    return cat.read(spark, table)
