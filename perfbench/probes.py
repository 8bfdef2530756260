"""Measurement helpers: /proc CPU and steal, tail percentiles, output
digests, Spark status-store sums, executed-plan metrics and a span recorder.

Nothing here imports pyspark at module level, so the parsing helpers can be
tested without a JVM.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import time
from contextlib import contextmanager

CLK_TCK = os.sysconf("SC_CLK_TCK")

# ----------------------------------------------------------------- /proc


def parse_cpu_line(stat_text: str) -> dict[str, int]:
    """The aggregate ``cpu`` line of /proc/stat as named tick counters."""
    names = ("user", "nice", "system", "idle", "iowait", "irq", "softirq",
             "steal", "guest", "guest_nice")
    for line in stat_text.splitlines():
        if line.startswith("cpu "):
            vals = [int(x) for x in line.split()[1:]]
            return dict(zip(names, vals + [0] * (len(names) - len(vals))))
    raise ValueError("no aggregate cpu line in /proc/stat text")


def host_ticks() -> dict[str, int]:
    with open("/proc/stat") as f:
        return parse_cpu_line(f.read())


def steal_pct(before: dict[str, int], after: dict[str, int]) -> float:
    """Stolen share of all host CPU ticks between two samples, in percent.
    guest/guest_nice are already counted inside user/nice, so they are left
    out of the total."""
    keys = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
    total = sum(after[k] - before[k] for k in keys)
    if total <= 0:
        return 0.0
    return 100.0 * (after["steal"] - before["steal"]) / total


def parse_pid_stat(text: str) -> tuple[int, int]:
    """(ppid, utime+stime+cutime+cstime ticks) from a /proc/<pid>/stat line.
    The command name sits in parentheses and may itself hold spaces or
    parentheses, so fields are counted from the last ')'."""
    rest = text[text.rindex(")") + 2:].split()
    ppid = int(rest[1])
    ticks = sum(int(x) for x in rest[11:15])
    return ppid, ticks


def tree_cpu_s(root_pid: int, proc_dir: str = "/proc") -> float:
    """CPU seconds of ``root_pid`` and every live descendant, each counted
    with the children it has already reaped (cutime/cstime). A worker that
    exits between two samples moves from its own entry into its parent's
    reaped time, so deltas over an interval stay whole."""
    stats: dict[int, tuple[int, int]] = {}
    for name in os.listdir(proc_dir):
        if not name.isdigit():
            continue
        try:
            with open(os.path.join(proc_dir, name, "stat")) as f:
                stats[int(name)] = parse_pid_stat(f.read())
        except (OSError, ValueError, IndexError):
            continue  # exited while listing
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, stack = 0, [root_pid]
    while stack:
        pid = stack.pop()
        if pid in stats:
            total += stats[pid][1]
        stack.extend(children.get(pid, ()))
    return total / CLK_TCK


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


# ------------------------------------------------------------ statistics

TAIL_CANDIDATES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.5, 99.9)


def tail_percentile(n: int, min_beyond: int = 10) -> float | None:
    """The highest candidate percentile that leaves at least ``min_beyond``
    of ``n`` samples above it; None when even the median does not."""
    best = None
    for p in TAIL_CANDIDATES:
        if n * (100.0 - p) >= min_beyond * 100.0 - 1e-6:  # float-safe
            best = p
    return best


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (the same rule as numpy's default)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    k = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


# --------------------------------------------------------------- digests


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return None
        if v.is_integer():
            return int(v)
    return v


def canonical_digest(rows) -> tuple[int, str]:
    """(row count, sha256) of a row multiset: independent of row order and
    of int-vs-float spelling of integral values (a nullable integer column
    comes back as float from pandas)."""
    enc = sorted(
        json.dumps([_norm(v) for v in r], separators=(",", ":"))
        for r in rows
    )
    h = hashlib.sha256()
    for s in enc:
        h.update(s.encode())
        h.update(b"\n")
    return len(enc), h.hexdigest()


def arrow_rows(table) -> list[tuple]:
    cols = [table.column(i).to_pylist() for i in range(table.num_columns)]
    return list(zip(*cols))


def digest_frame(df):
    """The digest sink of a pass as a one-row DataFrame: (rows, sum of row
    hashes mod 2^31-1, xor of row hashes). It is independent of row order;
    every row is computed, and only three numbers reach the driver."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(c) for c in df.columns])
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(h, F.lit(2147483647))).alias("s"),
        F.bit_xor(h).alias("x"),
    )


def collect_digest(agg) -> tuple[int, int, int]:
    r = agg.collect()[0]
    return int(r["n"]), int(r["s"] or 0), int(r["x"] or 0)


# ---------------------------------------------------------- Spark status


def _opt(o):
    return o.get() if o.isDefined() else None


def stage_sums(spark, job_ids) -> dict:
    """Sum stage metrics over the jobs ``job_ids`` from Spark's status store
    (it answers with the UI off). A stage shared by several jobs is counted
    once; skipped stages did no work and add nothing. ``task_skew`` is the
    largest max/median task run time over stages with 2+ tasks."""
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    qs = sc._gateway.new_array(sc._jvm.double, 2)
    qs[0], qs[1] = 0.5, 1.0
    out = dict(jobs=0, stages=0, task_s=0.0, cpu_s=0.0, shuffle_r_bytes=0,
               shuffle_w_bytes=0, spill_bytes=0, records_written=0, task_skew=1.0)
    seen: set[int] = set()
    for jid in job_ids:
        out["jobs"] += 1
        sids = store.job(int(jid)).stageIds()
        for i in range(sids.size()):
            sid = int(sids.apply(i))
            if sid in seen:
                continue
            seen.add(sid)
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # never submitted: no data, no work
                continue
            if sd.status().toString() != "COMPLETE":
                continue
            out["stages"] += 1
            out["task_s"] += sd.executorRunTime() / 1e3
            out["cpu_s"] += sd.executorCpuTime() / 1e9
            out["shuffle_r_bytes"] += sd.shuffleReadBytes()
            out["shuffle_w_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            out["records_written"] += sd.outputRecords()
            if sd.numTasks() >= 2:
                dist = _opt(store.taskSummary(sid, sd.attemptId(), qs))
                if dist is not None:
                    rt = dist.executorRunTime()
                    med, mx = rt.apply(0), rt.apply(1)
                    if med > 0:
                        out["task_skew"] = max(out["task_skew"], mx / med)
    return out


def job_windows(spark, job_ids) -> list[tuple[int, float]]:
    """(job id, submission time in epoch seconds) for each finished job."""
    store = spark.sparkContext._jsc.sc().statusStore()
    res = []
    for jid in job_ids:
        sub = _opt(store.job(int(jid)).submissionTime())
        if sub is not None:
            res.append((int(jid), sub.getTime() / 1e3))
    return res


def _plan_nodes(df):
    """Executed-plan nodes of ``df`` (after an action on ``df`` ran), with
    AQE wrappers and query stages unwrapped."""
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        n = stack.pop()
        name = n.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append(n.executedPlan())
            continue
        if name.endswith("QueryStageExec"):
            stack.append(n.plan())
            continue
        yield name, n
        for i in range(n.children().size()):
            stack.append(n.children().apply(i))


def _metric(node, metric: str) -> int | None:
    m = node.metrics()
    return int(m.apply(metric).value()) if m.contains(metric) else None


def plan_metric(df, node_pred, metric: str) -> int:
    """Sum of SQL metric ``metric`` over the executed-plan nodes whose class
    name satisfies ``node_pred``."""
    return sum(_metric(n, metric) or 0 for name, n in _plan_nodes(df)
               if node_pred(name))


def join_probe_rows(df) -> int:
    """Rows the streamed side fed into the plan's hash joins. Catalyst fuses
    the filters after an equi-join into the join condition, so a join's own
    numOutputRows counts rows after them; its streamed input is the work
    the join did."""
    total = 0
    for name, n in _plan_nodes(df):
        if not name.endswith("HashJoinExec"):
            continue
        node = n.streamedPlan()
        while _metric(node, "numOutputRows") is None and node.children().size():
            node = node.children().apply(0)
        total += _metric(node, "numOutputRows") or 0
    return total


# ----------------------------------------------------------------- spans


class Spans:
    """Spans recorded in memory and written out once. When disabled every
    call is a no-op, so untraced runs pay nothing for it."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.pass_id: int | None = None

    @contextmanager
    def span(self, layer: str, spark=None):
        """Time ``layer``; with a session given, its jobs run in a Spark job
        group named after the span so the status store can sum them. Spans
        with a job group do not nest."""
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "layer": layer,
               "parent": self._stack[-1] if self._stack else None,
               "pass": self.pass_id, "group": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if spark is not None:
            rec["group"] = f"span-{rec['id']}-{layer}"
            spark.sparkContext.setJobGroup(rec["group"], layer)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if spark is not None:
                spark.sparkContext._jsc.clearJobGroup()

    def add(self, layer: str, start: float, end: float, parent: int | None,
            **extra) -> dict:
        rec = {"id": len(self.spans), "layer": layer, "parent": parent,
               "pass": self.pass_id, "group": None, "start": start, "end": end,
               **extra}
        self.spans.append(rec)
        return rec

    def self_times(self, pass_id: int | None = None) -> dict[int, float]:
        """Span id -> duration minus the part its direct children cover."""
        chosen = [s for s in self.spans
                  if pass_id is None or s["pass"] == pass_id]
        kids: dict[int, list[dict]] = {}
        for s in chosen:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out = {}
        for s in chosen:
            covered = _union_len(
                [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                 for c in kids.get(s["id"], [])]
            )
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def leaf_coverage(self, pass_id: int) -> float:
        """Share of the pass's root span covered by its leaf spans (those
        with no children). Enclosing spans, such as the pass itself or one
        whole run_pipeline call, count only through the layers inside them."""
        chosen = [s for s in self.spans if s["pass"] == pass_id]
        parents = {s["parent"] for s in chosen}
        root = next(s for s in chosen if s["parent"] is None)
        leaves = [(max(s["start"], root["start"]), min(s["end"], root["end"]))
                  for s in chosen if s["id"] not in parents and s is not root]
        return _union_len(leaves) / (root["end"] - root["start"])


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
