"""Temporal joins vanilla Spark lacks: as-of join and range (interval) join.

For each left row, attach the LATEST right row with right.ts <= left.ts for
the same key. The naive formulation is a range join (l.ts >= r.ts) that
Catalyst plans as a per-key cartesian then a max — quadratic per key. This
implementation is the scale-correct union-sort-fill composition:

  tag both inputs -> unionByName -> one window per key ordered by
  (ts, side) -> last_value(right attrs, ignorenulls) carries the most
  recent right values forward -> keep left rows.

Cost: ONE shuffle on the key (the window), zero join explosion — per-key
work is a sort, exactly what an as-of merge needs. Ties (right.ts ==
left.ts) order the right row first, giving <= semantics, which matches
DuckDB's native ASOF JOIN used as the oracle in tests/test_sources.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

RANGE_BUCKET_S = 3600  # range_join time-bucket width, seconds


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts: str,
    value_cols: list[str],
) -> DataFrame:
    """Left rows + latest right ``value_cols`` as of each left row's ``ts``.

    right must contain (key, ts, *value_cols); appended columns are named
    ``asof_<col>`` (NULL when no right row precedes the left row).

    The value columns travel as ONE struct carried with a single
    last(ignorenulls) — carrying them independently would stitch together
    columns from DIFFERENT right rows whenever the latest preceding row has
    NULL in one column and an older row has it non-NULL, diverging from
    DuckDB's native ASOF JOIN (the oracle), which returns the single latest
    row including its NULLs."""
    r = right.select(
        key,
        ts,
        F.lit(0).alias("_side"),
        F.struct(*[F.col(c).alias(c) for c in value_cols]).alias("_asof_row"),
    )
    l = left.withColumn("_side", F.lit(1))
    u = l.unionByName(r, allowMissingColumns=True)
    w = (
        Window.partitionBy(key)
        .orderBy(F.col(ts).asc(), F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    u = u.withColumn("_asof_row", F.last("_asof_row", ignorenulls=True).over(w))
    out = u.filter(F.col("_side") == 1)
    for c in value_cols:
        out = out.withColumn(f"asof_{c}", F.col("_asof_row")[c])
    return out.drop("_side", "_asof_row")


def range_join(
    points: DataFrame, intervals: DataFrame, ts: str, lo: str, hi: str
) -> DataFrame:
    """Point-in-interval join (points.ts in [intervals.lo, intervals.hi])
    WITHOUT the cartesian a naive theta-join plans.

    Same binning technique as the cell-bucketed spatial join, in one
    dimension: each interval explodes to the fixed-width time buckets it
    overlaps; each point hashes to its one bucket; the join is a plain
    equi-join on bucket id followed by the exact range filter. Candidate
    work per point = intervals overlapping its bucket — local, not global.
    Buckets are epoch-second based; RANGE_BUCKET_S should track the typical
    interval length (an interval spanning B buckets is replicated B times,
    exactly like a polygon covering B cells)."""
    w = F.lit(RANGE_BUCKET_S).cast("long")
    p = points.withColumn(
        "_b", F.floor(F.unix_micros(F.col(ts).cast("timestamp")) / 1_000_000 / w)
    )
    iv = intervals.withColumn(
        "_b",
        F.explode(
            F.sequence(
                F.floor(F.unix_micros(F.col(lo).cast("timestamp")) / 1_000_000 / w),
                F.floor(F.unix_micros(F.col(hi).cast("timestamp")) / 1_000_000 / w),
            )
        ),
    )
    return (
        p.join(iv, "_b")
        .filter((F.col(ts) >= F.col(lo)) & (F.col(ts) <= F.col(hi)))
        .drop("_b")
    )
