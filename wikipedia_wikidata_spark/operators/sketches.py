"""Mergeable cardinality sketches and deterministic weighted sampling.

At 10^12 documents the questions "how many distinct values does this column
have per group" and "pick k documents with probability ~ weight" both have
to be answered WITHOUT a per-group state proportional to the group — the
reference answers the first with full sort/uniq passes
(steps/importance.sh's sort -u stages), which is exactly what does not
scale. Two primitives:

- ``distinct_kmv``: a K-Minimum-Values distinct-count sketch (Bar-Yossef et
  al. 2002): per group keep the k smallest distinct hash60 values of the
  column; the k-th smallest h_k estimates the cardinality as
  (k-1) * 2^60 / h_k. The sketch is MERGEABLE (union of min-k sets, re-take
  min-k), which is what makes it the right 100-TB primitive: partial
  sketches combine across partitions/days without rescanning. Everything is
  integer (hash60 buckets, HUGEINT/decimal floor division), so the estimate
  is bit-equal across Spark and DuckDB — unlike approx_count_distinct,
  whose HLL registers differ per engine.

- ``sample_weighted``: deterministic weighted top-k sampling — priority =
  hash60(seed:key) // weight, keep the k smallest priorities. The shape of
  Efraimidis–Spirakis A-ES (u^(1/w) race) with an integer linearized key:
  doubling a row's weight halves its priority, so selection is
  monotone in weight, and the whole decision is content-keyed — stable
  under retries, resumes, and repartitioning, like operators/sampling.py.
  (The linear key is not the exact u^(1/w) distribution; it is the
  integer-exact, cross-engine-reproducible variant. Production samplers
  that must be audit-reproducible make the same trade.)

Plan shapes:
- distinct_kmv: one distinct (map-side combined) + one per-group window
  over DISTINCT HASHES ONLY (the window input is already deduped, so its
  sort is over n_distinct rows, not n_rows; WindowExec spills). A true
  custom mergeable UDAF would cap per-group state at k; the distinct+rank
  form stays entirely in codegen'd built-ins and has the same shuffle
  count.
- sample_weighted: narrow map to compute priorities + global TakeOrdered
  (no full sort — same plan family as top_tokens).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .text import hash60_col

KMV_K = 64
HASH_SPACE = 1 << 60
WEIGHTED_SEED = 42


def distinct_kmv(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Per-group KMV distinct-count estimate:
    (group, n_kept, kth_min_hash, est_distinct).

    With k = KMV_K: n_kept < k means the group's full distinct set fit in
    the sketch and est_distinct is EXACT (= n_kept); otherwise est_distinct =
    floor((k-1) * 2^60 / h_k) — integer arithmetic end to end
    ((k-1)*2^60 needs >64 bits for k > 8, hence the decimal(38,0)
    numerator; DuckDB mirrors it with HUGEINT).
    """
    k = KMV_K
    h = hash60_col(F.col(value_col).cast("string"))
    d = df.select(F.col(group_col).alias("grp"), h.alias("h")).distinct()
    w = Window.partitionBy("grp").orderBy(F.col("h").asc())
    mink = d.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= k
    )
    numer = F.lit(str((k - 1) * HASH_SPACE)).cast("decimal(38,0)")
    hk = F.col("kth_min_hash")
    # exact floor division in decimal: subtract the remainder first, so the
    # division's result is an exact integer — plain numer/hk rounds at the
    # result scale (HALF_UP at ~6 fractional digits), which could round a
    # .9999996 quotient UP and diverge from DuckDB's HUGEINT floor `//`
    est = ((numer - F.pmod(numer, hk)) / hk).cast("bigint")
    return (
        mink.groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_kept"),
            F.max("h").alias("kth_min_hash"),
        )
        .select(
            F.col("grp").alias(group_col),
            "n_kept",
            "kth_min_hash",
            F.when(F.col("n_kept") < k, F.col("n_kept"))
            .otherwise(est)
            .alias("est_distinct"),
        )
    )


def kmv_merge(sketches: DataFrame) -> DataFrame:
    """Merge partial KMV sketches (rows of (grp, h) min-k sets from
    different slices): union is the sketch lattice join — re-take the
    min-k of the combined hash sets. Proves the mergeability property the
    operator's scale story rests on (tested against a one-shot sketch of
    the concatenated input)."""
    w = Window.partitionBy("grp").orderBy(F.col("h").asc())
    return (
        sketches.distinct()
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= KMV_K)
        .drop("_rn")
    )


def sample_weighted(df: DataFrame, key_col: str, weight_col, k: int) -> DataFrame:
    """Deterministic weighted sample: k rows with the smallest
    priority = hash60(WEIGHTED_SEED:key) // max(weight, 1). Returns the
    input rows plus the priority column (so callers and the oracle order
    identically); ties (astronomically unlikely across 2^60) break on the
    key.

    weight_col: a column name or Column of integer weights >= 1.
    """
    wcol = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    h = hash60_col(
        F.concat(F.lit(f"{WEIGHTED_SEED}:"), F.col(key_col).cast("string"))
    )
    out = (
        df.withColumn("_h", h)
        .withColumn("_w", F.greatest(wcol.cast("bigint"), F.lit(1)))
        # integer `div`, not `/`: hash60 spans 2^60 > double's exact 2^53
        .withColumn("priority", F.expr("_h div _w"))
        .drop("_h", "_w")
    )
    return out.orderBy(
        F.col("priority").asc(), F.col(key_col).asc()
    ).limit(k)
