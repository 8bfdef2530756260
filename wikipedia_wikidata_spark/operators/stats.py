"""Distribution statistics for curation reports: exact per-group discrete
quantiles.

Approximate sketches (approx_percentile / t-digest) are the usual 100-TB
answer but their merge order makes them engine- and partitioning-dependent —
useless for a bit-exact cross-engine oracle. This operator computes EXACT
inverse-CDF (lower discrete) quantiles with one window per group: the value
at sorted position ceil(p*n) (1-based). Quantile positions are given as
RATIONALS (num, den), never floats: 0.1*n in binary floats can land an ulp
above an integer and flip ceil() — (num*n + den - 1) div den cannot.

100-TB shape: one hash shuffle on the group key + a per-group sort (the same
cost class as any sorted write of the group); per-task memory is bounded by
the largest group, and the selected-position trick needs no collect. For
mega-groups beyond a single task's sort budget, the scale path is a two-pass
range histogram; this exact form is the oracle-friendly default.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

QUANTILES: tuple[tuple[int, int], ...] = ((1, 4), (2, 4), (3, 4))


def _int_ceil_div(a: Column, den: int) -> Column:
    """ceil(a / den) for nonneg integer columns, in exact integer math."""
    b = a + F.lit(den - 1)
    return ((b - F.pmod(b, F.lit(den))) / F.lit(den)).cast("bigint")


def group_quantiles(df: DataFrame, group_cols: list[str], value_col: str) -> DataFrame:
    """(group_cols..., n_rows, q_<num>_<den>...): exact lower discrete
    QUANTILES of value_col per group — the value whose 1-based rank is
    max(ceil(num*n/den), 1) in ascending order. Rank ties among equal
    values are irrelevant: every rank in a tie run holds the same value."""
    w = Window.partitionBy(*group_cols).orderBy(F.col("_v").asc())
    wn = Window.partitionBy(*group_cols)
    d = (
        df.select(*group_cols, F.col(value_col).alias("_v"))
        .withColumn("_rn", F.row_number().over(w).cast("bigint"))
        .withColumn("_n", F.count(F.lit(1)).over(wn).cast("bigint"))
    )
    aggs = [F.max("_n").alias("n_rows")]
    for num, den in QUANTILES:
        idx = F.greatest(_int_ceil_div(F.col("_n") * num, den), F.lit(1))
        aggs.append(
            F.max(F.when(F.col("_rn") == idx, F.col("_v"))).alias(
                f"q_{num}_{den}"
            )
        )
    return d.groupBy(*group_cols).agg(*aggs)
