#!/usr/bin/env python3
"""Host speed index legs: two microbenchmarks that are NOT this engine.

- codegen: range -> xxhash64 -> filter -> count (register-bound, no
  shuffle read beyond the final scalar).
- shuffle: 60M rows -> groupBy(3M string keys).sum (shuffle-bound).

Usage: python BENCH/calibrate.py --leg codegen|shuffle N
Runs one leg at local[N] (192 shuffle partitions, AQE off) after a small
warm-up and prints one JSON line {"t": <timed seconds>}. bench.py runs both
legs at local[8] to build the suite record's host_index.
"""

from __future__ import annotations

import json
import sys
import time

PARTS = 192


def leg(kind: str, n: int) -> float:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.appName(f"calib-{kind}-{n}")
        .master(f"local[{n}]")
        .config("spark.sql.shuffle.partitions", str(PARTS))
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    try:
        # warm codegen on a tiny size first
        if kind == "codegen":
            spark.range(0, 10**6, 1, PARTS).select(
                F.xxhash64("id").alias("h")
            ).filter(F.col("h") % 7 == 0).count()
            t0 = time.time()
            spark.range(0, 2 * 10**9, 1, PARTS).select(
                F.xxhash64("id").alias("h")
            ).filter(F.col("h") % 7 == 0).count()
            return time.time() - t0
        base = spark.range(0, 10**6, 1, PARTS).select(
            F.concat(F.lit("k"), (F.col("id") % 50000).cast("string")).alias("k"),
            F.col("id").alias("v"),
        )
        base.groupBy("k").sum("v").count()
        t0 = time.time()
        big = spark.range(0, 6 * 10**7, 1, PARTS).select(
            F.concat(F.lit("k"), (F.col("id") % 3_000_000).cast("string")).alias("k"),
            F.col("id").alias("v"),
        )
        big.groupBy("k").sum("v").count()
        return time.time() - t0
    finally:
        spark.stop()


def main():
    i = sys.argv.index("--leg")
    kind, n = sys.argv[i + 1], int(sys.argv[i + 2])
    print(json.dumps({"t": leg(kind, n)}))


if __name__ == "__main__":
    main()
