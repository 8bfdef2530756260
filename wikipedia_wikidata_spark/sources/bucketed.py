"""Bucketed tables for co-located (shuffle-free) joins.

The reference's Postgres "no indexes — seq scan + hash join wins" decision
(steps/wikipedia_process.sh:46-51) has a Spark counterpart with real teeth at
100 TB: a fact table joined repeatedly on the same key (orders x lineitem on
orderkey; pagelinks x linktarget on lt_id; entity points x anything on
cell_id) should be written BUCKETED on that key once, so every subsequent
join reads co-located buckets and plans with ZERO Exchange on either side —
the shuffle is paid once at write time, not once per query.

These are session-catalog external tables (an explicit `path`), so the data
files live wherever the caller says (the parquet lake), and only the bucket
spec lives in the catalog — the same split Iceberg makes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


# a layout decision made ONCE per table: size it so one bucket of the
# largest co-partitioned join fits an executor (e.g. 4096 buckets for a
# 10-TB fact table -> ~2.5 GB/bucket)
N_BUCKETS = 32


def save_bucketed(df: DataFrame, table: str, key: str, path: str) -> None:
    """Write df as an external bucketed+sorted table on `key`, in
    N_BUCKETS buckets."""
    (
        df.write.bucketBy(N_BUCKETS, key)
        .sortBy(key)
        .option("path", path)
        .mode("overwrite")
        .saveAsTable(table)
    )


def colocated_join(
    spark: SparkSession, left_table: str, right_table: str,
    left_key: str, right_key: str,
) -> DataFrame:
    """Inner-join two tables bucketed on their join keys with the same bucket
    count: Catalyst plans a SortMergeJoin with no Exchange on either side
    (asserted in tests/test_sources.py)."""
    lt, rt = spark.table(left_table), spark.table(right_table)
    return lt.join(rt, lt[left_key] == rt[right_key])
