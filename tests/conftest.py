import math
import uuid

import duckdb
import numpy as np
import pandas as pd
import pytest

from wikipedia_wikidata_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.01"
SF_DIR_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("wws-tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


def spark_jobs(spark, fn):
    """``(fn(), ids of the Spark jobs fn submitted)``, counted through a
    fresh job group."""
    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def ddb():
    con = duckdb.connect()
    # mirror the driver: pre-register the sf0.01 tables as views
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    out = pd.DataFrame()
    for c in df.columns:
        col = df[c]
        if col.dtype == object:
            out[c] = col.map(lambda x: "\0NULL" if x is None or (isinstance(x, float) and math.isnan(x)) else str(x))
        elif np.issubdtype(col.dtype, np.floating):
            out[c] = col.map(lambda x: "\0NULL" if pd.isna(x) else repr(float(x)))
        else:
            out[c] = col.map(lambda x: "\0NULL" if pd.isna(x) else str(x))
    return out.sort_values(list(out.columns)).reset_index(drop=True)


def compare_frames(spark_df, duck_df: pd.DataFrame, name: str = "?"):
    """Mimic the driver: row count + column names + order-insensitive values."""
    sp = spark_df.toPandas()
    assert sorted(sp.columns) == sorted(duck_df.columns), (
        f"{name}: columns {sorted(sp.columns)} != {sorted(duck_df.columns)}"
    )
    assert len(sp) == len(duck_df), f"{name}: rows {len(sp)} != {len(duck_df)}"
    a, b = _norm(sp), _norm(duck_df)
    neq = (a != b).any(axis=1)
    if neq.any():
        i = neq.idxmax()
        raise AssertionError(
            f"{name}: first mismatch at sorted row {i}:\nspark={a.iloc[i].to_dict()}\nduck ={b.iloc[i].to_dict()}"
        )
