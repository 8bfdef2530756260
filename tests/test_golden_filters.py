"""Golden-file tests ported from the reference's own test corpus
(/root/reference/tests/run.sh:15-24) — byte-level expectations re-expressed
over DataFrames. Inputs are inlined verbatim-equivalent rows (same values),
NOT read from the reference tree, so the repo is self-contained.
"""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from wikipedia_wikidata_spark.operators.extract import round5_col


def test_pagelinks_count_golden(spark):
    """tests/filter_pagelinks.test1.txt + linktargets.txt -> expected counts:
    title1,5 / title2,2 / 'title3,with,comma',1 / title4,1 (J1+A1)."""
    links = [  # (site, ns, target_id) from tests/filter_pagelinks.test1.txt
        ("enwiki", "0", 11), ("enwiki", "0", 11), ("enwiki", "0", 11),
        ("enwiki", "0", 22), ("enwiki", "0", 22), ("enwiki", "0", 33),
        ("enwiki", "0", 11), ("enwiki", "0", 11), ("enwiki", "0", 44),
        ("enwiki", "1", 44), ("enwiki", "0", 55),
    ]
    targets = [(11, "title1"), (22, "title2"), (33, "title3,with,comma"), (44, "title4")]
    pl = spark.createDataFrame(
        [(x[1], x[2]) for x in links], ["ns", "pl_target_id"]
    ).filter(F.col("ns") == "0")
    lt = spark.createDataFrame(targets, ["lt_id", "lt_title"])
    got = (
        pl.join(lt, pl.pl_target_id == lt.lt_id)
        .groupBy("lt_title")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lt_title")
        .collect()
    )
    assert [(r.lt_title, r.n) for r in got] == [
        ("title1", 5), ("title2", 2), ("title3,with,comma", 1), ("title4", 1),
    ]


def test_langlinks_golden(spark):
    """tests/filter_langlinks.test1.txt -> space->underscore, language filter
    (languages include tr,de in the reference's test env)."""
    rows = [
        (2074847, "tr", "Berlin dövlət kitabxanası"),
        (291145, "tr", "Berlin döyüşü (1945)"),
        (52637892, "tr", "Berlin hücumu (2016)"),
        (494808, "tr", "Berlin kafedralı"),
        (438617, "tr", "Berlin konqresi"),
        (1234, "de", "Berlin, Berlin"),
        (999, "xx", "Dropped language"),
    ]
    langs = ["tr", "de"]
    df = spark.createDataFrame(rows, ["ll_from", "ll_lang", "ll_title"])
    got = (
        df.filter(F.col("ll_lang").isin(langs))
        .select(
            F.translate("ll_title", " ", "_").alias("title"), "ll_from", "ll_lang"
        )
        .collect()
    )
    expected = [
        ("Berlin_dövlət_kitabxanası", 2074847, "tr"),
        ("Berlin_döyüşü_(1945)", 291145, "tr"),
        ("Berlin_hücumu_(2016)", 52637892, "tr"),
        ("Berlin_kafedralı", 494808, "tr"),
        ("Berlin_konqresi", 438617, "tr"),
        ("Berlin,_Berlin", 1234, "de"),
    ]
    assert [tuple(r) for r in got] == expected


def test_geo_tags_golden(spark):
    """tests/filter_wikidata_geo_tags.test1.txt -> moon row dropped, half-even
    round to 5dp; Python float formatting drops trailing zeros (55.9214)."""
    rows = [
        (15923968, "moon", "1", "29.63771000", "111.17787000"),
        (5009, "earth", "1", "25.13333300", "56.33333300"),
        (5010, "earth", "1", "-34.35805556", "18.47194444"),
        (5018, "earth", "1", "54.08333333", "13.38333333"),
        (5020, "earth", "1", "48.76194444", "8.24083333"),
        (5030, "earth", "1", "54.67638889", "13.43777778"),
        (5034, "earth", "1", "55.92140000", "-3.53665000"),
    ]
    schema = ["gt_page_id", "globe", "gt_primary", "lat_s", "lon_s"]
    df = spark.createDataFrame(rows, schema).select(
        "gt_page_id", "globe", "gt_primary",
        F.col("lat_s").cast("double").alias("lat"),
        F.col("lon_s").cast("double").alias("lon"),
    )
    got = (
        df.filter((F.col("globe") == "earth") & (F.col("gt_primary") == "1"))
        .select("gt_page_id", round5_col("lat").alias("lat"),
                round5_col("lon").alias("lon"))
        .orderBy("gt_page_id")
        .collect()
    )
    expected = [
        (5009, 25.13333, 56.33333),
        (5010, -34.35806, 18.47194),
        (5018, 54.08333, 13.38333),
        (5020, 48.76194, 8.24083),
        (5030, 54.67639, 13.43778),
        (5034, 55.9214, -3.53665),
    ]
    assert [tuple(r) for r in got] == expected
    # byte-match the reference's text formatting: repr drops trailing zeros
    as_text = [f"{r.gt_page_id},{repr(r.lat)},{repr(r.lon)}" for r in got]
    assert as_text[-1] == "5034,55.9214,-3.53665"


def test_round5_col_equals_numpy_round(spark):
    """round5_col is numpy.round(x, 5) bit for bit: a seeded sweep over the
    coordinate range plus exact half-way ties (half-even either way)."""
    rng = np.random.default_rng(5)
    ties = (rng.integers(-18_000_000, 18_000_000, 5000) + 0.5) / 1e5
    x = np.concatenate([rng.uniform(-180.0, 180.0, 20000), ties, [0.0, -0.0]])
    got = (
        spark.createDataFrame(pd.DataFrame({"i": np.arange(len(x)), "x": x}))
        .select("i", round5_col("x").alias("r"))
        .toPandas()
        .sort_values("i")["r"]
        .to_numpy()
    )
    assert np.array_equal(got, np.round(x, 5))
