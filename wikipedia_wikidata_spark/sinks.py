"""Output sinks (S8 in SURVEY.md §2.1).

The reference emits a sorted, headered, tab-separated, gzipped TSV
(steps/output.sh:113-128). write_importance_tsv reproduces that artifact for
tests/small outputs; at scale the durable artifact is the partitioned-parquet
catalog table (sources/catalog.py) and the TSV is a final coalesce(1) export
outside the hot path.
"""

from __future__ import annotations

import glob
import gzip
import os
import shutil

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType


@pandas_udf(StringType())
def repr_double(x: pd.Series) -> pd.Series:
    """Python-repr float formatting (F9): shortest round-trip decimal,
    trailing zeros dropped, '1e-10' not '1.0E-10'. The reference's text
    fixtures assert exactly this rendering
    (/root/reference/tests/filter_wikidata_geo_tags.test1expected.txt:
    '55.9214', not '55.92140'); Spark's default Java Double.toString writes
    '1.0E-10' and keeps a trailing '.0'. Arrow-batched; sink-only (the TSV
    export is outside the hot path — the durable artifact is the parquet
    catalog)."""
    return x.map(lambda v: None if pd.isna(v) else repr(float(v)))


def write_importance_tsv(wmi: DataFrame, out_path: str) -> str:
    """Sorted single-file TSV (gzip): ORDER BY language-size DESC, type, title
    with header — byte-exact with the reference's formatting (repr floats;
    shared ordering helper so the flagship entry and the sink can't diverge)."""
    from .plans.importance import sorted_output

    # Executable guard for the raw-quoting invariant below: MediaWiki titles
    # never contain tab/newline, but if one ever did the unquoted write would
    # CORRUPT the artifact silently — fail loudly instead (distributed
    # assert, no collect; runs inside the same job as the write).
    wmi = wmi.withColumn(
        "title",
        F.when(
            F.col("title").rlike("[\\t\\n\\r]"),
            F.raise_error(F.concat(F.lit("TSV sink: title contains tab/newline: "), F.col("title"))),
        ).otherwise(F.col("title")),
    )
    ordered = sorted_output(wmi).select(
        "language", "type", "title",
        repr_double(F.col("importance")).alias("importance"),
        "wikidata_id",
    )
    tmp = out_path + ".tmpdir"
    (
        ordered.coalesce(1)
        .write.mode("overwrite")
        .option("sep", "\t")
        .option("header", True)
        .option("compression", "gzip")
        .option("emptyValue", "")
        # quoting DISABLED: the reference's COPY TO STDOUT emits raw strings;
        # Spark's default CSV quoting would wrap a title containing '"' in
        # quotes and break byte-exactness (MediaWiki titles can contain
        # quotes but never tabs/newlines, so raw emission is safe)
        .option("quote", "")
        .csv(tmp)
    )
    part = glob.glob(os.path.join(tmp, "part-*.csv.gz"))[0]
    shutil.move(part, out_path)
    shutil.rmtree(tmp)
    os.chmod(out_path, 0o644)  # steps/output.sh:128
    return out_path


def read_importance_tsv(path: str) -> list[list[str]]:
    with gzip.open(path, "rt") as f:
        return [line.rstrip("\n").split("\t") for line in f]


# write_training_jsonl's output files; at 100 TB pick it as
# corpus_bytes / target_shard_bytes, exactly like any bulk write
JSONL_SHARDS = 64


def write_training_jsonl(df: DataFrame, out_dir: str) -> str:
    """Sharded gzip JSONL export of a shard_shuffle'd corpus — the
    interchange format training loaders consume. Every row becomes one JSON
    object (Spark's native JSON writer: JVM Jackson, no Python in the row
    path); files are .json.gz shards.

    Determinism contract (same as the catalog): rows are hash-partitioned
    on `shard` into JSONL_SHARDS files and each file is written
    sortWithinPartitions by the (shard, pos) epoch order, so a given df
    produces byte-identical shard contents on any cluster layout."""
    (
        df.repartition(JSONL_SHARDS, "shard")
        .sortWithinPartitions("shard", "pos")
        .write.mode("overwrite")
        .option("compression", "gzip")
        .json(out_dir)
    )
    return out_dir


def read_training_jsonl(spark, out_dir: str, schema: str) -> DataFrame:
    """Schema-DECLARED JSONL read-back (never inferred — SURVEY §1.1)."""
    return spark.read.schema(schema).json(out_dir)
