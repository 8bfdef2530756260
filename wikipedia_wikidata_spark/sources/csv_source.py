"""Declared-schema CSV ingest (S5 read side, SURVEY.md §2.1).

The reference loads every table from CSV with explicit DDL before COPY
(steps/wikipedia_import.sh:30-39, steps/wikidata_import.sh:28-33) — schemas
are always DECLARED, never inferred. This reader is the Spark equivalent:
an explicit schema (DDL string or StructType) is mandatory, inference is
not offered, empty fields become NULL (mirroring COPY ... NULL AS ''), and
gzip input decodes transparently (S4) exactly as the reference's
``unpigz | COPY`` pipe does.

The engine itself is parquet-native (FIXTURES.md); this source exists for
interchange with reference-shaped dump extracts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# DDL for the reference's per-language tables (steps/wikipedia_import.sh):
# the schemas a reference user would bring along.
REFERENCE_TABLE_DDL: dict[str, str] = {
    "page": "page_id INT, page_title STRING",                      # :30-33
    "pagelinks": "pl_title STRING, langcount INT, othercount INT",  # :47-51
    "langlinks": "ll_from INT, ll_lang STRING, ll_title STRING",    # :63-67
    "redirect": "rd_from INT, rd_title STRING",                     # :79-82
    "linktarget": "lt_id BIGINT, lt_title STRING",                  # sql2csv.sh:62-65
    "geo_tags": (
        "gt_page_id BIGINT, gt_lat DECIMAL(11,8), gt_lon DECIMAL(11,8)"
    ),  # wikidata_import.sh:28-33
}


def read_table_csv(
    spark: SparkSession, path: str, schema: str | StructType
) -> DataFrame:
    """Headerless comma-separated scan with a DECLARED schema (no inference
    — a malformed row becomes NULL columns under PERMISSIVE, never a
    silently-wrong inferred type). Quotes/escapes follow the reference's
    csv.writer conventions (double-quote quoting, doubled-quote escape);
    '' -> NULL; .gz paths decode transparently."""
    return (
        spark.read.schema(schema)
        .option("quote", '"')
        .option("escape", '"')
        .option("nullValue", "")
        .option("mode", "PERMISSIVE")
        .csv(path)
    )
