"""Train/eval contamination check — n-gram overlap against a benchmark set.

A training-data pipeline must detect documents that leak evaluation content
(decontamination). The standard method is n-gram collision: hash every word
k-gram of the benchmark corpus into a reference set, then flag training
documents by the fraction of their k-grams that collide.

Scale design (10^9 train docs x 10^5 eval docs):
- grams are hashed to int64 (the shared md5-prefix hash60 primitive) BEFORE
  the join, so the shuffle carries 8-byte keys, not strings;
- the overlap is one equi-join on the gram hash: eval side is distinct-
  deduplicated and orders of magnitude smaller than the train side, so
  Catalyst broadcasts it when it fits and falls back to a shuffled hash
  join when it does not — either way no cartesian anywhere;
- per-doc aggregation is a map-side-combinable count over the join output.
The whole program is JVM expressions (zero Python in the hot path) and is
mirrored expression-for-expression by the DuckDB oracle
(oracle_training.contamination_sql), so contamination fractions match
bit-for-bit at e6 quantization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import SHINGLE_K, shingles_col
from .text import hash60_col

# deterministic eval-set membership: doc_id % EVAL_MOD == 0 (~1%), so the
# oracle reproduces the exact same benchmark split with integer arithmetic
EVAL_MOD = 97


def doc_grams(docs: DataFrame) -> DataFrame:
    """(doc_id, gram:int64) — distinct hashed word SHINGLE_K-grams per document."""
    return (
        docs.select(
            "doc_id",
            F.explode(
                F.array_distinct(shingles_col(F.col("text"), SHINGLE_K))
            ).alias("_g"),
        )
        .select("doc_id", hash60_col(F.col("_g")).alias("gram"))
    )


def contamination_report(docs: DataFrame) -> DataFrame:
    """Per TRAIN document: total distinct k-grams, how many collide with the
    eval split (doc_id % EVAL_MOD == 0), and the contaminated fraction
    (e6-quantized). Eval documents themselves are excluded from the report.
    """
    base = docs.select("doc_id", "text")
    train = base.filter(F.col("doc_id") % EVAL_MOD != 0)
    eval_grams = (
        doc_grams(base.filter(F.col("doc_id") % EVAL_MOD == 0))
        .select("gram")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    tg = doc_grams(train)
    joined = tg.join(eval_grams, "gram", "left")
    per_doc = joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.count("_hit").alias("n_contaminated"),
    )
    frac = F.col("n_contaminated").cast("double") / F.col("n_grams").cast("double")
    return per_doc.select(
        "doc_id",
        "n_grams",
        "n_contaminated",
        F.floor(frac * 1000000.0 + F.lit(0.5)).cast("bigint").alias("contam_e6"),
    )
