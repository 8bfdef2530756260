"""Deterministic sampling operators for training-data pipelines.

Task-level RNG sampling (``df.sample()``) is NOT stable under retries,
resumes, or repartitioning — a re-run of a failed task can emit a different
row subset, which breaks exactly the resumable-pipeline contract the catalog
provides. Both operators here derive the keep/drop decision from a
CONTENT-keyed hash (the md5-prefix hash60 primitive shared with the dedup
family), so the same row set survives any execution plan, any retry, and is
reproducible by the DuckDB oracle bit-for-bit.

Scale notes:
- ``hash_sample`` is a pure narrow filter — no shuffle, survives predicate
  pushdown next to other filters, cost O(rows) regardless of fraction.
- ``stratified_sample`` shuffles once on the strata columns; the per-stratum
  window is the standard top-k shape (rank by hash, keep <= cap). Skew is
  bounded by the largest stratum; for mega-strata at 10^9 rows, pre-truncate
  per partition first (each input partition can contribute at most ``cap``
  survivors, so a partial window per partition before the global one caps
  the shuffled volume at n_partitions*cap rows per stratum).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .text import hash60_col

SAMPLE_MOD = 1_000_000
SAMPLE_SEED = 42
EVAL_PERMILLE = 100  # leakage_safe_split's eval share, per mille


def _sample_hash(key_col: str):
    return hash60_col(
        F.concat(F.lit(f"{SAMPLE_SEED}:"), F.col(key_col).cast("string"))
    )


def hash_sample(df: DataFrame, key_col: str, fraction: float) -> DataFrame:
    """Keep rows where hash60(SAMPLE_SEED:key) mod 1e6 < round(fraction*1e6)
    — a deterministic, retry/resume-stable Bernoulli sample keyed on
    content.
    round(), not int(): float truncation turns 0.3*1e6 into 299999 and the
    Spark predicate silently diverges from a hand-written oracle threshold
    (int(0.3 * 1e6) == 299999 on binary floats)."""
    return df.filter(
        F.pmod(_sample_hash(key_col), F.lit(SAMPLE_MOD))
        < int(round(fraction * SAMPLE_MOD))
    )


def stratified_sample(
    df: DataFrame, strata_cols: list[str], cap: int, key_col: str
) -> DataFrame:
    """At most ``cap`` rows per stratum, chosen by deterministic hash order
    (tie-broken by the key itself) — balanced class downsampling whose
    output is independent of partitioning and retries."""
    h = _sample_hash(key_col)
    w = Window.partitionBy(*strata_cols).orderBy(
        h.asc(), F.col(key_col).asc()
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= cap)
        .drop("_rn")
    )


def shard_shuffle(df: DataFrame, key_col: str, n_shards: int) -> DataFrame:
    """Deterministic global training-order shuffle + shard assignment:
    (row..., shard, pos) where shard = hash60(SAMPLE_SEED:key) mod n_shards
    and pos is the row's rank inside its shard ordered by (hash, key).

    The (shard, pos) pair IS the epoch read order — a training job reads
    shard files in pos order and gets a reproducible pseudo-random
    permutation of the corpus that is independent of input partitioning,
    task retries, and resume points (same contract as hash_sample). A new
    SAMPLE_SEED yields a fresh permutation without rewriting the corpus.

    100-TB shape: ONE hash-partition shuffle on `shard` + a per-shard sort
    — exactly what `df.repartition(n_shards, shard).sortWithinPartitions`
    ships to a writer. There is no global sort: each shard orders
    independently (the window partitions by shard), so parallelism =
    n_shards and per-task memory is corpus/n_shards. Pick n_shards the way
    you'd pick output file count (e.g. corpus_bytes / 512 MiB).
    """
    h = _sample_hash(key_col)
    d = df.withColumn("_h", h).withColumn(
        "shard", F.pmod(F.col("_h"), F.lit(n_shards)).cast("bigint")
    )
    w = Window.partitionBy("shard").orderBy(
        F.col("_h").asc(), F.col(key_col).asc()
    )
    return (
        d.withColumn("pos", F.row_number().over(w).cast("bigint")).drop("_h")
    )


def rebalance_sources(docs: DataFrame, max_tokens_per_source: int) -> DataFrame:
    """Token-budgeted source rebalancing — the mix-weighting step after the
    source_mix report: downsample every source to at most ~max_tokens
    whitespace tokens by a deterministic per-source keep fraction, leaving
    under-budget sources intact.

    keep iff hash60(SAMPLE_SEED:doc_id) mod 1e6 < frac_e6, where frac_e6 =
    min(1e6, max_tokens*1e6 div source_tokens) in EXACT integer arithmetic
    (no float fraction can disagree with the oracle's threshold). Returns
    (doc_id, source, n_tokens, frac_e6) for kept docs.

    100-TB shape: one map-side-combined groupBy over |sources| keys, a
    BROADCAST join of that tiny stats table back onto the corpus, and a
    narrow hash filter — the corpus is never shuffled."""
    from pyspark.sql import functions as F

    from .text import words_col

    d = docs.select(
        "doc_id",
        "source",
        F.size(words_col(F.col("text"))).cast("bigint").alias("n_tokens"),
    )
    stats = d.groupBy("source").agg(F.sum("n_tokens").alias("_src_tokens"))
    # compute the cap in PYTHON ints: lit(int)*lit(int) would be int32
    # arithmetic on the JVM and 20000*1e6 overflows (ANSI mode throws)
    cap = F.lit(int(max_tokens_per_source) * 1000000).cast("bigint")
    exact = ((cap - F.pmod(cap, F.col("_src_tokens"))) / F.col("_src_tokens")).cast("bigint")
    stats = stats.select(
        "source", F.least(F.lit(1000000), exact).alias("frac_e6")
    )
    keep = (
        d.join(F.broadcast(stats), "source")
        .filter(
            F.pmod(_sample_hash("doc_id"), F.lit(SAMPLE_MOD))
            < F.col("frac_e6")
        )
    )
    return keep.select("doc_id", "source", "n_tokens", "frac_e6")


def leakage_safe_split(docs: DataFrame) -> DataFrame:
    """Leakage-safe train/eval split: the split decision is keyed on the
    NORMALIZED-CONTENT fingerprint (the dedup family's hash60 of
    lower/punct-stripped text), not on doc_id — so every exact or
    trivially-reformatted copy of a document lands in the SAME split by
    construction. A doc_id-keyed split would scatter a duplicated document
    across train and eval and leak the eval set into training; splitting by
    content group is the standard fix (cf. dedup-before-split in LLM data
    curation). Near-dups beyond normalization are handled upstream by the
    dedup keepers; this operator guarantees the exact-content class.

    Output: (doc_id, fingerprint60, split) for every input row, split in
    {'train','eval'} with P(eval) = EVAL_PERMILLE/1000 over fingerprint
    groups (not documents — a mega-duplicated page counts once).

    100-TB shape: two md5 expressions per row, zero shuffles, zero joins —
    a narrow map that composes with any scan. Deterministic under retries,
    resumes, and repartitioning (same contract as hash_sample)."""
    norm = F.lower(F.regexp_replace("text", "[^A-Za-z0-9 ]", " "))
    fp = hash60_col(norm)
    h = hash60_col(F.concat(F.lit(f"{SAMPLE_SEED}:split:"), fp.cast("string")))
    return docs.select(
        "doc_id",
        fp.alias("fingerprint60"),
        F.when(F.pmod(h, F.lit(1000)) < EVAL_PERMILLE, F.lit("eval"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )
