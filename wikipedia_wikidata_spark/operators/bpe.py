"""Byte-pair-encoding tokenizer training over the corpus (Sennrich et al.
2016 word-frequency form) — the missing "train the tokenizer on the data"
member of the training-pipeline family (pack_documents consumes token
counts; this LEARNS the subword vocabulary those counts come from).

Distributed shape (the one that holds at 10^12 documents):

- The unit of iteration is the WORD-FREQUENCY table, not the corpus: one
  map-side-combined ``groupBy(word)`` reduces 100 TB of text to a vocab
  table (10^7-10^8 rows at web scale) and every merge iteration after that
  touches only the vocab — the classic distributed-BPE decomposition.
- Each of the ``n_merges`` iterations is ONE map-side-combined pair-count
  shuffle plus a 1-row argmax ``collect()`` (a bounded scalar, the same
  budget as the IVF centroid pull in operators/similarity.py) and one
  narrow per-row ``replace``. State is truncated per iteration with
  ``localCheckpoint`` exactly like operators/graph.py's PageRank loop, so
  the lineage never grows with n_merges.
- Everything is JVM expressions (split / transform / replace); no Python
  touches a row.

Cross-engine exactness: symbol sequences are plain strings with a
TWO-SPACE separator and 2-space sentinels ("  l  o  w  _  "), and a merge
of (l, r) is the literal replace of " l  r " with " lr " — a single-space
border on each side, so the replacement consumes one of the two separator
spaces and re-emits it, restoring the invariant while letting ADJACENT
occurrences ("a a a a" -> "aa aa") merge in one left-to-right
non-overlapping pass. Spark's `replace` and DuckDB's `replace` share that
exact scan semantics (verified by the parity oracle
oracle_training.bpe_merges_sql / bpe_vocab_sql, which unrolls the same
iterations as CTEs). Ties in pair counts break on the pair string
ascending — pure-ASCII symbols, byte-order identical on both engines.

Reference scope note: the reference repo has no tokenizer stage; this
operator belongs to the LLM-training-data extension surface (task brief),
alongside packing/dedup/quality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

SEP = "  "  # two-space symbol separator (see module header)
N_MERGES = 8
MIN_WORD_LEN = 2  # >= 2 chars + the '_' EOW symbol => every seq has >= 3
MAX_WORD_LEN = 20  # symbols, so the bigram window below is never empty

MERGE_SCHEMA = StructType(
    [
        StructField("it", IntegerType(), False),
        StructField("left_sym", StringType(), False),
        StructField("right_sym", StringType(), False),
        StructField("pair_count", LongType(), False),
    ]
)


def word_freq(docs: DataFrame) -> DataFrame:
    """(word, freq) over lowercased pure [a-z]+ words of MIN..MAX length —
    the corpus reduction every BPE iteration runs against. One
    map-side-combined shuffle; the filter bounds the symbol alphabet and
    the per-word array sizes.

    Tokenization contract (the DuckDB oracle mirrors it): text splits on
    single spaces only, so a token joined by a tab, newline or
    punctuation fails the [a-z]+ filter and is dropped, not split."""
    w = F.explode(
        F.filter(F.split(F.lower(F.col("text")), " "), lambda x: F.length(x) > 0)
    ).alias("word")
    return (
        docs.select(w)
        .filter(
            F.col("word").rlike("^[a-z]+$")
            & F.length("word").between(MIN_WORD_LEN, MAX_WORD_LEN)
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )


def _init_seq() -> F.Column:
    """'  c1  c2  ...  cn  _  ' — chars + end-of-word symbol, 2-space
    separated with 2-space sentinels."""
    syms = F.concat(F.split(F.col("word"), ""), F.array(F.lit("_")))
    return F.concat(F.lit(SEP), F.array_join(syms, SEP), F.lit(SEP))


def _pair_counts(wf: DataFrame) -> DataFrame:
    """Adjacent-symbol pair counts weighted by word frequency: one
    map-side-combined groupBy. Pair key = left || '|' || right ('|' cannot
    appear in a symbol: symbols are [a-z_]+)."""
    syms = F.split(F.trim(F.col("seq")), SEP)
    n = F.size(syms)
    # zip(syms[:-1], syms[1:]) — slice-of-length-0 keeps a fully-merged
    # single-symbol word SAFE (F.sequence(0, n-2) would generate the
    # DESCENDING [0, -1] at n=1 — the polygon_stats degenerate-ring class
    # of bug — and element_at(syms, 0) raises; DuckDB's generate_series
    # twin is empty there, so this is the one construction both engines
    # agree on)
    span = F.greatest(n - F.lit(1), F.lit(0))
    bigrams = F.zip_with(
        F.slice(syms, 1, span),
        F.slice(syms, 2, span),
        lambda l, r: F.concat(l, F.lit("|"), r),
    )
    return (
        wf.select(F.explode(bigrams).alias("pair"), "freq")
        .groupBy("pair")
        .agg(F.sum("freq").cast("bigint").alias("pair_count"))
    )


def _learn(docs: DataFrame, n_merges: int) -> tuple[list[tuple], DataFrame]:
    """Run the merge loop; returns (merge rows, final word-freq-with-seq)."""
    wf = word_freq(docs).withColumn("seq", _init_seq()).localCheckpoint()
    merges: list[tuple] = []
    for it in range(1, n_merges + 1):
        top = (
            _pair_counts(wf)
            .orderBy(F.col("pair_count").desc(), F.col("pair").asc())
            .limit(1)
            .collect()
        )
        if not top:  # empty vocabulary (degenerate corpus) — stop early
            break
        left, right = top[0]["pair"].split("|")
        merges.append((it, left, right, int(top[0]["pair_count"])))
        wf = wf.withColumn(
            "seq",
            F.replace(
                F.col("seq"),
                F.lit(f" {left}{SEP}{right} "),
                F.lit(f" {left}{right} "),
            ),
        ).localCheckpoint()
    return merges, wf


def bpe_merges(
    docs: DataFrame, n_merges: int = N_MERGES, spark: SparkSession | None = None
) -> DataFrame:
    """Learned merge table (it, left_sym, right_sym, pair_count) —
    n_merges rows, the trained-tokenizer artifact. pair_count is
    non-increasing over iterations (a new pair's count is bounded by the
    count of the merge that created its symbol; old pairs only lose
    occurrences) — pinned by tests/test_bpe_contrastive.py."""
    spark = spark or docs.sparkSession
    merges, _ = _learn(docs, n_merges)
    return spark.createDataFrame(merges, MERGE_SCHEMA)


def bpe_vocab_segmentation(docs: DataFrame, n_merges: int = N_MERGES) -> DataFrame:
    """Vocabulary segmentation under the learned merges: (word, freq,
    n_pieces, pieces) with pieces '|'-joined in order. Applying the merge
    table is the serving half of the tokenizer: at 10^12 docs this output
    is the broadcast word->pieces lookup the corpus tokenization join
    consumes (the wordpiece counter in operators/text.py is the
    static-vocab analog)."""
    _, wf = _learn(docs, n_merges)
    trimmed = F.trim(F.col("seq"))
    return wf.select(
        "word",
        "freq",
        F.size(F.split(trimmed, SEP)).cast("bigint").alias("n_pieces"),
        F.replace(trimmed, F.lit(SEP), F.lit("|")).alias("pieces"),
    )
