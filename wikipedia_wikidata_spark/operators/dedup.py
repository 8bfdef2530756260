"""Deduplication operators for the training-data pipeline: exact (hash
groupBy), MinHash+LSH (shingle -> minhash -> band -> bucket self-join),
SimHash, and n-gram Jaccard verification of candidates.

Everything is JVM-side higher-order functions over the shared cross-engine
hash60 (md5-prefix) primitive, so the DuckDB oracle reproduces results
bit-for-bit. To guarantee the ops are exercised, queries run over an AUGMENTED
corpus (augment_docs): planted exact duplicates and near-duplicates derived
deterministically from the driver's documents table — the same augmentation is
in the oracle SQL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import hash60_col, words_col

N_HASH = 16
N_BANDS = 4
ROWS_PER_BAND = 4
SHINGLE_K = 3


def augment_docs(docs: DataFrame) -> DataFrame:
    """documents ∪ exact dups (doc_id+10^6, every 10th) ∪ near dups
    (doc_id+2*10^6, every 7th, last word dropped)."""
    base = docs.select("doc_id", "text")
    exact = base.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    w = words_col(F.col("text"))
    near = (
        base.filter(F.col("doc_id") % 7 == 0)
        .select(
            (F.col("doc_id") + 2000000).alias("doc_id"),
            # greatest(...,0): a zero-word doc would make the slice length -1,
            # which THROWS under ANSI; the oracle's [1:len-1] handles it as ''
            F.array_join(
                F.slice(w, 1, F.greatest(F.size(w) - 1, F.lit(0))), " "
            ).alias("text"),
        )
    )
    return base.unionByName(exact).unionByName(near)


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact dedup groups: content hash -> group size + canonical keeper."""
    return (
        docs.select(F.md5(F.col("text").cast("binary")).alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
        )
    )


def shingles_col(text: Column, k: int = SHINGLE_K) -> Column:
    w = words_col(text)
    sh = F.transform(
        F.sequence(F.lit(0), F.size(w) - k),
        lambda i: F.concat_ws(
            " ", *[F.element_at(w, (i + j + 1).cast("int")) for j in range(k)]
        ),
    )
    return F.when(F.size(w) >= k, sh).otherwise(
        F.array().cast("array<string>")
    )


def perm_consts(j: int) -> tuple[int, int]:
    """Affine permutation constants for minhash j, derived deterministically
    from md5 (odd multiplier < 2^31, addend < 2^31) — identical in the oracle."""
    import hashlib

    d = hashlib.md5(f"perm{j}".encode()).digest()
    a = (int.from_bytes(d[:4], "big") | 1) & 0x7FFFFFFF
    b = int.from_bytes(d[4:8], "big") & 0x7FFFFFFF
    return a, b


def minhash_signature(docs: DataFrame) -> DataFrame:
    """(doc_id, sig_0..sig_{N_HASH-1}): one md5-based base hash per shingle,
    then N_HASH affine permutations h_j = (a_j * (h & 2^30-1) + b_j) — min per
    doc. Empty shingle set -> per-doc sentinel. (One md5 per shingle instead
    of N_HASH md5s: 16x less hashing in the hot path.)"""
    d = docs.select("doc_id", shingles_col(F.col("text")).alias("_sh"))
    d = d.withColumn(
        "_sh_h",
        F.transform("_sh", lambda s: hash60_col(s).bitwiseAND(F.lit(0x3FFFFFFF))),
    )
    def affine(a, b):
        return lambda x: F.lit(a) * x + F.lit(b)

    cols = []
    for j in range(N_HASH):
        a, b = perm_consts(j)
        h = F.array_min(F.transform("_sh_h", affine(a, b)))
        sentinel = hash60_col(F.concat(F.lit(f"empty{j}:"), F.col("doc_id").cast("string")))
        cols.append(F.coalesce(h, sentinel).alias(f"sig_{j}"))
    return d.select("doc_id", *cols)


def lsh_bands(sig: DataFrame) -> DataFrame:
    """Banding: band key = md5 of R consecutive signature values + band idx."""
    bands = []
    for b in range(N_BANDS):
        parts = [F.col(f"sig_{b * ROWS_PER_BAND + r}").cast("string") for r in range(ROWS_PER_BAND)]
        key = F.md5(F.concat_ws(",", *parts, F.lit(str(b))).cast("binary"))
        bands.append(F.struct(F.lit(b).alias("band"), key.alias("band_key")))
    return sig.select(
        "doc_id", F.explode(F.array(*bands)).alias("bk")
    ).select("doc_id", F.col("bk.band_key").alias("band_key"))


def minhash_candidates(docs: DataFrame) -> DataFrame:
    """LSH candidate pairs + exact n-gram Jaccard on distinct shingle sets."""
    bands = lsh_bands(minhash_signature(docs))
    a = bands.select(F.col("doc_id").alias("doc_a"), "band_key")
    b = bands.select(F.col("doc_id").alias("doc_b"), "band_key")
    pairs = (
        a.join(b, "band_key")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates()
    )
    sh = docs.select(
        "doc_id", F.array_distinct(shingles_col(F.col("text"))).alias("_sh")
    )
    j = (
        pairs.join(sh.select(F.col("doc_id").alias("doc_a"), F.col("_sh").alias("_sa")), "doc_a")
        .join(sh.select(F.col("doc_id").alias("doc_b"), F.col("_sh").alias("_sb")), "doc_b")
    )
    inter = F.size(F.array_intersect("_sa", "_sb")).cast("double")
    union = (F.size("_sa") + F.size("_sb") - F.size(F.array_intersect("_sa", "_sb"))).cast("double")
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return j.select(
        "doc_a",
        "doc_b",
        F.floor(jac * 1000000.0 + 0.5).cast("bigint").alias("jaccard_e6"),
    )


NGRAM_N = 2          # word bigrams for the n-gram Jaccard pass
JACCARD_T = 0.6      # near-dup threshold


def ngram_jaccard_pairs(docs: DataFrame) -> DataFrame:
    """All-pairs n-gram Jaccard near-dup via prefix filtering (PPJoin-lite).

    Candidate generation is EXACT for Jaccard >= t = JACCARD_T (no LSH
    recall loss): each doc's distinct word-bigram set is ordered by
    ascending global document frequency (rarest first); two sets with
    Jaccard >= t must share a token within their first |x| - ceil(t*|x|) + 1
    tokens, so the self-join runs only on those prefixes — the rare tokens —
    which bounds fanout per token and sidesteps the hot-key blowup a naive
    token self-join has at scale. Verification recomputes exact Jaccard on
    the full sets.
    Output: (doc_a, doc_b, jaccard_e6) for pairs with jaccard >= t.
    """
    prof = docs.select(
        "doc_id", F.array_distinct(shingles_col(F.col("text"), NGRAM_N)).alias("g")
    ).filter(F.size("g") > 0)
    tok = prof.select("doc_id", F.explode("g").alias("gram"))
    dfreq = tok.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    ordered = (
        tok.join(dfreq, "gram")
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("df", "gram"))),
                lambda x: x["gram"],
            ).alias("toks")
        )
    )
    n = F.size("toks")
    plen = (n - F.ceil(F.lit(JACCARD_T) * n) + 1).cast("int")
    pref = ordered.select(
        "doc_id", F.explode(F.slice("toks", F.lit(1), plen)).alias("gram")
    )
    a = pref.select(F.col("doc_id").alias("doc_a"), "gram")
    b = pref.select(F.col("doc_id").alias("doc_b"), "gram")
    cand = (
        a.join(b, "gram")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates()
    )
    j = (
        cand.join(prof.select(F.col("doc_id").alias("doc_a"), F.col("g").alias("_ga")), "doc_a")
        .join(prof.select(F.col("doc_id").alias("doc_b"), F.col("g").alias("_gb")), "doc_b")
    )
    inter = F.size(F.array_intersect("_ga", "_gb")).cast("double")
    union = (F.size("_ga") + F.size("_gb") - F.size(F.array_intersect("_ga", "_gb"))).cast("double")
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return (
        j.withColumn("_jac", jac)
        .filter(F.col("_jac") >= JACCARD_T)
        .select(
            "doc_a",
            "doc_b",
            F.floor(F.col("_jac") * 1000000.0 + 0.5).cast("bigint").alias("jaccard_e6"),
        )
    )


SIMHASH_BITS = 32


def simhash(docs: DataFrame) -> DataFrame:
    """32-bit SimHash over word tokens (weight 1 per occurrence)."""
    d = docs.select("doc_id", F.explode(words_col(F.col("text"))).alias("_w"))
    d = d.withColumn("_h", hash60_col(F.col("_w")))
    aggs = [
        F.sum(
            F.when(F.expr(f"(shiftright(_h, {b}) & 1) = 1"), 1).otherwise(-1)
        ).alias(f"_b{b}")
        for b in range(SIMHASH_BITS)
    ]
    g = d.groupBy("doc_id").agg(*aggs)
    sh = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"_b{b}") > 0, F.lit(1 << b).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        sh = term if sh is None else (sh + term)
    return g.select("doc_id", sh.alias("simhash32"))


def incremental_minhash_dedup(
    new_docs: DataFrame, index_bands: DataFrame
) -> DataFrame:
    """Dedup a NEW crawl batch against an EXISTING corpus's persisted LSH
    index — the incremental form of minhash_candidates: when fresh data
    lands, only the batch is shingled/hashed; the old corpus contributes
    nothing but its (doc_id, band_key) index table (lsh_bands output, a
    natural catalog table maintained across crawls by appending each
    accepted batch's bands).

    Returns (doc_id, dup_of, n_index_matches) for each new doc sharing at
    least one band with an indexed doc: dup_of = smallest matching indexed
    doc_id (deterministic), n_index_matches = distinct indexed docs hit.

    100-TB shape: cost is O(batch) for signatures plus ONE band_key
    equi-join against the index — never O(corpus) re-hashing, never a
    corpus self-join. Candidate volume is governed by the same banding
    geometry as the batch dedup (16 perms, 4 bands x 4 rows)."""
    nb = lsh_bands(minhash_signature(new_docs))
    idx = index_bands.select(
        F.col("doc_id").alias("_old_id"), "band_key"
    )
    return (
        nb.join(idx, "band_key")
        .groupBy("doc_id")
        .agg(
            F.min("_old_id").alias("dup_of"),
            F.countDistinct("_old_id").alias("n_index_matches"),
        )
    )


WINDOW_K = 8  # tokens per duplicated-substring detection window
WINDOW_MIN_DOCS = 2  # distinct documents a window must occur in


def duplicate_window_spans(docs: DataFrame) -> DataFrame:
    """Substring-LEVEL exact duplication detection (the Lee et al.
    "Deduplicating Training Data" primitive, window-hash form): hash every
    WINDOW_K-token window of every document and emit the windows whose hash
    occurs in >= WINDOW_MIN_DOCS DISTINCT documents — the spans a
    substring-dedup pass would cut, at token resolution, without any suffix
    array.

    Output: (doc_id, start_tok, gram60, n_docs) — one row per duplicated
    window occurrence, start_tok = 0-based token offset. A window repeated
    only WITHIN one document is not emitted (within-doc repetition is
    text.repetition_stats / spans.dedup_spans territory; this operator is
    the cross-document cut list).

    100-TB shape: the window stream is a narrow per-row expansion (~dl rows
    per doc, same order as tokenization itself); the frequency step is ONE
    map-side-combined groupBy on the 60-bit hash, and the cut-list join is
    a plain equi-join on the same key. Boilerplate mega-grams (the skewed
    keys) are exactly the rows the df-threshold keeps, so the second join's
    hot keys are bounded by the emitted cut list; salt gram60 like
    pip_join's cell key if one gram dominates (same measured-salt pattern).
    No pair enumeration anywhere — candidate volume is linear in the number
    of duplicated occurrences, not quadratic in docs sharing a gram."""
    from .text import hash60_col, words_col

    k = WINDOW_K
    w = words_col(F.col("text"))
    idx = F.when(
        F.size(w) >= k, F.sequence(F.lit(0), F.size(w) - k)
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(
        idx, lambda i: hash60_col(F.concat_ws(" ", F.slice(w, i + 1, k)))
    )
    occ = docs.select(
        "doc_id", F.posexplode(grams).alias("start_tok", "gram60")
    ).select("doc_id", F.col("start_tok").cast("bigint").alias("start_tok"), "gram60")
    freq = (
        occ.groupBy("gram60")
        .agg(F.countDistinct("doc_id").cast("bigint").alias("n_docs"))
        .filter(F.col("n_docs") >= WINDOW_MIN_DOCS)
    )
    return occ.join(freq, "gram60").select(
        "doc_id", "start_tok", "gram60", "n_docs"
    )
