"""Text-analysis operators for the training-data pipeline (driver `documents`
table): language-ID heuristic, quality scoring, token counting, document
fingerprinting. All JVM-side expressions (no Python in the hot path); each has
an exactly-matching DuckDB oracle built from the same primitive emitters.

Cross-engine 60-bit hash: int(md5(x)[:15], 16) — Spark via conv(), DuckDB via
a digit-fold (oracle.hash60_sql). Identical by construction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "ein", "zu", "den", "von", "mit"],
    "fr": ["le", "la", "les", "de", "et", "un", "une", "est", "que", "pour"],
}
TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def hash60_col(c: Column) -> Column:
    return F.conv(F.substring(F.md5(c.cast("binary")), 1, 15), 16, 10).cast("bigint")


def words_col(text: Column) -> Column:
    return F.filter(F.split(text, " "), lambda w: F.length(w) > 0)


# Broadcast-vocab greedy longest-match wordpiece (round-4 verdict item 6):
# a REAL-tokenizer-shaped token counter in pure JVM expressions, so
# pack_documents budgets can follow subword counts instead of the regex
# proxy. The vocab is a compile-time literal (a production run would load
# the model's vocab file the same way — a few 10^4 strings is a trivially
# broadcast literal/lookup); greedy longest-match-first is WordPiece's
# matching rule. Characters matching no piece count one token each
# (byte-fallback analog), so every step consumes >= 1 char and
# WORDPIECE_MAX_STEPS bounds the per-word fold; chars beyond the step
# budget add ceil(rest/4) tokens (the ~4-chars-per-token heuristic).
WORDPIECE_VOCAB: tuple[str, ...] = (
    "the", "tion", "ing", "ent", "ation", "ter", "and", "ous", "ish",
    "ness", "ment", "able", "er", "ed", "ly", "es", "re", "an", "on",
    "at", "en", "or", "in", "is", "it", "al", "ar", "st", "le", "de",
    "a", "b", "c", "d", "e", "f", "g", "h", "i", "j", "k", "l", "m",
    "n", "o", "p", "q", "r", "s", "t", "u", "v", "w", "x", "y", "z",
    "0", "1", "2", "3", "4", "5", "6", "7", "8", "9",
)
WORDPIECE_MAX_STEPS = 16
_WP_SHIFT = 1 << 20  # fold state = consumed_chars * 2^20 + token_count


def wordpiece_count_col(word: Column) -> Column:
    """Greedy longest-match wordpiece token count of one word, as a pure
    JVM expression fold: state = pos*2^20 + n; each of the MAX_STEPS
    iterations matches the longest vocab piece at pos (array filter + max
    over the literal vocab) or consumes one unknown char for one token.
    Bit-equal DuckDB twin: oracle_training.wordpiece_sql."""
    vocab = F.array(*[F.lit(p) for p in WORDPIECE_VOCAB])
    ln = F.length(word)

    def step(s, _):
        pos = F.shiftright(s, 20)
        best = F.array_max(
            F.transform(
                F.filter(
                    vocab,
                    lambda p: word.substr(
                        (pos + 1).cast("int"), F.length(p)
                    ) == p,
                ),
                F.length,
            )
        )
        adv = F.coalesce(best, F.lit(1)).cast("bigint")
        return F.when(pos >= ln, s).otherwise(
            s + adv * F.lit(_WP_SHIFT) + 1
        )

    folded = F.aggregate(
        F.sequence(F.lit(1), F.lit(WORDPIECE_MAX_STEPS)),
        F.lit(0).cast("bigint"),
        step,
    )
    consumed = F.shiftright(folded, 20)
    n = folded - consumed * F.lit(_WP_SHIFT)
    rest = F.greatest(ln.cast("bigint") - consumed, F.lit(0).cast("bigint"))
    return n + F.floor((rest + 3) / 4).cast("bigint")


def wordpiece_token_counts(docs: DataFrame) -> DataFrame:
    """docs + wp_tokens: per-document greedy-wordpiece token count (sum of
    wordpiece_count_col over the whitespace words)."""
    total = F.aggregate(
        words_col(F.col("text")),
        F.lit(0).cast("bigint"),
        lambda acc, w: acc + wordpiece_count_col(w),
    )
    return docs.withColumn("wp_tokens", total)


def lang_id(docs: DataFrame) -> DataFrame:
    """N-gram/stopword heuristic language ID: per language, the fraction of
    words that are stopwords; argmax with 'und' (unknown) when all zero.
    Deterministic tie-break: language name ascending."""
    w = words_col(F.col("text"))
    out = docs.select("doc_id", w.alias("_w"))
    for L, sw in STOPWORDS.items():
        hits = F.size(F.filter(F.col("_w"), lambda x: x.isin(sw)))
        out = out.withColumn(f"_hits_{L}", hits)
    n = F.greatest(F.size("_w"), F.lit(1))
    langs = sorted(STOPWORDS)
    best = F.lit("und")
    best_score = F.lit(0)
    # pick max hits; ties -> first language in sorted order wins
    for L in reversed(langs):
        cond = F.col(f"_hits_{L}") >= best_score
        best = F.when((F.col(f"_hits_{L}") > 0) & cond, F.lit(L)).otherwise(best)
        best_score = F.when(cond, F.col(f"_hits_{L}")).otherwise(best_score)
    return out.select(
        "doc_id",
        best.alias("lang_guess"),
        *[
            F.floor(F.col(f"_hits_{L}") * 1000000.0 / n + 0.5).cast("bigint").alias(f"ratio_{L}_e6")
            for L in langs
        ],
    )


def quality_score(docs: DataFrame) -> DataFrame:
    """Quality heuristics: word count, mean word length, stopword ratio,
    alpha ratio -> composite score (README-style filters for training data)."""
    w = words_col(F.col("text"))
    d = docs.select("doc_id", F.col("text"), w.alias("_w"))
    n_words = F.size("_w").cast("bigint")
    n_chars = F.length("text").cast("bigint")
    sw = STOPWORDS["en"]
    sw_hits = F.size(F.filter(F.col("_w"), lambda x: x.isin(sw))).cast("bigint")
    alpha = F.length(F.regexp_replace("text", "[^A-Za-z]", "")).cast("bigint")
    d = d.select(
        "doc_id",
        n_words.alias("n_words"),
        n_chars.alias("n_chars"),
        sw_hits.alias("stopword_hits"),
        alpha.alias("alpha_chars"),
    )
    nz = F.greatest(F.col("n_words"), F.lit(1))
    mean_wl = (F.col("n_chars") - (F.col("n_words") - 1)) / nz
    score = (
        F.least(F.col("n_words") / 100.0, F.lit(1.0)) * 0.4
        + (F.col("stopword_hits") / nz) * 0.3
        + (F.col("alpha_chars") / F.greatest(F.col("n_chars"), F.lit(1))) * 0.3
    )
    return d.select(
        "doc_id",
        "n_words",
        "stopword_hits",
        F.floor(mean_wl * 1000000.0 + 0.5).cast("bigint").alias("mean_word_len_e6"),
        F.floor(score * 1000000.0 + 0.5).cast("bigint").alias("quality_e6"),
    )


def token_counts(docs: DataFrame) -> DataFrame:
    """Whitespace tokens + BPE-ish regex tokens + distinct words."""
    w = words_col(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(w).cast("bigint").alias("n_ws_tokens"),
        F.regexp_count("text", F.lit(TOKEN_RE)).cast("bigint").alias("n_re_tokens"),
        F.size(F.array_distinct(w)).cast("bigint").alias("n_distinct_words"),
    )


def fingerprint(docs: DataFrame) -> DataFrame:
    """Deterministic 60-bit content fingerprint of normalized text."""
    norm = F.lower(F.regexp_replace("text", "[^A-Za-z0-9 ]", " "))
    return docs.select(
        "doc_id",
        hash60_col(norm).alias("fingerprint60"),
        F.md5(F.col("text").cast("binary")).alias("content_md5"),
    )


# Declared-schema semi-structured extraction: the events table carries a JSON
# string column (props). Like every other reader in this engine the schema is
# DECLARED, never inferred (SURVEY §1.1) — from_json with a DDL schema keeps
# the parse inside whole-stage codegen (Jackson on the JVM, no Python), and a
# malformed document yields NULL fields, mirroring PERMISSIVE CSV.
PROPS_SCHEMA = "k INT"


def parse_props(events: DataFrame) -> DataFrame:
    """events + parsed props fields (props_k) via from_json(PROPS_SCHEMA)."""
    return events.withColumn(
        "props_k", F.from_json(F.col("props"), PROPS_SCHEMA)["k"]
    )


def props_stats(events: DataFrame) -> DataFrame:
    """Per-event-type aggregate over the JSON-extracted field."""
    return (
        parse_props(events)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("props_k").cast("bigint").alias("k_sum"),
            F.countDistinct("props_k").alias("k_distinct"),
        )
    )


# Gopher-style repetition signals (Rae et al. 2021, "Scaling Language
# Models", Table A1 — the public repetition filters every production
# training-data pipeline applies): duplicate-word fraction, most-common-
# 2-gram fraction, duplicated-3-gram fraction. The reference has no such
# operator (it curates places, not corpora); this is part of the engine's
# LLM-curation surface next to quality_score/token_counts.
#
# 100-TB shape: every statistic is computed PER ROW from the document's own
# word array — array_sort + one expression fold per n-gram size — so the
# operator is a narrow map with ZERO shuffle (contrast an explode +
# groupBy(doc_id, gram) formulation, which shuffles every gram occurrence).
# Per-doc state is bounded by the largest single document, never the corpus.
def _run_stats_col(grams: Column) -> Column:
    """struct(mx, dup) over a gram array: mx = occurrences of the most
    frequent gram, dup = number of positions whose gram occurs more than
    once. One fold over the SORTED array (equal grams are adjacent runs):
    run length 2 adds both positions of the pair, each further repeat adds
    one. Grams are never '' (words are non-empty), so '' is a safe init."""
    s = F.array_sort(grams)
    init = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("bigint").alias("run"),
        F.lit(0).cast("bigint").alias("mx"),
        F.lit(0).cast("bigint").alias("dup"),
    )

    def step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(
            F.lit(1).cast("bigint")
        )
        dup = acc["dup"] + F.when(run == 2, F.lit(2)).when(
            run > 2, F.lit(1)
        ).otherwise(F.lit(0)).cast("bigint")
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["mx"], run).alias("mx"),
            dup.alias("dup"),
        )

    return F.aggregate(
        s, init, step,
        lambda acc: F.struct(acc["mx"].alias("mx"), acc["dup"].alias("dup")),
    )


def _e6_col(num: Column, den: Column) -> Column:
    """floor(num * 1e6 / den + 1/2) in EXACT integer arithmetic
    ((2*num*1e6 + den) div (2*den)) — bit-equal on any engine, no double
    rounding at the .5 boundary. den must be >= 1. The Column `/` operator
    is DOUBLE division, so divide only after subtracting the modulus: the
    quotient is then an exact integer and IEEE division returns it exactly
    (all operands far below 2^53)."""
    a = num * F.lit(2000000) + den
    b = den * F.lit(2)
    return ((a - F.pmod(a, b)) / b).cast("bigint")


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Per-document repetition signals: (doc_id, n_words, dup_word_frac_e6,
    top_2gram_frac_e6, dup_3gram_frac_e6). Fraction denominators are the
    number of word/gram positions (max 1); _e6 = round-half-up fixed point.
    DuckDB twin: oracle_training._repetition_sql (unnest + groupBy grams —
    set-identical semantics, different physical shape)."""
    from .dedup import shingles_col

    w = words_col(F.col("text"))
    d = docs.select(
        "doc_id",
        F.size(w).cast("bigint").alias("n_words"),
        F.size(F.array_distinct(w)).cast("bigint").alias("_ndw"),
        _run_stats_col(shingles_col(F.col("text"), 2)).alias("_s2"),
        _run_stats_col(shingles_col(F.col("text"), 3)).alias("_s3"),
    )
    nw = F.greatest(F.col("n_words"), F.lit(1))
    n2 = F.greatest(F.col("n_words") - 1, F.lit(1))
    n3 = F.greatest(F.col("n_words") - 2, F.lit(1))
    return d.select(
        "doc_id",
        "n_words",
        _e6_col(F.col("n_words") - F.col("_ndw"), nw).alias("dup_word_frac_e6"),
        _e6_col(F.col("_s2")["mx"], n2).alias("top_2gram_frac_e6"),
        _e6_col(F.col("_s3")["dup"], n3).alias("dup_3gram_frac_e6"),
    )


# PII scrubbing — the curation step between dedup and packing in a
# production training-data pipeline. Patterns are deliberately restricted
# to syntax with IDENTICAL semantics in Java regex (Spark, JVM codegen) and
# RE2 (DuckDB oracle): character classes, bounded repetition, \b word
# boundaries; no backrefs, no lookaround. Replacement order is fixed
# (emails, then IPv4, then phones) on both engines.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"\+\d{9,14}"


def redact_pii(docs: DataFrame) -> DataFrame:
    """(doc_id, n_emails, n_ipv4, n_phones, redacted_md5): count and strip
    emails / IPv4s / international phone numbers. Pure narrow map — three
    JVM regexp passes per row, zero shuffle; at 100 TB this pipelines with
    the quality filters inside one codegen stage."""
    t = F.col("text")
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, PII_EMAIL, "<EMAIL>"),
            PII_IPV4, "<IP>",
        ),
        PII_PHONE, "<PHONE>",
    )
    return docs.select(
        "doc_id",
        F.regexp_count(t, F.lit(PII_EMAIL)).cast("bigint").alias("n_emails"),
        F.regexp_count(t, F.lit(PII_IPV4)).cast("bigint").alias("n_ipv4"),
        F.regexp_count(t, F.lit(PII_PHONE)).cast("bigint").alias("n_phones"),
        F.md5(red.cast("binary")).alias("redacted_md5"),
    )


def source_mix(docs: DataFrame) -> DataFrame:
    """Per-(source, lang) curation mix report: document count, whitespace
    token volume, and distinct normalized fingerprints (so dup rate =
    1 - n_unique_docs/n_docs). The report every corpus-composition decision
    reads before weighting sources in a training mix. One groupBy with
    map-side partial aggregation (countDistinct partials include the
    distinct key); output cardinality = |sources| x |langs| (tiny)."""
    w = words_col(F.col("text"))
    norm = F.lower(F.regexp_replace("text", "[^A-Za-z0-9 ]", " "))
    d = docs.select(
        "source",
        "lang",
        F.size(w).cast("bigint").alias("_tok"),
        hash60_col(norm).alias("_fp"),
    )
    return d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_tok").alias("n_tokens"),
        F.countDistinct("_fp").alias("n_unique_docs"),
    )


def unigram_surprisal(docs: DataFrame, vocab_k: int = 4096) -> DataFrame:
    """Per-document unigram surprisal score — the perplexity-proxy quality
    signal of a training-data curation pass (low = common-token/repetitive
    text, high = rare-token-heavy or out-of-vocabulary gibberish), with the
    language model derived from the corpus itself (no external data, cf.
    the CCNet/Gopher-style LM-quality filters).

    Metric, chosen to be EXACT on both engines (no transcendental float —
    Java's log and C++'s log may differ in the last ulp, which would flake
    a value-hash parity check): per-token surprisal is the integer
    floor(log2(T div n(token))) computed as length(bin(q)) - 1, where
    T = corpus token count and n = token frequency; tokens outside the
    top-``vocab_k`` vocabulary (count desc, token asc — total order, token
    unique) take the OOV floor floor(log2(2T)). Per-doc sum is an int64
    SUM (order-invariant), avg is fixed-point (1000*sum) div n_tokens.

    Scale shape at 10^12 docs: one explode + map-side-combined groupBy for
    the counts; TakeOrdered(vocab_k) for the vocabulary (per-partition
    top-k + a k-row driver merge, no global sort); scoring joins the token
    stream against the BROADCAST k-row vocab and the broadcast 1-row total
    (scalar-max pattern, no collect), then one groupBy(doc_id). Two
    shuffles total on the big side. Docs with zero whitespace tokens have
    no surprisal and are absent from the output (documented invariant;
    the oracle groups over the same exploded stream)."""
    toks = docs.select(
        "doc_id", F.explode(words_col(F.col("text"))).alias("token")
    )
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(F.sum("n").alias("t_total"))
    vocab = counts.orderBy(F.desc("n"), F.asc("token")).limit(vocab_k)
    q = F.expr("t_total div n")
    oov_q = F.col("t_total") * 2
    surprisal = F.when(
        F.col("n").isNotNull(), F.length(F.bin(q)) - 1
    ).otherwise(F.length(F.bin(oov_q)) - 1).cast("bigint")
    scored = (
        toks.join(F.broadcast(vocab), "token", "left")
        .crossJoin(F.broadcast(total))
        .select("doc_id", surprisal.alias("s"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum("s").cast("bigint").alias("sum_surprisal"),
        F.expr("1000 * sum(s) div count(1)").cast("bigint").alias(
            "avg_surprisal_milli"
        ),
    )


# Hashed-n-gram linear classifier inference — the quality-classifier shape
# of CCNet/LLaMA-style curation (fastText: Joulin et al. 2017; a learned
# linear model over hashed unigram+bigram features scores each document and
# a threshold keeps the "wiki-like" ones). No external model exists in this
# sandbox, so the weight VECTOR is a deterministic hash-derived stand-in
# (integer weights in [-1000, 1000]); the feature hashing and scoring
# algebra are the real production plumbing.
N_CLS_BUCKETS = 4096
_CLS_W_SPAN = 2001  # weights take values hash % 2001 - 1000 in [-1000, 1000]


def _cls_bucket_col(t: Column) -> Column:
    return F.pmod(hash60_col(t), F.lit(N_CLS_BUCKETS))


def _cls_weight_col(bucket: Column) -> Column:
    h = hash60_col(F.concat(F.lit("w:"), bucket.cast("string")))
    return (h % _CLS_W_SPAN - F.lit(1000)).cast("bigint")


def _cls_features_col(text: Column) -> Column:
    from .dedup import shingles_col

    return F.concat(words_col(text), shingles_col(text, 2))


def classifier_score(docs: DataFrame) -> DataFrame:
    """Per-document linear classifier score over hashed unigram + bigram
    features: (doc_id, n_feats, score_sum, keep) with keep = score_sum > 0.

    The weight of each bucket is computed INLINE from the bucket id, so
    scoring is one ``F.aggregate`` fold per row — a pure narrow map, ZERO
    shuffle (plan-asserted), pipelining with the other quality filters
    inside one codegen stage. A learned vector too wide to inline would
    instead explode features -> bucket -> broadcast-join a (bucket, w)
    table -> one groupBy(doc_id).

    Integer-exact on both engines: hash60 buckets, integer weights,
    int64 sum (|w| <= 1000, so overflow needs > 9e15 features per doc).
    DuckDB twin: oracle_training._classifier_score_sql.
    """
    feats = _cls_features_col(F.col("text"))
    score = F.aggregate(
        feats,
        F.lit(0).cast("bigint"),
        lambda acc, t: acc + _cls_weight_col(_cls_bucket_col(t)),
    )
    d = docs.select(
        "doc_id",
        F.size(feats).cast("bigint").alias("n_feats"),
        score.alias("score_sum"),
    )
    return d.select(
        "doc_id", "n_feats", "score_sum", (F.col("score_sum") > 0).alias("keep")
    )
