"""Round-5 curation operators: repetition stats, PII redaction, shard
shuffle, source mix. Cross-engine parity (exact values vs DuckDB) runs in
test_oracle_parity; these pin hand-checked semantics and plan shapes.
"""

import hashlib

from pyspark.sql import functions as F

from wikipedia_wikidata_spark.operators import sampling
from wikipedia_wikidata_spark.operators.sampling import shard_shuffle
from wikipedia_wikidata_spark.operators.text import (
    redact_pii,
    repetition_stats,
    source_mix,
)


def _docs_df(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_repetition_stats_hand_cases(spark):
    """'a b a b a': 3/5 dup words, top 2-gram 2/4, dup-3-gram positions 2/3
    ('a b a' twice, 'b a b' once). Unique doc: 0 / 1-of-2 / 0. Single word
    and empty text: gram arrays empty, all fractions 0 (denominators
    floored at 1)."""
    df = _docs_df(spark, ["a b a b a", "x y z", "x", ""])
    got = {r["doc_id"]: r.asDict() for r in repetition_stats(df).collect()}
    assert got[0]["n_words"] == 5
    assert got[0]["dup_word_frac_e6"] == 600000
    assert got[0]["top_2gram_frac_e6"] == 500000
    assert got[0]["dup_3gram_frac_e6"] == 666667  # floor(2e6/3 + .5)
    assert got[1]["dup_word_frac_e6"] == 0
    assert got[1]["top_2gram_frac_e6"] == 500000  # max count 1 of 2 bigrams
    assert got[1]["dup_3gram_frac_e6"] == 0
    for d in (2, 3):
        assert got[d]["dup_word_frac_e6"] == 0
        assert got[d]["top_2gram_frac_e6"] == 0
        assert got[d]["dup_3gram_frac_e6"] == 0


def test_repetition_stats_is_narrow(spark):
    """Per-row sorted-array folds: the whole operator is one map stage —
    zero Exchange in the plan (the 100-TB point of the design)."""
    df = _docs_df(spark, ["a b c"] * 10)
    out = repetition_stats(df)
    p = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "Exchange" not in p, p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_shard_shuffle_invariants(spark, monkeypatch):
    """Every row keeps exactly one (shard, pos); pos is 1..n contiguous per
    shard; the permutation is plan-independent; a new seed reorders."""
    df = spark.range(0, 5000).withColumnRenamed("id", "doc_id")
    out = shard_shuffle(df, "doc_id", 8).collect()
    assert len(out) == 5000
    by_shard = {}
    for r in out:
        assert 0 <= r["shard"] < 8
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    for poss in by_shard.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))
    out2 = shard_shuffle(df.repartition(13), "doc_id", 8).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))
    # another epoch seed keeps the shard layout semantics but permutes order
    monkeypatch.setattr(sampling, "SAMPLE_SEED", 7)
    seed7 = shard_shuffle(df, "doc_id", 8).collect()
    a = {(r["doc_id"]): (r["shard"], r["pos"]) for r in out}
    b = {(r["doc_id"]): (r["shard"], r["pos"]) for r in seed7}
    moved = sum(1 for k in a if a[k] != b[k])
    assert moved > 4000  # nearly every doc lands elsewhere


def test_redact_pii_hand_cases(spark):
    """Counts and the redacted text itself (via md5) on planted PII; a
    clean document passes through byte-identical."""
    clean = "no personal data here"
    dirty = "write to bob@example.com or 10.0.0.1 tel +123456789 end"
    red = "write to <EMAIL> or <IP> tel <PHONE> end"
    df = _docs_df(spark, [clean, dirty])
    got = {r["doc_id"]: r.asDict() for r in redact_pii(df).collect()}
    assert (got[0]["n_emails"], got[0]["n_ipv4"], got[0]["n_phones"]) == (0, 0, 0)
    assert got[0]["redacted_md5"] == hashlib.md5(clean.encode()).hexdigest()
    assert (got[1]["n_emails"], got[1]["n_ipv4"], got[1]["n_phones"]) == (1, 1, 1)
    assert got[1]["redacted_md5"] == hashlib.md5(red.encode()).hexdigest()


def test_source_mix_hand_case(spark):
    """Two sources; one carries a duplicated text -> n_unique_docs dips."""
    rows = [
        (1, "alpha beta", "en", "web"),
        (2, "alpha beta", "en", "web"),
        (3, "gamma", "en", "web"),
        (4, "delta epsilon zeta", "de", "books"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    got = {(r["source"], r["lang"]): r.asDict() for r in source_mix(df).collect()}
    web = got[("web", "en")]
    assert (web["n_docs"], web["n_tokens"], web["n_unique_docs"]) == (3, 5, 2)
    books = got[("books", "de")]
    assert (books["n_docs"], books["n_tokens"], books["n_unique_docs"]) == (1, 3, 1)


def test_group_quantiles_hand_cases(spark):
    """1..10 -> quartiles (3, 5, 8) by the ceil(p*n) rank rule; a single
    row is its own quartiles; tie runs return the tied value."""
    from wikipedia_wikidata_spark.operators.stats import group_quantiles

    rows = (
        [("a", v) for v in range(1, 11)]
        + [("b", 42)]
        + [("c", 5), ("c", 5), ("c", 5), ("c", 1)]
    )
    df = spark.createDataFrame(rows, "g string, v long")
    got = {
        r["g"]: (r["n_rows"], r["q_1_4"], r["q_2_4"], r["q_3_4"])
        for r in group_quantiles(df, ["g"], "v").collect()
    }
    assert got["a"] == (10, 3, 5, 8)
    assert got["b"] == (1, 42, 42, 42)
    assert got["c"] == (4, 1, 5, 5)


def test_rebalance_sources_caps_and_keeps_small(spark):
    """Under-budget sources keep every doc (frac_e6 = 1e6); over-budget
    sources keep a hash-selected subset at the integer keep fraction; the
    keep set is plan-independent."""
    from wikipedia_wikidata_spark.operators.sampling import rebalance_sources

    rows = [(i, "w " * 100, "en", "big") for i in range(200)] + [
        (1000 + i, "w w w", "en", "small") for i in range(5)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    out = rebalance_sources(df, 1000).collect()  # big has 20000 tokens
    small = [r for r in out if r["source"] == "small"]
    big = [r for r in out if r["source"] == "big"]
    assert len(small) == 5 and all(r["frac_e6"] == 1000000 for r in small)
    assert all(r["frac_e6"] == 50000 for r in big)  # 1000*1e6 // 20000
    assert 0 < len(big) < 200  # a strict, hash-chosen subset
    out2 = rebalance_sources(df.repartition(13), 1000).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_unigram_surprisal_hand_case(spark):
    """Corpus 'the'x5 'cat'x1 'dog'x1 (T=7), vocab_k=2 -> vocab {the, cat}
    ((n desc, token asc) order), 'dog' OOV. Surprisal: the=floor(log2(7//5))=0,
    cat=floor(log2(7))=2, dog(OOV)=floor(log2(14))=3."""
    from wikipedia_wikidata_spark.operators.text import unigram_surprisal

    df = _docs_df(spark, ["the the the the", "the cat", "dog"])
    got = {r["doc_id"]: r.asDict() for r in unigram_surprisal(df, 2).collect()}
    assert (got[0]["n_tokens"], got[0]["sum_surprisal"]) == (4, 0)
    assert got[0]["avg_surprisal_milli"] == 0
    assert (got[1]["n_tokens"], got[1]["sum_surprisal"]) == (2, 2)
    assert got[1]["avg_surprisal_milli"] == 1000
    assert (got[2]["n_tokens"], got[2]["sum_surprisal"]) == (1, 3)
    assert got[2]["avg_surprisal_milli"] == 3000
    # scale shape: vocab + scalar-total joins are both broadcast, no Python
    out = unigram_surprisal(df, 2)
    p = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p


def test_bm25_hand_case(spark):
    """Tiny corpus where the exact integer milli-scores are hand-derivable:
    doc 0 matches 'spark' twice in 4 tokens, doc 1 once in 2, doc 2 never.
    N=3, l_total=9, df(spark)=2 -> idf_w = floor(log2(7000//5)) = 10; the
    per-doc scores follow the operator's documented closed formula, mirrored
    in the local score() helper below."""
    from wikipedia_wikidata_spark.operators.index import bm25_topk

    docs = _docs_df(
        spark, ["spark a spark b", "spark c", "x y z"]
    )
    got = {r["doc_id"]: r for r in bm25_topk(docs, ("spark",), 10).collect()}
    assert set(got) == {0, 1}

    def score(tf, dl, n, l_total, df):
        idf_w = len(bin((1000 * (2 * n + 1)) // (2 * df + 1))) - 2 - 1
        return idf_w * (
            (1000 * (44 * tf * l_total))
            // (20 * tf * l_total + 6 * l_total + 18 * dl * n)
        )

    n, lt, df_ = 3, 9, 2
    assert got[0]["score_milli"] == score(2, 4, n, lt, df_)
    assert got[1]["score_milli"] == score(1, 2, n, lt, df_)
    assert got[0]["n_terms"] == 1 and got[1]["n_terms"] == 1
    # tf saturation with idf equal: the 2-of-4 doc must outrank 1-of-2
    assert got[0]["score_milli"] > got[1]["score_milli"]


def test_bm25_topk_deterministic_and_bounded(spark):
    """Top-k is a total order (score DESC, doc_id ASC): same result under
    different partitionings; every hit matched >=1 term; k bounds rows."""
    from wikipedia_wikidata_spark.operators.index import bm25_topk

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = bm25_topk(docs.repartition(3), k=7).collect()
    b = bm25_topk(docs.repartition(17, "doc_id"), k=7).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    assert 0 < len(a) <= 7
    scores = [r["score_milli"] for r in a]
    assert scores == sorted(scores, reverse=True)
    assert all(r["n_terms"] >= 1 for r in a)


def test_leakage_safe_split_groups_never_straddle(spark, monkeypatch):
    """Planted exact duplicates (augment_docs doc_id%10 copies) MUST land in
    the same split as their original; eval share lands near the requested
    permille; output covers every input row exactly once."""
    from wikipedia_wikidata_spark.operators.dedup import augment_docs
    from wikipedia_wikidata_spark.operators.sampling import leakage_safe_split

    docs = augment_docs(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    )
    monkeypatch.setattr(sampling, "EVAL_PERMILLE", 250)
    got = leakage_safe_split(docs).collect()
    assert len(got) == docs.count()
    by_fp = {}
    for r in got:
        by_fp.setdefault(r["fingerprint60"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_fp.values()), "a fingerprint group straddles splits"
    # planted copies share the original's fingerprint -> same split
    by_doc = {r["doc_id"]: r for r in got}
    for doc_id, r in by_doc.items():
        if 1000000 <= doc_id < 2000000:
            orig = by_doc[doc_id - 1000000]
            assert r["fingerprint60"] == orig["fingerprint60"]
            assert r["split"] == orig["split"]
    n_eval_groups = sum(1 for fp, s in by_fp.items() if "eval" in s)
    frac = n_eval_groups / len(by_fp)
    assert 0.15 < frac < 0.35, frac


def _h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _cls_w(bucket: int) -> int:
    return _h60(f"w:{bucket}") % 2001 - 1000


def test_classifier_score_hand_case(spark):
    """Features of 'a b c' are [a, b, c, 'a b', 'b c']; score is the sum of
    the hash-derived weights of their buckets, replicated here in pure
    Python md5. Empty text scores 0 with keep=false."""
    from wikipedia_wikidata_spark.operators.text import (
        N_CLS_BUCKETS,
        classifier_score,
    )

    out = {
        r["doc_id"]: r
        for r in classifier_score(_docs_df(spark, ["a b c", ""])).collect()
    }
    feats = ["a", "b", "c", "a b", "b c"]
    want = sum(_cls_w(_h60(t) % N_CLS_BUCKETS) for t in feats)
    assert out[0]["n_feats"] == 5
    assert out[0]["score_sum"] == want
    assert out[0]["keep"] == (want > 0)
    assert out[1]["n_feats"] == 0
    assert out[1]["score_sum"] == 0 and out[1]["keep"] is False


def test_classifier_score_inline_is_narrow(spark):
    """Inline-weights shape is a pure map: zero Exchange, zero Python eval
    in the plan (the whole classifier pipelines inside one codegen stage)."""
    from wikipedia_wikidata_spark.operators.text import classifier_score

    out = classifier_score(_docs_df(spark, ["x y z"] * 10))
    p = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "Exchange" not in p, p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
