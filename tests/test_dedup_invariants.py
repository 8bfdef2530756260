"""Planted-duplicate recovery invariants for the near-dup operators.

augment_docs/augment_emb plant exact dups (+10^6, every 10th id) and near
dups (+2*10^6, every 7th); the candidate-generation strategies (prefix
filtering for n-gram Jaccard, hyperplane LSH for embeddings) must recover
them — a recall check the oracle-parity test alone cannot express.
"""

from pyspark.sql import functions as F

from .conftest import SF_DIR_SMALL


def test_ngram_jaccard_recovers_planted_pairs(spark):
    from wikipedia_wikidata_spark.operators.dedup import augment_docs, ngram_jaccard_pairs

    docs = spark.read.parquet(f"{SF_DIR_SMALL}/documents.parquet")
    pairs = ngram_jaccard_pairs(augment_docs(docs)).collect()
    got = {(r.doc_a, r.doc_b): r.jaccard_e6 for r in pairs}
    n = docs.count()
    exact_expected = [(i, i + 1000000) for i in range(0, n, 10)]
    assert all(got.get(p) == 1000000 for p in exact_expected), "exact dups missed"
    near_found = sum((i, i + 2000000) in got for i in range(0, n, 7))
    # near dups drop one word; a few tiny docs can fall under the threshold
    assert near_found >= 0.8 * len(range(0, n, 7))
    # prefix filtering must not emit below-threshold pairs
    assert all(v >= 600000 for v in got.values())


def _planted_corpus(spark):
    """Base embeddings + queries planted at ~20 degrees from sampled base
    vectors; returns (spark DF of both, query ids, numpy ground-truth map)."""
    import numpy as np

    emb = spark.read.parquet(f"{SF_DIR_SMALL}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    base = emb.toPandas()
    V = np.vstack(base.embedding.to_numpy())
    ids = base.vec_id.to_numpy()
    rng = np.random.default_rng(99)
    q_idx = rng.choice(len(V), size=min(120, len(V)), replace=False)
    theta = np.deg2rad(20.0)
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    planted = []
    for qi in q_idx:
        d = rng.standard_normal(V.shape[1])
        d -= d @ Vn[qi] * Vn[qi]
        d /= np.linalg.norm(d)
        planted.append(np.cos(theta) * Vn[qi] + np.sin(theta) * d)
    P = np.vstack(planted)
    q_ids = 5_000_000 + np.arange(len(P))
    both = spark.createDataFrame(
        [(int(i), [float(x) for x in row]) for i, row in zip(ids, V)]
        + [(int(i), [float(x) for x in row]) for i, row in zip(q_ids, P)],
        "vec_id bigint, embedding array<double>",
    )
    allV = np.vstack([Vn, P])
    all_ids = np.concatenate([ids, q_ids])
    S = P @ allV.T
    truth = {}
    for row, qid in enumerate(q_ids):
        order = np.argsort(-S[row])
        truth[int(qid)] = next(
            int(all_ids[j]) for j in order if all_ids[j] != qid
        )
    return both, q_ids, truth, len(ids) + len(q_ids)


def _recall_at_1(top1, q_ids, truth) -> float:
    hits = sum(top1.get(int(q)) == truth[int(q)] for q in q_ids)
    return hits / len(q_ids)


def test_ann_lsh_recall_on_near_neighbors(spark):
    """ANN recall contract: for queries that HAVE a true near neighbor
    (planted at cosine ~0.94 — inside the regime hyperplane-LSH covers),
    multi-table data-dependent LSH must find it with recall@1 >= 0.9.

    Ground truth is numpy brute force. The base corpus is isotropic random
    (top-1 cosine ~0.41) where no sublinear index can be accurate — that
    regime belongs to the exact cosine_topk path and is intentionally NOT
    asserted here (see operators/similarity.py docstring)."""
    from wikipedia_wikidata_spark.operators.similarity import (
        ann_lsh_topk, n_planes_for,
    )

    both, q_ids, truth, n_total = _planted_corpus(spark)
    top1 = {
        r.q_id: r.n_id
        for r in ann_lsh_topk(both, n_planes_for(n_total)).collect()
        if r.rank == 1
    }
    recall = _recall_at_1(top1, q_ids, truth)
    assert recall >= 0.9, f"LSH ANN recall@1 {recall:.2f} < 0.9"


def test_ann_ivf_recall_on_near_neighbors(spark):
    """Same recall contract for the IVF variant (sqrt(N) centroids, Arrow-
    batched matmul assignment, nprobe probing)."""
    from wikipedia_wikidata_spark.operators.similarity import ann_ivf_topk

    both, q_ids, truth, _ = _planted_corpus(spark)
    top1 = {
        r.q_id: r.n_id for r in ann_ivf_topk(both).collect() if r.rank == 1
    }
    recall = _recall_at_1(top1, q_ids, truth)
    assert recall >= 0.9, f"IVF ANN recall@1 {recall:.2f} < 0.9"


def test_emb_near_dup_recovers_planted_pairs(spark):
    from wikipedia_wikidata_spark.operators.similarity import (
        emb_near_dup, n_planes_for,
    )

    emb = spark.read.parquet(f"{SF_DIR_SMALL}/embeddings.parquet")
    n = emb.count()
    pairs = emb_near_dup(emb, n_planes_for(n)).collect()
    got = {(r.vec_a, r.vec_b): r.cosine_e6 for r in pairs}
    exact_expected = [(i, i + 1000000) for i in range(0, n, 10)]
    assert all(got.get(p) == 1000000 for p in exact_expected), "exact dups missed"
    # perturbed vectors stay near-identical; LSH may lose a few at bucket edges
    near_found = sum((i, i + 2000000) in got for i in range(0, n, 7))
    assert near_found >= 0.7 * len(range(0, n, 7))
    assert all(v >= 900000 for v in got.values())


def test_boilerplate_spans_dropped_by_document_frequency(spark):
    """drop_boilerplate_spans drops planted chrome (a span repeated across
    many documents) but KEEPS a span repeated many times inside one single
    document — document frequency, not raw occurrence count, is the signal —
    and the kept digest proves the survivors' offset order is preserved."""
    import hashlib

    from wikipedia_wikidata_spark.operators.spans import drop_boilerplate_spans

    chrome = ("prose", "(c) Example Site - all rights reserved", "")
    rows = []
    per_doc_kept = {}
    for d in range(12):
        doc = f"doc{d:02d}"
        spans = [("prose", f"unique body {d} alpha", "", 0),
                 chrome + (10,),
                 ("media", "", f"img://{d}", 20),
                 ("prose", f"unique body {d} beta", "", 30)]
        if d == 0:
            # intra-doc repetition: same span 5x within ONE document (df=1)
            spans += [("prose", "refrain line", "", 40 + 10 * i)
                      for i in range(5)]
        rows.append((doc, [tuple(s) for s in spans]))
        per_doc_kept[doc] = [s for s in spans if s[:3] != chrome]
    docs = spark.createDataFrame(
        rows,
        "doc_id string, spans array<struct<"
        "kind string, text string, media_ref string, offset int>>",
    )
    got = {r.doc_id: r for r in drop_boilerplate_spans(docs).collect()}
    assert len(got) == 12
    for doc, kept in per_doc_kept.items():
        r = got[doc]
        assert r.n_spans == len(kept) + 1
        assert r.n_kept == len(kept), f"{doc}: chrome not dropped (or over-dropped)"
        ser = [f"{k}\x1f{t}\x1f{m}" for (k, t, m, off) in
               sorted(kept, key=lambda s: (s[3], f"{s[0]}\x1f{s[1]}\x1f{s[2]}"))]
        want = hashlib.md5("\x1e".join(ser).encode()).hexdigest()
        assert r.kept_md5 == want, f"{doc}: kept order not preserved"
    # the intra-doc refrain (df=1) survived in doc00
    assert got["doc00"].n_kept == 3 + 5


def test_boilerplate_all_dropped_digests_null(spark):
    """A document consisting ONLY of chrome spans keeps zero spans and its
    kept_md5 is NULL (matching DuckDB's string_agg-over-zero-rows)."""
    from wikipedia_wikidata_spark.operators.spans import drop_boilerplate_spans

    rows = [(f"d{i}", [("prose", "footer", "", 0)]) for i in range(5)]
    docs = spark.createDataFrame(
        rows,
        "doc_id string, spans array<struct<"
        "kind string, text string, media_ref string, offset int>>",
    )
    out = drop_boilerplate_spans(docs).collect()
    assert all(r.n_kept == 0 and r.kept_md5 is None for r in out)


def test_duplicate_window_spans_hand_case(spark, monkeypatch):
    """k=3 windows: docs 0/1 share 'a b c' and 'b c d' at offset-shifted
    positions; the within-doc-only repeat in doc 2 must NOT appear
    (distinct-doc df threshold); doc 3 is too short for any window."""
    from wikipedia_wikidata_spark.operators import dedup
    from wikipedia_wikidata_spark.operators.dedup import duplicate_window_spans

    monkeypatch.setattr(dedup, "WINDOW_K", 3)

    df = spark.createDataFrame(
        [
            (0, "a b c d"),
            (1, "x a b c d"),
            (2, "q q q q q q"),
            (3, "a b"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r["doc_id"], r["start_tok"], r["n_docs"])
        for r in duplicate_window_spans(df).collect()
    }
    assert got == {(0, 0, 2), (0, 1, 2), (1, 1, 2), (1, 2, 2)}


def test_duplicate_window_spans_copies_fully_covered(spark):
    """A planted exact copy duplicates EVERY window of its original — the
    cut list covers the full token range of both on the small corpus."""
    from wikipedia_wikidata_spark.operators.dedup import (
        WINDOW_K,
        augment_docs,
        duplicate_window_spans,
    )
    from wikipedia_wikidata_spark.operators.text import words_col

    docs = augment_docs(
        spark.read.parquet(f"{SF_DIR_SMALL}/documents.parquet")
    )
    spans = duplicate_window_spans(docs)
    per_doc = {
        r["doc_id"]: r["n"]
        for r in spans.groupBy("doc_id").agg(F.count("*").alias("n")).collect()
    }
    lens = {
        r["doc_id"]: r["dl"]
        for r in docs.select(
            "doc_id", F.size(words_col(F.col("text"))).alias("dl")
        ).collect()
    }
    copies = [d for d in lens if 1000000 <= d < 2000000 and lens[d] >= WINDOW_K]
    assert copies
    for d in copies:
        n_windows = lens[d] - WINDOW_K + 1
        assert per_doc.get(d, 0) >= n_windows, d
