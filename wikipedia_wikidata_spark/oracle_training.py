"""DuckDB oracle SQL for the training-data operators (dedup, similarity, text
analysis, events, TPC-H-style) over the driver's pre-registered views
(documents, embeddings, events, lineitem, orders, customer, nation, region).

The SQL mirrors operators/{text,dedup,similarity}.py expression-for-expression
(same hash60, same left-fold dot products, same quantization), so values match
bit-for-bit.
"""

from __future__ import annotations

from .operators import bpe, sampling, sketches
from .operators.dedup import (
    JACCARD_T,
    N_BANDS,
    N_HASH,
    ROWS_PER_BAND,
    SIMHASH_BITS,
    WINDOW_K,
    WINDOW_MIN_DOCS,
)
from .operators.similarity import (
    ANN_K,
    DIM,
    IVF_NPROBE,
    N_TABLES,
    NEAR_DUP_T,
    NEG_E6,
    NEGS_PER_ANCHOR,
    POS_E6,
    TOP_K,
    n_centroids_for,
    n_planes_for,
    plane_weights,
    query_mod_for,
)
from .operators.text import STOPWORDS, TOKEN_RE
from .streaming.events import ATTRIB_WINDOW_H


def hash60_sql(e: str) -> str:
    return (
        "list_reduce(list_transform(range(15), i -> "
        f"CAST(strpos('0123456789abcdef', substr(md5({e}), i + 1, 1)) - 1 AS BIGINT)), "
        "(a, b) -> a * 16 + b)"
    )


def sample_hash_sql(key: str) -> str:
    """hash60(SAMPLE_SEED:key), the keep/order hash of operators/sampling."""
    return hash60_sql(
        f"concat('{sampling.SAMPLE_SEED}:', CAST({key} AS VARCHAR))"
    )


def words_sql(e: str) -> str:
    return f"list_filter(string_split({e}, ' '), w -> len(w) > 0)"


AUG = """
base AS (SELECT doc_id, text FROM documents),
aug AS (
  SELECT doc_id, text FROM base
  UNION ALL
  SELECT doc_id + 1000000, text FROM base WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 2000000,
         array_to_string(({w})[1:len({w}) - 1], ' ')
  FROM base WHERE doc_id % 7 = 0
)
""".format(w=words_sql("text"))


def shingles_sql(words_expr: str, k: int = 3) -> str:
    joins = " || ' ' || ".join(f"{{w}}[i + {j + 1}]" for j in range(k)).format(w="__W__")
    return (
        f"CASE WHEN len(__W__) >= {k} THEN "
        f"list_transform(range(len(__W__) - {k - 1}), i -> {joins}) "
        "ELSE [] END"
    ).replace("__W__", words_expr)


def _sig_cols() -> str:
    from .operators.dedup import perm_consts

    cols = []
    for j in range(N_HASH):
        a, b = perm_consts(j)
        mn = f"list_aggregate(list_transform(_sh_h, x -> {a} * x + {b}), 'min')"
        sent = hash60_sql(f"'empty{j}:' || CAST(doc_id AS VARCHAR)")
        cols.append(f"COALESCE({mn}, {sent}) AS sig_{j}")
    return ",\n         ".join(cols)


def minhash_ctes() -> str:
    band_rows = []
    for b in range(N_BANDS):
        parts = ", ".join(f"sig_{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND))
        band_rows.append(
            f"SELECT doc_id, md5(concat_ws(',', {parts}, '{b}')) AS band_key FROM sig"
        )
    bands = "\n  UNION ALL\n  ".join(band_rows)
    return f"""
{AUG},
shingled AS (
  SELECT doc_id, _sh,
         list_transform(_sh, s -> {hash60_sql('s')} & 1073741823) AS _sh_h
  FROM (SELECT doc_id, {shingles_sql(words_sql('text'))} AS _sh FROM aug)
),
sig AS (
  SELECT doc_id,
         {_sig_cols()}
  FROM shingled
),
bands AS (
  {bands}
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
),
shd AS (SELECT doc_id, list_distinct(_sh) AS s FROM shingled)
"""


JACC_E6 = """CAST(floor(CASE WHEN (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) > 0
                  THEN CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                       / CAST(len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                  ELSE 0.0 END * 1000000.0 + 0.5) AS BIGINT)"""


def dedup_clusters_sql() -> str:
    """Near-dup clusters: MinHash candidate pairs above JACCARD_T clustered
    into connected components (min reachable doc_id as the component label)
    via a recursive CTE — mirrors operators/graph.connected_components over
    operators/dedup.minhash_candidates. Integer-only output: exact parity."""
    t = int(JACCARD_T * 1000000)
    return f"""WITH RECURSIVE {minhash_ctes()},
jp AS (
  SELECT p.doc_a, p.doc_b
  FROM pairs p
  JOIN shd sa ON p.doc_a = sa.doc_id
  JOIN shd sb ON p.doc_b = sb.doc_id
  WHERE {JACC_E6} >= {t}
),
und AS (
  SELECT doc_a AS src, doc_b AS dst FROM jp
  UNION
  SELECT doc_b, doc_a FROM jp
),
walk(node, label) AS (
  SELECT src, src FROM und
  UNION
  SELECT e.dst, w.label FROM walk w JOIN und e ON e.src = w.node
),
comp AS (SELECT node, MIN(label) AS component FROM walk GROUP BY node)
SELECT component, CAST(count(*) AS BIGINT) AS n_docs
FROM comp GROUP BY 1"""


def ngram_jaccard_sql() -> str:
    """Prefix-filtered all-pairs word-bigram Jaccard (mirrors
    operators/dedup.py ngram_jaccard_pairs expression-for-expression)."""
    t = JACCARD_T
    return f"""WITH {AUG},
prof AS (
  SELECT doc_id, list_distinct({shingles_sql(words_sql('text'), 2)}) AS g FROM aug
),
prof2 AS (SELECT doc_id, g FROM prof WHERE len(g) > 0),
tok AS (SELECT doc_id, unnest(g) AS gram FROM prof2),
dfreq AS (SELECT gram, count(*) AS df FROM tok GROUP BY gram),
ordered AS (
  SELECT doc_id, list(gram ORDER BY df, gram) AS toks
  FROM tok JOIN dfreq USING (gram) GROUP BY doc_id
),
pref AS (
  SELECT doc_id,
         unnest(toks[1:CAST(len(toks) - ceil({t} * len(toks)) + 1 AS INT)]) AS gram
  FROM ordered
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM pref a JOIN pref b ON a.gram = b.gram AND a.doc_id < b.doc_id
),
v AS (
  SELECT doc_a, doc_b,
         CAST(len(list_intersect(pa.g, pb.g)) AS DOUBLE) /
         CAST(len(pa.g) + len(pb.g) - len(list_intersect(pa.g, pb.g)) AS DOUBLE) AS _jac
  FROM cand
  JOIN prof2 pa ON cand.doc_a = pa.doc_id
  JOIN prof2 pb ON cand.doc_b = pb.doc_id
)
SELECT doc_a, doc_b, CAST(floor(_jac * 1000000.0 + 0.5) AS BIGINT) AS jaccard_e6
FROM v WHERE _jac >= {t}"""


def _lsh_cosine_ctes(sf_dir: str = "/root/testdata/sf0.01") -> str:
    """Shared CTE chain of emb_near_dup_sql / contrastive_pairs_sql:
    augmented vectors, multi-table LSH buckets, DISTINCT candidate pairs,
    exact float cosine per candidate (alias j(vec_a, vec_b, _cos)).
    Mirrors operators/similarity.py _lsh_candidate_cosines exactly."""
    n_planes = n_planes_for(embeddings_rows(sf_dir))
    table_rows = []
    for tt in range(N_TABLES):
        w = plane_weights(n_planes, tt)
        terms = []
        for p in range(n_planes):
            arr = "[" + ", ".join(repr(float(x)) for x in w[p]) + "]"
            proj = dot_sql("emb_d", f"({arr})")
            terms.append(
                f"CASE WHEN {proj} > 0 THEN CAST({1 << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
            )
        bucket = " + ".join(terms)
        table_rows.append(
            f"SELECT vec_id, {tt} AS lsh_table, {bucket} AS lsh_bucket FROM aug"
        )
    buckets = "\n  UNION ALL\n  ".join(table_rows)
    dot = dot_sql("ea.emb_d", "eb.emb_d")
    na = f"sqrt({dot_sql('ea.emb_d', 'ea.emb_d')})"
    nb = f"sqrt({dot_sql('eb.emb_d', 'eb.emb_d')})"
    return f"""base AS (
  SELECT vec_id, {_emb_d()} AS emb_d FROM embeddings
),
aug AS (
  SELECT vec_id, emb_d FROM base
  UNION ALL
  SELECT vec_id + 1000000, emb_d FROM base WHERE vec_id % 10 = 0
  UNION ALL
  SELECT vec_id + 2000000, [emb_d[1] + 0.05] || emb_d[2:{DIM}] FROM base WHERE vec_id % 7 = 0
),
bt AS (
  {buckets}
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b2.vec_id AS vec_b
  FROM bt a JOIN bt b2 USING (lsh_table, lsh_bucket) WHERE a.vec_id < b2.vec_id
),
j AS (
  SELECT vec_a, vec_b, {dot} / ({na} * {nb}) AS _cos
  FROM cand
  JOIN aug ea ON cand.vec_a = ea.vec_id
  JOIN aug eb ON cand.vec_b = eb.vec_id
)"""


def emb_near_dup_sql(sf_dir: str = "/root/testdata/sf0.01") -> str:
    """Multi-table data-dependent LSH-blocked embedding-cosine near-dup
    pairs with planted dups (mirrors operators/similarity.py augment_emb +
    emb_near_dup; geometry derived from the base parquet footer)."""
    return f"""WITH {_lsh_cosine_ctes(sf_dir)}
SELECT vec_a, vec_b, CAST(floor(_cos * 1000000.0 + 0.5) AS BIGINT) AS cosine_e6
FROM j WHERE _cos >= {NEAR_DUP_T}"""


def contrastive_pairs_sql(sf_dir: str = "/root/testdata/sf0.01") -> str:
    """DuckDB twin of operators/similarity.contrastive_pairs: same LSH
    candidate chain, thresholds and the per-anchor hard-negative ranking
    on the ROUNDED integer cosine (cosine_e6 DESC, vec_b ASC)."""
    return f"""WITH {_lsh_cosine_ctes(sf_dir)},
ce AS (
  SELECT vec_a, vec_b,
         CAST(floor(_cos * 1000000.0 + 0.5) AS BIGINT) AS cosine_e6
  FROM j
)
SELECT vec_a, vec_b, cosine_e6, 'pos' AS label
FROM ce WHERE cosine_e6 >= {POS_E6}
UNION ALL
SELECT vec_a, vec_b, cosine_e6, 'hard_neg' AS label
FROM (
  SELECT vec_a, vec_b, cosine_e6,
         row_number() OVER (
           PARTITION BY vec_a ORDER BY cosine_e6 DESC, vec_b ASC
         ) AS _rn
  FROM ce WHERE cosine_e6 <= {NEG_E6}
) WHERE _rn <= {NEGS_PER_ANCHOR}"""


def simhash_sql() -> str:
    aggs = ",\n         ".join(
        f"SUM(CASE WHEN (_h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS _b{b}"
        for b in range(SIMHASH_BITS)
    )
    assemble = " + ".join(
        f"CASE WHEN _b{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END"
        for b in range(SIMHASH_BITS)
    )
    return f"""WITH {AUG},
tok AS (
  SELECT doc_id, unnest({words_sql('text')}) AS _w FROM aug
),
h AS (SELECT doc_id, {hash60_sql('_w')} AS _h FROM tok),
g AS (
  SELECT doc_id,
         {aggs}
  FROM h GROUP BY doc_id
)
SELECT doc_id, {assemble} AS simhash32 FROM g"""


def dot_sql(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(range({DIM}), i -> {a}[i + 1] * {b}[i + 1]), "
        "(x, y) -> x + y)"
    )


def _emb_d(col: str = "embedding") -> str:
    return f"list_transform({col}, x -> CAST(x AS DOUBLE))"


def cosine_topk_sql(query_mod: int = 10) -> str:
    dot = dot_sql("q_emb", "n_emb")
    nq = f"sqrt({dot_sql('q_emb', 'q_emb')})"
    nn = f"sqrt({dot_sql('n_emb', 'n_emb')})"
    return f"""WITH q AS (
  SELECT vec_id AS q_id, {_emb_d()} AS q_emb FROM embeddings WHERE vec_id % {query_mod} = 0
),
n AS (SELECT vec_id AS n_id, {_emb_d()} AS n_emb FROM embeddings),
j AS (
  SELECT q_id, n_id, {dot} / ({nq} * {nn}) AS _cos
  FROM q CROSS JOIN n WHERE q_id != n_id
),
r AS (
  SELECT q_id, n_id, _cos,
         row_number() OVER (PARTITION BY q_id ORDER BY _cos DESC, n_id ASC) AS _rk
  FROM j
)
SELECT q_id, n_id, CAST(_rk AS BIGINT) AS rank,
       CAST(floor(_cos * 1000000.0 + 0.5) AS BIGINT) AS cosine_e6
FROM r WHERE _rk <= {TOP_K}"""


def embeddings_rows(sf_dir: str = "/root/testdata/sf0.01") -> int:
    """Row count from the parquet footer (no data read) — the deterministic
    input both engines feed to n_planes_for, so Spark and the oracle build
    the identical data-dependent LSH geometry.

    Fallback (DEFAULT sf0.01 path only, missing file only): importing the
    registry on a host without the driver corpus must not crash, and the
    oracle strings are defined against sf0.01 anyway. Any other path or
    error raises — silently substituting 500 rows for an arbitrary corpus
    would build wrong LSH geometry for a real query."""
    import pyarrow.parquet as pq

    try:
        return pq.ParquetFile(f"{sf_dir}/embeddings.parquet").metadata.num_rows
    except FileNotFoundError:
        if sf_dir == "/root/testdata/sf0.01":
            return 500
        raise


def ann_lsh_sql(sf_dir: str = "/root/testdata/sf0.01") -> str:
    """Mirrors operators/similarity.ann_lsh_topk: multi-table data-dependent
    LSH, DISTINCT candidate union, exact re-rank."""
    n_planes = n_planes_for(embeddings_rows(sf_dir))
    table_rows = []
    for t in range(N_TABLES):
        w = plane_weights(n_planes, t)
        terms = []
        for p in range(n_planes):
            arr = "[" + ", ".join(repr(float(x)) for x in w[p]) + "]"
            proj = dot_sql("emb_d", f"({arr})")
            terms.append(
                f"CASE WHEN {proj} > 0 THEN CAST({1 << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
            )
        bucket = " + ".join(terms)
        table_rows.append(
            f"SELECT vec_id, {t} AS lsh_table, {bucket} AS lsh_bucket FROM base"
        )
    buckets = "\n  UNION ALL\n  ".join(table_rows)
    dot = dot_sql("qb.emb_d", "nb.emb_d")
    nq = f"sqrt({dot_sql('qb.emb_d', 'qb.emb_d')})"
    nn = f"sqrt({dot_sql('nb.emb_d', 'nb.emb_d')})"
    return f"""WITH base AS (
  SELECT vec_id, {_emb_d()} AS emb_d FROM embeddings
),
bt AS (
  {buckets}
),
cand AS (
  SELECT DISTINCT q.vec_id AS q_id, n.vec_id AS n_id
  FROM bt q JOIN bt n USING (lsh_table, lsh_bucket) WHERE q.vec_id != n.vec_id
),
j AS (
  SELECT q_id, n_id, {dot} / ({nq} * {nn}) AS _cos
  FROM cand
  JOIN base qb ON cand.q_id = qb.vec_id
  JOIN base nb ON cand.n_id = nb.vec_id
),
r AS (
  SELECT q_id, n_id, _cos,
         row_number() OVER (PARTITION BY q_id ORDER BY _cos DESC, n_id ASC) AS _rk
  FROM j
)
SELECT q_id, n_id, CAST(_rk AS BIGINT) AS rank,
       CAST(floor(_cos * 1000000.0 + 0.5) AS BIGINT) AS cosine_e6
FROM r WHERE _rk <= {ANN_K}"""


def ann_ivf_sql(sf_dir: str = "/root/testdata/sf0.01") -> str:
    """Mirrors operators/similarity.ann_ivf_topk_fold: stride-sampled seed
    centroids (C=sqrt(N)), fold-dot assignment/probing with (cos DESC,
    centroid_id) tie-breaks, exact re-rank within probed lists. N and the
    stride derive from the parquet footer on both sides."""
    n = embeddings_rows(sf_dir)
    n_centroids = n_centroids_for(n)
    stride = max(1, n // n_centroids)
    cdot = dot_sql("b.emb_d", "c.c_emb")
    cnb = f"sqrt({dot_sql('b.emb_d', 'b.emb_d')})"
    cnc = f"sqrt({dot_sql('c.c_emb', 'c.c_emb')})"
    dot = dot_sql("qb.emb_d", "nb.emb_d")
    nq = f"sqrt({dot_sql('qb.emb_d', 'qb.emb_d')})"
    nn = f"sqrt({dot_sql('nb.emb_d', 'nb.emb_d')})"
    return f"""WITH base AS (
  SELECT vec_id, {_emb_d()} AS emb_d FROM embeddings
),
cent AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS centroid_id,
         emb_d AS c_emb
  FROM base WHERE vec_id % {stride} = 0
  QUALIFY row_number() OVER (ORDER BY vec_id) <= {n_centroids}
),
cj AS (
  SELECT b.vec_id, c.centroid_id, {cdot} / ({cnb} * {cnc}) AS _ccos
  FROM base b CROSS JOIN cent c
),
rk AS (
  SELECT vec_id, centroid_id,
         row_number() OVER (PARTITION BY vec_id ORDER BY _ccos DESC, centroid_id ASC) AS _crn
  FROM cj
),
inv AS (SELECT vec_id AS n_id, centroid_id FROM rk WHERE _crn = 1),
probe AS (SELECT vec_id AS q_id, centroid_id FROM rk WHERE _crn <= {IVF_NPROBE}),
cand AS (
  SELECT q_id, n_id FROM probe JOIN inv USING (centroid_id) WHERE q_id != n_id
),
j AS (
  SELECT q_id, n_id, {dot} / ({nq} * {nn}) AS _cos
  FROM cand
  JOIN base qb ON cand.q_id = qb.vec_id
  JOIN base nb ON cand.n_id = nb.vec_id
),
r AS (
  SELECT q_id, n_id, _cos,
         row_number() OVER (PARTITION BY q_id ORDER BY _cos DESC, n_id ASC) AS _rk
  FROM j
)
SELECT q_id, n_id, CAST(_rk AS BIGINT) AS rank,
       CAST(floor(_cos * 1000000.0 + 0.5) AS BIGINT) AS cosine_e6
FROM r WHERE _rk <= {ANN_K}"""


def lang_id_sql() -> str:
    langs = sorted(STOPWORDS)
    hit_cols = []
    for L in langs:
        lst = ", ".join(f"'{s}'" for s in STOPWORDS[L])
        hit_cols.append(
            f"len(list_filter(_w, x -> x IN ({lst}))) AS _hits_{L}"
        )
    # replicate Spark's reversed-scan argmax: ties -> earliest in sorted order
    best = "'und'"
    best_score = "0"
    for L in reversed(langs):
        best = f"CASE WHEN _hits_{L} > 0 AND _hits_{L} >= {best_score} THEN '{L}' ELSE {best} END"
        best_score = f"CASE WHEN _hits_{L} >= {best_score} THEN _hits_{L} ELSE {best_score} END"
    ratios = ",\n       ".join(
        f"CAST(floor(_hits_{L} * 1000000.0 / greatest(len(_w), 1) + 0.5) AS BIGINT) AS ratio_{L}_e6"
        for L in langs
    )
    return f"""WITH d AS (
  SELECT doc_id, {words_sql('text')} AS _w FROM documents
),
h AS (
  SELECT doc_id, _w, {', '.join(hit_cols)} FROM d
)
SELECT doc_id, {best} AS lang_guess,
       {ratios}
FROM h"""


def quality_sql() -> str:
    sw = ", ".join(f"'{s}'" for s in STOPWORDS["en"])
    return f"""WITH d AS (
  SELECT doc_id, text, {words_sql('text')} AS _w FROM documents
),
m AS (
  SELECT doc_id,
         CAST(len(_w) AS BIGINT) AS n_words,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(len(list_filter(_w, x -> x IN ({sw}))) AS BIGINT) AS stopword_hits,
         CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT) AS alpha_chars
  FROM d
)
SELECT doc_id, n_words, stopword_hits,
       CAST(floor((n_chars - (n_words - 1)) / greatest(n_words, 1) * 1000000.0 + 0.5) AS BIGINT)
         AS mean_word_len_e6,
       CAST(floor((least(n_words / 100.0, 1.0) * 0.4
                   + (stopword_hits / greatest(n_words, 1)) * 0.3
                   + (alpha_chars / greatest(n_chars, 1)) * 0.3) * 1000000.0 + 0.5) AS BIGINT)
         AS quality_e6
FROM m"""


# NOTE: these oracle strings are defined against the driver's sf0.01 views
# (the correctness-gate contract); the LSH entries bake in the n_planes
# derived from sf0.01's row count. Comparing them against a query run at a
# different sf would use the wrong geometry — pass sf_dir to
# ann_lsh_sql()/emb_near_dup_sql() explicitly for that.
TRAINING_ORACLES: dict[str, str] = {
    "dedup_exact": f"""WITH {AUG}
SELECT md5(text) AS content_hash, CAST(count(*) AS BIGINT) AS n_docs,
       MIN(doc_id) AS keep_doc_id
FROM aug GROUP BY 1""",
    "dedup_minhash_lsh": f"""WITH {minhash_ctes()}
SELECT p.doc_a, p.doc_b, {JACC_E6} AS jaccard_e6
FROM pairs p
JOIN shd sa ON p.doc_a = sa.doc_id
JOIN shd sb ON p.doc_b = sb.doc_id""",
    "dedup_clusters": dedup_clusters_sql(),
    "dedup_simhash": simhash_sql(),
    "dedup_ngram_jaccard": ngram_jaccard_sql(),
    "emb_near_dup": emb_near_dup_sql(),
    # stride derived from the parquet footer exactly like the Spark side
    # (query_mod_for) — 10 at sf0.01, grows with N^2 to bound exact pairs
    "emb_cosine_topk": None,  # filled below (needs query_mod_for import)
    "emb_ann_lsh": ann_lsh_sql(),
    "emb_ann_ivf": ann_ivf_sql(),
    "text_lang_id": lang_id_sql(),
    "text_quality": quality_sql(),
    "text_token_counts": f"""SELECT doc_id,
       CAST(len({words_sql('text')}) AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '{TOKEN_RE}')) AS BIGINT) AS n_re_tokens,
       CAST(len(list_distinct({words_sql('text')})) AS BIGINT) AS n_distinct_words
FROM documents""",
    "text_fingerprint": f"""SELECT doc_id,
       {hash60_sql("lower(regexp_replace(text, '[^A-Za-z0-9 ]', ' ', 'g'))")} AS fingerprint60,
       md5(text) AS content_md5
FROM documents""",
    "streaming_tumbling": """SELECT CAST(floor(epoch(ts) / 3600.0) AS BIGINT) * 3600 * 1000000
         AS window_start_us,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(floor(SUM(value) * 1000000.0 + 0.5) AS BIGINT) AS value_sum_e6
FROM events GROUP BY 1, 2""",
    "events_tumbling": """SELECT event_type,
       CAST(floor(epoch(ts) / 3600.0) AS BIGINT) * 3600 AS window_start,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(floor(SUM(value) * 1000000.0 + 0.5) AS BIGINT) AS value_sum_e6,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY 1, 2""",
    "events_sessionize": """WITH g AS (
  SELECT user_id, epoch(ts) AS t,
         lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_t
  FROM events
)
SELECT user_id,
       CAST(1 + SUM(CASE WHEN prev_t IS NOT NULL AND t - prev_t > 1800.0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_sessions,
       CAST(count(*) AS BIGINT) AS n_events
FROM g GROUP BY user_id""",
    "tpch_q1": """SELECT l_returnflag, l_linestatus,
       CAST(floor(SUM(l_quantity) * 1000000.0 + 0.5) AS BIGINT) AS sum_qty_e6,
       CAST(floor(SUM(l_extendedprice * (1 - l_discount)) * 1000000.0 + 0.5) AS BIGINT)
         AS sum_disc_price_e6,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus""",
    "top_orders_per_customer": """SELECT o_custkey, o_orderkey,
       CAST(rk AS BIGINT) AS rank,
       CAST(floor(o_totalprice * 1000000.0 + 0.5) AS BIGINT) AS totalprice_e6
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
  FROM orders
) WHERE rk <= 3""",
    "customers_without_orders": """SELECT c.c_custkey, c.c_name
FROM customer c ANTI JOIN orders o ON c.c_custkey = o.o_custkey""",
    "region_revenue": """SELECT r.r_name AS region, n.n_name AS nation,
       CAST(floor(SUM(l.l_extendedprice * (1 - l.l_discount)) * 1000000.0 + 0.5) AS BIGINT)
         AS revenue_e6,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY 1, 2""",
    # deterministic sampling (operators/sampling.py): the keep decision is
    # hash60(seed:key) mod 1e6 — identical md5-prefix arithmetic on both
    # engines, so the sampled row SETS match exactly, not just their sizes
    "sample_documents": f"""SELECT doc_id, CAST(length(text) AS BIGINT) AS text_len
FROM documents
WHERE {sample_hash_sql("doc_id")} % 1000000 < 100000""",
    "sample_stratified": f"""SELECT o_orderstatus, o_orderkey
FROM (
  SELECT o_orderstatus, o_orderkey,
         row_number() OVER (
           PARTITION BY o_orderstatus
           ORDER BY {sample_hash_sql("o_orderkey")} ASC,
                    o_orderkey ASC
         ) AS rn
  FROM orders
) WHERE rn <= 5""",
    # train/eval contamination (operators/contamination.py): word-trigram
    # hash collisions against the doc_id%97==0 eval split; docs with zero
    # grams produce no gram rows and are absent from the report (both sides)
    "contamination": f"""WITH
tr AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0),
ev AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0),
evg AS (
  SELECT DISTINCT {hash60_sql('g')} AS gram
  FROM (SELECT unnest(list_distinct({shingles_sql(words_sql('text'))})) AS g FROM ev)
),
tg AS (
  SELECT doc_id, {hash60_sql('g')} AS gram
  FROM (SELECT doc_id, unnest(list_distinct({shingles_sql(words_sql('text'))})) AS g FROM tr)
)
SELECT tg.doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(count(evg.gram) AS BIGINT) AS n_contaminated,
       CAST(floor(CAST(count(evg.gram) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                  * 1000000.0 + 0.5) AS BIGINT) AS contam_e6
FROM tg LEFT JOIN evg ON tg.gram = evg.gram
GROUP BY 1""",
    "emb_dedup_clusters": None,  # filled below (needs emb_near_dup_sql)
}


def _emb_clusters_sql() -> str:
    """Connected components over the embedding near-dup pairs (recursive
    min-label CTE, same convention as dedup_clusters_sql)."""
    inner = emb_near_dup_sql()
    return f"""WITH RECURSIVE np AS ({inner}),
und AS (
  SELECT vec_a AS src, vec_b AS dst FROM np
  UNION
  SELECT vec_b, vec_a FROM np
),
walk(node, label) AS (
  SELECT src, src FROM und
  UNION
  SELECT e.dst, w.label FROM walk w JOIN und e ON e.src = w.node
),
comp AS (SELECT node, MIN(label) AS component FROM walk GROUP BY node)
SELECT component, CAST(count(*) AS BIGINT) AS n_vecs
FROM comp GROUP BY 1"""


TRAINING_ORACLES["emb_dedup_clusters"] = _emb_clusters_sql()


def _cosine_topk_bounded_sql() -> str:
    """Stride from the parquet footer, identical to the Spark side
    (operators/similarity.query_mod_for) — 10 at sf0.01."""
    return cosine_topk_sql(query_mod=query_mod_for(embeddings_rows()))


TRAINING_ORACLES["emb_cosine_topk"] = _cosine_topk_bounded_sql()

TRAINING_ORACLES["training_corpus_keep"] = f"""
SELECT q.doc_id, q.quality_e6
FROM ({quality_sql()}) q
JOIN (
  SELECT MIN(doc_id) AS doc_id
  FROM (SELECT md5(text) AS h, doc_id FROM documents)
  GROUP BY h
) k ON q.doc_id = k.doc_id
WHERE q.quality_e6 >= 500000
  AND {sample_hash_sql("q.doc_id")} % 1000000 < 500000"""

def _events_enrich_sql() -> str:
    """Batch mirror of the stream-static broadcast enrichment: on a closed
    input the drained stream equals this join exactly (inner: unknown
    event types drop on both sides)."""
    from .queries_training import ENRICH_DIM

    dim_rows = ", ".join(f"('{t}', {w})" for t, w in ENRICH_DIM)
    return f"""WITH dim(event_type, type_weight) AS (VALUES {dim_rows})
SELECT e.event_id, e.event_type, d.type_weight,
       CAST(floor(e.value * d.type_weight * 1000000.0 + 0.5) AS BIGINT)
         AS weighted_value_e6
FROM events e JOIN dim d ON e.event_type = d.event_type"""


TRAINING_ORACLES["events_enrich"] = _events_enrich_sql()


def _pack_tail_sql(base_cte: str) -> str:
    """Shared cumsum/chunk tail of the pack oracles: same hash60
    bucket/order, same integer cumsum, same `//` division as
    operators/packing.pack_documents — bit-equal positions. ``base_cte``
    must yield (doc_id, n_tokens, bucket, _h)."""
    from .operators.packing import PACK_BUDGET

    return f"""WITH base AS ({base_cte}),
nz AS (SELECT * FROM base WHERE n_tokens > 0),
cum AS (
  SELECT doc_id, n_tokens, bucket,
         SUM(n_tokens) OVER (
           PARTITION BY bucket ORDER BY _h ASC, doc_id ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) - n_tokens AS _cum_before
  FROM nz
)
SELECT doc_id, n_tokens, CAST(bucket AS BIGINT) AS bucket,
       CAST(bucket * {1 << 40} + _cum_before // {PACK_BUDGET} AS BIGINT) AS pack_id,
       CAST(_cum_before % {PACK_BUDGET} AS BIGINT) AS pack_offset
FROM cum"""


def _pack_documents_sql() -> str:
    from .operators.packing import PACK_BUCKETS

    h = hash60_sql("CAST(doc_id AS VARCHAR)")
    return _pack_tail_sql(f"""
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '{TOKEN_RE}')) AS BIGINT) AS n_tokens,
         {h} % {PACK_BUCKETS} AS bucket,
         {h} AS _h
  FROM documents""")


def wordpiece_sql(w: str) -> str:
    """Bit-equal DuckDB twin of text.wordpiece_count_col: greedy
    longest-match wordpiece token count of the word expression ``w`` via
    the same pos*2^20+n integer fold (list_reduce seeded by a prepended 0,
    one iteration per WORDPIECE_MAX_STEPS element)."""
    from .operators.text import WORDPIECE_MAX_STEPS, WORDPIECE_VOCAB

    vocab = "[" + ", ".join(f"'{p}'" for p in WORDPIECE_VOCAB) + "]"
    step = (
        f"CASE WHEN (s >> 20) >= len({w}) THEN s ELSE "
        f"s + (coalesce(list_max(list_transform(list_filter({vocab}, "
        f"p -> substr({w}, CAST((s >> 20) + 1 AS INT), len(p)) = p), "
        f"p -> CAST(len(p) AS BIGINT))), 1) << 20) + 1 END"
    )
    folded = (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(range({WORDPIECE_MAX_STEPS}), "
        f"i -> CAST(0 AS BIGINT))), (s, i) -> {step})"
    )
    # the fold is inlined at each use (DuckDB lambdas don't admit scalar
    # subqueries): 3x recompute of a 16-step fold, fine for an oracle
    return (
        f"(({folded}) - ((({folded}) >> 20) << 20)) "
        f"+ ((greatest(CAST(len({w}) AS BIGINT) - (({folded}) >> 20), 0) + 3) // 4)"
    )


def _pack_documents_wordpiece_sql() -> str:
    """pack_documents budgeted by the greedy-wordpiece token counts
    (text.wordpiece_token_counts) instead of the regex proxy — identical
    packing math, real-tokenizer-shaped n_tokens."""
    from .operators.packing import PACK_BUCKETS

    h = hash60_sql("CAST(doc_id AS VARCHAR)")
    return _pack_tail_sql(f"""
  SELECT doc_id,
         CAST(coalesce(list_sum(list_transform({words_sql('text')},
                                               w -> {wordpiece_sql('w')})),
                       0) AS BIGINT) AS n_tokens,
         {h} % {PACK_BUCKETS} AS bucket,
         {h} AS _h
  FROM documents""")


TRAINING_ORACLES["pack_documents"] = _pack_documents_sql()
TRAINING_ORACLES["pack_documents_wordpiece"] = _pack_documents_wordpiece_sql()


def _spans_sql_base() -> str:
    from .oracle import SPANS_SF001

    return (
        "SELECT doc_id, s.kind AS kind, s.text AS text,"
        ' s.media_ref AS media_ref, s."offset" AS off'
        f" FROM (SELECT doc_id, unnest(spans) AS s"
        f" FROM read_parquet('{SPANS_SF001}'))"
    )


def _media_context_sql() -> str:
    """Mirror of operators/spans.media_context: last prose strictly before
    each media span, per document, via last_value IGNORE NULLS over the
    offset order."""
    return f"""WITH sp AS (
  SELECT * FROM ({_spans_sql_base()}) WHERE kind IN ('prose', 'media')
), m AS (
  SELECT doc_id, kind, media_ref, off,
         last_value(CASE WHEN kind = 'prose' THEN text END IGNORE NULLS)
           OVER (PARTITION BY doc_id ORDER BY off, kind, text, media_ref
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ctx_text,
         last_value(CASE WHEN kind = 'prose' THEN off END IGNORE NULLS)
           OVER (PARTITION BY doc_id ORDER BY off, kind, text, media_ref
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ctx_offset
  FROM sp
)
SELECT doc_id, media_ref, CAST(off AS BIGINT) AS "offset",
       CAST(ctx_offset AS BIGINT) AS ctx_offset, ctx_text
FROM m WHERE kind = 'media'"""


def _spans_dedup_sql() -> str:
    """Mirror of operators/spans.dedup_spans: first-offset-wins row_number,
    kept-sequence md5 via string_agg ORDER BY off plus the serialized span
    as a tie-break (string_agg drops the NULL CASE rows, exactly like
    Spark's collect_list). The tie-break matches Spark's
    array_sort(struct(offset, ser)) order exactly (round-4 ADVICE: with
    ORDER BY off alone, two distinct spans at one offset would digest in an
    engine-dependent order)."""
    ser = "kind || chr(31) || text || chr(31) || media_ref"
    return f"""WITH rn AS (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id, kind, text, media_ref ORDER BY off
  ) AS _rn
  FROM ({_spans_sql_base()})
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_spans,
       CAST(SUM(CASE WHEN _rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       md5(string_agg(
         CASE WHEN _rn = 1 THEN {ser} END,
         chr(30) ORDER BY off, {ser})) AS kept_md5
FROM rn GROUP BY doc_id"""


def _spans_boilerplate_sql() -> str:
    """Mirror of operators/spans.drop_boilerplate_spans: document frequency
    on the SAME 60-bit content hash Spark groups on (hash60_sql is the
    bit-exact twin of text.hash60_col), drop content with df > max_df, then
    the dedup_spans digest construction over the survivors (string_agg drops
    the NULL CASE rows like collect_list; ORDER BY off, ser matches Spark's
    array_sort(struct(offset, ser)); zero kept rows -> NULL on both)."""
    from .operators.spans import BOILERPLATE_MAX_DF

    ser = "kind || chr(31) || text || chr(31) || media_ref"
    return f"""WITH sp AS (
  SELECT doc_id, off, {ser} AS ser, {hash60_sql(ser)} AS _h
  FROM ({_spans_sql_base()})
), hot AS (
  SELECT _h FROM (SELECT DISTINCT _h, doc_id FROM sp)
  GROUP BY _h HAVING count(*) > {BOILERPLATE_MAX_DF}
), flagged AS (
  SELECT sp.*, hot._h IS NOT NULL AS _drop
  FROM sp LEFT JOIN hot ON sp._h = hot._h
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_spans,
       CAST(SUM(CASE WHEN NOT _drop THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       md5(string_agg(
         CASE WHEN NOT _drop THEN ser END,
         chr(30) ORDER BY off, ser)) AS kept_md5
FROM flagged GROUP BY doc_id"""


TRAINING_ORACLES["media_context"] = _media_context_sql()
TRAINING_ORACLES["spans_dedup"] = _spans_dedup_sql()
TRAINING_ORACLES["spans_boilerplate"] = _spans_boilerplate_sql()

TRAINING_ORACLES["top_tokens"] = f"""
SELECT token, CAST(count(*) AS BIGINT) AS n
FROM (SELECT unnest({words_sql('text')}) AS token FROM documents)
GROUP BY token
ORDER BY n DESC, token ASC
LIMIT 20"""


def _repetition_sql() -> str:
    """DuckDB twin of operators.text.repetition_stats: identical statistics
    via unnest + groupBy(doc_id, gram) (the Spark side folds over sorted
    per-row arrays instead — zero shuffle). Integer round-half-up fixed
    point on both engines: (2*num*1e6 + den) // (2*den)."""
    w = words_sql("text")

    def e6(num: str, den: str) -> str:
        d = f"greatest({den}, 1)"
        return f"CAST((2 * ({num}) * 1000000 + {d}) // (2 * {d}) AS BIGINT)"

    return f"""
WITH base AS (
  SELECT doc_id,
         CAST(len({w}) AS BIGINT) AS n_words,
         CAST(len(list_distinct({w})) AS BIGINT) AS ndw,
         {shingles_sql(w, 2)} AS g2,
         {shingles_sql(w, 3)} AS g3
  FROM documents
),
g2c AS (
  SELECT doc_id, g, count(*) AS c
  FROM (SELECT doc_id, unnest(g2) AS g FROM base) GROUP BY doc_id, g
),
g2s AS (SELECT doc_id, max(c) AS mx2 FROM g2c GROUP BY doc_id),
g3c AS (
  SELECT doc_id, g, count(*) AS c
  FROM (SELECT doc_id, unnest(g3) AS g FROM base) GROUP BY doc_id, g
),
g3s AS (
  SELECT doc_id, coalesce(sum(c) FILTER (WHERE c > 1), 0) AS dup3
  FROM g3c GROUP BY doc_id
)
SELECT b.doc_id, b.n_words,
  {e6('b.n_words - b.ndw', 'b.n_words')} AS dup_word_frac_e6,
  {e6('coalesce(g2s.mx2, 0)', 'b.n_words - 1')} AS top_2gram_frac_e6,
  {e6('coalesce(g3s.dup3, 0)', 'b.n_words - 2')} AS dup_3gram_frac_e6
FROM base b
LEFT JOIN g2s USING (doc_id)
LEFT JOIN g3s USING (doc_id)"""


TRAINING_ORACLES["text_repetition"] = _repetition_sql()


def _shard_shuffle_sql(n_shards: int = 8) -> str:
    """DuckDB twin of operators.sampling.shard_shuffle over documents."""
    h = sample_hash_sql("doc_id")
    return f"""
WITH hashed AS (SELECT doc_id, {h} AS h FROM documents)
SELECT doc_id,
       CAST(h % {n_shards} AS BIGINT) AS shard,
       CAST(row_number() OVER (
         PARTITION BY h % {n_shards} ORDER BY h ASC, doc_id ASC
       ) AS BIGINT) AS pos
FROM hashed"""


TRAINING_ORACLES["corpus_shard_shuffle"] = _shard_shuffle_sql()


def _pii_redact_sql() -> str:
    """DuckDB twin of q_text_pii_redact: identical planted PII, identical
    patterns (restricted to the Java-regex ∩ RE2 common subset), identical
    replacement order."""
    from .operators.text import PII_EMAIL, PII_IPV4, PII_PHONE

    red = (
        f"regexp_replace(regexp_replace(regexp_replace(text, "
        f"'{PII_EMAIL}', '<EMAIL>', 'g'), "
        f"'{PII_IPV4}', '<IP>', 'g'), "
        f"'{PII_PHONE}', '<PHONE>', 'g')"
    )
    return f"""
WITH planted AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id % 50 AS VARCHAR)
              || '@mail' || CAST(doc_id % 7 AS VARCHAR)
              || '.example.com from 10.' || CAST(doc_id % 256 AS VARCHAR)
              || '.0.' || CAST(doc_id % 100 AS VARCHAR)
              || ' tel +49' || CAST(doc_id % 10000000 + 30000000 AS VARCHAR)
           AS text
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{PII_EMAIL}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{PII_IPV4}')) AS BIGINT) AS n_ipv4,
       CAST(len(regexp_extract_all(text, '{PII_PHONE}')) AS BIGINT) AS n_phones,
       md5({red}) AS redacted_md5
FROM planted"""


TRAINING_ORACLES["text_pii_redact"] = _pii_redact_sql()


TRAINING_ORACLES["source_mix"] = f"""
SELECT source, lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len({words_sql('text')})) AS BIGINT) AS n_tokens,
       CAST(count(DISTINCT {hash60_sql(
           "lower(regexp_replace(text, '[^A-Za-z0-9 ]', ' ', 'g'))"
       )}) AS BIGINT) AS n_unique_docs
FROM documents
GROUP BY source, lang"""


TRAINING_ORACLES["events_sliding"] = """
WITH s AS (
  SELECT event_type, value, user_id,
         CAST(floor(epoch(ts) / 1800.0) AS BIGINT) * 1800 AS s1
  FROM events
),
x AS (
  SELECT event_type, value, user_id, s1 - 1800 AS window_start FROM s
  UNION ALL
  SELECT event_type, value, user_id, s1 AS window_start FROM s
)
SELECT event_type, window_start,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(floor(sum(value) * 1000000.0 + 0.5) AS BIGINT) AS value_sum_e6,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM x GROUP BY 1, 2"""


def _doc_length_quantiles_sql() -> str:
    """DuckDB twin of group_quantiles over documents: same QUANTILES and
    rank formula max(ceil(num*n/den), 1) in integer math."""
    from .operators.stats import QUANTILES

    def pick(num: int, den: int) -> str:
        return (
            f"MAX(CASE WHEN rn = greatest(({num} * n + {den - 1}) // {den}, 1) "
            f"THEN v END) AS q_{num}_{den}"
        )

    return f"""
WITH r AS (
  SELECT source, n_chars AS v,
         row_number() OVER (PARTITION BY source ORDER BY n_chars) AS rn,
         count(*) OVER (PARTITION BY source) AS n
  FROM documents
)
SELECT source, CAST(MAX(n) AS BIGINT) AS n_rows,
       {", ".join(pick(num, den) for num, den in QUANTILES)}
FROM r GROUP BY source"""


TRAINING_ORACLES["doc_length_quantiles"] = _doc_length_quantiles_sql()


TRAINING_ORACLES["dedup_incremental"] = f"""WITH {minhash_ctes()}
SELECT n.doc_id AS doc_id,
       CAST(MIN(o.doc_id) AS BIGINT) AS dup_of,
       CAST(count(DISTINCT o.doc_id) AS BIGINT) AS n_index_matches
FROM bands n JOIN bands o ON n.band_key = o.band_key
WHERE n.doc_id >= 1000000 AND o.doc_id < 1000000
GROUP BY n.doc_id"""


def _rebalance_sources_sql(max_tokens: int = 500) -> str:
    """DuckDB twin of rebalance_sources: same integer frac_e6 and the same
    hash threshold as hash_sample's oracle."""
    h = sample_hash_sql("doc_id")
    return f"""
WITH d AS (
  SELECT doc_id, source,
         CAST(len({words_sql('text')}) AS BIGINT) AS n_tokens
  FROM documents
),
stats AS (
  SELECT source,
         least(1000000, {max_tokens * 1000000} // sum(n_tokens)) AS frac_e6
  FROM d GROUP BY source
)
SELECT d.doc_id, d.source, d.n_tokens, CAST(stats.frac_e6 AS BIGINT) AS frac_e6
FROM d JOIN stats USING (source)
WHERE {h} % 1000000 < stats.frac_e6"""


TRAINING_ORACLES["rebalance_sources"] = _rebalance_sources_sql()


def _unigram_surprisal_sql(vocab_k: int = 256) -> str:
    """DuckDB twin of unigram_surprisal: same integer-exact
    floor(log2) via length(bin(.)) - 1, same (n DESC, token ASC)
    vocabulary total order (token unique in counts), same integer
    fixed-point average. Zero-token docs absent on both engines
    (unnest of an empty list emits no rows; Spark explode likewise)."""
    return f"""
WITH toks AS (
  SELECT doc_id, unnest({words_sql('text')}) AS token FROM documents
),
counts AS (SELECT token, count(*) AS n FROM toks GROUP BY token),
total AS (SELECT sum(n) AS t_total FROM counts),
vocab AS (SELECT token, n FROM counts ORDER BY n DESC, token ASC LIMIT {vocab_k}),
scored AS (
  SELECT t.doc_id,
         CASE WHEN v.n IS NOT NULL
              THEN length(bin(tt.t_total // v.n)) - 1
              ELSE length(bin(tt.t_total * 2)) - 1 END AS s
  FROM toks t LEFT JOIN vocab v USING (token) CROSS JOIN total tt
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(s) AS BIGINT) AS sum_surprisal,
       CAST(1000 * sum(s) // count(*) AS BIGINT) AS avg_surprisal_milli
FROM scored GROUP BY doc_id"""


TRAINING_ORACLES["unigram_surprisal"] = _unigram_surprisal_sql()


def _bm25_sql(
    terms: tuple[str, ...] = ("spark", "join", "window", "stream", "vector"),
    k: int = 50,
) -> str:
    """DuckDB twin of operators/index.bm25_topk: same quantized idf
    (length(bin((1000*(2N+1)) // (2*df+1))) - 1), same rational
    tf-saturation in integer milli-units, same (score DESC, doc_id ASC)
    total order under the LIMIT."""
    in_list = ", ".join(f"'{t}'" for t in terms)
    return f"""
WITH d AS (
  SELECT doc_id, CAST(len({words_sql('text')}) AS BIGINT) AS dl FROM documents
),
tot AS (
  SELECT CAST(sum(dl) AS BIGINT) AS l_total,
         CAST(count(*) AS BIGINT) AS n_docs FROM d
),
toks AS (SELECT doc_id, unnest({words_sql('text')}) AS token FROM documents),
tf AS (
  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM toks
  WHERE token IN ({in_list}) GROUP BY 1, 2
),
dfx AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token),
scored AS (
  SELECT tf.doc_id,
         (length(bin((1000 * (2 * t.n_docs + 1)) // (2 * x.df + 1))) - 1)
         * ((1000 * (44 * tf.tf * t.l_total)) //
            (20 * tf.tf * t.l_total + 6 * t.l_total + 18 * d.dl * t.n_docs))
         AS s
  FROM tf JOIN dfx x USING (token) JOIN d USING (doc_id) CROSS JOIN tot t
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
       CAST(sum(s) AS BIGINT) AS score_milli
FROM scored GROUP BY doc_id
ORDER BY score_milli DESC, doc_id ASC LIMIT {k}"""


TRAINING_ORACLES["bm25_search"] = _bm25_sql()


def _leakage_split_sql() -> str:
    """DuckDB twin of operators/sampling.leakage_safe_split over the
    augmented corpus: split keyed on hash60(SAMPLE_SEED:split:fingerprint60)
    so identical normalized content lands in one split on both engines."""
    from .operators.sampling import EVAL_PERMILLE, SAMPLE_SEED

    fp = hash60_sql(
        "lower(regexp_replace(text, '[^A-Za-z0-9 ]', ' ', 'g'))"
    )
    h = hash60_sql(f"concat('{SAMPLE_SEED}:split:', CAST({fp} AS VARCHAR))")
    return f"""WITH {AUG}
SELECT doc_id, {fp} AS fingerprint60,
       CASE WHEN {h} % 1000 < {EVAL_PERMILLE}
            THEN 'eval' ELSE 'train' END AS split
FROM aug"""


TRAINING_ORACLES["leakage_split"] = _leakage_split_sql()


def _dup_window_sql() -> str:
    """DuckDB twin of operators/dedup.duplicate_window_spans over the
    augmented corpus: same 0-based window starts, same hash60 of the
    space-joined k-token window, same distinct-doc df threshold."""
    # outer lambda var MUST NOT be `i`: hash60_sql's own hex-digit fold uses
    # `i -> ...`, and DuckDB resolves the innermost binding, so an outer `i`
    # would be shadowed and the window slice would go constant per document
    k = WINDOW_K
    gram = hash60_sql(f"array_to_string(ws[wi+1:wi+{k}], ' ')")
    return f"""WITH {AUG},
w AS (SELECT doc_id, {words_sql('text')} AS ws FROM aug),
g AS (
  SELECT doc_id,
         unnest(list_transform(range(0, greatest(len(ws)-{k}+1, 0)),
                wi -> {{'p': wi, 'h': {gram}}})) AS s
  FROM w
),
e AS (SELECT doc_id, CAST(s.p AS BIGINT) AS start_tok, s.h AS gram60 FROM g),
f AS (
  SELECT gram60, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM e GROUP BY 1 HAVING count(DISTINCT doc_id) >= {WINDOW_MIN_DOCS}
)
SELECT e.doc_id, e.start_tok, e.gram60, f.n_docs
FROM e JOIN f USING (gram60)"""


TRAINING_ORACLES["dedup_window_spans"] = _dup_window_sql()


# stream-stream attribution join: on a closed input the watermarked
# streaming join equals this batch theta-join row-for-row
TRAINING_ORACLES["events_attribution"] = f"""
SELECT v.event_id AS view_id, p.event_id AS purchase_id, v.user_id,
       CAST(epoch_us(p.ts) - epoch_us(v.ts) AS BIGINT) AS delay_us
FROM events v JOIN events p
  ON v.user_id = p.user_id
 AND p.ts > v.ts
 AND p.ts <= v.ts + INTERVAL {ATTRIB_WINDOW_H} HOUR
WHERE v.event_type = 'view' AND p.event_type = 'purchase'"""


def _classifier_score_sql() -> str:
    """DuckDB twin of classifier_score: same hash60 feature buckets, same
    hash-derived integer weights in [-1000, 1000], same int64 sum; empty
    feature lists score 0."""
    w = words_sql("text")
    bucket = f"{hash60_sql('t')} % 4096"
    weight = f"{hash60_sql(chr(39) + 'w:' + chr(39) + ' || CAST(bk AS VARCHAR)')} % 2001 - 1000"
    return f"""
WITH base AS (
  SELECT doc_id, list_concat({w}, {shingles_sql(w, 2)}) AS feats
  FROM documents
),
b AS (
  SELECT doc_id, CAST(len(feats) AS BIGINT) AS n_feats,
         list_transform(feats, t -> {bucket}) AS buckets
  FROM base
),
s AS (
  SELECT doc_id, n_feats,
         CAST(coalesce(list_sum(list_transform(buckets, bk -> {weight})), 0)
              AS BIGINT) AS score_sum
  FROM b
)
SELECT doc_id, n_feats, score_sum, score_sum > 0 AS keep FROM s"""


TRAINING_ORACLES["classifier_score"] = _classifier_score_sql()


# streaming foreachBatch MERGE running totals: per-event e6 quantization is
# associative, so the epoch-folded catalog table equals this one-shot batch
# aggregation bit-for-bit on any micro-batch chopping
TRAINING_ORACLES["events_merge_upsert"] = """
SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
         AS value_sum_e6
FROM events GROUP BY 1, 2"""


def _distinct_tokens_kmv_sql() -> str:
    """DuckDB twin of distinct_kmv over per-language tokens: same distinct
    hash60 set, same min-64 rank, same floor division — DuckDB does the
    >64-bit numerator (63 * 2^60) in HUGEINT where Spark uses decimal(38,0)
    with a subtract-remainder exact floor."""
    w = words_sql("text")
    h = hash60_sql("tok")
    return f"""
WITH words AS (
  SELECT lang, unnest({w}) AS tok FROM documents
),
d AS (SELECT DISTINCT lang AS grp, {h} AS h FROM words),
rk AS (
  SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
  FROM d
),
agg AS (
  SELECT grp, CAST(count(*) AS BIGINT) AS n_kept, max(h) AS kth_min_hash
  FROM rk WHERE rn <= 64 GROUP BY grp
)
SELECT grp AS lang, n_kept, kth_min_hash,
       CASE WHEN n_kept < 64 THEN n_kept
            ELSE CAST(CAST('72634054790231359488' AS HUGEINT) // kth_min_hash AS BIGINT)
       END AS est_distinct
FROM agg"""


TRAINING_ORACLES["distinct_tokens_kmv"] = _distinct_tokens_kmv_sql()


def _sample_weighted_sql() -> str:
    h = hash60_sql(f"'{sketches.WEIGHTED_SEED}:' || CAST(doc_id AS VARCHAR)")
    return f"""
SELECT doc_id, lang, source, n_chars,
       CAST({h} // greatest(n_chars, 1) AS BIGINT) AS priority
FROM documents
ORDER BY priority, doc_id
LIMIT 50"""


TRAINING_ORACLES["sample_weighted"] = _sample_weighted_sql()


# snapshot CDC: v1/v2 derived by the same deterministic doc_id filters the
# Spark query commits as real catalog versions; full-outer diff by key
TRAINING_ORACLES["snapshot_cdc"] = """
WITH v1 AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 11 <> 3
),
v2 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 17 = 2 THEN text || ' [rev2]' ELSE text END
           AS text
  FROM documents WHERE doc_id % 11 <> 3 AND doc_id % 19 <> 7
  UNION ALL
  SELECT doc_id, text FROM documents
  WHERE doc_id % 11 = 3 AND doc_id % 5 = 0
)
SELECT CASE WHEN v1.doc_id IS NULL THEN 'insert'
            WHEN v2.doc_id IS NULL THEN 'delete'
            ELSE 'update' END AS change,
       coalesce(v2.doc_id, v1.doc_id) AS doc_id,
       CASE WHEN v2.doc_id IS NULL THEN v1.text ELSE v2.text END AS text
FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
WHERE v1.doc_id IS NULL OR v2.doc_id IS NULL
   OR v1.text IS DISTINCT FROM v2.text"""


# ----------------------------------------------------------------- BPE

def _bpe_ctes() -> tuple[str, str]:
    """Unrolled-iteration DuckDB twin of operators/bpe.py: returns
    (cte_chain, last_seq_alias). Each iteration i contributes pair counts
    p{i} over the 2-space-separated symbol strings, the argmax t{i}
    (pair_count DESC, pair ASC — the Spark tie-break), and the merged
    sequences s{i} via the identical ' l  r ' -> ' lr ' literal replace.
    The merge loop that is M driver-argmax rounds on Spark is M unrolled
    CTEs here — same data dependence, bit-equal integer counts."""
    w = "list_filter(string_split(lower(text), ' '), x -> len(x) > 0)"
    parts = [
        f"""w0 AS (
  SELECT unnest({w}) AS word FROM documents
),
s0 AS (
  SELECT word, CAST(count(*) AS BIGINT) AS freq,
         '  ' || array_to_string(list_append(string_split(word, ''), '_'), '  ') || '  ' AS seq
  FROM w0
  WHERE regexp_full_match(word, '[a-z]+') AND len(word) BETWEEN 2 AND 20
  GROUP BY word
)"""
    ]
    for i in range(1, bpe.N_MERGES + 1):
        prev = f"s{i - 1}"
        parts.append(f"""p{i} AS (
  SELECT pair, CAST(sum(freq) AS BIGINT) AS pair_count FROM (
    SELECT freq,
           unnest(list_transform(generate_series(1, len(syms) - 1),
                                 j -> syms[j] || '|' || syms[j + 1])) AS pair
    FROM (SELECT freq, string_split(trim(seq), '  ') AS syms FROM {prev})
  ) GROUP BY pair
),
t{i} AS (
  SELECT pair, pair_count FROM p{i} ORDER BY pair_count DESC, pair ASC LIMIT 1
),
s{i} AS (
  -- LEFT JOIN ON TRUE + coalesce: when t{i} is EMPTY (merges exhausted on
  -- a degenerate corpus) the sequences carry through unchanged, matching
  -- the Spark loop's early break; a CROSS JOIN would annihilate the vocab
  SELECT word, freq,
         coalesce(replace(seq,
                 ' ' || split_part(pair, '|', 1) || '  ' || split_part(pair, '|', 2) || ' ',
                 ' ' || replace(pair, '|', '') || ' '), seq) AS seq
  FROM {prev} LEFT JOIN t{i} ON TRUE
)""")
    return ",\n".join(parts), f"s{bpe.N_MERGES}"


def bpe_merges_sql() -> str:
    ctes, _ = _bpe_ctes()
    rows = "\nUNION ALL\n".join(
        f"SELECT CAST({i} AS INTEGER) AS it, split_part(pair, '|', 1) AS left_sym,"
        f" split_part(pair, '|', 2) AS right_sym, pair_count FROM t{i}"
        for i in range(1, bpe.N_MERGES + 1)
    )
    return f"WITH {ctes}\n{rows}"


def bpe_vocab_sql() -> str:
    ctes, last = _bpe_ctes()
    return f"""WITH {ctes}
SELECT word, freq,
       CAST(len(string_split(trim(seq), '  ')) AS BIGINT) AS n_pieces,
       replace(trim(seq), '  ', '|') AS pieces
FROM {last}"""


TRAINING_ORACLES["bpe_merges"] = bpe_merges_sql()
TRAINING_ORACLES["bpe_vocab_segment"] = bpe_vocab_sql()
TRAINING_ORACLES["contrastive_pairs"] = contrastive_pairs_sql()
