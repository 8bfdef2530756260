"""Iterative graph algorithms as declarative DataFrame programs (PageRank).

The reference ranks articles by RAW inlink counts (langcount/othercount
accumulation, steps/wikipedia_process.sh:96-103 + README.md:163-192);
PageRank over the same resolved pagelink graph is the natural next rung of
link-derived importance and exercises the one operator class the engine did
not yet cover: a fixed-point ITERATION expressed as a DataFrame loop.

Scale design (100 TB / 10^9-node graph):
- The edge list is resolved once (two equi-joins, same shape as
  plans/importance.pagelink_counts) and deduplicated; per-language subgraphs
  are independent, so every shuffle below is keyed by (language, node) and
  skew is bounded by the largest single language.
- Each iteration is join(ranks, edges) -> groupBy(dst).sum — two shuffles,
  both map-side-combined. Exchange reuse does NOT collapse the per-iteration
  edge subplan (measured: the executed sf0.01 plan carried 134 Exchanges and
  zero ReusedExchange), so pagerank localCheckpoints the edge/node sets once
  up front — lineage truncation, not exchange reuse, is what keeps the
  resolution joins from replaying O(iters) times (asserted by
  tests/test_graph.py::test_pagerank_plan_is_cartesian_free_and_truncated,
  which pins `Scan ExistingRDD` in the iterated plan).
- A fixed iteration count (PR_ITERS) keeps the rank lineage shallow.
- Dangling-node mass is NOT redistributed (the "lost mass" PageRank
  variant): rank = teleport/N + damping * sum(contribs). This keeps every
  iteration a pure local aggregate — redistributing would add a per-language
  scalar join per iteration — and is the convention the DuckDB oracle
  (oracle.py: pagerank_links) mirrors term-for-term.

Determinism: ranks are computed in FIXED-POINT int64 (scale 1e15), so every
per-node contribution sum is an integer sum — commutative and associative
regardless of engine, partitioning, or summation order. Cross-engine parity
is therefore EXACT at any graph size, not "1 ulp won't cross a bucket edge
in practice" (round-3 ADVICE: the double-sum + e9-quantize protocol had an
unbounded tail risk of a rank landing on a bucket boundary). floor() in the
fixed-point ops only ever LOSES mass (<= 1e-15 per op), so the lost-mass
invariant and the <=1 total-mass bound still hold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PR_ITERS = 5
PR_DAMPING = 0.85
PR_TELEPORT = 0.15  # literal, NOT 1-damping: 1-0.85 != 0.15 in binary fp
# fixed-point scale: rank 1.0 == 10^15. Headroom check: per-node contribution
# sums are bounded by total mass (10^15) and the damping numerator multiply
# is <= 85 * 10^15 = 8.5e16 << int64 max 9.2e18.
PR_SCALE = 10**15


def link_edges(v: dict[str, DataFrame]) -> DataFrame:
    """Resolved, deduplicated pagelink edges (language, src, dst) with
    self-loops dropped. src = linking page id; dst = target page id, via
    pl_target_id -> linktarget.lt_title -> page.page_title (the same
    resolution chain as plans/importance.pagelink_counts, which mirrors
    bin/filter_pagelinks.py:29-43 of the reference)."""
    pl = v["pagelink"].select(
        "language",
        F.col("pl_from").alias("src"),
        F.col("pl_target_id").alias("lt_id"),
    )
    lt = v["linktarget"].select(
        "language", "lt_id", F.col("lt_title").alias("page_title")
    )
    pg = v["page"].select(
        "language", F.col("page_id").alias("dst"), "page_title"
    )
    return (
        pl.join(lt, ["language", "lt_id"])
        .join(pg, ["language", "page_title"])
        .filter(F.col("src") != F.col("dst"))
        .select("language", "src", "dst")
        .distinct()
    )


def pagerank(edges: DataFrame) -> DataFrame:
    """PR_ITERS-iteration PageRank per independent `language` subgraph.

    edges: (language, src, dst), parallel edges already deduplicated.
    Returns (language, node, rank:double, rank_fp:bigint) — rank_fp is the
    exact fixed-point value (scale PR_SCALE), rank = rank_fp / PR_SCALE.

    All arithmetic is int64 fixed-point (`div` = exact integer division, not
    double `/` + cast — a double quotient can round across the floor
    boundary): rank0 = PR_SCALE div n; per-edge contribution =
    rank_fp div outdeg; rank = (PR_TELEPORT*PR_SCALE) div n
    + (damping_num * sum) div damping_den. Integer sums are order-invariant,
    so the result is bit-identical across engines and partitionings —
    PR_DAMPING/PR_TELEPORT must be expressible as hundredths for this
    (0.85 = 85/100).

    The edge and node sets are localCheckpointed once up front:
    the unrolled plan references edges ~3x per iteration (ew + both arms of
    nodes) and Spark's exchange-reuse did not collapse them (measured: the
    executed sf0.01 plan carried 134 Exchanges and zero ReusedExchange), so
    without truncation the resolution joins replay O(iters) times. A
    production run would commit edges through sources/catalog.Catalog
    (durable, resumable) instead; localCheckpoint is the in-session analog —
    same role as the scored-table checkpoint in plans/importance.py.
    """
    d_num, t_num = round(PR_DAMPING * 100), round(PR_TELEPORT * 100)
    assert abs(d_num / 100.0 - PR_DAMPING) < 1e-12, "damping must be n/100"
    assert abs(t_num / 100.0 - PR_TELEPORT) < 1e-12, "teleport must be n/100"
    t_fp = PR_SCALE * t_num // 100  # exact: 10^15 * 15 / 100 = 1.5e14
    edges = edges.localCheckpoint()
    nodes = (
        edges.select("language", F.col("src").alias("node"))
        .unionByName(edges.select("language", F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.groupBy("language").agg(
        F.count(F.lit(1)).alias("n_nodes")
    )
    outdeg = edges.groupBy("language", "src").agg(
        F.count(F.lit(1)).alias("outdeg")
    )
    # edge-with-outdeg subtree consumed once per iteration; its scan side
    # reads the checkpointed edge RDD (the measured alternative — relying on
    # exchange reuse — never fired)
    ew = edges.join(outdeg, ["language", "src"])
    ranks = nodes.join(F.broadcast(n), "language").select(
        "language", "node",
        F.expr(f"{PR_SCALE} div n_nodes").alias("rank_fp"),
    )
    for _ in range(PR_ITERS):
        contribs = (
            ew.join(
                ranks.select(
                    "language", F.col("node").alias("src"), "rank_fp"
                ),
                ["language", "src"],
            )
            .select(
                "language",
                F.col("dst").alias("node"),
                F.expr("rank_fp div outdeg").alias("c"),
            )
            .groupBy("language", "node")
            .agg(F.sum("c").alias("c"))
        )
        ranks = (
            nodes.join(contribs, ["language", "node"], "left")
            .join(F.broadcast(n), "language")
            .select(
                "language",
                "node",
                F.expr(
                    f"{t_fp} div n_nodes"
                    f" + ({d_num} * coalesce(c, 0L)) div 100"
                ).alias("rank_fp"),
            )
        )
    return ranks.select(
        "language", "node",
        (F.col("rank_fp") / F.lit(float(PR_SCALE))).alias("rank"),
        "rank_fp",
    )


# connected_components' label-propagation probe budget: dense dedup graphs
# converge in 2-3 rounds; anything still moving after 8 is high-diameter and
# belongs on the star path (each probe round materializes a localCheckpoint,
# so the probe budget is paid in real passes)
AUTO_PROBE_ITERS = 8
# connected_components_star safety backstop, far above the O(log^2 n) worst
# case for any representable graph (2^40 nodes)
STAR_MAX_ROUNDS = 40


def connected_components(
    pairs: DataFrame, a: str = "doc_a", b: str = "doc_b"
) -> DataFrame:
    """Connected components: (node, component) with component = smallest
    node id in the component.

    This is the clustering step the dedup family needs AFTER candidate
    generation: MinHash/LSH (operators/dedup.py) emits near-dup PAIRS, but
    keep/drop decisions need per-CLUSTER groups (A~B, B~C => {A,B,C} keeps
    one document, not two independent pair-wise keeps).

    Min-label propagation runs first — rounds of one equi-join + one
    min-aggregate, both map-side combined; dense dedup clusters (diameter
    2-3) converge in 2-3 of them. It is PROBE-CAPPED at AUTO_PROBE_ITERS
    rounds: a graph still moving after that is chain-shaped, and the
    partially-propagated labels are discarded for
    connected_components_star (alternating large-star/small-star, Kiveris
    et al., "Connected Components in MapReduce and Beyond" — O(log n)
    rounds on ANY graph shape, including adversarial long chains).

    Labels/edges are localCheckpointed per round so lineage stays O(1)
    rather than O(rounds) (production: catalog snapshots, as in pagerank);
    convergence checks are driver-side SCALAR counts (no data collected).
    """
    fwd = pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"))
    edges = (
        fwd.unionByName(
            fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(AUTO_PROBE_ITERS):
        prop = (
            edges.join(labels, edges.src == labels.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("label").alias("nl"))
        )
        stepped = labels.join(prop, "node", "left").select(
            "node",
            F.col("label").alias("old_label"),
            F.least(F.col("label"), F.coalesce("nl", F.col("label"))).alias("label"),
        )
        stepped = stepped.localCheckpoint()
        changed = stepped.filter(F.col("label") != F.col("old_label")).count()
        labels = stepped.drop("old_label")
        if changed == 0:
            return labels.select("node", F.col("label").alias("component"))
    # still moving after the probe: chain-shaped graph — restart on the
    # O(log n) path, after only AUTO_PROBE_ITERS wasted rounds
    return connected_components_star(pairs, a, b)


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star round (Kiveris et al. §3): for every node u, point each
    STRICTLY LARGER neighbor v at m = min(N(u) ∪ {u}). One groupBy-min +
    one equi-join, both keyed by node id."""
    bidir = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    m = bidir.groupBy("src").agg(F.min("dst").alias("_m"))
    m = m.select("src", F.least("_m", "src").alias("_m"))
    return (
        bidir.join(m, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("_m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star round: orient edges toward the larger endpoint; for every
    node u, point u and each smaller neighbor at m = min(N_small(u) ∪ {u})."""
    oriented = (
        edges.select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    m = oriented.groupBy("src").agg(F.min("dst").alias("_m"))
    nbrs = oriented.join(m, "src")
    relink = nbrs.filter(F.col("dst") != F.col("_m")).select(
        F.col("dst").alias("src"), F.col("_m").alias("dst")
    )
    self_link = m.select("src", F.col("_m").alias("dst"))
    return relink.unionByName(self_link).distinct()


def connected_components_star(
    pairs: DataFrame,
    a: str = "doc_a",
    b: str = "doc_b",
    _rounds_out: list | None = None,
) -> DataFrame:
    """Connected components by alternating large-star/small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    two-phase algorithm): converges in O(log n) rounds on ANY graph —
    including the long-chain shapes where min-label propagation needs
    O(diameter) rounds — with the same per-round shuffle shape (groupBy-min
    + equi-join, map-side combined). At convergence the edge set is a
    forest of stars centered on each component's MINIMUM node, so labels
    read directly off the final edges.

    Convergence test is EXACT set equality of the canonically-oriented edge
    set between rounds (two driver-side scalar counts — a checksum could
    collide and silently stop early); STAR_MAX_ROUNDS is the backstop.

    _rounds_out: test hook; when a list is passed, the round count is
    appended so tests can assert the O(log n) bound.
    """
    nodes = (
        pairs.select(F.col(a).alias("node"))
        .unionByName(pairs.select(F.col(b).alias("node")))
        .distinct()
        .localCheckpoint()
    )
    cur = (
        pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        )
        .distinct()
        .localCheckpoint()
    )
    converged = False
    rounds = 0
    for _ in range(STAR_MAX_ROUNDS):
        rounds += 1
        nxt = _small_star(_large_star(cur)).localCheckpoint()
        # exact multiset equality of two distinct sets: equal counts AND
        # empty one-sided difference
        if nxt.count() == cur.count() and nxt.exceptAll(cur).isEmpty():
            cur = nxt
            converged = True
            break
        cur = nxt
    if _rounds_out is not None:
        _rounds_out.append(rounds)
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not converge in {STAR_MAX_ROUNDS} rounds"
        )
    labels = cur.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    roots = nodes.join(
        cur.select(F.col("src").alias("node")), "node", "left_anti"
    ).select("node", F.col("node").alias("component"))
    return labels.unionByName(roots)


def pagerank_titles(v: dict[str, DataFrame]) -> DataFrame:
    """PageRank joined back to page titles: (language, title, rank_e9).
    rank_e9 = rank_fp div 10^6 — an EXACT integer projection of the exact
    fixed-point rank, so the cross-engine value hash has no float-boundary
    tail risk at any scale (round-3 ADVICE)."""
    pr = pagerank(link_edges(v))
    pg = v["page"].select(
        "language", F.col("page_id").alias("node"), F.col("page_title").alias("title")
    )
    return pr.join(pg, ["language", "node"]).select(
        "language",
        "title",
        F.expr("rank_fp div 1000000").alias("rank_e9"),
    )


HITS_ITERS = 3
HITS_SCALE = 10**9


def hits(edges: DataFrame) -> DataFrame:
    """HITS_ITERS-iteration HITS (Kleinberg hubs & authorities) per independent
    `language` subgraph — the second member of the link-analysis family
    next to pagerank, sharing its edge resolution and its exactness
    contract.

    edges: (language, src, dst), deduplicated. Returns (language, node,
    hub_fp, auth_fp) at scale HITS_SCALE with L1 normalization per
    iteration: h = A·a then a = Aᵀ·h, each rescaled so Σ = SCALE.

    Integer-exact cross-engine: raw sums are int64-bounded (auth/hub values
    ≤ SCALE after each normalization, so a raw sum ≤ SCALE·deg), the
    normalization numerator raw·SCALE is computed in decimal(38,0)
    (DuckDB HUGEINT twin) and floored with the subtract-remainder idiom
    from operators/sketches.py — Spark decimal `/` rounds HALF_UP at the
    result scale, so a plain divide could round past the integer DuckDB's
    `//` floors to. Sums of integers are order-invariant: bit-equal at any
    partitioning.

    100-TB shape: two map-side-combined shuffles per iteration (groupBy on
    src then dst) plus an |L|-row broadcast normalization join (the
    scalar-max pattern — no collect in the data path); nodes/edges are
    localCheckpointed once like pagerank (production: catalog snapshots).
    """
    edges = edges.localCheckpoint()
    nodes = (
        edges.select("language", F.col("src").alias("node"))
        .unionByName(edges.select("language", F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    scale_dec = F.lit(str(HITS_SCALE)).cast("decimal(38,0)")

    def _norm(raw: DataFrame) -> DataFrame:
        # raw: (language, node, raw) int64 -> (language, node, fp) with
        # Σ fp ≈ SCALE via exact decimal floor division
        s = raw.groupBy("language").agg(
            F.sum(F.col("raw").cast("decimal(38,0)")).alias("s")
        )
        num = F.col("raw").cast("decimal(38,0)") * scale_dec
        fp = ((num - F.pmod(num, F.col("s"))) / F.col("s")).cast("bigint")
        return (
            raw.join(F.broadcast(s), "language")
            .select(
                "language",
                "node",
                F.when(F.col("s") > 0, fp).otherwise(F.lit(0)).alias("fp"),
            )
        )

    auth = nodes.select("language", "node", F.lit(HITS_SCALE).alias("fp"))
    for _ in range(HITS_ITERS):
        h_raw = (
            edges.join(
                auth.select("language", F.col("node").alias("dst"), "fp"),
                ["language", "dst"],
            )
            .groupBy("language", F.col("src").alias("node"))
            .agg(F.sum("fp").alias("raw"))
        )
        hub = _norm(
            nodes.join(h_raw, ["language", "node"], "left").select(
                "language", "node", F.coalesce("raw", F.lit(0)).alias("raw")
            )
        )
        a_raw = (
            edges.join(
                hub.select("language", F.col("node").alias("src"), "fp"),
                ["language", "src"],
            )
            .groupBy("language", F.col("dst").alias("node"))
            .agg(F.sum("fp").alias("raw"))
        )
        auth = _norm(
            nodes.join(a_raw, ["language", "node"], "left").select(
                "language", "node", F.coalesce("raw", F.lit(0)).alias("raw")
            )
        )
    return (
        hub.select("language", "node", F.col("fp").alias("hub_fp"))
        .join(
            auth.select("language", "node", F.col("fp").alias("auth_fp")),
            ["language", "node"],
        )
    )


def hits_titles(v: dict[str, DataFrame]) -> DataFrame:
    """HITS joined back to page titles: (language, title, hub_e6, auth_e6)
    — exact integer projections (div 10^3) of the exact fixed-point
    values, zero float-boundary tail risk (the pagerank_titles contract)."""
    h = hits(link_edges(v))
    pg = v["page"].select(
        "language", F.col("page_id").alias("node"), F.col("page_title").alias("title")
    )
    return h.join(pg, ["language", "node"]).select(
        "language",
        "title",
        F.expr("hub_fp div 1000").alias("hub_e6"),
        F.expr("auth_fp div 1000").alias("auth_e6"),
    )
