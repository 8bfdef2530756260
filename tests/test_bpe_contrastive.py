"""Hand-case + invariant tests for BPE tokenizer training and contrastive
pair mining (parity vs DuckDB is covered by test_oracle_parity.py)."""

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR, spark_jobs


def _mini_docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )


class TestBPE:
    def test_hand_case_greedy_merges(self, spark, monkeypatch):
        """Classic Sennrich-style corpus: 'low'x5 'lower'x2 'newest'x6
        'widest'x3. Hand-computed pair counts over char+EOW sequences:
        (e,s) 9 and (s,t) 9 and (t,_) 9 tie at the top — tie-break on
        pair string ascending picks 'e|s'. After merging, (es,t) 9 and
        (t,_) 9 tie -> 'es|t' wins ('est' symbol), then (est,_) 9."""
        from wikipedia_wikidata_spark.operators import bpe
        from wikipedia_wikidata_spark.operators.bpe import bpe_merges

        monkeypatch.setattr(bpe, "N_MERGES", 3)
        docs = _mini_docs(
            spark,
            ["low " * 5, "lower " * 2, "newest " * 6, "widest " * 3],
        )
        rows = bpe_merges(docs).orderBy("it").collect()
        assert [(r.left_sym, r.right_sym, r.pair_count) for r in rows] == [
            ("e", "s", 9),
            ("es", "t", 9),
            ("est", "_", 9),
        ]

    def test_adjacent_repeat_merges_leftmost_nonoverlapping(self, spark, monkeypatch):
        """'aaaa' (freq 1): pair (a,a) counts 3 adjacent occurrences but a
        single left-to-right non-overlapping pass merges only positions
        (1,2) and (3,4) -> 'aa aa _'. At iteration 2, (aa,aa) and (aa,_)
        tie at 1 and the byte-order tie-break picks 'aa|_' ('_' 0x5F <
        'a' 0x61 — identical UTF8-binary collation on both engines)."""
        from wikipedia_wikidata_spark.operators import bpe
        from wikipedia_wikidata_spark.operators.bpe import (
            bpe_merges,
            bpe_vocab_segmentation,
        )

        monkeypatch.setattr(bpe, "N_MERGES", 2)
        docs = _mini_docs(spark, ["aaaa"])
        m = bpe_merges(docs).orderBy("it").collect()
        assert (m[0].left_sym, m[0].right_sym, m[0].pair_count) == ("a", "a", 3)
        assert (m[1].left_sym, m[1].right_sym) == ("aa", "_")
        seg = bpe_vocab_segmentation(docs).collect()
        assert seg[0].pieces == "aa|aa_"

    def test_merge_exhaustion_single_symbol_word(self, spark, monkeypatch):
        """'ab' collapses to ONE symbol after 2 merges; iteration 3 must
        (a) not crash on the 1-symbol sequence (slice/zip_with bigrams —
        F.sequence(0, n-2) would generate DESCENDING [0,-1] and raise on
        element_at index 0) and (b) stop early, leaving the vocabulary
        intact — matching the oracle's LEFT-JOIN-ON-TRUE carry-through."""
        import duckdb

        from wikipedia_wikidata_spark.operators import bpe
        from wikipedia_wikidata_spark.operators.bpe import (
            bpe_merges,
            bpe_vocab_segmentation,
        )
        from wikipedia_wikidata_spark.oracle_training import (
            bpe_merges_sql,
            bpe_vocab_sql,
        )

        monkeypatch.setattr(bpe, "N_MERGES", 3)
        docs = _mini_docs(spark, ["ab"])
        m = [tuple(r) for r in bpe_merges(docs).orderBy("it").collect()]
        v = [tuple(r) for r in bpe_vocab_segmentation(docs).collect()]
        con = duckdb.connect()
        con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
        con.execute("INSERT INTO documents VALUES (0, 'ab')")
        assert m == con.execute(bpe_merges_sql()).fetchall() == [
            (1, "a", "b", 1),
            (2, "ab", "_", 1),
        ]
        assert v == con.execute(bpe_vocab_sql()).fetchall() == [
            ("ab", 1, 1, "ab_")
        ]
        con.close()

    def test_pair_counts_non_increasing_and_reconstruction(self, spark):
        """Over the real sf0.01 corpus: merge counts are non-increasing
        (a new symbol's pairs are bounded by the merge that made it; old
        pairs only lose occurrences), and every segmentation concatenates
        back to word + '_'."""
        from wikipedia_wikidata_spark.operators.bpe import (
            bpe_merges,
            bpe_vocab_segmentation,
        )

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        counts = [r.pair_count for r in bpe_merges(docs).orderBy("it").collect()]
        assert len(counts) == 8 and all(
            a >= b for a, b in zip(counts, counts[1:])
        ), counts
        seg = bpe_vocab_segmentation(docs)
        bad = seg.filter(
            F.replace(F.col("pieces"), F.lit("|"), F.lit(""))
            != F.concat(F.col("word"), F.lit("_"))
        ).count()
        assert bad == 0
        assert seg.filter(F.col("n_pieces") < 1).count() == 0


class TestContrastive:
    @pytest.fixture(scope="class")
    def pairs(self, spark):
        from wikipedia_wikidata_spark.operators.similarity import (
            contrastive_pairs, n_planes_for,
        )

        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        return contrastive_pairs(emb, n_planes_for(emb.count())).cache()

    def test_planted_positives_and_label_partition(self, pairs):
        # augment_emb plants exact duplicates (vec_id+1e6) -> cosine 1.0
        pos = pairs.filter(F.col("label") == "pos")
        assert (
            pos.filter(
                (F.col("vec_b") == F.col("vec_a") + 1000000)
                & (F.col("cosine_e6") == 1000000)
            ).count()
            > 0
        )
        # thresholds partition the label space: no pair carries both labels
        assert pos.filter(F.col("cosine_e6") < 900000).count() == 0
        neg = pairs.filter(F.col("label") == "hard_neg")
        assert neg.filter(F.col("cosine_e6") > 500000).count() == 0

    def test_negatives_capped_per_anchor(self, pairs):
        over = (
            pairs.filter(F.col("label") == "hard_neg")
            .groupBy("vec_a")
            .count()
            .filter(F.col("count") > 3)
            .count()
        )
        assert over == 0

    def test_plan_cartesian_free(self, pairs):
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_plan_build_submits_no_job(self, spark):
        """Building the plan runs no Spark job: the plane count comes from
        the caller (the parquet footer in q_contrastive_pairs), not from a
        count of the input."""
        from wikipedia_wikidata_spark.operators.similarity import (
            DIM, contrastive_pairs, n_planes_for,
        )

        emb = spark.createDataFrame(
            [(i, [float((i * 7 + d) % 5) - 2.0 for d in range(DIM)])
             for i in range(40)],
            "vec_id bigint, embedding array<double>",
        )
        _, jobs = spark_jobs(spark, lambda: contrastive_pairs(emb, n_planes_for(40)))
        assert jobs == []


class TestGridClusters:
    def test_invariants_and_hand_case(self, spark):
        """Hand-planted grid: two touching dense cells + one diagonal-gap
        dense cell + sparse noise. Expect one 2-cell cluster and one
        singleton; noise points appear in no cluster."""
        from wikipedia_wikidata_spark.operators.spatial import grid_density_clusters

        # CLUSTER_RES=6 -> bits=14, cell width = 360/2^14 deg ~ 0.02197
        w = 360.0 / (1 << 14)
        rows = []
        # dense cell A (3 pts) and its east neighbor B (2 pts): one cluster
        for i in range(3):
            rows.append((0.001 + i * 1e-4, 0.001))
        for i in range(2):
            rows.append((0.001 + i * 1e-4, 0.001 + w))
        # dense cell C two cells away (gap): singleton cluster
        for i in range(2):
            rows.append((0.001 + i * 1e-4, 0.001 + 3 * w))
        # noise: lone point far away
        rows.append((10.0, 10.0))
        pts = spark.createDataFrame(rows, "lat double, lon double")
        out = grid_density_clusters(pts).collect()
        by_cells = sorted((r.n_cells, r.n_points) for r in out)
        assert by_cells == [(1, 2), (2, 5)]

    def test_sf001_matches_point_conservation(self, spark):
        from wikipedia_wikidata_spark.operators.spatial import grid_density_clusters
        from wikipedia_wikidata_spark.functions.cells import CELL_RES_BITS, xy_cols
        from wikipedia_wikidata_spark.plans import importance as imp

        pts = imp.entity_points(spark, "/root/testdata/sf0.001").cache()
        out = grid_density_clusters(pts)
        total_clustered = out.agg(F.sum("n_points")).collect()[0][0]
        x, y = xy_cols(F.col("lat"), F.col("lon"), CELL_RES_BITS[6])
        dense_pts = (
            pts.select(x.alias("cx"), y.alias("cy"))
            .groupBy("cx", "cy")
            .count()
            .filter(F.col("count") >= 2)
            .agg(F.sum("count"))
            .collect()[0][0]
        )
        assert total_clustered == dense_pts
        pts.unpersist()
