"""Product-quantization ANN: code-table invariants, determinism, and
recall against the exact brute-force baseline."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from skope_api_spark.operators.similarity import (
    brute_force_topk,
    pq_assign_codes,
    pq_codebooks,
    pq_topk,
)
from skope_api_spark.tables import load

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def emb(spark):
    return load(spark, SF_DIR, "embeddings").cache()


class TestPQStructure:
    def test_codes_are_m_cells_per_vector(self, spark, emb):
        m = 8
        cb = pq_codebooks(emb, m=m)
        n_labels = emb.select("label").distinct().count()
        assert cb.count() == m * n_labels  # one codebook per subspace
        codes = pq_assign_codes(emb, cb, m=m)
        n = emb.count()
        assert codes.count() == n * m
        # every (vec, subspace) has exactly one cell, from the label set
        assert codes.select("vec_id", "j").distinct().count() == n * m
        cells = {r.cell for r in codes.select("cell").distinct().collect()}
        labels = {r.label for r in emb.select("label").distinct().collect()}
        assert cells <= labels

    def test_deterministic_across_runs(self, spark, emb):
        a = pq_topk(emb, emb.where(F.col("vec_id") < 5), k=3).collect()
        b = pq_topk(emb, emb.where(F.col("vec_id") < 5), k=3).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    def test_dim_must_divide(self, spark, emb):
        with pytest.raises(ValueError, match="divisible"):
            pq_codebooks(emb, m=7)


class TestPQRecall:
    def test_trained_adc_recall_vs_brute_force(self, spark, emb):
        """Trained codebooks (m=32 2-dim subspaces, 32 cells): ADC-only
        top-10 must recover a solid majority of the true cosine top-10
        (embeddings are unit vectors, so L2 order == cosine order and the
        comparison is fair). Label-mean codebooks measure ~0.13 here —
        cluster-mates collide onto identical codes — which is why the
        trained variant exists; both numbers recorded in PERF.md."""
        from skope_api_spark.operators.similarity import pq_kmeans_codebooks

        queries = emb.where(F.col("vec_id") < 10)
        exact = {
            (r.query_id, r.neighbor_id)
            for r in brute_force_topk(emb, queries, k=10).collect()
        }
        cb = pq_kmeans_codebooks(emb, m=32, n_cells=32, iters=2)
        approx = {
            (r.query_id, r.neighbor_id)
            for r in pq_topk(emb, queries, k=10, m=32, codebooks=cb).collect()
        }
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.55, recall

    def test_rerank_recall_near_exact(self, spark, emb):
        """ADC shortlist-50 + exact cosine re-rank: the production path
        must be near-indistinguishable from brute force at top-10."""
        from skope_api_spark.operators.similarity import pq_topk_rerank

        queries = emb.where(F.col("vec_id") < 10)
        exact = {
            (r.query_id, r.neighbor_id)
            for r in brute_force_topk(emb, queries, k=10).collect()
        }
        approx = {
            (r.query_id, r.neighbor_id)
            for r in pq_topk_rerank(emb, queries, k=10, shortlist=50).collect()
        }
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.9, recall

    def test_rerank_top1_matches_brute_force(self, spark, emb):
        """The nearest neighbor specifically (rk=1) should survive the ADC
        shortlist for essentially every query. (NOTE: the driver's labels
        are random — even exact cosine top-3 shares the query's label only
        ~1/30 of the time — so label-based assertions are meaningless
        here; the label-mean codebook contract is about determinism, and
        recall claims rest on the trained codebooks.)"""
        from skope_api_spark.operators.similarity import pq_topk_rerank

        queries = emb.where(F.col("vec_id") < 10)
        exact = {
            (r.query_id, r.neighbor_id)
            for r in brute_force_topk(emb, queries, k=1).collect()
        }
        approx = {
            (r.query_id, r.neighbor_id)
            for r in pq_topk_rerank(emb, queries, k=1, shortlist=50).collect()
        }
        assert len(exact & approx) / len(exact) >= 0.9
