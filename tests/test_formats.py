"""Bucketed co-located joins, broadcast degradation and Arrow/JVM
cosine-kernel parity."""

from __future__ import annotations

from pyspark.sql import functions as F

from skope_api_spark.tables import load

SF_DIR = "/root/testdata/sf0.001"


class TestBucketedJoin:
    def test_bucketed_tables_join_without_shuffle(self, spark, tmp_path):
        """bucketBy co-locates join keys at write time: joining two tables
        bucketed on the same key shows NO Exchange in the plan — the
        pre-shuffle trade that pays off when a big join runs repeatedly."""
        orders = load(spark, SF_DIR, "orders")
        cust = load(spark, SF_DIR, "customer")
        orders.write.mode("overwrite").bucketBy(8, "o_custkey").sortBy(
            "o_custkey"
        ).saveAsTable("orders_bkt")
        cust.write.mode("overwrite").bucketBy(8, "c_custkey").sortBy(
            "c_custkey"
        ).saveAsTable("cust_bkt")
        j = spark.table("orders_bkt").join(
            spark.table("cust_bkt").hint("merge"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert j.count() == orders.join(cust, orders.o_custkey == cust.c_custkey).count()
        spark.sql("DROP TABLE orders_bkt")
        spark.sql("DROP TABLE cust_bkt")


class TestBroadcastDegradation:
    def test_q5_degrades_to_shuffle_join_without_broadcast(self, spark):
        """The PERF.md claim, proven: with auto-broadcast disabled (as if
        customer/supplier exceeded the threshold at 100 TB), q5's big
        joins fall back to shuffle joins instead of OOMing — nothing
        scale-proportional is force-broadcast. (The explicit hints on the
        fixed 5/25-row region/nation dims remain, as intended.)"""
        from skope_api_spark.contract.relational import q5_local_supplier_volume

        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            df = q5_local_supplier_volume(spark, SF_DIR)
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            rows = df.collect()
            assert len(rows) >= 1  # still correct, just a different strategy
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


class TestArrowCosineParity:
    def test_arrow_kernel_matches_jvm_kernel(self, spark):
        """The two cosine kernels agree (same top-k, sims within 1e-9)."""
        from skope_api_spark.operators.similarity import brute_force_topk
        from skope_api_spark.tables import load

        emb = load(spark, SF_DIR, "embeddings")
        q = emb.where(F.col("vec_id") < 5)
        jvm = {(r.query_id, r.rk): (r.neighbor_id, r.cosine_sim)
               for r in brute_force_topk(emb, q, k=3).collect()}
        arw = {(r.query_id, r.rk): (r.neighbor_id, r.cosine_sim)
               for r in brute_force_topk(emb, q, k=3, use_arrow=True).collect()}
        assert set(jvm) == set(arw)
        for key in jvm:
            assert jvm[key][0] == arw[key][0]
            assert abs(jvm[key][1] - arw[key][1]) < 1e-9
