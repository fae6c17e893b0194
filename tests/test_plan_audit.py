"""tools/plan_audit.py counts plan nodes, not substrings of the explain text
(which names every node twice, and where `ReusedExchange` contains
`Exchange`)."""

from __future__ import annotations


class TestAuditCounts:
    def test_one_join_plan_reads_one_join(self, spark):
        from pyspark.sql import functions as F

        from tools.plan_audit import audit

        big = spark.range(100).withColumn("k", F.col("id") % 10)
        small = spark.range(10).withColumnRenamed("id", "k")
        got = audit(big.join(F.broadcast(small), "k"))
        assert (got["joins"], got["broadcastJoin"], got["sortMergeJoin"]) \
            == (1, 1, 0)

    def test_reused_exchange_counts_once(self, spark):
        from pyspark.sql import functions as F

        from tools.plan_audit import audit

        agg = spark.range(100).groupBy((F.col("id") % 7).alias("k")).count()
        df = agg.union(agg)
        assert len(df.collect()) == 14  # runs df's own plan: final AQE tree
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ReusedExchange" in plan
        assert audit(df)["exchanges"] == 1
