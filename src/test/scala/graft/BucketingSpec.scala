package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Bucketing

class BucketingSpec extends AnyFunSuite with SparkTestBase {

  test("same-bucketed tables join without any shuffle exchange") {
    withTempDir("graft_buckets") { tmp =>
      val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        // force a non-broadcast join so the shuffle question is real
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        Bucketing.writeBucketed(spark, Tables.lineitem(spark, sfDir),
          "li_b", s"$tmp/li", Seq("l_orderkey"), 8)
        Bucketing.writeBucketed(spark,
          Tables.orders(spark, sfDir).withColumnRenamed("o_orderkey", "l_orderkey"),
          "o_b", s"$tmp/o", Seq("l_orderkey"), 8)
        val joined = Bucketing.colocatedJoin(spark, "li_b", "o_b", Seq("l_orderkey"))
        val plan = joined.queryExecution.executedPlan.toString()
        assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
        assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"))
        // and it's still correct
        val expect = Tables.lineitem(spark, sfDir).join(
          Tables.orders(spark, sfDir).withColumnRenamed("o_orderkey", "l_orderkey"),
          Seq("l_orderkey")).count()
        assert(joined.count() == expect)
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS o_b")
      }
    }
  }
}
