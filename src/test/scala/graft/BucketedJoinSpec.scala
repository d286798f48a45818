package graft

import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the exchange-free co-located join: two tables bucketed on the
  * join key with matching bucket counts must sort-merge join with NO
  * Exchange in the plan — the write-once/join-many layout a 100 TB
  * warehouse depends on (see [[graft.sources.Bucketed]]).
  */
class BucketedJoinSpec extends AnyFunSuite {
  import TestSpark._

  test("bucketed tables sort-merge join without any Exchange") {
    val l = Tables
      .lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_quantity"))
    val o = Tables
      .orders(spark, sf)
      .select(col("o_orderkey"), col("o_totalprice"))
    sources.Bucketed.writeBucketed(l, "li_bucketed", "l_orderkey", 8, DimCache.tempDir("li_bucketed"))
    sources.Bucketed.writeBucketed(o, "or_bucketed", "o_orderkey", 8, DimCache.tempDir("or_bucketed"))
    // Force the join shape the bucketing exists for: SMJ, not broadcast.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark
        .table("li_bucketed")
        .join(spark.table("or_bucketed"),
          col("l_orderkey") === col("o_orderkey"))
      val plan = j.queryExecution.explainString(FormattedMode)
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle:\n$plan")
      // and it computes the same rows as the plain join, both ways
      val expected = l.join(o, col("l_orderkey") === col("o_orderkey"))
      assert(j.exceptAll(expected).isEmpty && expected.exceptAll(j).isEmpty)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS or_bucketed")
    }
  }
}
