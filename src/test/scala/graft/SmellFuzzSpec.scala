package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** Seeded fuzz of the bounded-key-Window smell (the r12 carried task):
  * generates grouped-rank plans over the bounded dictionary columns
  * under FRESH random aliases — the shape that silently escaped the
  * r13 name-based rule — plus scaled-key and aggregate-collapsed
  * controls, and asserts [[PlanSmells.boundedKeyWindow]] classifies
  * every one correctly. Deterministic seed, so a detector regression
  * reproduces exactly.
  */
class SmellFuzzSpec extends AnyFunSuite {
  import TestSpark._

  private val rng = new Random(20260814L)

  private def freshAlias(): String = s"k_${rng.alphanumeric.take(6).mkString}"

  private def lineitem = Tables.lineitem(spark, sf)
  private def customer = Tables.customer(spark, sf)

  test("planted bounded-key windows under fresh aliases are all caught") {
    val boundedCols = Seq(
      lineitem -> "l_returnflag", lineitem -> "l_linestatus",
      customer -> "c_mktsegment")
    (1 to 20).foreach { i =>
      val (df, kcol) = boundedCols(rng.nextInt(boundedCols.length))
      val a1 = freshAlias()
      val keyed = df.select(col(kcol).as(a1), col(df.columns.head).as("ord"))
      // half the time, alias a second hop to force transitive resolution
      val (frame, key) =
        if (rng.nextBoolean()) {
          val a2 = freshAlias()
          (keyed.select(col(a1).as(a2), col("ord")), a2)
        } else (keyed, a1)
      val planted = frame.withColumn(
        "rn", row_number().over(Window.partitionBy(col(key)).orderBy(col("ord"))))
      assert(PlanSmells.boundedKeyWindow(planted.queryExecution.analyzed),
        s"seeded case $i: bounded key $kcol aliased to $key escaped the rule")
    }
  }

  test("scaled-key and aggregate-collapsed windows stay clean (no false positives)") {
    (1 to 10).foreach { i =>
      // scaled partition key (cardinality grows with the data) — a
      // plain window is CORRECT here and must not be flagged
      val a = freshAlias()
      val scaled = lineitem
        .select(col("l_orderkey").as(a), col("l_partkey"))
        .withColumn("rn",
          row_number().over(Window.partitionBy(col(a)).orderBy(col("l_partkey"))))
      assert(!PlanSmells.boundedKeyWindow(scaled.queryExecution.analyzed),
        s"case $i: scaled key falsely flagged")
    }
    // aggregate-collapsed: the window's input is a grouped frame whose
    // row count is the key dictionary, not the fact table
    val collapsed = lineitem
      .groupBy(col("l_returnflag")).agg(sum(col("l_quantity")).as("q"))
      .withColumn("rk",
        row_number().over(Window.partitionBy(col("l_returnflag")).orderBy(col("q"))))
    assert(!PlanSmells.boundedKeyWindow(collapsed.queryExecution.analyzed),
      "aggregate-collapsed window falsely flagged")
  }

  test("aggregate on a joined side does NOT exempt a fact-side bounded window") {
    // The r13 any-Aggregate-below exemption was exploitable by exactly
    // this shape: a bounded-key window over the raw fact table joined
    // to an aggregated dimension — the aggregate never collapsed the
    // fact input, so the smell is real and must be flagged.
    val dim = lineitem.groupBy(col("l_returnflag"))
      .agg(avg(col("l_quantity")).as("avg_q"))
    val exploit = lineitem
      .join(broadcast(dim), Seq("l_returnflag"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("l_returnflag")).orderBy(col("l_orderkey"))))
    assert(PlanSmells.boundedKeyWindow(exploit.queryExecution.analyzed),
      "fact-side bounded window exempted by a join-side aggregate")
  }
}
