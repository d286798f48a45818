package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM per sbt test fork). */
object TestSpark {
  lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sf: String = "/root/testdata/sf0.001"

  /** Runs `body` with the session confs `kvs` set, restoring them after. */
  def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** Range scans keep their partitions apart: 16 shuffle partitions
    * that AQE may not coalesce, so a group spans several of them even
    * at sf0.001.
    */
  val spreadPartitions: Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> "16",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
}

class NdshSpec extends AnyFunSuite {
  import TestSpark._

  test("q1 groups by returnflag/linestatus with positive sums") {
    val rows = queries.Ndsh.q1(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 6)
    rows.foreach { r =>
      assert(r.getAs[Double]("sum_qty") > 0)
      assert(r.getAs[Double]("sum_charge") >= r.getAs[Double]("sum_disc_price"))
      assert(r.getAs[Long]("count_order") > 0)
    }
  }

  test("q5 returns revenue per ASIA nation, descending") {
    val rows = queries.Ndsh.q5(spark, sf).collect()
    assert(rows.nonEmpty)
    val revs = rows.map(_.getAs[Double]("revenue"))
    assert(revs.sameElements(revs.sorted(Ordering[Double].reverse)))
  }

  test("q6 returns a single positive revenue value") {
    val rows = queries.Ndsh.q6(spark, sf).collect()
    assert(rows.length == 1 && rows.head.getAs[Double]("revenue") > 0)
  }

  test("q9 groups by nation and year") {
    val rows = queries.Ndsh.q9(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.map(r => (r.getString(0), r.getInt(1))).distinct.length == rows.length)
  }

  test("q10 returns at most 20 top customers by revenue") {
    val rows = queries.Ndsh.q10(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 20)
  }

  test("entry smoke: flagship query has rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracleSql key exists in queries") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }
}
