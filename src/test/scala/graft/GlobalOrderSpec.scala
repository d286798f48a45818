package graft

import graft.operators.GlobalOrder
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

/** Pins the distributed global argsort against the naive
  * single-partition window on real data, across repeated invocations
  * (the determinism property the zipWithIndex design guarantees by
  * construction: both of its jobs read one RDD instance, so range
  * boundaries can never be re-sampled between the counts pass and the
  * data pass).
  */
class GlobalOrderSpec extends AnyFunSuite {
  import TestSpark._

  private def input = Tables
    .customer(spark, sf)
    .select(
      col("c_custkey"),
      when(col("c_acctbal") < 0, null).otherwise(col("c_acctbal")).as("bal"))

  private val order =
    Seq(col("bal").asc_nulls_first, col("c_custkey"))

  test("rowNumber matches the naive global row_number, output is LongType") {
    val got = GlobalOrder.rowNumber(input, order, "rn")
    assert(got.schema("rn").dataType == LongType)
    val want = input.withColumn(
      "rn",
      row_number()
        .over(Window.partitionBy(lit(0)).orderBy(order: _*))
        .cast(LongType))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("rowNumber is stable across invocations (no boundary re-sampling)") {
    val a = GlobalOrder.rowNumber(input, order, "rn").collect().toSet
    val b = GlobalOrder.rowNumber(input, order, "rn").collect().toSet
    assert(a == b)
    // exactly the numbers 1..n, once each
    val n = a.size
    assert(a.map(_.getAs[Long]("rn")) == (1L to n.toLong).toSet)
  }

  // Grouped-scan fixtures: a small bounded key with NULLs (null is a
  // valid window partition and must be kept, not join-dropped) spread
  // over many input partitions so every group straddles range
  // boundaries.
  private def grouped = Tables
    .customer(spark, sf)
    .select(
      col("c_custkey"),
      when(col("c_custkey") % 7 === 0, null)
        .otherwise(col("c_mktsegment")).as("seg"),
      (col("c_custkey") % 97).cast(LongType).as("v"))
    .repartition(13)

  test("groupedRowNumber matches partitioned row_number incl. null keys") {
    val got = GlobalOrder.groupedRowNumber(
      grouped, Seq("seg"), Seq(col("c_custkey")), "rn")
    assert(got.schema("rn").dataType == LongType)
    val want = grouped.withColumn(
      "rn",
      row_number()
        .over(Window.partitionBy(col("seg")).orderBy(col("c_custkey")))
        .cast(LongType))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // the null group was numbered, not dropped
    assert(got.filter(col("seg").isNull).count() ===
      grouped.filter(col("seg").isNull).count())
  }

  test("groupedCumSum matches partitioned running sum incl. null keys") {
    val got = GlobalOrder.groupedCumSum(
      grouped, Seq("seg"), Seq(col("c_custkey")), col("v"), "cum")
    assert(got.schema("cum").dataType == LongType)
    val want = grouped.withColumn(
      "cum",
      sum(col("v")).over(
        Window.partitionBy(col("seg")).orderBy(col("c_custkey"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("groupedCumSumWithTotal: totals ride the scan, null group keeps " +
      "its own total (r16)") {
    // The r15 rewire's documented contract (COVERAGE semantics note): a
    // NULL group key partitions like SQL PARTITION BY — the null group
    // gets its own cum AND its own total from the scan's partials (the
    // pre-r15 join formulation dropped null groups entirely).
    val got = GlobalOrder.groupedCumSumWithTotal(
      grouped, Seq("seg"), Seq(col("c_custkey")), col("v"), "cum", "tot")
    assert(got.schema("cum").dataType == LongType)
    assert(got.schema("tot").dataType == LongType)
    val w = Window.partitionBy(col("seg"))
    val want = grouped
      .withColumn("cum",
        sum(col("v")).over(w.orderBy(col("c_custkey"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("tot", sum(col("v")).over(w))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // the null group is present with a consistent total: its max cum
    // equals its tot, and its rows were not dropped
    val nulls = got.filter(col("seg").isNull)
      .agg(count(lit(1)), max(col("cum")), max(col("tot"))).head()
    assert(nulls.getLong(0) > 0, "null group dropped")
    assert(nulls.getLong(1) == nulls.getLong(2),
      "null group's final cum must equal its riding total")
  }

  test("grouped scans enforce their fail-fast contracts") {
    // output-name collision
    intercept[IllegalArgumentException] {
      GlobalOrder.groupedRowNumber(
        grouped, Seq("seg"), Seq(col("c_custkey")), "v")
    }
    // non-integral value type
    intercept[IllegalArgumentException] {
      GlobalOrder.groupedCumSum(
        grouped, Seq("seg"), Seq(col("c_custkey")),
        col("v").cast("double"), "cum")
    }
    // null values in the summed column
    val ex = intercept[org.apache.spark.SparkException] {
      GlobalOrder.groupedCumSum(
        grouped, Seq("seg"), Seq(col("c_custkey")),
        when(col("c_custkey") % 11 === 0, null).otherwise(col("v")),
        "cum").count()
    }
    assert(ex.getMessage.contains("null value") ||
      Option(ex.getCause).exists(_.getMessage.contains("null value")))
    // cardinality guard: c_custkey is an SF-scaled key. The cap throws
    // INSIDE the executor task (before the subtotal collect reaches the
    // driver — the hazard it guards is a driver-side OOM, so a check
    // that ran after the collect would arrive after the hazard), which
    // Spark surfaces wrapped in a SparkException.
    val exCard = intercept[Throwable] {
      GlobalOrder.groupedRowNumber(
        grouped, Seq("c_custkey"), Seq(col("v")), "rn", maxGroups = 16)
    }
    def messages(t: Throwable): Iterator[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse(""))
    assert(messages(exCard).exists(_.contains("maxGroups=16")),
      s"expected the maxGroups contract message, got: $exCard")

    // The exact global check still fires for a key just over the cap but
    // spread thinly (each range partition under the cap): 25 distinct
    // keys, maxGroups = 24, with AQE partition-coalescing OFF so the 4
    // range partitions stay separate (~6 groups each stays under the
    // task-side cap) — only the post-collect driver check can reject it.
    // (With coalescing on — the tiny-data default — all groups land in
    // one task and the task-side cap fires instead, as exCard pinned.)
    val thin = grouped.withColumn("k25", col("c_custkey") % 25)
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.getOption(coalesceKey)
    try {
      spark.conf.set(coalesceKey, "false")
      val exThin = intercept[IllegalArgumentException] {
        GlobalOrder.groupedRowNumber(
          thin, Seq("k25"), Seq(col("c_custkey")), "rn", maxGroups = 24)
      }
      assert(exThin.getMessage.contains("25 distinct"))
    } finally {
      prev match {
        case Some(v) => spark.conf.set(coalesceKey, v)
        case None    => spark.conf.unset(coalesceKey)
      }
    }
    // and the same shape passes once the cap admits it
    assert(GlobalOrder.groupedRowNumber(
      thin, Seq("k25"), Seq(col("c_custkey")), "rn", maxGroups = 25)
      .count() === grouped.count())
  }

  test("groupedOrderStats equals the Window crossing formulation " +
      "(weighted median, rank bounds, extremes), null group keys kept") {
    // Tie-heavy order values over many input partitions so groups and
    // equal-value runs straddle range boundaries, plus a null group.
    val fx = Tables
      .customer(spark, sf)
      .select(
        col("c_custkey"),
        when(col("c_custkey") % 7 === 0, null)
          .otherwise(col("c_mktsegment")).as("seg"),
        (col("c_custkey") % 53).cast("double").as("x"),
        ((col("c_custkey") % 5) + 1).cast(LongType).as("wt"))
      .repartition(13)
    val w = Window.partitionBy(col("seg"))
    val ranked = fx
      .withColumn("cum", sum(col("wt")).over(
        w.orderBy(col("x"), col("c_custkey"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("tot", sum(col("wt")).over(w))
    // weighted median + both extremes in ONE call: targets 1 (min),
    // ceil(tot/2) (the 2·cum ≥ tot crossing), tot (max)
    val got = GlobalOrder.groupedOrderStats(
      fx.drop("c_custkey"), Seq("seg"), col("x"), col("wt"),
      Seq("xmin", "med", "xmax"),
      tot => Seq(1L, (tot + 1L) / 2L, tot), "tot")
    // window-carried extremes (a plain equi-join reference would DROP
    // the null group — the exact hazard the operator's null-keeps
    // semantics exist to avoid)
    val want = ranked
      .withColumn("xmin", min(col("x")).over(w))
      .withColumn("xmax", max(col("x")).over(w))
      .filter(col("cum") * 2 >= col("tot"))
      .groupBy(col("seg"))
      .agg(max(col("tot")).as("tot"), max(col("xmin")).as("xmin"),
        min_by(col("x"), col("cum")).as("med"), max(col("xmax")).as("xmax"))
      .select(col("seg"), col("tot"), col("xmin"), col("med"), col("xmax"))
    assert(got.count() === fx.select(col("seg")).distinct().count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // unweighted rank lookup: nearest-rank p01/p99 equal the value at
    // row_number() = ceil(q·n) under any tie order
    val gotR = GlobalOrder.groupedOrderStats(
      fx.drop("c_custkey"), Seq("seg"), col("x"), lit(1),
      Seq("lo", "hi"),
      n => Seq((n + 99L) / 100L, (99L * n + 99L) / 100L), "n")
    val rankedN = fx
      .withColumn("rn", row_number().over(
        w.orderBy(col("x"), col("c_custkey"))).cast(LongType))
      .withColumn("n", count(lit(1)).over(w))
    val wantR = rankedN
      .groupBy(col("seg"))
      .agg(max(col("n")).as("n"),
        min(when(col("rn") === expr("(n + 99) div 100"), col("x"))).as("lo"),
        min(when(col("rn") === expr("(99 * n + 99) div 100"), col("x")))
          .as("hi"))
      .select(col("seg"), col("n"), col("lo"), col("hi"))
    assert(gotR.exceptAll(wantR).isEmpty && wantR.exceptAll(gotR).isEmpty)
    // repeated invocation is stable (one RDD instance per call; no
    // boundary re-sampling inside a call)
    val again = GlobalOrder.groupedOrderStats(
      fx.drop("c_custkey"), Seq("seg"), col("x"), col("wt"),
      Seq("xmin", "med", "xmax"),
      tot => Seq(1L, (tot + 1L) / 2L, tot), "tot")
    assert(got.collect().toSet == again.collect().toSet)
  }

  test("groupedOrderStats enforces its fail-fast contracts") {
    val fx = grouped.withColumn("x", (col("c_custkey") % 53).cast("double"))
    // zero weight
    val exW = intercept[Throwable] {
      GlobalOrder.groupedOrderStats(
        fx, Seq("seg"), col("x"), col("v") - col("v"),
        Seq("m"), tot => Seq((tot + 1L) / 2L), "tot")
    }
    def messages(t: Throwable): Iterator[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse(""))
    assert(messages(exW).exists(_.contains("weight must be non-null and > 0")))
    // null order value
    val exV = intercept[Throwable] {
      GlobalOrder.groupedOrderStats(
        fx, Seq("seg"), when(col("c_custkey") % 11 === 0, null)
          .otherwise(col("x")), lit(1),
        Seq("m"), tot => Seq((tot + 1L) / 2L), "tot")
    }
    assert(messages(exV).exists(_.contains("order value must be non-null")))
    // non-integral weight
    intercept[IllegalArgumentException] {
      GlobalOrder.groupedOrderStats(
        fx, Seq("seg"), col("x"), lit(0.5),
        Seq("m"), _ => Seq(1L), "tot")
    }
    // target outside [1, tot]
    val exT = intercept[Throwable] {
      GlobalOrder.groupedOrderStats(
        fx, Seq("seg"), col("x"), lit(1),
        Seq("m"), tot => Seq(tot + 1L), "tot")
    }
    assert(messages(exT).exists(_.contains("outside [1,")))
    // SF-scaled group key trips the cap
    val exCard = intercept[Throwable] {
      GlobalOrder.groupedOrderStats(
        fx, Seq("c_custkey"), col("x"), lit(1),
        Seq("m"), _ => Seq(1L), "tot", maxGroups = 16)
    }
    assert(messages(exCard).exists(_.contains("maxGroups=16")))
  }

  test("grouped scan offsets: at most P + G - 1 (partition, group) entries") {
    // range partitioning on (group, order...) keeps each group in one
    // contiguous run of partitions, so the driver collects O(P + G)
    // partials, not P × G
    val li = Tables.lineitem(spark, sf)
    val doubled = AmplifiedBench.replicate(li, 2,
      Map("l_orderkey" -> AmplifiedBench.keyStep(li, "l_orderkey")))
    val ord = Seq(col("l_extendedprice"), col("l_orderkey"),
      col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
    withConf(spreadPartitions: _*) {
      Seq(col("l_returnflag"), pmod(col("l_partkey"), lit(40))).foreach { key =>
        val in = doubled.withColumn("g", key)
        val scanned = GlobalOrder.groupedCumSum(
          in, Seq("g"), ord, col("l_quantity").cast(LongType), "cum")
        val p = scanned.rdd.getNumPartitions
        val g = in.select(col("g")).distinct().count()
        val entries = scanned.select(spark_partition_id(), col("g")).distinct().count()
        assert(p == 16 && g > 1)
        assert(entries <= p + g - 1, s"$entries entries for P = $p, G = $g")
      }
    }
  }

  test("ntileFromRowNumber equals SQL ntile for every frame size and k") {
    // The formula (first n mod k tiles take n/k + 1 rows) must agree
    // with the engine's ntile on EVERY (n, k), including the n < k edge
    // where only the first n tiles are used — exhaustively pinned on a
    // driver-side reference and spot-checked against Spark's window
    // ntile on a real frame below.
    def ref(rn: Long, n: Long, k: Int): Long = {
      val q = n / k; val r = n % k; val cut = r * (q + 1)
      if (rn <= cut) (rn - 1) / (q + 1) + 1 else r + (rn - cut - 1) / q + 1
    }
    for (n <- Seq(1, 2, 3, 4, 5, 7, 12, 97); k <- Seq(2, 3, 4, 7)) {
      val df = spark.range(1, n + 1).select(col("id").as("rn"))
      val got = df
        .select(col("rn"),
          GlobalOrder.ntileFromRowNumber(col("rn"), lit(n.toLong), k).as("t"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = df
        .select(col("rn"),
          ntile(k).over(Window.partitionBy(lit(0)).orderBy(col("rn")))
            .cast(LongType).as("t"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"n=$n k=$k")
      assert((1L to n.toLong).forall(rn => got(rn) == ref(rn, n, k)),
        s"ref mismatch n=$n k=$k")
    }
  }

  test("groupedRankFamily equals Window rank/dense_rank/row_number, boundary-straddling runs included") {
    // Adversarial frame: few tie values with LONG runs over several
    // groups, so the range partitioner must split tie runs across
    // partition boundaries (only group ++ tie ++ tiebreak is total) -
    // the stitch logic (dense merge, carried run-head) is exactly what
    // a plain Window computes trivially on one partition.
    val n = 5000
    val df = spark.range(n).select(
      (col("id") % 3).cast("string").as("g"),
      // 4 tie values per group, long runs, interleaved insert order
      expr("(id div 3) % 4").as("tie"),
      col("id").as("tb"))
    val got = GlobalOrder.groupedRankFamily(
        df, Seq("g"), Seq(col("tie")), Seq(col("tb")),
        "rn", "rk", "dr")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)) ->
        (r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val w = Window.partitionBy(col("g")).orderBy(col("tie"))
    val wt = Window.partitionBy(col("g")).orderBy(col("tie"), col("tb"))
    val want = df.select(col("g"), col("tie"), col("tb"),
        row_number().over(wt).cast(LongType).as("rn"),
        rank().over(w).cast(LongType).as("rk"),
        dense_rank().over(w).cast(LongType).as("dr"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)) ->
        (r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(got.size == n && got == want)
    // and a null tie value ranks like any other value
    val df2 = spark.createDataFrame(Seq(
      ("a", Option(1L), 1L), ("a", Option(1L), 2L), ("a", None, 3L),
      ("a", None, 4L), ("a", Option(2L), 5L), ("b", None, 6L)))
      .toDF("g", "tie", "tb")
    val got2 = GlobalOrder.groupedRankFamily(
        df2, Seq("g"), Seq(col("tie")), Seq(col("tb")), "rn", "rk", "dr")
      .collect().map(r => (r.getString(0), r.getLong(5)) -> r.getLong(3)).toSet
    val want2 = df2.select(col("g"),
        row_number().over(Window.partitionBy(col("g"))
          .orderBy(col("tie"), col("tb"))).cast(LongType).as("rn"),
        dense_rank().over(Window.partitionBy(col("g")).orderBy(col("tie")))
          .cast(LongType).as("dr"))
      .collect().map(r => (r.getString(0), r.getLong(2)) -> r.getLong(1)).toSet
    assert(got2 == want2)
  }
}
