package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Z-order layout: Morton-code correctness (golden + n-dim agreement)
  * and the property the operator exists for — a z-clustered parquet
  * layout prunes files on EVERY clustered column, where a linear sort
  * prunes only its own.
  */
class ZOrderSpec extends AnyFunSuite {
  import TestSpark._

  test("zValue2 matches the interleave definition (goldens)") {
    // z(3, 5): a-bits at even positions, b-bits at odd -> 0b100111 = 39
    val df = spark.range(1).select(
      operators.ZOrder.zValue2(lit(3), lit(5)).as("z1"),
      operators.ZOrder.zValue2(lit(0), lit(0)).as("z0"),
      operators.ZOrder.zValue2(lit(0xFFFF), lit(0xFFFF)).as("zmax"),
      operators.ZOrder.zValue2(lit(0xFFFF), lit(0)).as("zeven"))
    val r = df.head()
    assert(r.getAs[Long]("z1") == 39L)
    assert(r.getAs[Long]("z0") == 0L)
    assert(r.getAs[Long]("zmax") == 0xFFFFFFFFL)
    assert(r.getAs[Long]("zeven") == 0x55555555L)
  }

  test("zValue2 agrees with the general zValueN bit-loop") {
    val pairs = spark.range(500).select(
      (col("id") * 2654435761L % 65536).as("a"),
      (col("id") * 48271 % 65536).as("b"))
    val mismatches = pairs
      .select(
        operators.ZOrder.zValue2(col("a"), col("b")).as("z2"),
        operators.ZOrder.zValueN(Seq(col("a"), col("b")), 16).as("zn"))
      .filter(col("z2") =!= col("zn"))
      .count()
    assert(mismatches == 0)
  }

  test("z-order is monotone in each coordinate quadrant (locality smoke)") {
    // points in the same 2^8-aligned tile share their z high bits: the
    // curve maps spatial tiles to contiguous code ranges
    val df = spark.range(1000).select(
      (col("id") * 7 % 65536).as("a"), (col("id") * 13 % 65536).as("b"))
    val bad = df.filter(
      shiftrightunsigned(operators.ZOrder.zValue2(col("a"), col("b")), 16)
        =!= operators.ZOrder.zValue2(
          shiftrightunsigned(col("a"), 8), shiftrightunsigned(col("b"), 8)))
      .count()
    assert(bad == 0)
  }

  private def filesOverlapping(dir: String, column: String, lo: Int, hi: Int): Long = {
    val perFile = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(min(col(column)).as("mn"), max(col(column)).as("mx"))
    perFile.filter(col("mx") >= lo && col("mn") <= hi).count()
  }

  test("clusterByZ prunes files on BOTH columns; linear sort on one only") {
    // 64x64 grid, 16 files: linear-by-x files each span the full y range,
    // z-clustered files cover ~16x16 tiles
    val grid = spark.range(64L * 64)
      .select((col("id") / 64).cast("long").as("x"), (col("id") % 64).as("y"))
    val base = Files.createTempDirectory("zorder").toString
    grid.repartitionByRange(16, col("x")).sortWithinPartitions("x")
      .write.mode("overwrite").parquet(s"$base/linear")
    operators.ZOrder.clusterByZ(grid, Seq("x", "y"), 16)
      .write.mode("overwrite").parquet(s"$base/zorder")

    // row parity: layout must not change content
    def sig(df: DataFrame) =
      df.agg(count(lit(1)), sum(col("x") * 64 + col("y"))).head().toSeq
    assert(sig(spark.read.parquet(s"$base/zorder")) == sig(grid))

    // a narrow y-slice: linear layout cannot prune (every file overlaps);
    // the z layout keeps only the files whose tiles meet the slice
    val linearY = filesOverlapping(s"$base/linear", "y", 10, 17)
    val zY = filesOverlapping(s"$base/zorder", "y", 10, 17)
    assert(linearY == 16, s"expected all 16 linear files to overlap, got $linearY")
    assert(zY <= 8, s"z layout should prune the y-slice to <=8 files, got $zY")

    // and x-pruning survives on the z layout (worse than linear's perfect
    // pruning, but still partial)
    val zX = filesOverlapping(s"$base/zorder", "x", 10, 17)
    assert(zX <= 8, s"z layout should prune the x-slice to <=8 files, got $zX")
  }

  test("clusterByZ with three columns (zValueN path) preserves content") {
    val li = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
    val z = operators.ZOrder.clusterByZ(
      li, Seq("l_partkey", "l_suppkey", "l_orderkey"), 8)
    assert(z.rdd.getNumPartitions == 8)
    def sig(df: DataFrame) = df
      .agg(count(lit(1)), sum("l_orderkey"), sum("l_partkey"), sum("l_suppkey"))
      .head().toSeq
    assert(sig(z) == sig(li))
  }

  test("clusterByZ n=4: the high bit of each code survives the interleave") {
    // with 4 dims only 15 bits/dim fit a long, so normalization must
    // bucket into 2^15 — bucketing to 16 bits and interleaving 15 would
    // drop bit 15, making a=0 and a=32768 interleave identically and
    // share files (the layout/pruning contract breaks for n >= 4)
    val vals = Seq(0L, 32768L, 65535L)
    val rows = for { v <- vals; _ <- 1 to 100 } yield (v, v, 0L, 0L)
    val df = spark.createDataFrame(rows).toDF("a", "b", "c", "d")
    val base = Files.createTempDirectory("zorder4").toString
    operators.ZOrder.clusterByZ(df, Seq("a", "b", "c", "d"), 3)
      .write.mode("overwrite").parquet(base)
    val bad = spark.read.parquet(base)
      .groupBy(input_file_name())
      .agg(min(col("a")).as("mn"), max(col("a")).as("mx"))
      .filter(col("mn") === 0 && col("mx") >= 32768)
      .count()
    assert(bad == 0, "a=0 and a=32768 share a file: code high bit was dropped")
  }

  test("clusterByZ on empty input is a no-op, not an NPE") {
    val empty = spark.range(0).select(col("id").as("a"), col("id").as("b"))
    assert(operators.ZOrder.clusterByZ(empty, Seq("a", "b"), 2).count() == 0)
  }

  test("clusterByZ on lineitem preserves content and tightens suppkey ranges") {
    val li = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("l_quantity"))
    val base = Files.createTempDirectory("zorder-li").toString
    li.repartitionByRange(8, col("l_partkey")).sortWithinPartitions("l_partkey")
      .write.mode("overwrite").parquet(s"$base/linear")
    operators.ZOrder.clusterByZ(li, Seq("l_partkey", "l_suppkey"), 8)
      .write.mode("overwrite").parquet(s"$base/zorder")

    def sig(df: DataFrame) = df.agg(
      count(lit(1)), sum("l_orderkey"), sum("l_partkey"), sum("l_suppkey"),
      sum(col("l_quantity") * 100 cast "long")).head().toSeq
    assert(sig(spark.read.parquet(s"$base/zorder")) == sig(li))

    // per-file suppkey spans: z layout must beat the linear-by-partkey
    // layout on the column it did NOT sort by
    def meanSpan(dir: String): Double = {
      val spans = spark.read.parquet(dir)
        .groupBy(input_file_name())
        .agg((max("l_suppkey") - min("l_suppkey")).as("span"))
        .agg(avg("span")).head().getDouble(0)
      spans
    }
    val (linSpan, zSpan) = (meanSpan(s"$base/linear"), meanSpan(s"$base/zorder"))
    assert(zSpan < linSpan,
      s"z-cluster suppkey span $zSpan should be tighter than linear $linSpan")
  }

  /** Parquet bloom-filter pruning (`scan_bloom_pruned`'s layout; SURVEY
    * §6 "verify" item): on a copy deliberately hostile to every OTHER
    * pruner — ids scattered so row-group [min,max] spans the domain,
    * dictionary encoding off (the honest high-cardinality regime) — a
    * point lookup over the bloom-filtered copy must read a fraction of
    * the rows the bit-identical bloom-less control reads, row groups
    * skipped by parquet-mr's bloom check under ordinary filter
    * pushdown. Scan-node `numOutputRows` counts rows the reader
    * materialized (post row-group skipping, pre residual filter) — the
    * same evidence metric Bench reports for the z-order scan.
    */
  test("parquet bloom filter prunes row groups where stats and dictionary cannot") {
    val dir = "/root/testdata/sf0.01" // 10k events -> several row groups
    val bloomPath = queries.Conversions.bloomedEventsPath(spark, dir, bloom = true)
    val plainPath = queries.Conversions.bloomedEventsPath(spark, dir, bloom = false)
    val probes = queries.Conversions.bloomProbeIds(spark, dir)
    def read(path: String, id: Long,
             opts: Map[String, String] = Map.empty): (Long, Seq[(Long, Long)]) = {
      val df = spark.read.options(opts).parquet(path)
        .filter(col("event_id") === id)
        .select(col("event_id"), col("user_id"))
      val out = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      (Harness.rowsScanned(df), out)
    }
    val total = spark.read.parquet(plainPath).count()
    var bloomRead = 0L; var plainRead = 0L; var bloomOffRead = 0L
    // Reader-flag necessity arm (r17 ADVICE): re-read the SAME bloom
    // copy with parquet's bloom filtering disabled at the reader. If
    // pruning were coming from any other mechanism (stats, dictionary,
    // page index) this arm would still prune; reading the full table
    // pins the bloom filter as the sole cause.
    val bloomOff = Map("parquet.filter.bloom.enabled" -> "false")
    probes.foreach { id =>
      val (br, bout) = read(bloomPath, id)
      val (pr, pout) = read(plainPath, id)
      val (offR, offOut) = read(bloomPath, id, bloomOff)
      assert(bout == pout && bout.nonEmpty, s"content mismatch for id $id")
      assert(offOut == pout, s"bloom-off content mismatch for id $id")
      bloomRead += br; plainRead += pr; bloomOffRead += offR
    }
    // the control reads EVERYTHING every probe: no pruner applies
    assert(plainRead == total * probes.size,
      s"control should be un-prunable: read $plainRead of ${total * probes.size}")
    // bloom copy, reader flag OFF: every other pruner still can't help,
    // so the full table comes back — bloom is the causal pruner
    assert(bloomOffRead == total * probes.size,
      s"bloom-off arm should read everything: $bloomOffRead of ${total * probes.size}")
    // the bloom copy skips most row groups per point probe; 5x is a
    // deliberately slack floor under the measured ~17x (r17 ADVICE
    // tightened it from 2x so a regression to ~2x pruning fails)
    assert(bloomRead * 5 < plainRead,
      s"bloom pruned too little: $bloomRead vs control $plainRead")
  }
}
