package graft

import graft.functions.{Murmur3x64_128, XxHash32Expr}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property-based tests (SURVEY §5: improvement over the reference's
  * near-absent property coverage) for the engine's algebraic contracts.
  * Uses ScalaCheck generators with a fixed seed (only scalacheck core is
  * on the classpath, no scalatestplus bridge).
  */
class PropertySpec extends AnyFunSuite {

  /** Sample `n` values from the generator and check each. */
  private def forAll[A](gen: Gen[A], n: Int = 100)(f: A => Unit): Unit = {
    var seed = Seed(42L)
    var i = 0
    var checked = 0
    while (i < n * 5 && checked < n) {
      gen.apply(Gen.Parameters.default, seed).foreach { a => f(a); checked += 1 }
      seed = seed.next
      i += 1
    }
    assert(checked > n / 2, s"generator too sparse: $checked/$n")
  }

  test("fixed-point dsum contract: scaling then summing is order-free") {
    forAll(Gen.listOfN(50, Gen.chooseNum(-1e6, 1e6))) { (xs: List[Double]) =>
      val scaled = xs.map(x => math.floor(x * 1e4).toLong)
      assert(scaled.sum == scala.util.Random.shuffle(scaled).sum)
      val asDouble = scaled.sum.toDouble / 1e4
      assert(math.abs(asDouble - xs.sum) <= xs.length * 1e-4 + 1e-9)
    }
  }

  test("xxhash32: deterministic, seed-sensitive, avalanche-ish") {
    forAll(Gen.alphaNumStr) { (s: String) =>
      val b = s.getBytes("UTF-8")
      assert(XxHash32Expr.hash(b, 0) == XxHash32Expr.hash(b, 0))
      if (s.nonEmpty) {
        assert(XxHash32Expr.hash(b, 0) != XxHash32Expr.hash(b, 1) ||
          XxHash32Expr.hash(b, 0) != XxHash32Expr.hash(b, 2))
      }
    }
  }

  test("murmur3_128 halves are independent-ish and deterministic") {
    forAll(Gen.zip(Gen.alphaStr, Gen.alphaStr)) { case (a: String, b: String) =>
      val ha = Murmur3x64_128.hash(a.getBytes("UTF-8"), 0)
      assert(ha == Murmur3x64_128.hash(a.getBytes("UTF-8"), 0))
      if (a != b) {
        val hb = Murmur3x64_128.hash(b.getBytes("UTF-8"), 0)
        assert(ha != hb)
      }
    }
  }

  test("porter measure is bounded by word length / 2 + 1") {
    forAll(Gen.alphaLowerStr.suchThat(_.length < 50)) { (w: String) =>
      if (w.nonEmpty) {
        val m = graft.functions.PorterMeasure.measure(
          org.apache.spark.unsafe.types.UTF8String.fromString(w))
        assert(m >= 0 && m <= w.length / 2 + 1)
      }
    }
  }

  test("wordpiece re-joins to the original word when vocab has all chars") {
    val gen = Gen.nonEmptyListOf(Gen.oneOf('a', 'b', 'c')).map(_.mkString)
    forAll(gen) { (w: String) =>
      val vocab = Set("a", "b", "c", "##a", "##b", "##c")
      val pieces = graft.functions.Wordpiece.tokenizeWord(w, vocab)
      assert(pieces.map(_.stripPrefix("##")).mkString == w)
    }
  }

  test("rsplit concatenation round-trips") {
    val gen = for {
      parts <- Gen.nonEmptyListOf(Gen.alphaNumStr)
      n <- Gen.chooseNum(-1, 5)
    } yield (parts.mkString(","), n)
    forAll(gen) { case (s: String, n: Int) =>
      val spark = TestSpark.spark
      val out = spark.range(1)
        .select(graft.functions.GraftFunctions.rsplit(lit(s), lit(","), n).as("r"))
        .head().getAs[scala.collection.Seq[String]]("r")
      assert(out.mkString(",") == s)
      if (n >= 0) assert(out.length <= n + 1)
    }
  }

  test("avro and feather IO round-trip arbitrary typed rows") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("s", StringType, nullable = true),
      StructField("d", DoubleType, nullable = true),
      StructField("xs", ArrayType(LongType, containsNull = false), nullable = true)))
    val rowGen = for {
      id <- Gen.chooseNum(Long.MinValue + 1, Long.MaxValue)
      s <- Gen.option(Gen.asciiPrintableStr.map(_.take(40)))
      d <- Gen.option(Gen.oneOf(
        Gen.chooseNum(-1e12, 1e12),
        Gen.const(Double.MaxValue), Gen.const(Double.MinPositiveValue),
        Gen.const(0.0), Gen.const(-0.0)).flatMap(identity(_))) // mix extremes
      xs <- Gen.option(Gen.listOfN(3, Gen.chooseNum(-1000L, 1000L)))
    } yield Row(id, s.orNull, d.map(Double.box).orNull, xs.orNull)
    val spark = TestSpark.spark
    // batch of generated rows per property sample keeps the Spark-job
    // count bounded (one write+read per engine per batch, not per row)
    forAll(Gen.listOfN(25, rowGen), n = 4) { (rows: List[Row]) =>
      // distinct ids: the set-compare below must not collapse duplicates
      val uniq = rows.zipWithIndex.map { case (r, i) =>
        Row(i.toLong, r.get(1), r.get(2), r.get(3))
      }
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(uniq, 2), schema)
      def canon(rs: Array[Row]) = rs.map(r =>
        (r.getLong(0), Option(r.getString(1)), Option(r.get(2)),
          Option(r.get(3)).map(_.asInstanceOf[scala.collection.Seq[Long]].toList))).toSet
      val base = canon(df.collect())
      val avroDir = java.nio.file.Files
        .createTempDirectory("graft-prop-avro").toString + "/o"
      graft.sources.Avro.writeAvro(df, avroDir)
      assert(canon(graft.sources.Avro.readAvro(spark, avroDir).collect()) == base)
      val fPath = java.nio.file.Files
        .createTempDirectory("graft-prop-feather").toString + "/o.feather"
      org.apache.spark.sql.graftbridge.Feather.writeFeather(df, fPath)
      assert(canon(org.apache.spark.sql.graftbridge.Feather
        .readFeather(spark, fPath).collect()) == base)
    }
  }

  test("grouped OLS recovers a noiseless integer linear relation exactly") {
    val spark = TestSpark.spark
    import spark.implicits._
    // y_cents = 250*x + 1700 in group a; y = -40*x + 90000 in group b —
    // slope/intercept must come back as EXACT micro-units and MAE = 0,
    // including the negative-slope group (div/'//' truncation parity).
    val rows = (1L to 200L).flatMap { x =>
      Seq(("a", x, 250 * x + 1700), ("b", x, -40 * x + 90000))
    }
    val df = rows.toDF("g", "x", "yc")
    val got = queries.Aggregates.olsFitOver(df, "g").collect()
      .map(r => r.getString(0) ->
        (r.getAs[Long]("slope_micro"), r.getAs[Long]("intercept_micro"),
          r.getAs[Long]("mae_micro"))).toMap
    assert(got("a") == ((250000000L, 1700000000L, 0L)))
    assert(got("b") == ((-40000000L, 90000000000L, 0L)))
  }

  test("linear interpolation fills gaps exactly, truncation parity on falls") {
    val spark = TestSpark.spark
    import spark.implicits._
    // user 1: rising 100 -> 400 with days 11,12 missing (exact thirds);
    // user 2: falling 10 -> 3 over a 3-day gap (negative slope, inexact
    // division -> truncation toward zero must match the oracle contract);
    // user 3: single day (no gap rows at all).
    val daily = Seq(
      (1L, 10L, 100L), (1L, 13L, 400L),
      (2L, 20L, 10L), (2L, 23L, 3L),
      (3L, 30L, 7L)
    ).toDF("user_id", "day", "v")
    val got = queries.Extras.interpolateDaily(daily).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getAs[Long]("v_cents"), r.getAs[Boolean]("interpolated"))).toMap
    assert(got((1L, 10L)) == ((100L, false)))
    assert(got((1L, 11L)) == ((200L, true)))
    assert(got((1L, 12L)) == ((300L, true)))
    assert(got((1L, 13L)) == ((400L, false)))
    // fall of -7 over 3 days: 10 + (-7*1) div 3 = 10 + (-2) = 8;
    // 10 + (-7*2) div 3 = 10 + (-4) = 6 (trunc toward zero, NOT floor)
    assert(got((2L, 21L)) == ((8L, true)))
    assert(got((2L, 22L)) == ((6L, true)))
    assert(got((3L, 30L)) == ((7L, false)))
    assert(got.size == 9)
  }
}
