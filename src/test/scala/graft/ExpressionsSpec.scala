package graft

import graft.functions.{GraftFunctions, XxHash32Expr}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Golden tests for custom Catalyst expressions (reference per-operator
  * style: `cpp/tests/strings/`, `cpp/tests/text/`).
  */
class ExpressionsSpec extends AnyFunSuite {
  import TestSpark._
  import GraftFunctions._

  private def one[T](c: org.apache.spark.sql.Column): T =
    spark.range(1).select(c.as("v")).head().getAs[T]("v")

  test("swapcase golden") {
    assert(one[String](swapcase(lit("Hello World 123"))) == "hELLO wORLD 123")
    assert(one[String](swapcase(lit(""))) == "")
    assert(one[String](swapcase(lit("ABC def"))) == "abc DEF")
  }

  test("is_title golden") {
    assert(one[Boolean](is_title(lit("Hello World"))))
    assert(!one[Boolean](is_title(lit("Hello world"))))
    assert(!one[Boolean](is_title(lit("hello World"))))
    assert(!one[Boolean](is_title(lit("HELLO"))))
    assert(!one[Boolean](is_title(lit("123"))))
    // digits break the alpha run: 'b' starts a new run lowercase (matches
    // Python str.istitle)
    assert(!one[Boolean](is_title(lit("A1b Ok"))))
    assert(one[Boolean](is_title(lit("A1B Ok"))))
  }

  test("xxhash32 matches the XXH32 reference vectors") {
    // canonical vectors from the xxHash spec (github.com/Cyan4973/xxHash)
    assert(XxHash32Expr.hash(Array.emptyByteArray, 0) == 0x02cc5d05)
    assert(XxHash32Expr.hash("a".getBytes("UTF-8"), 0) == 0x550d7456)
    assert(XxHash32Expr.hash("abc".getBytes("UTF-8"), 0) == 0x32d153ff)
    assert(one[Int](xxhash32(lit("abc"))) == 0x32d153ff)
  }

  test("rsplit golden (python str.rsplit semantics)") {
    def rs(s: String, sep: String, n: Int): Seq[String] =
      one[scala.collection.Seq[String]](rsplit(lit(s), lit(sep), n)).toSeq
    assert(rs("a b c d", " ", 1) == Seq("a b c", "d"))
    assert(rs("a b c d", " ", 2) == Seq("a b", "c", "d"))
    assert(rs("a b c", " ", -1) == Seq("a", "b", "c"))
    assert(rs("abc", " ", 1) == Seq("abc"))
    assert(rs("x--y--z", "--", 1) == Seq("x--y", "z"))
  }

  test("porter measure golden (m of CV pattern)") {
    // examples from the Porter stemmer paper: tr=0, ee=0, tree=0, by=0,
    // trouble=1, oats=1, trees=1, ivy=1, troubles=2, private=2
    val cases = Map(
      "tr" -> 0, "ee" -> 0, "tree" -> 0, "by" -> 0,
      "trouble" -> 1, "oats" -> 1, "trees" -> 1, "ivy" -> 1,
      "troubles" -> 2, "private" -> 2, "oaten" -> 2)
    cases.foreach { case (w, m) =>
      assert(one[Int](porter_measure(lit(w))) == m, s"word=$w")
    }
  }

  test("murmur3_x64_128 matches independent-implementation vectors") {
    // cross-checked against a separate Python implementation of the
    // public MurmurHash3 spec (also matches the known mmh3 'hello'
    // vector cbd8a7b341bd9b02/5b1e906a48ae1d19)
    import graft.functions.Murmur3x64_128
    assert(Murmur3x64_128.hash(Array.emptyByteArray, 0) == (0L, 0L))
    assert(Murmur3x64_128.hash("hello".getBytes("UTF-8"), 0) ==
      (0xcbd8a7b341bd9b02L, 0x5b1e906a48ae1d19L))
    assert(Murmur3x64_128.hash("cudf".getBytes("UTF-8"), 0) ==
      (6391769515072433929L, 6698223493866126805L))
    assert(Murmur3x64_128.hash(
      "The quick brown fox jumps over the lazy dog".getBytes("UTF-8"), 0) ==
      (-2068352364225029268L, 8809951995912426311L))
    assert(Murmur3x64_128.hash("a" * 16 getBytes "UTF-8", 0) ==
      (-954455200256842034L, 7707615007234734402L))
    val viaCol = one[scala.collection.Seq[Long]](murmur3_128(lit("cudf"))).toSeq
    assert(viaCol == Seq(6391769515072433929L, 6698223493866126805L))
  }

  test("wrap golden (strings/wrap.hpp greedy word-wrap)") {
    assert(one[String](wrap_text(lit("the quick brown fox"), 10)) ==
      "the quick\nbrown fox")
    assert(one[String](wrap_text(lit("a bb ccc"), 4)) == "a bb\nccc")
    assert(one[String](wrap_text(lit("superlongword ok"), 5)) ==
      "superlongword\nok")
    assert(one[String](wrap_text(lit("short"), 10)) == "short")
  }

  test("normalize_chars strips accents (nvtext normalize.hpp:216)") {
    assert(one[String](normalize_chars(lit("héllo Wörld"))) == "hello world")
    assert(one[String](normalize_chars(lit("Ça va déjà"), toLower = false)) ==
      "Ca va deja")
    assert(one[String](normalize_chars(lit("naïve café"))) == "naive cafe")
    assert(one[String](normalize_chars(lit("plain"))) == "plain")
  }

  test("custom expressions run distributed over the part table") {
    val rows = SparkEntry.queries("custom_string_exprs")(spark, sf).collect()
    assert(rows.length > 0)
    rows.foreach { r =>
      val swapped = r.getAs[String]("swapped")
      assert(swapped == swapped.toUpperCase || r.getAs[Boolean]("title_after_initcap"))
    }
  }

  test("sql registration exposes the functions") {
    GraftFunctions.register(spark)
    val r = spark.sql("SELECT swapcase('aB') AS s, xxhash32('abc') AS h, " +
      "is_title('Ok Then') AS t, porter_measure('trouble') AS m").head()
    assert(r.getAs[String]("s") == "Ab")
    assert(r.getAs[Int]("h") == 0x32d153ff)
    assert(r.getAs[Boolean]("t"))
    assert(r.getAs[Int]("m") == 1)
  }

  test("sql hashes honor an explicit seed argument") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT xxhash32('abc', 7) AS h7, xxhash32('abc') AS h0, " +
        "murmur3_128('cudf', 42) AS m42, murmur3_128('cudf') AS m0").head()
    assert(r.getAs[Int]("h7") == one[Int](xxhash32(lit("abc"), 7)))
    assert(r.getAs[Int]("h7") != r.getAs[Int]("h0"))
    assert(r.getAs[scala.collection.Seq[Long]]("m42").toSeq ==
      one[scala.collection.Seq[Long]](murmur3_128(lit("cudf"), 42L)).toSeq)
    assert(r.getAs[scala.collection.Seq[Long]]("m42").toSeq !=
      r.getAs[scala.collection.Seq[Long]]("m0").toSeq)
  }

  test("rsplit with empty separator returns the whole string (no hang)") {
    assert(one[scala.collection.Seq[String]](
      rsplit(lit("abc"), lit(""))).toSeq == Seq("abc"))
    assert(one[scala.collection.Seq[String]](
      rsplit(lit(""), lit(""), 2)).toSeq == Seq(""))
  }

  test("all custom expressions compile under CODEGEN_ONLY (no fallback)") {
    // CODEGEN_ONLY turns any doGenCode bug into a hard failure instead of
    // Spark's silent interpreted fallback — guards the static-forwarder
    // collision class of bug (companion helper must not be named `eval`).
    val conf = spark.conf
    val prevFactory = conf.getOption("spark.sql.codegen.factoryMode")
    val prevFallback = conf.getOption("spark.sql.codegen.fallback")
    conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    conf.set("spark.sql.codegen.fallback", "false")
    try {
      val row = spark
        .createDataFrame(Seq(("Hello World", "a-b-c")))
        .toDF("s", "p")
        .select(
          swapcase(col("s")).as("sw"),
          is_title(col("s")).as("ti"),
          xxhash32(col("s"), 7).as("xx"),
          murmur3_128(col("s"), 42L).as("mm"),
          rsplit(col("p"), lit("-"), 1).as("rs"),
          porter_measure(col("s")).as("pm"),
          wrap_text(col("s"), 5).as("wr"),
          normalize_chars(col("s")).as("nc"),
          graft.functions.MinHash64.minhash64(
            org.apache.spark.sql.functions.split(col("s"), " "), 4).as("mh"),
          graft.functions.PolyHash31.polyhash31(
            org.apache.spark.sql.functions.split(col("s"), " ")).as("ph"))
        .head()
      assert(row.getAs[String]("sw") == "hELLO wORLD")
      assert(row.getAs[scala.collection.Seq[String]]("rs").toSeq == Seq("a-b", "c"))
      assert(row.getAs[scala.collection.Seq[Long]]("mh").length == 4)
      assert(row.getAs[scala.collection.Seq[Long]]("mm").length == 2)
      assert(row.getAs[org.apache.spark.sql.Row]("ph")
        .getAs[scala.collection.Seq[Long]]("pp").length == 2)
    } finally {
      prevFactory.fold(conf.unset("spark.sql.codegen.factoryMode"))(v =>
        conf.set("spark.sql.codegen.factoryMode", v))
      prevFallback.fold(conf.unset("spark.sql.codegen.fallback"))(v =>
        conf.set("spark.sql.codegen.fallback", v))
    }
  }

  test("polyhash31 native pass equals the oracle-proven HOF fold") {
    // The HOF formulation is what the DuckDB oracles replicate; the
    // native expression must produce identical (pp, ww) pairs on every
    // NON-EMPTY string (shingles are concat_ws products, never empty —
    // on "" the HOF's sequence(1, 0) degenerates to [1, 0]). Includes
    // multi-byte code points: ascii(substring(g, i, 1)) is the i-th
    // code point, which the native loop must step by Character.charCount.
    val df = spark
      .createDataFrame(Seq(
        (1L, Seq("abc", "x", "tok1_tok2_tok3")),
        (2L, Seq("héllo", "日本語", "aß€")),
        (3L, Seq.empty[String])))
      .toDF("id", "tk")
    val native = df
      .select(col("id"), graft.functions.PolyHash31.polyhash31(col("tk")).as("ph"))
      .select(col("id"), col("ph.pp").as("pp"), col("ph.ww").as("ww"))
    val hof = df.select(
      col("id"),
      expr(
        """transform(tk, g -> aggregate(
          |  transform(sequence(1, length(g)), i -> ascii(substring(g, i, 1))),
          |  CAST(0 AS BIGINT), (h, c) -> (h * 31 + c) % 1000000007))""".stripMargin).as("pp"),
      expr(
        """transform(tk, g -> aggregate(sequence(1, length(g)),
          |  CAST(1 AS BIGINT), (w, i) -> (w * 31) % 1000000007))""".stripMargin).as("ww"))
    assert(native.exceptAll(hof).isEmpty && hof.exceptAll(native).isEmpty)
  }

  test("ewma aggregator matches hand-computed recurrence") {
    val e = agg.Ewma(0.5)
    val df = spark
      .createDataFrame(Seq((1L, 1L, 1.0), (1L, 2L, 2.0), (1L, 3L, 3.0)))
      .toDF("k", "o", "v")
    val got = df.groupBy(col("k")).agg(e(col("o"), col("v")).as("ewma")).head().getAs[Double]("ewma")
    // adjust=true: (3 + 2*0.5 + 1*0.25) / (1 + 0.5 + 0.25) = 4.25/1.75
    assert(math.abs(got - 4.25 / 1.75) < 1e-12)
  }

  test("ewma is order-insensitive on input (sorts by order key)") {
    val e = agg.Ewma(0.5)
    val df = spark
      .createDataFrame(Seq((1L, 3L, 3.0), (1L, 1L, 1.0), (1L, 2L, 2.0)))
      .repartition(3)
      .toDF("k", "o", "v")
    val got = df.groupBy(col("k")).agg(e(col("o"), col("v")).as("ewma")).head().getAs[Double]("ewma")
    assert(math.abs(got - 4.25 / 1.75) < 1e-12)
  }

  test("ewma aggregator fails loudly past the group-size guard") {
    val guarded = udaf(new agg.EwmaAgg(0.5, maxGroup = 4))
    val df = spark
      .createDataFrame((1L to 6L).map(i => (1L, i, i.toDouble)))
      .toDF("k", "o", "v")
      .coalesce(1)
    val ex = intercept[Throwable] {
      df.groupBy(col("k")).agg(guarded(col("o"), col("v"))).collect()
    }
    val messages = Iterator.iterate(ex)(_.getCause).takeWhile(_ != null)
      .flatMap(t => Option(t.getMessage)).mkString("\n")
    assert(messages.contains("smoothedPerRow"),
      s"expected the guard to point at Ewma.smoothedPerRow, got:\n$messages")
  }

  test("streaming per-row ewma: last row per group equals the buffered aggregator") {
    val base = Tables
      .events(spark, sf)
      .select(col("user_id"), col("event_id"),
        expr("unix_micros(ts)").as("us"), col("value"))
    val perRow = agg.Ewma.smoothedPerRow(base, "user_id", Seq("us", "event_id"), "value", 0.2)
    val lastPerUser = perRow
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"))
          .orderBy(col("us").desc, col("event_id").desc)))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("ewma"))
    val e = agg.Ewma(0.2)
    val agged = Tables
      .events(spark, sf)
      .groupBy(col("user_id"))
      .agg(e(unix_micros(col("ts")), col("value")).as("ewma_agg"))
    val joined = lastPerUser.join(agged, "user_id")
      .select(abs(col("ewma") - col("ewma_agg")).as("diff"))
      .agg(max(col("diff")))
      .head().getDouble(0)
    assert(joined < 1e-9, s"per-row stream diverged from aggregator by $joined")
  }

  test("streaming per-row ewma resets state across group boundaries") {
    val df = spark
      .createDataFrame(Seq((1L, 1L, 10.0), (1L, 2L, 20.0), (2L, 1L, 5.0)))
      .toDF("k", "o", "v")
      // one partition so both groups traverse the same scan state
      .coalesce(1)
    val out = agg.Ewma.smoothedPerRow(df, "k", Seq("o"), "v", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).sortBy(t => (t._1, t._2))
    // group 1: [10, (20+0.5*10)/(1.5)] ; group 2 restarts at 5.0
    assert(math.abs(out(0)._3 - 10.0) < 1e-12)
    assert(math.abs(out(1)._3 - 25.0 / 1.5) < 1e-12)
    assert(math.abs(out(2)._3 - 5.0) < 1e-12)
  }

  test("windowHash64 is byte-identical to the composed xxhash64 chain") {
    // The fused sliding-window hash replaced the interpreted
    // transform/slice/array_join/xxhash64 chain in the ExactSubstr
    // queries (r21); the substitution is only sound if every window
    // hash is EXACTLY the chain's value — same join bytes, same seed.
    import graft.functions.WindowHash64.windowHash64
    val texts = Seq(
      "a b c d e f g h i j",              // plain ascii
      "x x x x x x x x",                  // exactly W tokens, repeats
      "α β γ δ ε ζ η θ ι κ λ",            // multi-byte UTF-8
      "one  two", // double space -> empty token from split
      "t1 t2 t3 t4 t5 t6 t7 t8 t9 longertoken_here then more and more")
    for (w <- Seq(2, 3, 8); t <- texts) {
      val df = spark.createDataFrame(Seq(Tuple1(t))).toDF("text")
        .select(split(col("text"), " ").as("tk"))
        .filter(size(col("tk")) >= w)
      val fused = df.select(windowHash64(col("tk"), w).as("h"))
        .collect().map(_.getSeq[Long](0))
      val chain = df.select(expr(
        s"""transform(sequence(0, size(tk) - $w),
           |  i -> xxhash64(array_join(slice(tk, i + 1, $w), ' ')))""".stripMargin).as("h"))
        .collect().map(_.getSeq[Long](0))
      assert(fused.toSeq == chain.toSeq, s"w=$w text='$t'")
    }
    // short input: no windows, empty array (the callers filter first,
    // but the expression must not throw)
    val short = spark.createDataFrame(Seq(Tuple1("a b"))).toDF("text")
      .select(split(col("text"), " ").as("tk"))
      .select(windowHash64(col("tk"), 8).as("h"))
      .collect().map(_.getSeq[Long](0))
    assert(short.head.isEmpty)
  }

  test("l2sqf64 is bit-identical to the composed aggregate(zip_with) fold") {
    // The fused squared-L2 replaced the interpreted HOF chain in the PQ
    // recall certifications (r22); the substitution is only sound if
    // every distance double is EXACTLY the fold's value — same per-
    // element rounding sequence (subtract, multiply, add), ascending.
    import graft.functions.L2SqF64.l2sqf64
    val rnd = new scala.util.Random(7)
    val rows = (1 to 64).map { _ =>
      val n = 1 + rnd.nextInt(96)
      (Seq.fill(n)(rnd.nextDouble() * 2e3 - 1e3),
        Seq.fill(n)(rnd.nextDouble() * 2e3 - 1e3))
    } :+ ((Seq(0.1, -0.2, 1e-300), Seq(0.1, -0.2, 1e-300))) // exact zeros
    val df = spark.createDataFrame(rows).toDF("a", "b")
    val fused = df.select(l2sqf64(col("a"), col("b"))).collect().map(_.getDouble(0))
    val chain = df.select(
      aggregate(zip_with(col("a"), col("b"), (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, v) => acc + v)).collect().map(_.getDouble(0))
    fused.zip(chain).foreach { case (f, c) =>
      assert(java.lang.Double.doubleToRawLongBits(f) ==
        java.lang.Double.doubleToRawLongBits(c), s"$f != $c bitwise")
    }
  }
}
