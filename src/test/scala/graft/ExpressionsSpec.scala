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
      // the ANN codec kernels, over a non-foldable vector from a range
      // scan so that the projection is generated code
      val e = array(col("id").cast("double"), lit(-0.5), lit(0.25), lit(1.0))
      val words = IndexedSeq(IndexedSeq(0.0, 0.0), IndexedSeq(-0.5, 0.25))
      val mn = IndexedSeq(-1.0, -1.0, 0.0, 1.0)
      val mx = IndexedSeq(1.0, 1.0, 1.0, 1.0)
      val k = spark.range(1).select(
          graft.functions.PqEncode.pqEncode(e, words, 1).as("pq"),
          graft.functions.Sq8Encode.sq8Encode(e, mn, mx).as("sq"),
          graft.functions.Sq8Decode.sq8Decode(
            graft.functions.Sq8Encode.sq8Encode(e, mn, mx), mn, mx).as("xhat"),
          graft.functions.BinaryPack.binaryPack(e, IndexedSeq(0.0, 0.0), 2).as("bp"),
          graft.functions.DotRows.dotRows(e, words).as("dots"))
        .head()
      assert(k.getInt(0) == 1)
      assert(k.getSeq[Byte](1) == Seq[Byte](0, -64, -64, -128))
      assert(k.getSeq[Double](2).length == 4)
      assert(k.getLong(3) == 3L)
      assert(k.getSeq[Double](4) == Seq(0.0, -0.125))
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

  // ------------------------------------------------- ANN codec kernels
  // Each kernel must give, bit for bit, the value of the composed
  // higher-order chain it replaced (restated here verbatim), on random
  // vectors and on the edge cases the chain's semantics decide: tied
  // distances, -0.0 against 0.0, NaN, a constant SQ8 dimension, null
  // elements and arrays shorter or longer than the literal side.

  private val vecSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("e",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType, containsNull = true))))

  /** Vectors (a null entry is a null element) as an RDD-backed frame,
    * so the projection is code-generated rather than folded into a
    * local relation.
    */
  private def vectors(vs: Seq[Seq[java.lang.Double]]): org.apache.spark.sql.DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(vs.map(v => org.apache.spark.sql.Row(v)), 2), vecSchema)

  private def boxed(v: Seq[Double]): Seq[java.lang.Double] = v.map(Double.box)

  private def bits(v: Any): Any = v match {
    case null => null
    case d: Double => ("d", java.lang.Double.doubleToRawLongBits(d))
    case xs: scala.collection.Seq[_] => xs.map(bits).toList
    case other => other
  }

  /** `kernel` and `chain` agree on every row of `df`, bit for bit, both
    * code-generated and interpreted.
    */
  private def assertSameBits(df: org.apache.spark.sql.DataFrame,
      kernel: org.apache.spark.sql.Column, chain: org.apache.spark.sql.Column): Unit =
    Seq(Seq.empty[(String, String)],
      Seq("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")).foreach { conf =>
      val rows = withConf(conf: _*) {
        df.select(col("e"), kernel.as("k"), chain.as("c")).collect()
      }
      assert(rows.nonEmpty)
      rows.foreach { r =>
        assert(bits(r.get(1)) == bits(r.get(2)),
          s"${conf.toMap}: e=${r.get(0)} kernel=${r.get(1)} chain=${r.get(2)}")
      }
    }

  private def lits(v: Seq[Double]): org.apache.spark.sql.Column = array(v.map(lit): _*)

  private def chainL2(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), (acc, v) => acc + v)

  test("pq_encode is bit-identical to the composed argmin over l2 folds") {
    import graft.functions.PqEncode.pqEncode
    val rnd = new scala.util.Random(11)
    val dsub = 4
    // far random words, plus a ±1 pair, a signed-zero pair and a duplicate
    val cb: IndexedSeq[IndexedSeq[Double]] = (0 until 16).map {
      case 2 => IndexedSeq(-1.0, 0.0, 0.0, 0.0)
      case 5 => IndexedSeq(1.0, 0.0, 0.0, 0.0)
      case 11 => IndexedSeq(0.0, -0.0, 0.0, 0.0)
      case 12 => IndexedSeq(-0.0, 0.0, -0.0, 0.0)
      case _ => IndexedSeq.fill(dsub)(2.0 + rnd.nextDouble())
    }.toIndexedSeq
    val cbTied = cb.updated(9, cb(4))
    val random = (1 to 96).map(_ => Seq.fill(8)(rnd.nextDouble() * 6 - 2))
    val edge = Seq(
      Seq(0.0, 0.0, 0.0, 0.0, 0.5, 0.0, 0.0, 0.0),     // 0 at 11 and 12; 0.25 at 5 and 11
      Seq(-0.0, -0.0, -0.0, -0.0, -0.5, 0.0, 0.0, 0.0),
      cbTied(4) ++ cbTied(9),                          // duplicate words: first wins
      Seq(Double.NaN, 0.0, 0.0, 0.0, 3.0, 3.0, 3.0, 3.0))
    val df = vectors((random ++ edge).map(boxed) ++ Seq(
      Seq[java.lang.Double](0.0, null, 0.0, 0.0, 1.0, 0.0, 0.0, 0.0), // null element
      boxed(Seq(1.0, 0.0, 0.0, 0.0, 1.0, 0.0)),                     // short
      boxed(Seq(1.0, 0.0, 0.0)),
      null))
    for (book <- Seq(cb, cbTied); offset <- Seq(0, dsub)) {
      val sub = slice(col("e"), offset + 1, dsub)
      val d = array(book.map(w => chainL2(sub, lits(w))): _*)
      assertSameBits(df, pqEncode(col("e"), book, offset),
        (array_position(d, array_min(d)) - 1).cast("int"))
    }
    // the tie cases pick the first index
    val codes = df.select(pqEncode(col("e"), cbTied, 0)).collect().map(r =>
      if (r.isNullAt(0)) -1 else r.getInt(0))
    assert(codes.slice(96, 99).toSeq == Seq(11, 11, 4))
  }

  private def chainSq8(mn: Seq[Double], mx: Seq[Double]) = {
    val mnArr = lits(mn)
    val scArr = array(mn.indices.map(j => lit(mx(j) - mn(j))): _*)
    zip_with(col("e"), sequence(lit(0), lit(mn.size - 1)), (x, j) => {
      val m = element_at(mnArr, j.cast("int") + 1)
      val sc = element_at(scArr, j.cast("int") + 1)
      when(sc === 0d, lit(-128))
        .otherwise(floor((x - m) / sc * 255d + 0.5d) - 128L)
        .cast("tinyint")
    })
  }

  // dims 2 and 5 are constant (sc = 0)
  private val sqMn = Seq(-1.0, 0.25, 0.5, -3.0, 0.0, -0.0)
  private val sqMx = Seq(1.0, 0.75, 0.5, 4.0, 1e-3, -0.0)

  test("sq8_encode is bit-identical to the composed zip_with quantizer") {
    import graft.functions.Sq8Encode.sq8Encode
    val rnd = new scala.util.Random(13)
    def inside(j: Int) = sqMn(j) + rnd.nextDouble() * (sqMx(j) - sqMn(j))
    val random = (1 to 96).map(_ => sqMn.indices.map(inside))
    val df = vectors((random :+ sqMn :+ sqMx :+ Seq(0.0, 0.5, 0.5, -0.0, 5e-4, 0.0))
      .map(boxed) ++ Seq(
        Seq[java.lang.Double](0.0, 0.5, null, 0.0, 0.0, 0.0), // null in a constant dim
        Seq[java.lang.Double](null, 0.5, 0.5, 0.0, 0.0, 0.0),
        boxed(Seq(0.0, 0.5, 0.5, 0.0)),                     // short: dim 4 null, dim 5 -128
        boxed(Seq(0.0, 0.5, 0.5, 0.0, 0.0, 0.0, 7.0, 8.0)), // long: extra elements null
        null))
    assertSameBits(df, sq8Encode(col("e"), sqMn.toIndexedSeq, sqMx.toIndexedSeq),
      chainSq8(sqMn, sqMx))
    val codes = df.select(sq8Encode(col("e"), sqMn.toIndexedSeq, sqMx.toIndexedSeq))
      .collect().map(_.getSeq[java.lang.Byte](0))
    assert(codes.take(96).forall(c => c(2) == -128 && c(5) == -128), "constant dims encode as -128")
    assert(codes(96).map(_.toInt) == Seq(-128, -128, -128, -128, -128, -128))
    assert(codes(97).map(_.toInt) == Seq(127, 127, -128, 127, 127, -128))
  }

  test("sq8_decode is bit-identical to the composed zip_with dequantizer") {
    import graft.functions.Sq8Decode.sq8Decode
    val rnd = new scala.util.Random(17)
    val byteSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("e",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.ByteType, containsNull = true))))
    def row(v: Seq[java.lang.Byte]) = org.apache.spark.sql.Row(v)
    val random = (1 to 96).map(_ =>
      Seq.fill(sqMn.size)(java.lang.Byte.valueOf((rnd.nextInt(256) - 128).toByte)))
    def b(xs: Int*): Seq[java.lang.Byte] = xs.map(x => java.lang.Byte.valueOf(x.toByte))
    val edge = Seq(b(-128, -128, -128, -128, -128, -128), b(127, 127, 127, 127, 127, 127),
      b(0, 1, -1, 0, 1, -1), b(0, 0, 5, 0, 0, 0).updated(1, null),
      b(1, 2, 3), b(1, 2, 3, 4, 5, 6, 7, 8), null)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize((random ++ edge).map(row), 2), byteSchema)
    val mnArr = lits(sqMn)
    val scArr = array(sqMn.indices.map(j => lit(sqMx(j) - sqMn(j))): _*)
    val chain = zip_with(col("e"), sequence(lit(0), lit(sqMn.size - 1)),
      (c, j) => element_at(mnArr, j.cast("int") + 1) +
        (c.cast("double") + 128d) / 255d * element_at(scArr, j.cast("int") + 1))
    assertSameBits(df, sq8Decode(col("e"), sqMn.toIndexedSeq, sqMx.toIndexedSeq), chain)
  }

  test("binary_pack is bit-identical to the composed sign-bit fold, both halves") {
    import graft.functions.BinaryPack.binaryPack
    val rnd = new scala.util.Random(19)
    val thr = IndexedSeq(0.0, -0.0, 0.5, -0.25, 0.1, 0.0, -0.0, 0.3)
    val half = thr.size / 2
    val random = (1 to 96).map(_ => Seq.fill(thr.size)(rnd.nextDouble() * 2 - 1))
    val edge = Seq(
      Seq(-0.0, 0.0, 0.5, -0.25, 0.1, -0.0, 0.0, 0.3),  // equal to every threshold: all 0
      Seq(1e-300, 1e-300, 0.6, 0.0, 0.2, 1e-300, 1e-300, 0.4), // just above: all 1
      Seq(Double.NaN, 0.0, Double.NaN, 0.0, 0.0, Double.NaN, 0.0, Double.NaN),
      Seq(1.0, 1.0, 1.0, 1.0, 1.0),                     // short: hi half partly missing
      Seq(1.0, 1.0))                                    // short: hi slice empty
    val df = vectors((random ++ edge).map(boxed) ++ Seq(
      Seq[java.lang.Double](1.0, null, 1.0, 1.0, null, 1.0, 1.0, 1.0), null))
    for (offset <- Seq(0, half)) {
      val chain = aggregate(
        zip_with(slice(col("e"), offset + 1, half), lits(thr.slice(offset, offset + half)),
          (x, t) => when(x > t, 1L).otherwise(0L)),
        lit(0L), (acc, b) => acc * 2L + b)
      assertSameBits(df, binaryPack(col("e"), thr.slice(offset, offset + half), offset), chain)
    }
    val packed = df.select(binaryPack(col("e"), thr.take(half), 0),
      binaryPack(col("e"), thr.drop(half), half)).collect().take(99)
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(packed(96) == ((0L, 0L)) && packed(97) == ((15L, 15L)))
    assert(packed(98) == ((11L, 5L)), "NaN packs as 1 (NaN sorts greatest)")
  }

  test("dot_rows is bit-identical to the composed transform of dotf64") {
    import graft.functions.DotF64.dotf64
    import graft.functions.DotRows.dotRows
    val rnd = new scala.util.Random(23)
    val rows = operators.Similarity.unitRows(
      (1 to 6).map(_ => Seq.fill(8)(rnd.nextGaussian())) :+ Seq.fill(8)(0.0))
    val random = (1 to 96).map(_ => Seq.fill(8)(rnd.nextGaussian()))
    val df = vectors((random :+ Seq.fill(8)(-0.0) :+ Seq(1.0, -1.0, 2.0)).map(boxed) ++
      Seq(Seq[java.lang.Double](1.0, null, 2.0, 0.0, 0.0, 0.0, 0.0, 3.0), null))
    assertSameBits(df, dotRows(col("e"), rows),
      transform(array(rows.map(lits): _*), r => dotf64(col("e"), r)))
    val nulls = df.filter(col("e").isNull).select(dotRows(col("e"), rows)).head()
    assert(!nulls.isNullAt(0) && nulls.getSeq[java.lang.Double](0).forall(_ == null),
      "a null vector gives a non-null array of nulls")
  }
}
