package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Golden/property tests for the operators whose queries have no SQL
  * oracle (driver records rows-only): sketches, Spark-native hashes,
  * MinHash/SimHash/ANN. Mirrors the reference's per-operator test style
  * (`cpp/tests/<op>/`, `python/cudf/cudf/tests/`).
  */
class OperatorsSpec extends AnyFunSuite {
  import TestSpark._

  test("approx_count_distinct is within 10% of exact") {
    val rows = SparkEntry.queries("agg_approx_distinct")(spark, sf).collect()
    val exact = queries.Aggregates
      .queries("agg_count_distinct")
      .fn(spark, sf)
      .collect()
      .map(r => r.getString(0) -> r.getAs[Long]("nunique_part"))
      .toMap
    rows.foreach { r =>
      val flag = r.getString(0)
      val approx = r.getAs[Long]("approx_parts").toDouble
      val ex = exact(flag).toDouble
      assert(math.abs(approx - ex) / ex < 0.10, s"flag=$flag approx=$approx exact=$ex")
    }
  }

  test("percentile_approx is within 5% of the exact percentile") {
    val approx = SparkEntry.queries("agg_percentile_approx")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val exact = Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_extendedprice, 0.5D)").as("m"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    exact.foreach { case (k, ex) =>
      assert(math.abs(approx(k) - ex) / ex < 0.05, s"$k: ${approx(k)} vs $ex")
    }
  }

  test("spark-native hashes are deterministic and distinct per input") {
    val a = SparkEntry.queries("hash_spark_native")(spark, sf).collect()
    val b = SparkEntry.queries("hash_spark_native")(spark, sf).collect()
    assert(a.map(_.toSeq).sameElements(b.map(_.toSeq)))
    val xxh = a.map(_.getAs[Long]("xxh64"))
    assert(xxh.distinct.length > xxh.length / 2)
  }

  test("shingles of short documents (<3 tokens) are empty, not an error") {
    // regression: sequence(1, 0) defaults step to -1 → [1, 0] → ANSI
    // INVALID_ARRAY_INDEX_IN_ELEMENT_AT on any short doc
    val df = spark
      .createDataFrame(Seq((1L, ""), (2L, "one"), (3L, "one two"),
        (4L, "one two three"), (5L, "a b c d")))
      .toDF("doc_id", "text")
      .transform(operators.Dedup.withShingles(_))
      .select(col("doc_id"), col("tk").as("sh"))
    val got = df.collect().map(r =>
      r.getLong(0) -> r.getAs[scala.collection.Seq[String]]("sh").toSeq).toMap
    assert(got(1L) == Nil && got(2L) == Nil && got(3L) == Nil)
    assert(got(4L) == Seq("one_two_three"))
    assert(got(5L) == Seq("a_b_c", "b_c_d"))
  }

  test("minhash signatures are a pure function of the text") {
    // same text through two plan shapes (direct vs re-shuffled) must yield
    // byte-identical signatures — no plan-dependent nondeterminism
    val direct = SparkEntry.queries("dedup_minhash_sig")(spark, sf)
    val reshuffled = Tables
      .documents(spark, sf)
      .repartition(7, col("source"))
      .transform(operators.Dedup.withShingles(_))
      .select(col("doc_id"),
        graft.ArrCanon.joined(graft.functions.MinHash64.minhash64(col("tk"), 16)).as("minhash2"))
    val diff = direct
      .join(reshuffled, "doc_id")
      .filter(col("minhash") =!= col("minhash2"))
      .count()
    assert(diff == 0)
  }

  test("minhash-LSH candidates have genuinely high exact shingle jaccard") {
    val cands = SparkEntry.queries("dedup_minhash_lsh")(spark, sf).collect()
    assert(cands.nonEmpty, "LSH should find near-dup candidates")
    val shingleMap = operators.Dedup
      .withShingles(Tables.documents(spark, sf))
      .select(col("doc_id"), col("tk").as("sh"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet)
      .toMap
    val exacts = cands.map { r =>
      val (a, b) = (shingleMap(r.getLong(0)), shingleMap(r.getLong(1)))
      a.intersect(b).size.toDouble / a.union(b).size
    }
    // every >=0.75-estimated pair should be a true near-dup
    assert(exacts.forall(_ >= 0.5), s"min exact jaccard = ${exacts.min}")
  }

  test("ann lsh buckets partition all vectors into <=256 buckets") {
    val rows = SparkEntry.queries("sim_ann_lsh_buckets")(spark, sf).collect()
    assert(rows.length <= 256)
    val total = rows.map(_.getAs[Long]("n_vectors")).sum
    assert(total == Tables.embeddings(spark, sf).count())
  }

  test("cosine top-k matches a driver-side brute force on sf0.001") {
    val got = SparkEntry
      .queries("sim_cosine_topk")(spark, sf)
      .collect()
      .map(_.getLong(0))
    val all = Tables.embeddings(spark, sf).collect().map { r =>
      r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray
    }
    val q = all.find(_._1 == 0L).get._2
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val expected = all
      .filter(_._1 != 0L)
      .map { case (id, v) => (id, cos(v, q)) }
      .sortBy { case (id, c) => (-c, id) }
      .take(10)
      .map(_._1)
    assert(got.sameElements(expected))
  }

  test("simhash of near-identical docs differs in few bits") {
    val sh = SparkEntry.queries("dedup_simhash")(spark, sf)
    val pairs = SparkEntry.queries("dedup_minhash_lsh")(spark, sf)
    val a = sh.select(col("doc_id").as("id_a"), col("simhash").as("sh_a"))
    val b = sh.select(col("doc_id").as("id_b"), col("simhash").as("sh_b"))
    val joined = pairs
      .join(a, "id_a")
      .join(b, "id_b")
      .select(bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .collect()
    assert(joined.nonEmpty)
    val avgHamming = joined.map(_.getAs[Int]("hamming").toDouble).sum / joined.length
    assert(avgHamming <= 16, s"avg hamming $avgHamming")
  }

  test("bucketed range join equals the naive inequality join at any bucket width") {
    val iv = Tables.orders(spark, sf)
      .filter(col("o_orderkey") % 51 === 0)
      .select(col("o_orderkey").as("iv_id"),
        datediff(col("o_orderdate"), lit("1992-01-01")).cast("long").as("s"),
        (datediff(col("o_orderdate"), lit("1992-01-01")) + 10).cast("long").as("e"))
    val probe = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_linenumber"),
        datediff(col("l_shipdate"), lit("1992-01-01")).cast("long").as("d"))
    val naive = probe.join(iv, col("d") >= col("s") && col("d") < col("e"))
    for (width <- Seq(3L, 10L, 100L)) {
      val bucketed = graft.operators.RangeJoin
        .joinRange(probe, iv, "d", "s", "e", width)
        .select(naive.columns.toIndexedSeq.map(col): _*)
      assert(bucketed.exceptAll(naive).isEmpty && naive.exceptAll(bucketed).isEmpty,
        s"width=$width diverged")
    }
  }

  test("as-of join: every matched value is the latest reference at or before the probe") {
    val ev = Tables.events(spark, sf)
    val ref = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts")).agg(max(col("value")).as("pv"))
    val out = graft.operators.AsOf.joinAsOf(
      ev.select(col("user_id"), col("event_id"), col("ts")), ref, "user_id", "ts", "pv")
    assert(out.count() == ev.count(), "as-of join must not change probe cardinality")
    assert(out.filter(col("asof_ts") > col("ts")).count() == 0,
      "matched reference must not be in the probe's future")
    // spot-check one matched row against a naive per-row lookup
    val row = out.filter(col("asof_pv").isNotNull).orderBy(col("event_id")).head()
    val uid = row.getLong(0); val ts = row.getTimestamp(2)
    val expected = ref.filter(col("user_id") === uid && col("ts") <= ts)
      .orderBy(col("ts").desc).select(col("pv")).head().getDouble(0)
    assert(row.getAs[Double]("asof_pv") == expected)
  }

  test("TopKAgg keeps the k smallest pairs in order with bounded state") {
    val agg = new graft.agg.TopKAgg(3)
    val rng = new scala.util.Random(7)
    val items = Seq.fill(500)((rng.nextLong().abs % 1000, rng.nextLong().abs))
    val buf = items.foldLeft(agg.zero)((b, x) => agg.reduce(b, x))
    assert(buf.length == 3, "buffer must stay bounded at k")
    val expected = items.sorted.take(3)
    assert(agg.finish(buf) == expected)
    // merge of two halves equals one pass
    val (l, r) = items.splitAt(250)
    val merged = agg.merge(
      l.foldLeft(agg.zero)((b, x) => agg.reduce(b, x)),
      r.foldLeft(agg.zero)((b, x) => agg.reduce(b, x)))
    assert(agg.finish(merged) == expected)
  }

  test("pack_sequences: greedy packing invariants hold") {
    val rows = SparkEntry
      .queries("pack_sequences")(spark, sf)
      .collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("pack_id"),
        r.getAs[Long]("pack_pos"), r.getAs[Long]("n_toks"),
        r.getAs[Long]("doc_id")))
    assert(rows.nonEmpty)
    rows.groupBy(t => (t._1, t._2)).foreach { case ((lang, pack), members) =>
      val sorted = members.sortBy(_._3)
      // positions are contiguous from 0
      assert(sorted.map(_._3).toSeq == (0L until members.length).toSeq,
        s"$lang pack $pack has gap positions")
      // no pack exceeds the budget unless it is a single oversized doc
      val total = members.map(_._4).sum
      assert(total <= 200L || members.length == 1,
        s"$lang pack $pack overflows with ${members.length} docs: $total")
    }
    // greedy: every pack break was necessary — pack p's first doc would
    // have overflowed pack p-1
    rows.groupBy(_._1).foreach { case (lang, ms) =>
      val byPack = ms.groupBy(_._2).toSeq.sortBy(_._1)
      byPack.sliding(2).foreach {
        case Seq((_, prev), (_, cur)) =>
          val prevTotal = prev.map(_._4).sum
          val firstNext = cur.minBy(_._3)._4
          assert(prevTotal + firstNext > 200L,
            s"$lang: unnecessary pack break (${prevTotal} + ${firstNext})")
        case _ =>
      }
    }
  }

  test("pagerank: one iteration on a hand-checked star matches exactly") {
    // customer 1 buys 3 items from supplier 1, 1 from supplier 2.
    // Nodes: c1=2, s1=3, s2=5. Symmetric weighted edges; out-weights
    // ow(2)=4, ow(3)=3, ow(5)=1. After one damped update from uniform
    // 1e6 micro-units:
    //   contrib(3) = floor(1e6*3/4) = 750000 -> r = 150000+637500
    //   contrib(5) = floor(1e6*1/4) = 250000 -> r = 150000+212500
    //   contrib(2) = 1e6 + 1e6 = 2000000   -> r = 150000+1700000
    val orders = spark.createDataFrame(Seq((100L, 1L)))
      .toDF("o_orderkey", "o_custkey")
    val lineitem = spark
      .createDataFrame(Seq((100L, 1L), (100L, 1L), (100L, 1L), (100L, 2L)))
      .toDF("l_orderkey", "l_suppkey")
    val r = queries.GraphOps.pagerank(orders, lineitem, iters = 1)
      .collect()
      .map(x => (x.getString(0), x.getLong(1)) -> x.getLong(2)).toMap
    assert(r(("customer", 1L)) == 1850000L)
    assert(r(("supplier", 1L)) == 787500L)
    assert(r(("supplier", 2L)) == 362500L)
  }

  test("validate_expectations: contract checks pass, ship-date check fails nonzero") {
    val r = SparkEntry.queries("validate_expectations")(spark, sf)
      .collect().map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    assert(r.size == 8)
    val total = r("quantity_range_1_50")._2
    Seq("quantity_range_1_50", "tax_range_0_0.08", "extendedprice_positive",
      "returnflag_domain", "orderkey_ref_integrity")
      .foreach(c => assert(r(c)._1 == 0L, s"$c should hold on the contract data"))
    // sf0.001 genuinely contains ONE duplicated full line key (orderkey
    // 1294, linenumber 4 appears twice) — the uniqueness check must
    // surface it, which is exactly what the suite exists to catch
    assert(r("line_key_unique")._1 == 1L)
    // the synthetic generator genuinely ships before ordering on ~half
    // the rows — the report must surface it, not vacuously pass
    assert(r("ship_after_order")._1 > 0L && r("ship_after_order")._1 < total)
    assert(r("discount_le_0.06")._1 > 0L, "business-rule check exercises nonzero")
  }

  test("drift_tvd: proportions mass to ~1e6 and TVD sits in [0, 1e6]") {
    val rows = SparkEntry.queries("drift_tvd")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val totals = rows.filter(_._2 == "TVD_TOTAL")
    assert(totals.map(_._1).toSet == Set("event_type", "value_decile"))
    totals.foreach { case (dim, _, pb, pc, tvd) =>
      // floor loss is < 1 micro-unit per bucket
      assert(pb > 999900L && pb <= 1000000L, s"$dim base mass $pb")
      assert(pc > 999900L && pc <= 1000000L, s"$dim cur mass $pc")
      assert(tvd >= 0L && tvd <= 1000000L, s"$dim tvd $tvd")
    }
    assert(rows.filterNot(_._2 == "TVD_TOTAL").forall(_._5 >= 0L))
  }

  test("pagerank: rank mass stays within the damped bounds at sf") {
    // every node's rank is >= the teleport floor 150000, and total mass
    // can't exceed the undamped initial mass (floors only lose mass)
    val rows = SparkEntry.queries("graph_pagerank")(spark, sf).collect()
    val n = rows.length.toLong
    assert(rows.forall(_.getLong(2) >= 150000L))
    val total = rows.map(_.getLong(2)).sum
    assert(total <= n * 1000000L,
      s"mass $total exceeds initial ${n * 1000000L}")
  }
}
