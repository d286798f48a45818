package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariants of the product-analytics / statistics family that the
  * oracle gate's value-equality can't express: conservation laws
  * (probability mass, containment), ordering laws (WAU ≥ DAU), and
  * exact recovery on synthetic inputs.
  */
class AnalyticsSpec extends AnyFunSuite {
  import TestSpark._

  test("path transitions: per-source probabilities conserve mass") {
    val rows = SparkEntry.queries("path_transitions")(spark, sf).collect()
    assert(rows.nonEmpty)
    val bySrc = rows.groupBy(_.getString(0))
    bySrc.foreach { case (src, rs) =>
      val mass = rs.map(_.getAs[Long]("p_ppm")).sum
      // floor-division loses < 1 ppm per destination
      assert(mass <= 1000000L && mass > 1000000L - rs.length,
        s"source $src mass $mass")
    }
  }

  test("cohort retention: offset 0 is the cohort itself, cells within size") {
    val rows = SparkEntry.queries("cohort_retention")(spark, sf).collect()
    rows.foreach { r =>
      val (off, n, size, ppm) = (r.getAs[Long]("offset"),
        r.getAs[Long]("n_users"), r.getAs[Long]("cohort_size"),
        r.getAs[Long]("retention_ppm"))
      assert(n <= size)
      if (off == 0L) assert(n == size && ppm == 1000000L)
    }
  }

  test("DAU/WAU: every day's trailing weekly actives >= daily actives") {
    val rows = SparkEntry.queries("win_sliding_distinct")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("wau") >= r.getAs[Long]("dau"))
      assert(r.getAs[Long]("stickiness_ppm") <= 1000000L)
    }
  }

  test("TWAP stays inside each day's value range") {
    val ev = Tables.events(spark, sf)
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        floor(col("value") * 100).cast("long").as("vc"))
      .groupBy(col("user_id"), col("day"))
      .agg(min(col("vc")).as("lo"), max(col("vc")).as("hi"))
    val twap = SparkEntry.queries("twap_daily")(spark, sf)
    val bad = twap.join(ev, Seq("user_id", "day"))
      .filter(col("twap_cents") < col("lo") - 1 ||
        col("twap_cents") > col("hi"))
      .count()
    assert(bad == 0L, s"$bad TWAP rows escaped their day's [min,max]")
  }

  test("as-of tolerance: matches are a subset of the unbounded as-of") {
    val tol = SparkEntry.queries("join_asof_tolerance")(spark, sf)
      .filter(col("asof_pv").isNotNull)
      .select(col("event_id"), col("ts_us"), col("asof_ts_us"))
      .collect()
    assert(tol.nonEmpty)
    tol.foreach { r =>
      val gap = r.getLong(1) - r.getLong(2)
      assert(gap >= 0 && gap <= 3600L * 1000000L, s"gap $gap out of bound")
    }
    val plain = SparkEntry.queries("join_asof")(spark, sf)
      .filter(col("asof_pv").isNotNull).count()
    assert(tol.length <= plain)
  }

  test("k-anonymity report is internally consistent") {
    val r = SparkEntry.queries("privacy_k_anon")(spark, sf).head()
    assert(r.getAs[Long]("n_risky_combos") <= r.getAs[Long]("n_combos"))
    // every risky combo has 1..4 members
    val risky = r.getAs[Long]("n_risky_combos")
    val users = r.getAs[Long]("n_risky_users")
    assert(users >= risky && users <= 4 * risky)
    assert(r.getAs[Long]("risk_ppm") <= 1000000L)
  }

  test("skew/kurt are exactly zero-ish on a symmetric synthetic block") {
    val spark2 = TestSpark.spark
    import spark2.implicits._
    // symmetric {1..9} uniform => skew 0, excess kurtosis of the
    // discrete uniform on 9 points: 3*(3n^2-7)/(5(n^2-1)) - 3 with
    // n=9 -> -(6/5)*(n^2+1)/(n^2-1) = -1.23
    val df = (1 to 9).flatMap(v => Seq(("U", v.toLong))).toDF("g", "x")
    df.createOrReplaceTempView("sym_block")
    val got = df.groupBy(col("g"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s1"),
        sum(col("x") * col("x")).as("s2"),
        sum(col("x") * col("x") * col("x")).as("s3"),
        sum(col("x") * col("x") * col("x") * col("x")).as("s4"))
      .selectExpr("g", "CAST(s1 AS DOUBLE)/n AS m", "CAST(s2 AS DOUBLE)/n AS r2",
        "CAST(s3 AS DOUBLE)/n AS r3", "CAST(s4 AS DOUBLE)/n AS r4")
      .selectExpr("r2 - m*m AS m2", "r3 - 3*m*r2 + 2*m*m*m AS m3",
        "r4 - 4*m*r3 + 6*m*m*r2 - 3*m*m*m*m AS m4")
      .selectExpr("m3 / (sqrt(m2)*m2) AS skew", "m4/(m2*m2) - 3 AS kurt")
      .head()
    assert(math.abs(got.getDouble(0)) < 1e-12)
    assert(math.abs(got.getDouble(1) - (-1.23)) < 1e-9)
  }

  test("profile report: distinct and null counts match direct queries") {
    val rows = SparkEntry.queries("profile_columns")(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    val ev = Tables.events(spark, sf)
    assert(rows("user_id").getAs[Long]("n_distinct") ==
      ev.select(col("user_id")).distinct().count())
    assert(rows("event_type").getAs[Long]("n_null") ==
      ev.filter(col("event_type").isNull).count())
    assert(rows.values.map(_.getAs[Long]("n")).toSet.size == 1)
  }

  test("SCD2 history: dense versions, contiguous intervals, one current row") {
    val rows = SparkEntry.queries("scd2_history")(spark, sf).collect()
    assert(rows.nonEmpty)
    val byKey = rows.groupBy(_.getAs[Long]("o_custkey"))
    byKey.foreach { case (k, rs) =>
      val sorted = rs.sortBy(_.getAs[Int]("version"))
      // versions dense from 1, exactly one open (is_current) row
      assert(sorted.map(_.getAs[Int]("version")).toSeq ==
        (1 to rs.length), s"cust $k versions not dense")
      assert(rs.count(_.getAs[Int]("is_current") == 1) == 1)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          // contiguity: each version closes exactly where the next opens
          assert(a.getAs[java.sql.Date]("valid_to") ==
            b.getAs[java.sql.Date]("valid_from"), s"cust $k gap")
          // change-point compression: adjacent runs differ in attribute
          assert(a.getAs[String]("attr") != b.getAs[String]("attr"))
        case _ => ()
      }
      assert(sorted.last.getAs[java.sql.Date]("valid_to").toString ==
        "9999-12-31")
    }
  }

  test("rolling z-score: evaluated-row count matches per-user full windows") {
    val rows = SparkEntry.queries("ts_anomaly_zscore")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, a, ppm) = (r.getAs[Long]("n_eval"),
        r.getAs[Long]("n_anomalies"), r.getAs[Long]("anomaly_ppm"))
      assert(a <= n && ppm == a * 1000000L / n)
    }
    // Σ n_eval over types == Σ_users max(0, events_u − 6): rows with a
    // full 7-row trailing window, independently recomputed
    val expected = Tables.events(spark, sf)
      .groupBy(col("user_id")).agg(count(lit(1)).as("c"))
      .select(sum(greatest(col("c") - 6, lit(0L))).as("t"))
      .head().getAs[Long]("t")
    assert(rows.map(_.getAs[Long]("n_eval")).sum == expected)
  }

  test("triangles: degree-oriented count equals unoriented brute recount") {
    val r = SparkEntry.queries("graph_triangles")(spark, sf).head()
    val (wedges, tri, ppm) = (r.getAs[Long]("n_wedges"),
      r.getAs[Long]("n_triangles"), r.getAs[Long]("clustering_ppm"))
    assert(3 * tri <= wedges && ppm == 3 * tri * 1000000L / wedges)
    // independent recount on the UNORIENTED a<b edge canonicalization
    // (different join shape from the compact-forward plan under test)
    val li = Tables.lineitem(spark, sf).select(col("l_orderkey"), col("l_partkey"))
    val ok = Tables.orders(spark, sf)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
      .select(col("o_orderkey"))
    val e = li.as("l1")
      .join(li.as("l2"), col("l1.l_orderkey") === col("l2.l_orderkey") &&
        col("l1.l_partkey") < col("l2.l_partkey"))
      .join(ok, col("l1.l_orderkey") === col("o_orderkey"))
      .select(col("l1.l_partkey").as("a"), col("l2.l_partkey").as("b"))
      .distinct()
    val brute = e.as("e1")
      .join(e.as("e2"), col("e1.b") === col("e2.a"))
      .join(e.as("e3"), col("e1.a") === col("e3.a") &&
        col("e2.b") === col("e3.b"))
      .count()
    assert(tri == brute, s"oriented $tri vs brute $brute")
  }

  test("OHLC bars: low <= open/close <= high, counts conserve, singletons degenerate") {
    val rows = SparkEntry.queries("resample_ohlc")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (o, h, l, c, n) = (r.getAs[Long]("open_cents"),
        r.getAs[Long]("high_cents"), r.getAs[Long]("low_cents"),
        r.getAs[Long]("close_cents"), r.getAs[Long]("n"))
      assert(l <= o && o <= h && l <= c && c <= h)
      if (n == 1L) assert(o == h && h == l && l == c)
    }
    assert(rows.map(_.getAs[Long]("n")).sum ==
      Tables.events(spark, sf).count())
  }

  test("point-in-time join: totals conserve and agree with the as-of operator") {
    val got = SparkEntry.queries("join_point_in_time")(spark, sf).collect()
      .map(r => Option(r.getString(0)) ->
        (r.getAs[Long]("n_events"), r.getAs[Long]("n_users"))).toMap
    assert(got.values.map(_._1).sum == Tables.events(spark, sf).count())
    // independent recompute through the AS-OF operator (window-union
    // machinery — a different algorithm than the interval join): the
    // attribute valid AT an event's date is the last change <= date
    val ref = SparkEntry.queries("scd2_history")(spark, sf)
      .select(col("o_custkey").as("key"), col("valid_from").as("d"),
        col("attr"))
    val probe = Tables.events(spark, sf)
      .select(col("user_id").as("key"), col("ts").cast("date").as("d"))
    val viaAsof = operators.AsOf.joinAsOf(probe, ref, "key", "d", "attr")
      .groupBy(col("asof_attr"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("key")).as("n_users"))
      .collect()
      .map(r => Option(r.getString(0)) ->
        (r.getAs[Long]("n_events"), r.getAs[Long]("n_users"))).toMap
    assert(got == viaAsof, s"interval join $got vs as-of $viaAsof")
  }

  test("attribution: purchase totals conserve, channels match a join recompute") {
    val got = SparkEntry.queries("attribution_last_touch")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("n_purchases")).toMap
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    assert(got.values.sum == ev.filter(col("event_type") === "purchase").count())
    assert(got.keySet.subsetOf(Set("view", "click", "signup", "(none)")))
    // independent recompute: per purchase, the max-(ts, event_id) touch
    // strictly before it, via an explicit join (different algorithm
    // from the running-last window)
    val touches = ev.filter(col("event_type").isin("view", "click", "signup"))
      .select(col("user_id").as("tu"), col("ts").as("tts"),
        col("event_id").as("tid"), col("event_type").as("channel"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), col("ts"), col("event_id"))
      .orderBy(col("tts").desc, col("tid").desc)
    val exp = purchases
      .join(touches, col("user_id") === col("tu") &&
        (col("tts") < col("ts") ||
          (col("tts") === col("ts") && col("tid") < col("event_id"))),
        "left")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy(coalesce(col("channel"), lit("(none)")).as("channel"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == exp, s"window $got vs join recompute $exp")
  }

  test("link prediction: pairs are non-edges with true neighbor counts") {
    val got = SparkEntry.queries("graph_link_predict")(spark, sf).collect()
    assert(got.nonEmpty && got.length <= 20)
    // counts are non-increasing in rank order by construction; verify
    // the top pair's count by intersecting neighbor sets directly
    val li = Tables.lineitem(spark, sf).select(col("l_orderkey"), col("l_partkey"))
    val e0 = li.as("l1")
      .join(li.as("l2"), col("l1.l_orderkey") === col("l2.l_orderkey") &&
        col("l1.l_partkey") < col("l2.l_partkey"))
      .join(Tables.orders(spark, sf)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
        .select(col("o_orderkey")),
        col("l1.l_orderkey") === col("o_orderkey"))
      .select(col("l1.l_partkey").as("a"), col("l2.l_partkey").as("b"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val nbrs = (e0.toSeq ++ e0.toSeq.map(p => (p._2, p._1)))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    val top = got.head
    val (u, v, cn) = (top.getAs[Long]("u"), top.getAs[Long]("v"),
      top.getAs[Long]("common_neighbors"))
    assert(!e0((u, v)), "predicted link already exists")
    assert(nbrs(u).intersect(nbrs(v)).size.toLong == cn,
      s"top pair ($u,$v) count $cn != direct intersection")
    got.foreach(r => assert(!e0((r.getAs[Long]("u"), r.getAs[Long]("v")))))
  }

  test("link prediction: a hub's wedge candidates stay at the capped bound") {
    import spark.implicits._
    val cap = queries.GraphOps.wedgeCap.toLong
    // a 6-clique: each of its 6 centers has 5 neighbors, C(5, 2) = 10
    // candidates each; the hub's leaves have degree 1 and add none
    val clique = (for (i <- 1L to 6L; j <- (i + 1) to 6L)
      yield (i + 1000000L, j + 1000000L)).toDF("a", "b")
    Seq(1, 2).foreach { f =>
      val d = 600L * f // under the cap at 1x, past it at 2x
      val hub = spark.range(1, d + 1).select(lit(0L).as("a"), col("id").as("b"))
      val m = math.min(d, cap)
      val got = queries.GraphOps.cappedWedgeCandidates(hub.unionByName(clique)).count()
      assert(got == m * (m - 1) / 2 + 60, s"hub degree $d")
    }
  }

  test("label propagation: members conserve nodes, labels are node ids") {
    val rows = SparkEntry.queries("graph_label_prop")(spark, sf).collect()
    assert(rows.nonEmpty)
    val li = Tables.lineitem(spark, sf).select(col("l_orderkey"), col("l_partkey"))
    val nodes = li.as("l1")
      .join(li.as("l2"), col("l1.l_orderkey") === col("l2.l_orderkey") &&
        col("l1.l_partkey") =!= col("l2.l_partkey"))
      .join(Tables.orders(spark, sf)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
        .select(col("o_orderkey")),
        col("l1.l_orderkey") === col("o_orderkey"))
      .select(col("l1.l_partkey").as("v")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(rows.map(_.getAs[Long]("n_members")).sum == nodes.size.toLong)
    rows.foreach(r => assert(nodes(r.getAs[Long]("community"))))
  }

  test("fuzzy join: pairs are verified, ordered, and inside brute force") {
    val got = SparkEntry.queries("join_fuzzy_ngram")(spark, sf).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(r.getAs[String]("n1") < r.getAs[String]("n2"))
      assert(r.getAs[Int]("dist") <= 2)
    }
    // blocking can only SHRINK the exact all-pairs answer, and every
    // emitted pair must carry the true edit distance
    val names = Tables.part(spark, sf).select(col("p_name").as("n"))
      .distinct().as("a")
    val exact = names
      .join(names.select(col("n").as("m")), col("n") < col("m"))
      .select(col("n"), col("m"), levenshtein(col("n"), col("m")).as("d"))
      .filter(col("d") <= 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    val gotSet = got.map(r => (r.getAs[String]("n1"),
      r.getAs[String]("n2"), r.getAs[Int]("dist"))).toSet
    assert(gotSet.subsetOf(exact),
      s"${(gotSet -- exact).take(3)} not in brute force")
  }

  test("weighted median satisfies its defining inequality per group") {
    val got = SparkEntry.queries("agg_weighted_median")(spark, sf).collect()
      .map(r => r.getAs[String]("l_returnflag") ->
        (r.getAs[Long]("total_weight"), r.getAs[Double]("wmedian_price")))
      .toMap
    assert(got.nonEmpty)
    val data = Tables.lineitem(spark, sf)
      .select(col("l_returnflag"), col("l_extendedprice"),
        col("l_quantity").cast("long").as("w"))
      .collect()
      .groupBy(_.getString(0))
    got.foreach { case (rf, (tot, med)) =>
      val rows = data(rf).map(r => (r.getDouble(1), r.getLong(2)))
      assert(rows.map(_._2).sum == tot, s"group $rf total weight")
      val below = rows.filter(_._1 < med).map(_._2).sum
      val atOrBelow = rows.filter(_._1 <= med).map(_._2).sum
      // lower weighted median: mass strictly below < half, mass through
      // the median's value >= half
      assert(below * 2 < tot, s"group $rf: too much mass below $med")
      assert(atOrBelow * 2 >= tot, s"group $rf: $med too low")
      assert(rows.exists(_._1 == med), s"group $rf: $med not an element")
    }
  }

  test("weighted median: cold groups are invariant under a hot replicated group") {
    // copy 1 of lineitem lands entirely in group N, so A and R keep
    // exactly their copy-0 rows while N spreads over more range partitions
    val li = Tables.lineitem(spark, sf)
      .select(col("l_returnflag"), col("l_extendedprice"), col("l_orderkey"),
        col("l_quantity"))
    val step = AmplifiedBench.keyStep(li, "l_orderkey")
    val hot = AmplifiedBench.replicate(li, 2, Map("l_orderkey" -> step))
      .withColumn("l_returnflag",
        when(col("l_orderkey") >= step, lit("N")).otherwise(col("l_returnflag")))
    def medians(d: org.apache.spark.sql.DataFrame) =
      queries.Aggregates.weightedMedianOver(d).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val (base, got) = withConf(spreadPartitions: _*)((medians(li), medians(hot)))
    assert(base.size == 3 && base.contains("N"))
    assert(got - "N" == base - "N")
    assert(got("N")._1 == base("N")._1 + base.values.map(_._1).sum)
  }

  test("weighted median is tie-order-invariant (price-only scan order)") {
    // r21 dropped the 4-column unique tiebreaker from the prefix-scan
    // order: the crossing row's PRICE is the same under any ordering of
    // equal prices. Pin that on a constructed tie-heavy frame where the
    // half-weight crossing lands INSIDE a run of equal prices, and on
    // one where it lands exactly at a run boundary.
    val rows = Seq(
      // group A: prices 1.0(w1), 5.0(w2), 5.0(w2), 5.0(w2), 9.0(w1)
      // tot=8, crossing at cum 4 -> inside the 5.0 run
      ("A", 1.0, 1L), ("A", 5.0, 2L), ("A", 5.0, 2L), ("A", 5.0, 2L),
      ("A", 9.0, 1L),
      // group B: 2.0(w2), 2.0(w2), 7.0(w4) tot=8, crossing at cum 4 ->
      // exactly at the 2.0/7.0 boundary (lower median = 2.0)
      ("B", 2.0, 2L), ("B", 2.0, 2L), ("B", 7.0, 4L))
    val df = spark.createDataFrame(rows)
      .toDF("l_returnflag", "l_extendedprice", "l_quantity")
    val got = queries.Aggregates.weightedMedianOver(df).collect()
      .map(r => r.getAs[String]("l_returnflag") ->
        (r.getAs[Long]("total_weight"), r.getAs[Double]("wmedian_price")))
      .toMap
    assert(got == Map("A" -> ((8L, 5.0)), "B" -> ((8L, 2.0))), got.toString)
  }

  // The two registry rows below have no oracle (the digest's centroids
  // and Spark's sampler RNG are not replayable in DuckDB), so their
  // contracts are pinned here.

  test("agg_tdigest_quantiles: rank error against exact quantiles within 0.02") {
    // the same rank measure and bound as the one-sided oracle row
    // agg_tdigest_vs_exact: the share of the group at or below the estimate
    val prices = Tables.lineitem(spark, sf)
      .select(col("l_returnflag"), col("l_extendedprice").cast("double"))
      .collect().groupBy(_.getString(0))
      .map { case (rf, rs) => rf -> rs.map(_.getDouble(1)) }
    val rows = SparkEntry.queries("agg_tdigest_quantiles")(spark, sf).collect()
    assert(rows.map(_.getString(0)).toSet == prices.keySet)
    for (r <- rows; (q, i) <- Seq(0.5, 0.9, 0.99).zipWithIndex) {
      val ps = prices(r.getString(0))
      val rank = ps.count(_ <= r.getDouble(i + 1)).toDouble / ps.length
      assert(math.abs(rank - q) <= 0.02,
        f"${r.getString(0)} q=$q: estimate ${r.getDouble(i + 1)} sits at rank $rank%.4f")
    }
  }

  test("sample_rows: about 10% of orders, and the same rows on every call") {
    val n = Tables.orders(spark, sf).count()
    val a = SparkEntry.queries("sample_rows")(spark, sf)
    val b = SparkEntry.queries("sample_rows")(spark, sf)
    // Bernoulli(0.1) count: within 4 standard deviations of n/10
    val k = a.count()
    val sd = math.sqrt(n * 0.1 * 0.9)
    assert(math.abs(k - n * 0.1) <= 4 * sd, s"$k of $n rows sampled")
    assert(k > 0)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "the seeded sample must return the same rows on every call")
  }
}
