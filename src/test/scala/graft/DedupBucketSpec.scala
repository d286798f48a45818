package graft

import graft.operators.{Banding, Dedup}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupBucketSpec extends AnyFunSuite {
  import TestSpark._

  test("connected-component keepers: chain and triangle resolve to min id") {
    val pairs = spark
      .createDataFrame(Seq(
        (10L, 20L), (20L, 30L), // chain 10-20-30
        (5L, 7L), (7L, 9L), (5L, 9L), // triangle
        (100L, 101L))) // simple pair
      .toDF("id_a", "id_b")
    val keepers = Dedup.resolveKeepers(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(keepers(10L) == 10L && keepers(20L) == 10L && keepers(30L) == 10L)
    assert(keepers(5L) == 5L && keepers(7L) == 5L && keepers(9L) == 5L)
    assert(keepers(100L) == 100L && keepers(101L) == 100L)
  }

  test("dedupCorpus keeps one doc per LSH cluster plus singletons") {
    val docs = Tables.documents(spark, sf)
    val pairs = SparkEntry.queries("dedup_minhash_lsh")(spark, sf)
      .select(col("id_a"), col("id_b"))
    val deduped = Dedup.dedupCorpus(docs, pairs)
    val n = docs.count()
    val d = deduped.count()
    assert(d < n, "near-dups should be removed")
    // every removed doc is in some candidate pair
    val removed = docs.select(col("doc_id"))
      .exceptAll(deduped.select(col("doc_id")))
    val inPairs = pairs.select(col("id_a").as("doc_id"))
      .union(pairs.select(col("id_b").as("doc_id"))).distinct()
    assert(removed.exceptAll(inPairs).isEmpty)
  }

  test("LSH dedup keepers are invariant on an identically replicated corpus") {
    // each copy-1 doc is an exact duplicate of its copy-0 original, so it
    // joins the original's component, whose min id is the copy-0 keeper
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val doubled = AmplifiedBench.replicate(docs, 2,
      Map("doc_id" -> AmplifiedBench.keyStep(docs, "doc_id")))
    def keepers(d: org.apache.spark.sql.DataFrame): Set[Long] = {
      val pairs = Dedup.lshCandidatePairs(d, maxBucket = 1000)
        .filter(col("est_jaccard") >= 0.75)
        .select(col("id_a"), col("id_b"))
      Dedup.dedupCorpus(d, pairs).select(col("doc_id")).collect()
        .map(_.getLong(0)).toSet
    }
    val base = keepers(docs)
    assert(base.nonEmpty)
    assert(keepers(doubled) == base)
  }

  test("resolveKeepers residue is bounded regardless of iteration count") {
    // a 200-node chain needs many propagation rounds; persisted-RDD
    // residue must stay a small constant, not grow per iteration
    // (round-1 leak: every iteration's cache + the localCheckpoint
    // blocks of dead iterations stayed pinned)
    val chain = spark
      .createDataFrame((0L until 199L).map(i => (i, i + 1)))
      .toDF("id_a", "id_b")
    val before = spark.sparkContext.getPersistentRDDs.size
    val keepers = Dedup.resolveKeepers(chain)
    keepers.count()
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after - before <= 2,
      s"persistent RDDs grew $before -> $after across 10 iterations")
  }

  test("resolveKeepers converges on a diameter-199 chain (pointer doubling)") {
    // one-hop propagation would need 199 rounds; pointer doubling must
    // finish inside the default 10 (2^10 ≥ 199) AND resolve every node
    // to the true component min — partial convergence was the silent
    // wrong answer the convergence guard now forbids
    val chain = spark
      .createDataFrame((0L until 199L).map(i => (i, i + 1)))
      .toDF("id_a", "id_b")
    val keepers = Dedup.resolveKeepers(chain).collect()
    assert(keepers.length == 200)
    assert(keepers.forall(_.getLong(1) == 0L),
      "every node of the chain must resolve to keeper 0")
  }

  test("resolveKeepers fails loudly when the iteration budget is too small") {
    val chain = spark
      .createDataFrame((0L until 199L).map(i => (i, i + 1)))
      .toDF("id_a", "id_b")
    val before = spark.sparkContext.getPersistentRDDs.size
    val ex = intercept[IllegalStateException] {
      Dedup.resolveKeepers(chain, maxIter = 2).collect()
    }
    assert(ex.getMessage.contains("did not converge"))
    assert(spark.sparkContext.getPersistentRDDs.size <= before,
      "failure path must release the blocks it pinned")
  }

  test("LSH hot-bucket cap bounds per-bucket pair counts") {
    // corpus with a degenerate template: 40 near-identical docs that all
    // land in one bucket, plus a genuine near-dup pair of a distinct text
    val template = (1 to 30).map(i => s"tok$i").mkString(" ")
    val distinct1 = (1 to 30).map(i => s"other$i").mkString(" ")
    val distinct2 = (2 to 30).map(i => s"other$i").mkString(" ") + " other31"
    val rows = (1L to 40L).map(i => (i, template)) ++
      Seq((100L, distinct1), (101L, distinct2))
    val docs = spark.createDataFrame(rows).toDF("doc_id", "text")

    val uncapped = Dedup.lshCandidatePairs(docs, maxBucket = Int.MaxValue)
    // 40 template docs → 40*39/2 = 780 quadratic pairs without the cap
    assert(uncapped.count() >= 780)

    val capped = Dedup.lshCandidatePairs(docs, maxBucket = 10)
    val cappedPairs = capped.collect().map(r => (r.getLong(0), r.getLong(1)))
    // the hot template bucket is dropped entirely...
    assert(!cappedPairs.exists { case (a, b) => a <= 40L && b <= 40L })
    // ...while the genuine near-dup pair in a small bucket survives
    assert(cappedPairs.contains((100L, 101L)))
  }

  test("banding core: a bucket of exactly maxBucket is kept, one more is dropped") {
    // one band: bucket 7 holds 3 ids, bucket 8 holds 4
    val sigs = spark
      .createDataFrame((1L to 3L).map(i => (i, 7L)) ++ (11L to 14L).map(i => (i, 8L)))
      .toDF("id", "g")
    def pairs(maxBucket: Int): Set[(Long, Long)] =
      Banding.candidatePairs(sigs, "id", Seq("g"), array(col("g")), maxBucket)
        .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val small = Set((1L, 2L), (1L, 3L), (2L, 3L))
    val large = for (a <- 11L to 14L; b <- a + 1 to 14L) yield (a, b)
    assert(pairs(3) == small)
    assert(pairs(4) == small ++ large)
    assert(pairs(2).isEmpty)
  }

  test("banding core: a pair sharing several bands comes out once, payloads by id") {
    // ids 2 and 5 share both bands; id 9 shares band 1 with them only
    val sigs = spark
      .createDataFrame(Seq((5L, 1L, 1L, "p5"), (2L, 1L, 1L, "p2"), (9L, 2L, 1L, "p9")))
      .toDF("id", "g", "h", "p")
    val rows = Banding.candidatePairs(sigs, "id", Seq("p"),
        array(col("g"), col("h")), maxBucket = 10)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[String]("p_a"), r.getAs[String]("p_b")))
    assert(rows.sortBy(r => (r._1, r._2)).toSeq ==
      Seq((2L, 5L, "p2", "p5"), (2L, 9L, "p2", "p9"), (5L, 9L, "p5", "p9")))
  }

  test("banding core: with no payload the pairs are the distinct id pairs") {
    val sigs = spark.createDataFrame(Seq((5L, 1L, 1L), (2L, 1L, 1L), (9L, 2L, 1L)))
      .toDF("id", "g", "h")
    val pairs = Banding.candidatePairs(sigs, "id", Nil, array(col("g"), col("h")), 10)
    // ids 2 and 5 share both bands and still come out once
    assert(pairs.collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).sorted.toSeq ==
      Seq((2L, 5L), (2L, 9L), (5L, 9L)))
  }

  test("banding core: the verify-first route sees both payloads and dedups after") {
    // ids 2 and 5 share both bands, so they reach the verifier twice
    val sigs = spark
      .createDataFrame(Seq((5L, 1L, 1L, "p5"), (2L, 1L, 1L, "p2"), (9L, 2L, 1L, "p9"),
        (7L, 3L, 3L, "p7")))
      .toDF("id", "g", "h", "p")
    var joinedRows = 0L
    val rows = Banding.verifiedPairs(sigs, "id", Seq("p"), array(col("g"), col("h")), 10) {
      joined =>
        joinedRows = joined.count()
        joined.select(col("id_a"), col("id_b"), concat(col("p_a"), col("p_b")).as("pp"))
    }.collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[String]("pp")))
    assert(joinedRows == 4)
    assert(rows.sortBy(r => (r._1, r._2)).toSeq ==
      Seq((2L, 5L, "p2p5"), (2L, 9L, "p2p9"), (5L, 9L, "p5p9")))
    // a bucket over the cap is dropped on this route too
    val capped = Banding.verifiedPairs(sigs, "id", Seq("p"), array(col("g"), col("h")), 2)(
      _.select(col("id_a"), col("id_b")))
    assert(capped.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == Set((2L, 5L)))
  }

  test("ngram-jaccard verify stage: hot-bucket cap bounds per-bucket pairs") {
    // same degenerate-template corpus as the LSH test: without the cap the
    // 40-doc template bucket yields 40*39/2 = 780 quadratic pairs
    val template = (1 to 30).map(i => s"tok$i").mkString(" ")
    val distinct1 = (1 to 30).map(i => s"other$i").mkString(" ")
    val distinct2 = (2 to 30).map(i => s"other$i").mkString(" ") + " other31"
    val rows = (1L to 40L).map(i => (i, template)) ++
      Seq((100L, distinct1), (101L, distinct2))
    val docs = spark.createDataFrame(rows).toDF("doc_id", "text")

    val uncapped = Dedup.ngramJaccardPairs(docs, maxBucket = Int.MaxValue)
    assert(uncapped.count() >= 780)

    val capped = Dedup.ngramJaccardPairs(docs, maxBucket = 10)
    val cappedPairs = capped.collect().map(r => (r.getLong(0), r.getLong(1)))
    // the hot template bucket is dropped entirely...
    assert(!cappedPairs.exists { case (a, b) => a <= 40L && b <= 40L })
    // ...while the genuine near-dup pair in a small bucket survives
    assert(cappedPairs.contains((100L, 101L)))
  }

  test("containment pairs surface the quoted-doc case jaccard underrates") {
    // short = tokens 5..24 of long: every short 3-gram is contained
    // (containment 1.0) while jaccard is only 18/38 ≈ 0.47
    val longDoc = (0 until 40).map(i => s"w$i").mkString(" ")
    val shortDoc = (5 until 25).map(i => s"w$i").mkString(" ")
    val noise = (0 until 30).map(i => s"z$i").mkString(" ")
    val docs = spark
      .createDataFrame(Seq((1L, longDoc), (2L, shortDoc), (3L, noise)))
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, maxBucket = 1000)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getDouble(2), r.getDouble(3)))).toMap
    assert(got.contains((1L, 2L)), s"pair not surfaced: $got")
    val (contLong, contShort) = got((1L, 2L))
    assert(contShort == 1.0, s"contained doc must score 1.0, got $contShort")
    assert(contLong < 0.5, s"container side stays low, got $contLong")
    // the same pair's jaccard is under 0.5 — the asymmetric metric is
    // what surfaces wholesale quotation
    val j = Dedup.ngramJaccardPairs(docs, maxBucket = 1000)
      .filter(col("id_a") === 1L && col("id_b") === 2L)
      .collect().map(_.getDouble(2))
    assert(j.forall(_ < 0.5), s"jaccard ${j.toSeq}")
  }

  test("the shingle, the seeded poly-min and the prehash CTE are written once, in Dedup") {
    // a restated copy drifts from its oracle twin and multiplies the
    // sites a native kernel has to replace
    SourceAudit.writtenOnce("operators/Dedup.scala",
      "word-3-gram shingle lambda" -> """concat_ws\("_", element_at\(""".r,
      "Spark seeded poly-min" -> """(?s)zip_with\([^%]{0,120}% 1000000007""".r,
      "DuckDB seeded poly-min" -> """(?s)list_min\(list_transform\([^%]{0,120}% 1000000007""".r,
      "31-fold prehash CTE" -> """prehashed AS \(""".r)
  }

  test("Scans.fanOut reads partitions from the plan: no job on the exact-dedup shape") {
    // pipeline_funnel's exact-dedup stage: documents semi-joined to
    // their md5 group minima, uncached, under AQE
    val docs = Tables.documents(spark, sf)
    val exact = docs.join(
      docs.groupBy(md5(col("text").cast("binary")).as("sig"))
        .agg(min(col("doc_id")).as("doc_id")).select(col("doc_id")),
      Seq("doc_id"), "leftsemi")
    withConf("spark.sql.adaptive.enabled" -> "true") {
      val ((fannedExact, fannedScan), sample) =
        Harness.measure("fanOut")((Scans.fanOut(exact), Scans.fanOut(docs)))
      assert(sample.jobs == 0, s"${sample.jobs} jobs inside fanOut")
      // the exchange already gives the session's shuffle partitions;
      // the one-file scan still fans out to the default parallelism
      assert(fannedExact eq exact)
      assert(fannedScan.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
    }
  }

  test("bucketed tables join without a shuffle exchange") {
    // uses the default local warehouse (spark-warehouse/, gitignored);
    // also clear orphan locations from any previously aborted run
    import org.apache.commons.io.FileUtils
    Seq("li_b", "o_b").foreach { t =>
      FileUtils.deleteQuietly(new java.io.File(s"spark-warehouse/$t"))
    }
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS o_b")
    Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_quantity"))
      .write.bucketBy(4, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("li_b")
    Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_totalprice"))
      .write.bucketBy(4, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("o_b")
    // force the non-broadcast path so bucketing is what saves the shuffle
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("li_b")
        .join(spark.table("o_b"), col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join should be shuffle-free:\n$plan")
      assert(plan.contains("Bucketed: true"), s"scan not bucketed:\n$plan")
      assert(joined.count() == Tables.lineitem(spark, sf).count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("incremental LSH dedup equals the self-join restricted to the split") {
    // the persisted-index delta query must find exactly the self-join's
    // cross-split pairs: pairs (a < b) with one side in the delta
    // (doc_id % 10 = 0) and the other in the corpus, re-oriented to
    // (id_d, id_c). Caps don't bind at this scale, so equality is exact.
    val inc = SparkEntry.queries("dedup_incremental_lsh")(spark, sf)
      .select(col("id_d"), col("id_c"), col("jaccard3"))
    val self = Dedup
      .ngramJaccardPairs(Tables.documents(spark, sf), maxBucket = Int.MaxValue)
      .filter((col("id_a") % 10 === 0) =!= (col("id_b") % 10 === 0))
      .select(
        when(col("id_a") % 10 === 0, col("id_a")).otherwise(col("id_b")).as("id_d"),
        when(col("id_a") % 10 === 0, col("id_b")).otherwise(col("id_a")).as("id_c"),
        col("jaccard3"))
    assert(inc.exceptAll(self).isEmpty && self.exceptAll(inc).isEmpty,
      "incremental pairs must equal the self-join's cross-split pairs")
    // every flagged doc is genuinely in the delta partition of the split
    assert(inc.filter(col("id_d") % 10 =!= 0 || col("id_c") % 10 === 0).isEmpty)
  }

  test("substring spans: shared run flagged at exact offsets, merged maximal") {
    // A 10-token run shared by docs 1 and 2 at different offsets. Its
    // three 8-windows (starts 3,4,5 in doc 1 / 0,1,2 in doc 2) must
    // merge into ONE maximal span covering exactly the shared tokens —
    // no bleed into the unique prefix/suffix.
    val shared = (0 until 10).map(i => s"s$i").mkString(" ")
    val docs = spark
      .createDataFrame(Seq(
        (1L, s"u1 u2 u3 $shared v1 v2"), // run at tokens 3..12 of 15
        (2L, s"$shared w1 w2 w3 w4"), // run at tokens 0..9 of 14
        (3L, "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10"))) // all-unique control
      .toDF("doc_id", "text")
    val spans = queries.LlmOps.substringSpans(docs, W = 8)
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(spans.size == 2, s"only docs 1 and 2 carry duplicated spans: $spans")
    assert(spans(1L) == ((3L, 12L, 10L)))
    assert(spans(2L) == ((0L, 9L, 10L)))
  }

  test("substring spans: intra-doc repeat yields two islands, short docs none") {
    // The same 8-token run twice within one doc (gap > W) is corpus
    // duplication too — Lee et al. count any substring occurring more
    // than once — and the occurrences are far enough apart that the
    // merge must NOT bridge them.
    val run = (0 until 8).map(i => s"r$i").mkString(" ")
    val docs = spark
      .createDataFrame(Seq(
        (7L, s"$run g1 g2 g3 g4 g5 $run"), // runs at 0..7 and 13..20
        (8L, "too short to window")))
      .toDF("doc_id", "text")
    val spans = queries.LlmOps.substringSpans(docs, W = 8)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(r => (r._1, r._2))
    assert(spans.toSeq == Seq((7L, 0L, 7L, 8L), (7L, 13L, 20L, 8L)), spans.toSeq)
  }

  test("substring spans: adjacent distinct dup windows merge into one span") {
    // Two DIFFERENT duplicated 8-grams sitting exactly W apart (zero
    // overlap, zero gap) cover contiguous tokens — the island rule
    // (p - prev <= W) must merge them into a single 16-token span.
    val runA = (0 until 8).map(i => s"a$i").mkString(" ")
    val runB = (0 until 8).map(i => s"b$i").mkString(" ")
    val docs = spark
      .createDataFrame(Seq(
        (1L, s"$runA $runB"), // A at 0..7, B at 8..15 — contiguous
        (2L, s"p1 p2 $runA q1 q2 q3 q4 q5 q6 q7 q8"), // another A
        (3L, s"$runB z1 z2 z3 z4 z5 z6 z7 z8"))) // another B
      .toDF("doc_id", "text")
    val d1 = queries.LlmOps.substringSpans(docs, W = 8)
      .filter(col("doc_id") === 1L)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // doc 1: windows 0 (=A) and 8 (=B) both duplicated; 8 - 0 <= W so
    // they merge: one span [0, 15] of 16 tokens. Windows 1..7 straddle
    // the A|B boundary and are unique — they must not appear.
    assert(d1 == Seq((0L, 15L, 16L)), d1)
  }

  test("substring cut keeps the first corpus occurrence, cuts the rest") {
    // Same shared 10-token run as the spans test: doc 1 holds the first
    // (doc_id, p) occurrence of all three duplicated 8-windows, so doc 1
    // must survive byte-identical and doc 2 must lose exactly the run.
    val shared = (0 until 10).map(i => s"s$i").mkString(" ")
    val d1text = s"u1 u2 u3 $shared v1 v2"
    val docs = spark
      .createDataFrame(Seq(
        (1L, d1text),
        (2L, s"$shared w1 w2 w3 w4"),
        (3L, "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10")))
      .toDF("doc_id", "text")
    val cut = queries.LlmOps.substringCut(docs, W = 8)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(cut(1L) == ((d1text, 0L)), "keeper doc must pass through intact")
    assert(cut(2L) == (("w1 w2 w3 w4", 10L)), "run cut, unique suffix kept")
    assert(cut(3L) == (("x1 x2 x3 x4 x5 x6 x7 x8 x9 x10", 0L)))
  }

  test("substring cut removes the intra-doc second occurrence only") {
    val run = (0 until 8).map(i => s"r$i").mkString(" ")
    val docs = spark
      .createDataFrame(Seq((7L, s"$run g1 g2 g3 g4 g5 $run")))
      .toDF("doc_id", "text")
    val cut = queries.LlmOps.substringCut(docs, W = 8)
      .collect().map(r => (r.getString(1), r.getLong(2)))
    assert(cut.toSeq == Seq((s"$run g1 g2 g3 g4 g5", 8L)), cut.toSeq)
  }
}
