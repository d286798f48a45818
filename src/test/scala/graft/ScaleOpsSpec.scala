package graft

import graft.operators.{Similarity, SkewJoin}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Scale-path operators: salted join correctness, IVF ANN recall vs the
  * brute-force baseline, partitioning surface.
  */
class ScaleOpsSpec extends AnyFunSuite {
  import TestSpark._

  test("salted join returns exactly the plain join's rows") {
    val li = Tables.lineitem(spark, sf)
    val o = Tables.orders(spark, sf)
      .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
    val plain = li
      .join(o, Seq("l_orderkey"))
      .select(col("l_orderkey"), col("l_linenumber"), col("o_totalprice"))
    val salted = SkewJoin
      .saltedEquiJoin(li, o, "l_orderkey",
        hash(col("l_orderkey"), col("l_linenumber"), col("l_partkey")), salts = 8)
      .select(col("l_orderkey"), col("l_linenumber"), col("o_totalprice"))
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("salted join spreads a hot key over buckets") {
    val li = Tables.lineitem(spark, sf)
    val salts = li
      .select(SkewJoin.salt(Seq(col("l_orderkey"), col("l_linenumber"), col("l_partkey")), 8).as("s"))
      .groupBy(col("s")).count().collect()
    assert(salts.length == 8)
    val counts = salts.map(_.getLong(1).toDouble)
    assert(counts.max / counts.min < 2.0, s"salt imbalance: ${counts.mkString(",")}")
  }

  /** SQ8 scalar quantization (r18): (a) the encode plan is a pure map
    * over the scan (bounds ship as literals — no Exchange, no join,
    * the assignCells discipline); (b) every reconstructed value sits
    * within half a grid step of the original (the defining property of
    * the [min, max] linear 8-bit grid — an off-by-one in the ±128
    * shift or a swapped bound fails this immediately); (c) asymmetric
    * top-10 recall vs exact brute force stays high (per-dimension
    * fidelity is the reason SQ8 exists next to PQ).
    */
  test("SQ8: encode is map-only, error within half a grid step, high recall") {
    val embRaw = Tables.embeddings(spark, sf)
    val emb = embRaw.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
    val (mn, mx) = Similarity.sq8Bounds(emb)
    val enc = Similarity.encodeSq8(emb, mn, mx)
    val plan = enc.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"encodeSq8 plan shuffles:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"),
      s"encodeSq8 plan explodes the corpus:\n$plan")
    val rows = enc.select(col("e"), col("codes")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val e = r.getSeq[Double](0)
      val c = r.getSeq[Byte](1)
      e.indices.foreach { j =>
        val sc = mx(j) - mn(j)
        val xhat = mn(j) + (c(j) + 128.0) / 255.0 * sc
        val tol = if (sc == 0) 1e-12 else sc / 255.0 * 0.5 + 1e-9
        assert(math.abs(e(j) - xhat) <= tol,
          s"dim $j: x=${e(j)} xhat=$xhat tol=$tol")
      }
    }
    val brute = Similarity.bruteForceTopK(embRaw, 0L, 10)
      .collect().map(_.getLong(0)).toSet
    val sq8 = SparkEntry.queries("sim_sq8_topk")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    val recall = brute.intersect(sq8).size.toDouble / brute.size
    // deterministic corpus + IEEE-deterministic arithmetic: the observed
    // value here is exactly 0.9 (one pair straddles the quantization
    // resolution at this corpus/query — ids 299 vs 232 swap between the
    // exact and dequantized rankings), and the `sim_sq8_recall` gate row
    // hash-pins 1.0 for all 8 query ids at sf0.01. Pin the floor AT the
    // observed value — the r18 0.8 floor would have let a real
    // quantization regression pass while the "recall ≈ exact" docstring
    // went false (r18 verdict task 3).
    assert(recall >= 0.9, s"SQ8 recall $recall (sq8=$sq8 brute=$brute)")
  }

  /** Mid-domain ANN probe id (r18 verdict task 5): every ANN gate row
    * queries vec_id = 0 — an edge-of-domain vector could get lucky with
    * the quantization grid or the cell layout (the same lesson as the
    * scan-pruning probes, which now probe mid-domain ids). Re-run the
    * SQ8 and IVF recall checks at a query id from the MIDDLE of the
    * vec_id domain; non-gate spec assertions by design (the gate twin
    * stays the oracle-replicable qid < 8 instance).
    */
  test("ANN at a mid-domain query id: SQ8 recall exact, IVF recall holds") {
    val embRaw = Tables.embeddings(spark, sf)
    val mid = embRaw.count() / 2
    val emb = embRaw.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
    val brute = Similarity.bruteForceTopK(embRaw, mid, 10)
      .collect().map(_.getLong(0)).toSet
    val (mn, mx) = Similarity.sq8Bounds(emb)
    val qv = emb.filter(col("vec_id") === mid)
      .select(col("e")).head().getSeq[Double](0).toIndexedSeq
    val sq8 = Similarity
      .sq8TopK(Similarity.encodeSq8(emb, mn, mx).drop("e"), qv, mn, mx, mid, 10)
      .collect().map(_.getLong(0)).toSet
    val rSq8 = brute.intersect(sq8).size.toDouble / brute.size
    assert(rSq8 == 1.0, s"SQ8 mid-domain recall $rSq8 (sq8=$sq8 brute=$brute)")
    val cents = Similarity.centroids(embRaw, 16).cache()
    val assigned = Similarity.assignCells(embRaw, cents).cache()
    val ivf = Similarity.ivfTopK(assigned, cents, mid, 10, nProbe = 6)
      .collect().map(_.getLong(0)).toSet
    val rIvf = brute.intersect(ivf).size.toDouble / brute.size
    assert(rIvf >= 0.5, s"IVF mid-domain recall $rIvf (ivf=$ivf brute=$brute)")
    assigned.unpersist(); cents.unpersist()
  }

  /** IVF,SQ8 composed index (r19): (a) the index build — cell argmax +
    * byte quantizer — is ONE map-only Project over the scan (no
    * Exchange, no join: both the centroid set and the bounds ship as
    * literals); (b) persisted `partitionBy(cell_id)`, the probe's cell
    * filter is a PARTITION filter — the pruned scan never opens the
    * unprobed cells' files; (c) the composed ranking agrees with the
    * flat-SQ8 ranking restricted to the probed cells' members (the
    * composition adds probe loss, never quantization drift); (d) recall
    * vs exact brute force at the gate parameterization (8 cells,
    * nProbe 2) stays at the observed value.
    */
  test("IVF,SQ8: map-only build, partition-pruned probe, composed recall") {
    val embRaw = Tables.embeddings(spark, sf)
    val emb = embRaw.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
    val (mn, mx) = Similarity.sq8Bounds(emb)
    val cRows = Similarity.centroidArrays(Similarity.centroids(embRaw, 8))
    val idx = Similarity.encodeIvfSq8(embRaw, cRows, mn, mx)
    val buildPlan = idx.queryExecution.executedPlan.toString
    assert(!buildPlan.contains("Exchange"),
      s"encodeIvfSq8 plan shuffles:\n$buildPlan")
    assert(!buildPlan.contains("CartesianProduct") &&
      !buildPlan.contains("BroadcastNestedLoop"),
      s"encodeIvfSq8 plan explodes the corpus:\n$buildPlan")
    val p = java.nio.file.Files
      .createTempDirectory("graft_ivfsq8_spec").toString
    idx.write.mode("overwrite").partitionBy("cell_id").parquet(p)
    val stored = spark.read.parquet(p)
    val qv = emb.filter(col("vec_id") === 0)
      .select(col("e")).head().getSeq[Double](0).toIndexedSeq
    val probed = Similarity.probeCellIds(qv, cRows, nProbe = 2)
    assert(probed.size == 2 && probed.toSet.size == 2)
    val topk = Similarity.ivfSq8TopK(stored, qv, mn, mx, probed, 0L, 10)
    val scanPlan = topk.queryExecution.executedPlan.toString
    assert(scanPlan.contains("PartitionFilters") &&
      !scanPlan.contains("PartitionFilters: []"),
      s"probe filter did not reach the partition level:\n$scanPlan")
    val got = topk.collect().map(_.getLong(0))
    // (c) composition consistency: flat SQ8 ranking over ONLY the
    // probed cells' members must equal the composed result exactly
    val probedMembers = Similarity.assignCells(embRaw, cRows)
      .filter(col("cell_id").isin(probed: _*))
      .select(col("vec_id"), col("e"))
    val flat = Similarity.sq8TopK(
      Similarity.encodeSq8(probedMembers, mn, mx).drop("e"),
      qv, mn, mx, 0L, 10).collect().map(_.getLong(0))
    assert(got.sameElements(flat),
      s"composed=${got.mkString(",")} flat-restricted=${flat.mkString(",")}")
    val brute = Similarity.bruteForceTopK(embRaw, 0L, 10)
      .collect().map(_.getLong(0)).toSet
    val recall = brute.intersect(got.toSet).size.toDouble / brute.size
    // observed at this corpus/query: 0.9 — and the single miss is
    // vec 299, the SAME quantization straddle the flat-SQ8 test pins
    // (299 vs 232 swap at this corpus's quantization resolution), so
    // the 2-of-8 probe itself lost NOTHING here. At sf0.01 the oracled
    // `sim_ivfsq8_recall` gate row hash-pins the full per-query
    // distribution: 1.0 for five qids, 0.9/0.8/0.7 for the three whose
    // exact neighbors span more than the two probed cells — the probe
    // loss a composed index honestly pays (flat SQ8 there is 1.0 on
    // all eight). Pin AT the observed value per the r18 floor policy.
    assert(recall >= 0.9, s"IVF,SQ8 recall $recall (got=${got.mkString(",")})")
  }

  /** Binary (1-bit/dim) quantization (r19): (a) the encode plan is a
    * pure map over the scan (thresholds ship as literals — the
    * assignCells discipline); (b) the engine's packed lo/hi halves
    * match the driver-side fold twin bit for bit on EVERY row, and
    * each half stays inside 32 bits (the BIGINT-portability contract
    * that keeps the oracle exact); (c) two-stage (Hamming-64 retrieve
    * → exact rerank) recall vs brute force at the gate query; (d) the
    * same at a mid-domain query id (r18 verdict task 5 pattern — no
    * edge-of-domain luck).
    */
  test("binary quantization: map-only encode, exact pack twin, rerank recall") {
    val embRaw = Tables.embeddings(spark, sf)
    val emb = embRaw.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
    val (mn, mx) = Similarity.sq8Bounds(emb)
    val thr = Similarity.binaryThresholds(mn, mx)
    val enc = Similarity.encodeBinary(emb, thr)
    val plan = enc.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"encodeBinary plan shuffles:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"),
      s"encodeBinary plan explodes the corpus:\n$plan")
    val rows = emb.join(enc, "vec_id")
      .select(col("e"), col("lo"), col("hi")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val v = r.getSeq[Double](0).toIndexedSeq
      val (lo, hi) = Similarity.binaryCode(v, thr)
      assert(r.getLong(1) == lo && r.getLong(2) == hi,
        s"pack twin mismatch: engine (${r.getLong(1)},${r.getLong(2)}) vs $lo,$hi")
      assert(r.getLong(1) >= 0L && r.getLong(1) < (1L << 32) &&
        r.getLong(2) >= 0L && r.getLong(2) < (1L << 32),
        "packed half escaped 32 bits")
    }
    // rerank is LOSSLESS: the two-stage result must equal exact brute
    // force RESTRICTED to the stage-1 candidate set — every point of
    // recall loss is stage 1's Hamming cut, none is the rerank. The
    // twin recomputes both stages driver-side from the collected rows.
    val byId = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toIndexedSeq).toMap
    def cosD(a: IndexedSeq[Double], b: IndexedSeq[Double]): Double = {
      var s = 0.0; var na = 0.0; var nb = 0.0; var j = 0
      while (j < a.length) { s += a(j) * b(j); na += a(j) * a(j); nb += b(j) * b(j); j += 1 }
      s / (math.sqrt(na) * math.sqrt(nb))
    }
    def twin(qid: Long): Seq[Long] = {
      val qv = byId(qid)
      val (ql, qh) = Similarity.binaryCode(qv, thr)
      val cand = byId.keys.filter(_ != qid).toSeq
        .map { i =>
          val (lo, hi) = Similarity.binaryCode(byId(i), thr)
          (i, java.lang.Long.bitCount(lo ^ ql) + java.lang.Long.bitCount(hi ^ qh))
        }
        .sortBy { case (i, h) => (h, i) }.take(64).map(_._1)
      cand.map(i => (i, cosD(qv, byId(i))))
        .sortBy { case (i, c) => (-c, i) }.take(10).map(_._1)
    }
    val bqRows = SparkEntry.queries("sim_binary_topk")(spark, sf)
      .orderBy(col("bq_cosine_6dp").desc, col("vec_id"))
      .collect().map(_.getLong(0)).toSeq
    assert(bqRows == twin(0L),
      s"two-stage result drifted from the driver twin: $bqRows vs ${twin(0L)}")
    val brute = Similarity.bruteForceTopK(embRaw, 0L, 10)
      .collect().map(_.getLong(0)).toSet
    val recall = brute.intersect(bqRows.toSet).size.toDouble / brute.size
    // Observed on this ISOTROPIC synthetic corpus: 0.4 at the gate id,
    // 0.8 mid-domain (random 64-d vectors are the adversarial case for
    // sign-bit codes — no anisotropy for the bits to capture; trained
    // embedding models carry far more signal per bit). Pinned AT the
    // observed values per the r18 floor policy; the oracled
    // `sim_binary_recall` row hash-pins the full 8-query distribution.
    assert(recall >= 0.4, s"binary recall $recall (bq=$bqRows brute=$brute)")
    val mid = embRaw.count() / 2
    val qv = emb.filter(col("vec_id") === mid)
      .select(col("e")).head().getSeq[Double](0).toIndexedSeq
    val bruteMid = Similarity.bruteForceTopK(embRaw, mid, 10)
      .collect().map(_.getLong(0)).toSet
    val bqMid = Similarity.binaryTopK(enc, emb, qv, thr, mid, 64, 10)
      .collect().map(_.getLong(0)).toSet
    val rMid = bruteMid.intersect(bqMid).size.toDouble / bruteMid.size
    assert(rMid >= 0.8, s"binary mid-domain recall $rMid (bq=$bqMid brute=$bruteMid)")
    assert(bqMid == twin(mid).toSet,
      s"mid-domain two-stage drifted from the driver twin")
  }

  /** Matryoshka prefix ANN (r19): (a) the prefix index is a pure map
    * over the scan and stores EXACTLY the first d/4 dimensions;
    * (b) the gate query's output is ordered by exact (full-dim) cosine
    * — the rerank contract; (c) two-stage recall vs brute force at the
    * gate query and at a mid-domain id.
    */
  test("matryoshka prefix: quarter-width index, rerank order, recall") {
    val embRaw = Tables.embeddings(spark, sf)
    val emb = embRaw.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
    val d = emb.select(size(col("e"))).head().getInt(0)
    val dPrefix = d / 4
    val enc = Similarity.encodePrefix(emb, dPrefix)
    val plan = enc.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"encodePrefix plan shuffles:\n$plan")
    val widths = enc.select(size(col("ep")).as("w")).distinct().collect()
    assert(widths.length == 1 && widths.head.getInt(0) == dPrefix)
    // stored prefix equals the raw vector's first dPrefix dims verbatim
    val mism = emb.join(enc, "vec_id")
      .filter(expr(s"ep != slice(e, 1, $dPrefix)")).count()
    assert(mism == 0L, s"$mism rows with drifted prefix")
    val res = SparkEntry.queries("sim_matryoshka_topk")(spark, sf).collect()
    assert(res.length == 10)
    val cosOrder = res.map(_.getAs[Double]("mrl_cosine_6dp")).toSeq
    assert(cosOrder == cosOrder.sorted.reverse,
      s"output not in exact-cosine order: $cosOrder")
    // rerank is LOSSLESS: two-stage == exact ranking restricted to the
    // stage-1 prefix-cosine candidate set (driver twin, both stages)
    val byId = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toIndexedSeq).toMap
    def cosD(a: IndexedSeq[Double], b: IndexedSeq[Double], k: Int): Double = {
      var s = 0.0; var na = 0.0; var nb = 0.0; var j = 0
      while (j < k) { s += a(j) * b(j); na += a(j) * a(j); nb += b(j) * b(j); j += 1 }
      s / (math.sqrt(na) * math.sqrt(nb))
    }
    def twin(qid: Long): Seq[Long] = {
      val qv = byId(qid)
      val cand = byId.keys.filter(_ != qid).toSeq
        .map(i => (i, cosD(qv, byId(i), dPrefix)))
        .sortBy { case (i, c) => (-c, i) }.take(64).map(_._1)
      cand.map(i => (i, cosD(qv, byId(i), d)))
        .sortBy { case (i, c) => (-c, i) }.take(10).map(_._1)
    }
    val gotSeq = res.sortBy(r =>
      (-r.getAs[Double]("mrl_cosine_6dp"), r.getAs[Long]("vec_id")))
      .map(_.getAs[Long]("vec_id")).toSeq
    assert(gotSeq == twin(0L),
      s"two-stage result drifted from the driver twin: $gotSeq vs ${twin(0L)}")
    val brute = Similarity.bruteForceTopK(embRaw, 0L, 10)
      .collect().map(_.getLong(0)).toSet
    val recall = brute.intersect(gotSeq.toSet).size.toDouble / brute.size
    // Observed 0.5 at both the gate id and mid-domain on this isotropic
    // synthetic corpus — a random vector's first 16 dims carry exactly
    // 1/4 of its energy (MRL-trained embeddings front-load information;
    // random ones by construction cannot). Pinned AT observed; the
    // oracled `sim_matryoshka_recall` row hash-pins all 8 queries.
    assert(recall >= 0.5, s"matryoshka recall $recall (got=$gotSeq brute=$brute)")
    val mid = embRaw.count() / 2
    val qv = emb.filter(col("vec_id") === mid)
      .select(col("e")).head().getSeq[Double](0).toIndexedSeq
    val bruteMid = Similarity.bruteForceTopK(embRaw, mid, 10)
      .collect().map(_.getLong(0)).toSet
    val gotMid = Similarity.matryoshkaTopK(enc, emb, qv, dPrefix, mid, 64, 10)
      .collect().map(_.getLong(0)).toSet
    val rMid = bruteMid.intersect(gotMid).size.toDouble / bruteMid.size
    assert(rMid >= 0.5, s"matryoshka mid-domain recall $rMid (got=$gotMid brute=$bruteMid)")
    assert(gotMid == twin(mid).toSet,
      "mid-domain two-stage drifted from the driver twin")
  }

  test("IVF top-k has high recall vs brute force") {
    val emb = Tables.embeddings(spark, sf)
    val brute = Similarity.bruteForceTopK(emb, 0L, 10).collect().map(_.getLong(0)).toSet
    val cents = Similarity.centroids(emb, 16).cache()
    val assigned = Similarity.assignCells(emb, cents).cache()
    // the assignment stage must be a pure map over the scan: no shuffle,
    // no per-row centroid explosion (round-1 regression)
    val plan = assigned.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"assignCells plan shuffles:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"assignCells plan explodes the corpus:\n$plan")
    assert(assigned.count() == emb.count())
    val ivf = Similarity
      .ivfTopK(assigned, cents, 0L, 10, nProbe = 6)
      .collect().map(_.getLong(0)).toSet
    val recall = brute.intersect(ivf).size.toDouble / brute.size
    assert(recall >= 0.5, s"recall $recall (ivf=$ivf brute=$brute)")
  }

  /** The recall certifier every ANN tier's recall row reports through:
    * an approximate arm equal to the exact one hits all k per query,
    * under both metrics, and a query whose approximate arm is empty
    * still reports — with 0 hits — instead of dropping out of the join.
    */
  test("recallAt: approx == exact hits k per qid; an empty approx arm reports 0") {
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
    val q = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("e").as("qe"))
    val corpus = emb.filter(col("vec_id") >= 8)
    def recall(m: Similarity.Metric, approx: DataFrame => DataFrame): Map[Long, (Long, Long)] = {
      val exact = Similarity.exactScores(corpus, q, m)
      Similarity.recallAt(q, exact, approx(exact), 10, m).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    }
    Seq(Similarity.CosineMetric, Similarity.L2Metric).foreach { m =>
      val same = recall(m, identity)
      assert(same.keySet == (0L until 8L).toSet)
      assert(same.values.forall(_ == (10L, 1000000L)), s"$m: $same")
    }
    val holed = recall(Similarity.CosineMetric, _.filter(col("qid") =!= 3L))
    assert(holed.keySet == (0L until 8L).toSet, s"a qid dropped out: $holed")
    assert(holed(3L) == (0L, 0L))
    assert((holed - 3L).values.forall(_ == (10L, 1000000L)))
  }

  /** The premise of merging the cosine copies: `cosine(a, b)`,
    * `cosine(b, a)` and the form with each norm computed once per row
    * are the same double, bit for bit, on every sampled pair.
    */
  test("cosine is bit-symmetric and equals the hoisted-norm form") {
    import graft.functions.DotF64.dotf64
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
    val a = emb.filter(col("vec_id") < 16)
      .select(col("e").as("ea"), dotf64(col("e"), col("e")).as("na2"))
    val b = emb.select(col("e").as("eb"), dotf64(col("e"), col("e")).as("nb2"))
    val rows = b.crossJoin(a).select(
      Similarity.cosine(col("ea"), col("eb")),
      Similarity.cosine(col("eb"), col("ea")),
      dotf64(col("eb"), col("ea")) / (sqrt(col("nb2")) * sqrt(col("na2")))).collect()
    assert(rows.length == 16 * 500)
    rows.foreach { r =>
      val (ab, ba, hoisted) = (r.getDouble(0), r.getDouble(1), r.getDouble(2))
      assert(ab == ba && ab == hoisted, s"cosine drifted: $ab $ba $hoisted")
    }
  }

  test("segmented sort: sortWithinPartitions orders inside each range") {
    val sorted = Tables
      .orders(spark, sf)
      .repartitionByRange(8, col("o_custkey"))
      .sortWithinPartitions(col("o_custkey"), col("o_orderkey"))
    val violations = sorted
      .select(col("o_custkey"), col("o_orderkey"))
      .mapPartitions { it =>
        var bad = 0L
        var prev: (Long, Long) = null
        it.foreach { r =>
          val cur = (r.getLong(0), r.getLong(1))
          if (prev != null && Ordering[(Long, Long)].gt(prev, cur)) bad += 1
          prev = cur
        }
        Iterator(bad)
      }(org.apache.spark.sql.Encoders.scalaLong)
      .reduce(_ + _)
    assert(violations == 0)
  }

  test("partitioning surface: hash, range, round-robin") {
    val o = Tables.orders(spark, sf)
    val hashed = o.repartition(8, col("o_custkey"))
    assert(hashed.rdd.getNumPartitions == 8)
    // same key → same partition
    val perKey = hashed
      .select(col("o_custkey"), spark_partition_id().as("pid"))
      .groupBy(col("o_custkey"))
      .agg(countDistinct(col("pid")).as("n"))
      .agg(max(col("n"))).head().getLong(0)
    assert(perKey == 1)

    val ranged = o.repartitionByRange(8, col("o_orderkey"))
    // ranges are non-overlapping: per-partition max < next partition min
    val bounds = ranged
      .select(spark_partition_id().as("pid"), col("o_orderkey"))
      .groupBy(col("pid"))
      .agg(min(col("o_orderkey")).as("lo"), max(col("o_orderkey")).as("hi"))
      .orderBy(col("lo"))
      .collect()
    bounds.sliding(2).foreach {
      case Array(a, b) => assert(a.getAs[Long]("hi") <= b.getAs[Long]("lo"))
      case _ =>
    }

    val rr = o.repartition(8)
    val sizes = rr
      .groupBy(spark_partition_id()).count().collect().map(_.getLong(1).toDouble)
    assert(sizes.max / sizes.min < 1.5)
  }

  test("token-budget mixing: greedy priority prefix per source, both branches") {
    // source "small" fits its budget (pass-through branch, no window);
    // source "big" must be cut at the budget boundary (window branch)
    val rows =
      (1L to 3L).map(i => (i, "small", (1 to 10).map(_ => "w").mkString(" "))) ++
        (10L to 40L).map(i => (i, "big", (1 to 10).map(_ => "w").mkString(" ")))
    val docs = spark.createDataFrame(rows).toDF("doc_id", "source", "text")
    val kept = queries.LlmOps.mixTokenBudgetOf(docs, budget = 100L)

    // under-budget source passes through whole
    assert(kept.filter(col("source") === "small").count() == 3)

    // over-budget source: exactly budget/10 = 10 docs survive, and they
    // are the 10 smallest by (Lehmer priority, doc_id) — the greedy
    // prefix, not an arbitrary subset
    val keptBig = kept.filter(col("source") === "big")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(keptBig.size == 10, s"expected 10 kept, got ${keptBig.size}")
    val expected = (10L to 40L)
      .sortBy(i => ((i * 48271L) % 2147483647L, i)).take(10).toSet
    assert(keptBig == expected, s"kept $keptBig, expected greedy prefix $expected")

    // the differential vs a single-window reference on real data: the
    // two-phase plan (broadcast anti-join bypass + window only on
    // over-budget sources) must equal the naive one-window formulation
    import org.apache.spark.sql.expressions.Window
    val real = Tables.documents(spark, sf)
    val res = queries.LlmOps.mixTokenBudgetOf(real, budget = 300L)
    val ref = real
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).as("n_tok"),
        pmod(col("doc_id") * lit(48271L), lit(2147483647L)).as("pri"))
      .withColumn("cum",
        sum(col("n_tok")).over(
          Window.partitionBy(col("source")).orderBy(col("pri"), col("doc_id"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("cum") <= 300L)
      .select(col("doc_id"), col("source"), col("n_tok"))
    assert(res.exceptAll(ref).isEmpty && ref.exceptAll(res).isEmpty)
  }

  test("quality-quantile filter: per-lang threshold cut, nothing above dropped") {
    val res = SparkEntry.queries("filter_quality_quantile")(spark, sf)
    val all = SparkEntry.queries("text_quality_score")(spark, sf)
      .join(Tables.documents(spark, sf).select(col("doc_id"), col("lang")), "doc_id")
      .select(col("doc_id"), col("lang"), col("quality"))
    val n = all.count()
    val k = res.count()
    assert(k < n, "bottom quartile should drop something")
    assert(k >= (n * 0.70).toLong, s"kept $k of $n — far below the p25 cut")
    // threshold semantics: within each lang, every dropped doc scores
    // strictly below every kept doc at the 6-decimal compare resolution
    val dropped = all.exceptAll(res)
    val maxDropped = dropped.groupBy(col("lang"))
      .agg(max(round(col("quality"), 6)).as("max_dropped"))
    val minKept = res.groupBy(col("lang"))
      .agg(min(round(col("quality"), 6)).as("min_kept"))
    maxDropped.join(minKept, "lang").collect().foreach { r =>
      assert(r.getDouble(1) < r.getDouble(2),
        s"lang ${r.getString(0)}: dropped ${r.getDouble(1)} >= kept ${r.getDouble(2)}")
    }
  }

  test("kmeans train: Lloyd objective nondecreasing, empty cells retained") {
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("embedding"))
      .cache()
    var c = Similarity.centroidArrays(Similarity.centroids(emb, 8))
    var prev = Similarity.kmeansObjective(emb, c)
    (1 to 4).foreach { it =>
      c = Similarity.kmeansStep(emb, c)
      val j = Similarity.kmeansObjective(emb, c)
      // exact Lloyd is nondecreasing; the fixed-point mean quantization
      // can wiggle at most ~1e-6 per row
      assert(j >= prev - 1e-3, s"iter $it: objective fell $prev -> $j")
      prev = j
    }
    assert(c.size == 8 && c.forall(_._2.length == 64))
    // a centroid set with guaranteed-empty cells keeps the old vectors:
    // duplicate centroid directions can never both win an argmax-first tie
    val dup = c.head +: c.tail.map { case (id, _) => (id, c.head._2) }
    val stepped = Similarity.kmeansStep(emb, dup)
    // all duplicated cells lose every assignment to the first (ties to
    // lowest cell_id), so cells 1..7 must come back unchanged
    assert(stepped.tail.forall { case (_, v) => v == c.head._2 },
      "empty cells should retain their previous centroid")
    emb.unpersist()
  }

  test("kmeans-trained centroids: big objective gain, IVF recall holds") {
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("embedding"))
      .cache()
    import spark.implicits._
    val sampled = Similarity.centroidArrays(Similarity.centroids(emb, 8))
    val trained = Similarity.kmeansTrain(emb, 8, iters = 4)
    // training should tighten cells substantially vs the strided pick
    // (measured: 93.3 -> 131.4 on this corpus; deterministic)
    val j0 = Similarity.kmeansObjective(emb, sampled)
    val j1 = Similarity.kmeansObjective(emb, trained)
    assert(j1 >= j0 + 10.0, s"objective barely moved: $j0 -> $j1")
    // and the trained index still answers well: mean recall@10 over the
    // 8 query vectors, nProbe=3 of 8 cells (this corpus is near-uniform,
    // so tighter cells split neighbor sets at nProbe=2 — recall is
    // recovered one probe later while scanning 3/8 of the corpus)
    val cents = trained.toDF("cell_id", "centroid")
    val assigned = Similarity.assignCells(emb, trained).cache()
    val recalls = (0L until 8L).map { q =>
      val brute = Similarity.bruteForceTopK(emb, q, 10)
        .collect().map(_.getLong(0)).toSet
      val ivf = Similarity.ivfTopK(assigned, cents, q, 10, nProbe = 3)
        .collect().map(_.getLong(0)).toSet
      brute.intersect(ivf).size.toDouble / brute.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, s"trained IVF mean recall $mean (per-q $recalls)")
    assigned.unpersist()
    emb.unpersist()
  }

  test("knn join: per-query top-3 matches an independent full ranking") {
    import org.apache.spark.sql.expressions.Window
    val res = SparkEntry.queries("sim_knn_join")(spark, sf)
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
    val q = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("e").as("qe"))
    val ref = emb.filter(col("vec_id") >= 8)
      .crossJoin(q)
      .select(col("q_id"), col("vec_id"),
        (-floor(Similarity.cosine(col("e"), col("qe")) * 1e6)).cast("long").as("rk"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("rk"), col("vec_id"))))
      .filter(col("rn") <= 3)
      .select(col("q_id"), col("vec_id"), col("rn").cast("long").as("rn"))
    val got = res.select(col("q_id"), col("vec_id"), col("rn"))
    assert(got.count() == 24)
    assert(got.exceptAll(ref).isEmpty && ref.exceptAll(got).isEmpty)
  }

  test("leakage-safe split: every near-dup component lands in ONE split") {
    val split = SparkEntry.queries("split_leakage_safe")(spark, sf).cache()
    assert(split.count() == Tables.documents(spark, sf).count())
    // one split value per keeper — the leakage-safety contract itself
    val perKeeper = split.groupBy(col("keeper"))
      .agg(countDistinct(col("split")).as("k"))
    assert(perKeeper.filter(col("k") > 1).isEmpty,
      "a component straddles splits")
    // and the split is actually 3-way at roughly 8/1/1
    val counts = split.groupBy(col("split")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet == Set("train", "valid", "test"), s"$counts")
    assert(counts("train") > counts("valid") && counts("train") > counts("test"))
    split.unpersist()
  }

  test("bigram LM score: per-doc invariants and smoothing bounds") {
    val res = SparkEntry.queries("text_lm_score")(spark, sf).cache()
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"),
        size(split(coalesce(col("text"), lit("")), " ")).as("n_tok"))
    // every doc with >=2 tokens scored, none with fewer; n_bigrams = n_tok-1
    val joined = res.join(docs, "doc_id")
    assert(joined.count() == docs.filter(col("n_tok") >= 2).count())
    assert(joined.filter(col("n_bigrams") =!= col("n_tok") - 1).isEmpty)
    // add-one smoothing: every bigram prob is in (0,1) strictly, so the
    // average log-prob is strictly negative (micro-units, integer-exact)
    val r = res.agg(max(col("avg_logp_micro")), min(col("avg_logp_micro"))).head()
    assert(r.getLong(0) < 0L, s"max avg_logp_micro ${r.getLong(0)} not < 0")
    // rare bigrams are a subset of all bigrams
    assert(res.filter(col("rare_bigrams") > col("n_bigrams")).isEmpty)
    // independent recount: total rare (count-1) bigram OCCURRENCES equals
    // the number of distinct bigrams seen exactly once corpus-wide
    val rareTotal = res.agg(sum(col("rare_bigrams"))).head().getLong(0)
    val grams = Tables.documents(spark, sf)
      .select(split(coalesce(col("text"), lit("")), " ").as("tk"))
      .filter(size(col("tk")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(tk) - 2), i -> concat(tk[i], ' ', tk[i + 1]))")).as("g"))
      .groupBy(col("g")).count()
    val singletons = grams.filter(col("count") === 1).count()
    assert(rareTotal == singletons, s"rare=$rareTotal singletons=$singletons")
    res.unpersist()
  }

  /** Reference double-precision mirror of the fixed-point power loop
    * (same all-ones start, same L∞ normalization, no quantization) —
    * isolates the truncation error of the integer arithmetic.
    */
  private def powerIterDouble(rows: Array[Array[Double]], iters: Int): Array[Double] = {
    val d = rows.head.length
    var v = Array.fill(d)(1.0)
    for (_ <- 1 to iters) {
      val u = new Array[Double](d)
      rows.foreach { x =>
        var dot = 0.0
        var j = 0
        while (j < d) { dot += x(j) * v(j); j += 1 }
        j = 0
        while (j < d) { u(j) += x(j) * dot; j += 1 }
      }
      val m = u.map(math.abs).max max 1e-300
      v = u.map(_ / m)
    }
    v
  }

  private def cosine(a: Array[Double], b: Array[Double]): Double = {
    val dot = a.zip(b).map { case (x, y) => x * y }.sum
    val na = math.sqrt(a.map(x => x * x).sum)
    val nb = math.sqrt(b.map(x => x * x).sum)
    dot / (na * nb)
  }

  test("semantic decontamination: bench side broadcast, meaningful split") {
    val res = SparkEntry.queries("decontaminate_semantic")(spark, sf).cache()
    val n = res.count()
    val flagged = res.filter(col("contaminated")).count()
    assert(n > 0L && flagged > 0L && flagged < n, s"n=$n flagged=$flagged")
    // the benchmark set must ride a broadcast — the corpus never shuffles
    // as pairs, only the per-vector partial maxes
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"bench side not broadcast:\n$plan")
    res.unpersist()
  }

  test("kmv sketch: estimate within 3-sigma of the exact distinct count") {
    val res = SparkEntry.queries("sketch_kmv_distinct")(spark, sf).head()
    val k = res.getLong(0)
    val est = res.getLong(2)
    val exact = res.getLong(3)
    assert(exact > 0L)
    if (exact < k) assert(est == exact, s"sub-k fallback must be exact: $est vs $exact")
    else {
      // KMV std error ≈ 1/sqrt(k-2) ≈ 6.3% at k=256; 3σ ≈ 19%
      val rel = math.abs(est - exact).toDouble / exact
      assert(rel <= 0.19, s"KMV rel err $rel (est=$est exact=$exact)")
    }
  }

  test("kmv overlap: inclusion-exclusion estimate tracks the exact overlap") {
    val r = SparkEntry.queries("sketch_kmv_overlap")(spark, sf).head()
    val estI = r.getAs[Long]("est_intersect")
    val exI = r.getAs[Long]("exact_intersect")
    val exU = r.getAs[Long]("exact_union")
    assert(exU > 256L, "estimator branch must exercise (union >> k)")
    assert(exI > 0L)
    // three compounding sketches: allow ~4x the single-sketch sigma,
    // relative to the union size (the natural scale of the estimator)
    val rel = math.abs(estI - exI).toDouble / exU
    assert(rel <= 0.25, s"overlap rel err $rel (est=$estI exact=$exI union=$exU)")
  }

  test("pca power iteration: fixed-point direction matches the double mirror") {
    val emb = Tables.embeddings(spark, sf)
    val res = Similarity.pcaPowerTopComponent(emb, iters = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val rows = emb
      .select(expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .collect().map(_.getSeq[Double](0).toArray)
    val d = rows.head.length
    assert(res.length == d && res.map(_._1).toSeq == (0L until d.toLong))
    val got = res.map(_._2.toDouble)
    // micro-unit L∞ contract: the peak coordinate sits at ~1e6
    assert(math.abs(got.map(math.abs).max - 1e6) <= 2e6 - 1e6,
      s"max |v_micro| = ${got.map(math.abs).max}")
    val want = powerIterDouble(rows, iters = 5)
    val c = math.abs(cosine(got, want))
    assert(c >= 0.999, s"fixed-point vs double cosine = $c")
  }

  test("pca power iteration: recovers a constructed dominant axis") {
    import spark.implicits._
    val dim = 8
    val axis = Array.tabulate(dim)(j => if (j % 2 == 0) 1.0 else -0.5)
    // 200 points along ±axis with small deterministic off-axis jitter
    val data = (0 until 200).map { i =>
      val s = if (i % 2 == 0) 1.0 else -1.0
      val scale = 1.0 + (i % 7) * 0.1
      (i.toLong, Array.tabulate(dim) { j =>
        (s * scale * axis(j) + 0.01 * (((i * 31 + j * 17) % 11) - 5)).toFloat
      }.toSeq)
    }
    val emb = data.toDF("vec_id", "embedding")
    val got = Similarity.pcaPowerTopComponent(emb, iters = 5)
      .collect().sortBy(_.getLong(0)).map(_.getLong(1).toDouble)
    val c = math.abs(cosine(got, axis))
    assert(c >= 0.99, s"recovered-axis cosine = $c (got ${got.mkString(",")})")
  }

  test("two-component pca: v1 matches the top component, v2 near-orthogonal") {
    val emb = Tables.embeddings(spark, sf)
    val two = Similarity.pcaPowerTwoComponents(emb, iters = 5)
      .collect().sortBy(_.getLong(0))
    val v1 = two.map(_.getLong(1).toDouble)
    val v2 = two.map(_.getLong(2).toDouble)
    val top = Similarity.pcaPowerTopComponent(emb, iters = 5)
      .collect().sortBy(_.getLong(0)).map(_.getLong(1).toDouble)
    assert(v1.toSeq == top.toSeq, "v1 must be the top component verbatim")
    // deflation is integer-approximate, so demand near- not exact
    // orthogonality; a failed deflation would leave |cos| ≈ 1
    val c = math.abs(cosine(v1, v2))
    assert(c <= 0.1, s"|cos(v1, v2)| = $c — deflation did not remove v1")
    assert(math.abs(v2.map(math.abs).max - 1e6) <= 1e6,
      s"v2 micro-unit L∞ contract broken: ${v2.map(math.abs).max}")
  }

  test("mmr rerank: greedy invariants and the diversity trade") {
    import org.apache.spark.sql.functions.col
    val rows = SparkEntry.queries("sim_mmr_rerank")(spark, sf)
      .orderBy(col("rank")).collect()
    assert(rows.length == 10)
    val ids = rows.map(_.getAs[Long]("vec_id")).toSeq
    assert(ids.distinct.length == 10 && !ids.contains(0L),
      s"picks must be 10 distinct non-query docs: $ids")
    val mmr = rows.map(_.getAs[Long]("mmr_micro")).toSeq
    assert(mmr == mmr.sorted.reverse,
      s"greedy pick scores must be non-increasing: $mmr")
    // first pick is pure relevance (maxsim = 0): mmr = 7*rel, and its rel
    // dominates every other picked doc's rel
    val first = rows.head
    assert(first.getAs[Long]("mmr_micro") ==
      7L * first.getAs[Long]("rel_micro"))
    assert(rows.tail.forall(r =>
      r.getAs[Long]("rel_micro") <= first.getAs[Long]("rel_micro")))
    // every later pick's score is 7*rel - 3*maxsim with maxsim a cosine
    // micro-unit in [-1e6, 1e6] (NEGATIVE similarity to the picked set
    // legitimately raises the score on a near-orthogonal corpus)
    rows.tail.foreach { r =>
      val dev = r.getAs[Long]("mmr_micro") - 7L * r.getAs[Long]("rel_micro")
      assert(math.abs(dev) <= 3000000L, s"penalty out of cosine range: $dev")
    }
    // the trade happened at least once on the real corpus: some pick is
    // NOT in relevance order (pure-rel rank 2 was deferred for diversity)
    val rels = rows.map(_.getAs[Long]("rel_micro")).toSeq
    assert(rels != rels.sorted.reverse,
      "picks in pure relevance order — MMR penalty had no effect")
  }

  test("hard negatives: label-mismatched, ranked, and harder than random") {
    import org.apache.spark.sql.functions.col
    val rows = SparkEntry.queries("sim_hard_negatives")(spark, sf).collect()
    assert(rows.length == 24, "8 queries x 3 negatives")
    val labels = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    rows.groupBy(_.getAs[Long]("q_id")).foreach { case (qid, g) =>
      assert(g.length == 3, s"query $qid must have 3 negatives")
      val sims = g.sortBy(_.getAs[Long]("rn")).map(_.getAs[Double]("sim6"))
      assert(sims.sortBy(-_).toSeq == sims.toSeq, s"query $qid not ranked")
      g.foreach { r =>
        assert(r.getAs[Long]("q_label") == labels(qid).toLong)
        assert(labels(r.getAs[Long]("vec_id")).toLong !=
          r.getAs[Long]("q_label"),
          s"negative shares the anchor label for query $qid")
      }
    }
    // "hard": every mined negative is more similar to its anchor than the
    // corpus-median cosine (~0 on this near-orthogonal corpus)
    assert(rows.forall(_.getAs[Double]("sim6") > 0.0),
      "a hard negative should at least beat orthogonality")
  }

  /** SemDeDup keep-policy invariants (`dedup_semantic_keep`): the hash
    * oracle pins the exact verdict table; this pins the PROPERTY the
    * verdicts must have. (1) one verdict per vector; (2) the KEPT set is
    * τ-separated within every cell — if two kept vectors were within
    * τ = 0.35, the dominance rule (lower centroid-cosine wins, vec_id
    * tiebreak) would have dropped one of them; (3) every dropped vector
    * reports at least one near partner; (4) the policy actually fires
    * on this corpus (some vector is dropped). Cosines are recomputed
    * driver-side with the same ascending-index fold DotF64 runs, so the
    * τ comparison sees the identical doubles the query compared.
    */
  /** The parameterized operator at a NON-gate configuration (k = 4,
    * τ = 0.30): proves `Similarity.semanticDedupKeep` is genuinely
    * general, not a shell around the oracle-pinned (8, 0.35) instance.
    * Same invariants as the gate test, plus the knob directions: a
    * LOWER τ at the same clustering can only drop MORE (the near
    * relation grows monotonically as τ falls — checked against the
    * same-k run rather than the gate's different-k one).
    */
  test("semantic dedup keep-policy: parameterized (k=4, tau=0.30) holds invariants") {
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("embedding"))
    val cRows = Similarity.centroidArrays(Similarity.centroids(emb, 4))
    def verdicts(tau: Double): Map[Long, Boolean] =
      Similarity.semanticDedupKeep(emb, cRows, tau).collect()
        .map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    val at30 = verdicts(0.30)
    val at35 = verdicts(0.35)
    assert(at30.size == at35.size && at30.nonEmpty)
    val dropped30 = at30.count(!_._2)
    val dropped35 = at35.count(!_._2)
    assert(dropped30 >= dropped35,
      s"lower tau must drop at least as many: $dropped30 < $dropped35")
    assert(dropped30 > 0, "policy never fired at tau=0.30, k=4")
  }

  test("semantic dedup keep-policy: kept set is tau-separated per cell") {
    val verdicts = SparkEntry.queries("dedup_semantic_keep")(spark, sf)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getInt(1), r.getLong(2), r.getBoolean(3)))
      .toMap
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1))
      .toMap
    assert(verdicts.size == emb.size, "one verdict per vector")
    def dot(a: Seq[Double], b: Seq[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    def cos(a: Seq[Double], b: Seq[Double]): Double =
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    val byCell = verdicts.toSeq.groupBy(_._2._1)
    var dropped = 0
    byCell.foreach { case (_, members) =>
      val kept = members.filter(_._2._3).map(_._1)
      for (i <- kept.indices; j <- (i + 1) until kept.length)
        assert(cos(emb(kept(i)), emb(kept(j))) < 0.35,
          s"kept pair ${kept(i)}/${kept(j)} within tau")
      members.filterNot(_._2._3).foreach { case (id, (_, nNear, _)) =>
        dropped += 1
        assert(nNear >= 1L, s"dropped $id reports no near partner")
      }
    }
    assert(dropped > 0, "policy never fired on this corpus")
  }
}
