package graft

/** Benchmark main — driver contract: one JSON line with per-query wall
  * seconds on SPARK_GRAFT_SF_DIR over the [[Tag.Headline]] rows
  * (`SPARK_GRAFT_ONLY=q1,q2` cuts them to the named rows).
  *
  * Each rep is one `Harness.timed` span: the builder call through the
  * completed noop write.
  *
  * After one pre-pass over every row, each query is measured as a
  * GROUP — a warmup then five timed reps back to back — so its
  * measurement follows its own warmup, not a sweep of every other query
  * that has churned the heap. A `Harness.settle` separates the groups.
  * A per-group stderr line records heap used, GC time and code-cache
  * occupancy, so a drift on unchanged plans arrives with evidence
  * attached.
  */
object Bench {
  /** The benched rows ([[Tag.Headline]]), in name order. */
  val headline: Seq[String] = SparkEntry.tagged(Tag.Headline)

  /** The comparison basis ([[Tag.Basis]]): the final line's
    * `shared_set_total` sums the measured walls of exactly these rows.
    */
  val sharedSet69: Set[String] = SparkEntry.tagged(Tag.Basis).toSet

  /** The four NDS-H flagship walls carried on the FINAL line — a FIXED
    * set so the line's size never grows with the headline (the full
    * per-query map lives on the earlier telemetry line).
    */
  val flagships: Seq[String] = Seq("ndsh_q1", "ndsh_q5", "ndsh_q6", "ndsh_q9")

  /** The final stdout line: a fixed-field record whose byte size does
    * not grow with the headline — totals, the four flagship walls, the
    * calibration bracket, the contention stamp and the shared-set basis.
    * Its consumers keep only the last 2,000 bytes of output, and a line
    * that carried every per-query wall once outgrew that window; the
    * per-query walls, gc and heap ride the earlier telemetry line. The
    * <1,900 B contract is enforced twice: the require here and
    * BenchEmissionSpec's worst-case render.
    *
    * A failed query must never make the record look better: the totals
    * leave it out, so `shared_set_n` counts only the shared-set queries
    * actually measured, and `failed` names the failures — capped at
    * `failedBudget` bytes, the rest summarized as "+N more" (every
    * failure is also named on stderr).
    */
  def finalLine(total: Double, walls: Map[String, Double],
      calPre: (Double, Double), calPost: (Double, Double),
      bwPre: (Double, Double), bwPost: (Double, Double),
      contended: Boolean, sharedTotal: Double, sharedN: Int,
      retryTotal: Double, failed: Seq[String], sfDir: String): String = {
    val qs = flagships
      .map(k => "\"" + k + "\":" + f"${walls.getOrElse(k, -1.0)}%.3f")
      .mkString("{", ",", "}")
    val quoted = failed.map("\"" + _ + "\"")
    val fits = quoted.scanLeft(0)(_ + _.length + 1).tail.takeWhile(_ <= failedBudget).size
    val shown = quoted.take(fits) ++
      (if (fits < quoted.size) Seq(s"\"+${quoted.size - fits} more\"") else Nil)
    val line =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,""" +
        f""""cal_single_s":${calPre._1}%.3f,"cal_allcores_s":${calPre._2}%.3f,""" +
        f""""cal_post_single_s":${calPost._1}%.3f,"cal_post_allcores_s":${calPost._2}%.3f,""" +
        f""""cal_membw_gbps":${bwPre._1}%.1f,"cal_membw_allcores_gbps":${bwPre._2}%.1f,""" +
        f""""cal_post_membw_gbps":${bwPost._1}%.1f,"cal_post_membw_allcores_gbps":${bwPost._2}%.1f,""" +
        f""""contended":$contended,"shared_set_total":$sharedTotal%.3f,""" +
        f""""shared_set_n":$sharedN,"shared_set_retry_total":$retryTotal%.3f,""" +
        f""""failed":${shown.mkString("[", ",", "]")},"sf":"$sfDir"}"""
    require(line.getBytes("UTF-8").length < 1900,
      s"final bench line is ${line.getBytes("UTF-8").length} B >= 1900 B — " +
        "would outrun the 2,000-byte tail capture")
    line
  }

  /** The per-query telemetry line: gc, heap and group-membw maps, then
    * the walls map LAST among the maps (only two short scalars follow
    * it), so a capture that keeps only the tail of the line still holds
    * the walls. `results` rows are (query, median wall s, gc ms, heap MB,
    * group membw GB/s); a group reads clean at `bwCleanGbps` or above.
    */
  def telemetryLine(results: Seq[(String, Double, Long, Long, Double)],
      bwCleanGbps: Double, calRecheck: (Double, Double)): String = {
    def map[V](f: ((String, Double, Long, Long, Double)) => V): String =
      results.map(r => "\"" + r._1 + "\":" + f(r)).mkString("{", ",", "}")
    val walls = map(r => f"${r._2}%.3f")
    val gcs = map(_._3)
    val heaps = map(_._4)
    // per-group membw and its mechanical clean flag
    val bws = map(r => f"${r._5}%.1f")
    val bwClean = map(_._5 >= bwCleanGbps)
    f"""{"telemetry":"per_query","gc_ms":$gcs,"heap_mb":$heaps,""" +
      f""""membw_group_gbps":$bws,"membw_group_clean":$bwClean,"walls":$walls,""" +
      f""""cal_recheck_single_s":${calRecheck._1}%.3f,"cal_recheck_allcores_s":${calRecheck._2}%.3f}"""
  }

  /** Byte budget of the final line's `failed` names. */
  private val failedBudget = 240

  /** JIT code-cache occupancy (MB used across the CodeHeap pools): when
    * this saturates its reserve the sweeper flushes warm nmethods and
    * later groups re-JIT mid-measurement — the drift-on-unchanged-plans
    * mechanism. Printed per group so a future drift report carries the
    * evidence.
    */
  private def codeCacheMb: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName.startsWith("CodeHeap"))
      .map(_.getUsage.getUsed)
      .sum / (1024 * 1024)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val selected = SparkEntry.restrict(headline, SparkEntry.only)
    val spark = Harness.session()

    val failed = scala.collection.mutable.LinkedHashSet[String]()
    def run(name: String): Double =
      try Harness.timed(name)(SparkEntry.queries(name)(spark, sfDir)).secs
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        failed += name
        -1.0
      }

    // Box-speed calibration: a fixed pure-CPU workload, single-threaded
    // and on all cores, measured before any Spark work and again after
    // the sweep. It depends only on the host CPU share this guest gets,
    // so a query drift with calibration moving alongside is box context;
    // with calibration flat it is the code or the plan.
    //
    // The memory-bandwidth arm: the spin loop never leaves L1, so it
    // cannot see a host-level memory-path slowdown, which hits exactly
    // the allocation- and shuffle-bound rows (the string/tokenizer
    // family). A fixed 256 MiB read-only array streamed by 1 and by all
    // threads measures it, reported as aggregate GB/s.
    def memBwGbps(threads: Int, bwArr: Array[Long]): Double = {
      val acc = new java.util.concurrent.atomic.AtomicLong(0L)
      val t0 = System.nanoTime()
      val ts = (1 to threads).map { _ =>
        val t = new Thread(() => {
          var s = 0L; var i = 0
          while (i < bwArr.length) { s += bwArr(i); i += 1 }
          acc.addAndGet(s)
        })
        t.start(); t
      }
      ts.foreach(_.join())
      val secs = (System.nanoTime() - t0) / 1e9
      if (acc.get() == 42L) println("") // keep the loads live
      bwArr.length.toLong * 8L * threads / secs / 1e9
    }
    def calibrate(): (Double, Double) = {
      def spin(iters: Long): Long = {
        var h = 0x9E3779B97F4A7C15L; var i = 0L
        while (i < iters) {
          h ^= i; h *= 0xC2B2AE3D27D4EB4FL; h ^= h >>> 29; i += 1
        }
        h
      }
      spin(20000000L) // JIT warm
      val t1 = System.nanoTime()
      val sink1 = spin(200000000L)
      val single = (System.nanoTime() - t1) / 1e9
      // All-cores arm: every thread runs the FULL loop, so with an
      // uncontended host share the wall equals the single-thread time
      // (perfect scaling) and any excess is cross-core throttling —
      // the direct signature of host contention.
      val n = Runtime.getRuntime.availableProcessors()
      val acc = new java.util.concurrent.atomic.AtomicLong(0L)
      val t2 = System.nanoTime()
      val threads = (1 to n).map { i =>
        val t = new Thread(() => acc.addAndGet(spin(200000000L + i)))
        t.start(); t
      }
      threads.foreach(_.join())
      val all = (System.nanoTime() - t2) / 1e9
      if (sink1 + acc.get() == 42L) println("") // keep the loops live
      (single, all)
    }
    // 256 MiB of longs, allocated per probe and released right after, so
    // it never sits in the old-gen while a query group is measured. A
    // smaller array partially fits in L3, which made the reading
    // cache-sensitive to whatever the group left resident (93–100 GB/s
    // right after array-heavy groups on a verified-clean box).
    def bwArray(): Array[Long] = {
      val a = new Array[Long](32 * 1024 * 1024)
      var i = 0
      while (i < a.length) { a(i) = i.toLong * 0x9E3779B97F4A7C15L; i += 1 }
      a
    }
    def calibrateBw(): (Double, Double) = {
      val a = bwArray()
      memBwGbps(1, a) // warm (page-in + JIT)
      (memBwGbps(1, a), memBwGbps(Runtime.getRuntime.availableProcessors(), a))
    }
    val (calSingle, calAll) = calibrate()
    val (bwSingle, bwAll) = calibrateBw()
    System.err.println(
      f"[bench] cpu-calibration(pre) single=$calSingle%.3fs allcores=$calAll%.3fs " +
        f"membw single=$bwSingle%.1fGB/s allcores=$bwAll%.1fGB/s " +
        f"(fixed 2e8-iter integer-mix loop + 256MiB stream; compare across runs)")

    // One full pre-pass so global one-time costs — JVM/codegen caches,
    // parquet footer reads, DimCache'd vocab/dims dimensions — land
    // before ANY group is measured, keeping group order irrelevant.
    selected.foreach(run)
    Harness.settle(spark)

    // Per-query median of five, measured inside the query's own group:
    // warmup, then five timed runs back to back on a just-settled heap.
    // Median-of-5 is robust to one-sided GC outliers; the group shape
    // keeps cross-query heap pollution out of the number entirely.
    val reps = 5
    // Per-group membw stamp: the endpoint calibration cannot see a
    // minute-scale bandwidth episode inside the sweep. A light all-cores
    // stream probe (~10 ms clean, ~100 ms during an episode), sampled
    // right after each group's timed reps, stamps the conditions that
    // group measured under; `clean` derives from the absolute quiet-box
    // baseline (~200 GB/s all-cores, SCALING.md), so episode readings
    // can be discarded mechanically. The probe runs between groups,
    // never inside a query's number.
    val groupBwCleanGbps = 140.0 // 0.7 × the ~200 GB/s quiet-box baseline
    def groupBwGbps(): Double =
      memBwGbps(Runtime.getRuntime.availableProcessors(), bwArray())
    // Per-query organic gc/heap deltas: gc_ms spans only the five timed
    // reps — after the group warmup, before the settle's deliberate
    // System.gc() — so a drift report reads the GC pressure during this
    // group's measurement straight off the record.
    val results = selected.map { n =>
      run(n) // group-local warmup (C2 finishes mid-flight compiles)
      val gc0 = Harness.gcMs
      val ts = Seq.fill(reps)(run(n))
      val gcDelta = Harness.gcMs - gc0
      val heap = Harness.heapUsedMb
      val med = if (ts.exists(_ < 0)) -1.0 else ts.sorted.apply(reps / 2)
      // Probe AFTER the settle's GC: sampled directly against the
      // group's just-freed heap the probe reads the JVM's own reclaim
      // aftermath (58 GB/s right after an allocation-heavy group on a
      // verified-clean box), not host conditions — the thing the stamp
      // exists to measure.
      Harness.settle(spark)
      val bw = groupBwGbps()
      System.err.println(
        f"[bench] $n%-22s median=$med%7.3fs heap=$heap%5dMB " +
          f"gc_delta=$gcDelta%5dms gc_cum=${Harness.gcMs}%6dms codecache=${codeCacheMb}%4dMB " +
          f"membw=$bw%.1fGB/s")
      (n, med, gcDelta, heap, bw)
    }
    // Pruning evidence for the z-order scan, the bloom-filter point
    // lookup and the IVF,SQ8 index: rows the parquet scan actually READ
    // (after row-group min/max or bloom skipping, or the probe's
    // cell_id partition filter) vs the full table — the factor the
    // layout bought on this hardware at this scale.
    Seq(
      ("scan_zorder_pruned", "rows_read", () => Tables.lineitem(spark, sfDir)),
      ("scan_bloom_pruned", "rows_read", () => Tables.events(spark, sfDir)),
      ("sim_ivfsq8_topk", "index_rows_read", () => Tables.embeddings(spark, sfDir))
    ).filter(e => selected.contains(e._1)).foreach { case (name, label, table) =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect()
      val read = Harness.rowsScanned(df)
      val total = table().count()
      System.err.println(
        f"[bench] $name $label=$read total_rows=$total " +
          f"pruned_factor=${total.toDouble / math.max(read, 1L)}%.1f")
    }
    // Post-sweep calibration arm (see the pre-sweep comment): the pair
    // brackets the whole measurement window.
    val (calSingle2, calAll2) = calibrate()
    val (bwSingle2, bwAll2) = calibrateBw()
    System.err.println(
      f"[bench] cpu-calibration(post) single=$calSingle2%.3fs allcores=$calAll2%.3fs " +
        f"membw single=$bwSingle2%.1fGB/s allcores=$bwAll2%.1fGB/s")
    val total = results.map(_._2).filter(_ >= 0).sum
    val sharedMeasured = results
      .collect { case (k, v, _, _, _) if sharedSet69.contains(k) && v >= 0 => v }
    val sharedTotal = sharedMeasured.sum
    // Contention self-labeling: if either calibration arm moved more
    // than 1.25× across the sweep, in either direction, part of the
    // measurement window was contended, and the record stamps
    // `"contended": true`. After a settle pause a third calibration probe
    // and ONE back-to-back pass over the shared set (single rep each —
    // every query is JIT-warm from the sweep) land in
    // `shared_set_retry_total`, so the record carries its own post-settle
    // tiebreaker. A box equally slow at both ends is invisible to any
    // relative pair; that case shows against the absolute cal_membw
    // baseline in SCALING.md (~200 GB/s all-cores).
    def imb(a: Double, b: Double): Double = math.max(a / b, b / a)
    val degrade = Seq(imb(calSingle2, calSingle), imb(calAll2, calAll),
      imb(bwSingle, bwSingle2), imb(bwAll, bwAll2)).max
    val contended = degrade > 1.25
    var retryTotal = -1.0
    var calRe = (-1.0, -1.0)
    if (contended) {
      System.err.println(
        f"[bench] post-calibration degraded $degrade%.2fx vs pre (>1.25x) — " +
          "stamping contended:true; settling 15s then re-measuring the shared set once")
      Thread.sleep(15000)
      calRe = calibrate()
      val bwRe = calibrateBw()
      System.err.println(
        f"[bench] cpu-calibration(recheck) single=${calRe._1}%.3fs allcores=${calRe._2}%.3fs " +
          f"membw single=${bwRe._1}%.1fGB/s allcores=${bwRe._2}%.1fGB/s")
      Harness.settle(spark)
      retryTotal = selected.filter(sharedSet69.contains)
        .map(run).filter(_ >= 0).sum
      System.err.println(f"[bench] shared-set settle retry total=$retryTotal%.3fs")
    }
    // cal_single_s/cal_allcores_s keep their pre-sweep meaning;
    // cal_recheck_* (post-settle, only taken when contended) rides the
    // telemetry line.
    println(telemetryLine(results, groupBwCleanGbps, calRe))
    println(finalLine(total, results.map(r => r._1 -> r._2).toMap,
      (calSingle, calAll), (calSingle2, calAll2),
      (bwSingle, bwAll), (bwSingle2, bwAll2), contended, sharedTotal,
      sharedMeasured.size, retryTotal, failed.toSeq, sfDir))
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
