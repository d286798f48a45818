package graft

/** Benchmark main — driver contract: one JSON line with per-query wall
  * seconds on SPARK_GRAFT_SF_DIR. Headline set = the NDS-H ports plus the
  * heavier LLM-pipeline operators (LSH dedup, cosine top-k).
  *
  * Each rep is one `Harness.timed` span: the builder call through the
  * completed noop write.
  *
  * Harness shape (round 8, after the round-7 driver run drifted ~1.6×
  * on queries whose code had not changed): each query is measured as a
  * GROUP — two warmups then five timed reps back to back — so its
  * measurement happens immediately after its own warmup, not after a
  * full sweep of every other query has churned the heap. Between groups
  * the harness clears the SQL cache and forces a GC: Spark's
  * ContextCleaner only reclaims dead broadcasts when the JVM collects
  * their weak references, and its own periodic-GC default (30 min) never
  * fires inside a bench run, so without the explicit GC every broadcast
  * any earlier query created (tokenizer vocabs, hint-broadcast dims)
  * stays on the heap for the rest of the run. A per-group stderr line
  * records heap-used and cumulative GC time so a future drift arrives
  * with evidence attached.
  */
object Bench {
  val headline: Seq[String] = Seq(
    "ndsh_q1", "ndsh_q5", "ndsh_q6", "ndsh_q9", "ndsh_q10",
    // round-5 NDS-H widening
    "ndsh_q3", "ndsh_q4", "ndsh_q12", "ndsh_q14", "ndsh_q18",
    "dedup_minhash_lsh", "sim_cosine_topk", "dedup_exact",
    "win_group_scan", "agg_basic_stats",
    // round-3 flagship additions
    "join_asof", "dedup_emb_cosine", "win_ewma_stream",
    // round-5: the capped n-gram verify stage and the (now fully
    // oracled) IVF probe — benched so regressions in the two paths
    // fixed this round stay visible
    "dedup_ngram_jaccard", "sim_ivf_topk",
    // round-7: the last five NDS-H ports (correlated-subquery family)
    "ndsh_q2", "ndsh_q11", "ndsh_q16", "ndsh_q20", "ndsh_q21",
    // round-7: the heavier new pipeline ops (packing is a sorted scan,
    // tfidf a two-shuffle rank, wordpiece a broadcast-vocab UDF)
    "pack_sequences", "text_tfidf_topk", "text_wordpiece",
    // round-8: the newly-oracled scale-join paths (bucketed pays its
    // one-time table write in the warmup — write-once/join-many — so
    // the measured reps time the zero-Exchange read path) and the BPE
    // applier
    "join_bucketed", "join_skew_salted", "text_bpe_portable",
    // round-9: the z-order layout's read path (the one-time clustered
    // write lands in the pre-pass via DimCache; reps time the pruned
    // scan — the harness prints its rows-read vs the full table after
    // the group so the pruning factor is measured on driver hardware),
    // and the PQ encode + ADC top-k path (codebooks DimCache'd in the
    // pre-pass; reps time encode + scoring)
    "scan_zorder_pruned", "sim_ivfpq_topk",
    // round-17: the bloom-filter layout's read path (one-time bloom
    // copy lands in the pre-pass via DimCache; reps time the
    // point-lookup whose row groups the column bloom filter prunes —
    // rows-read evidence printed after the sweep like the z-order line)
    "scan_bloom_pruned",
    // round-18: the SQ8 byte-code ANN read path (bounds + codes write
    // land in the pre-pass via DimCache — write-once/query-many like
    // the PQ codes; reps time the map-only byte-scan asymmetric top-k)
    "sim_sq8_topk",
    // round-19: the SQ8 recall certification (two broadcast-query map
    // passes — raw corpus + persisted byte index — and per-query
    // top-10 windows over the 8-query fanout)
    "sim_sq8_recall",
    // round-19: the IVF,SQ8 composed index read path (cell-partitioned
    // byte codes land in the pre-pass via DimCache; reps time the
    // partition-pruned dequantize + asymmetric top-k — nProbe/nCells
    // of the IO × 4× compression), its composed-recall certification
    // (probe loss + quantization loss measured together), and the
    // plain-IVF recall row that decomposes the two
    "sim_ivfsq8_topk", "sim_ivfsq8_recall", "sim_ivf_recall",
    // round-19: the 1-bit binary index read path (threshold train +
    // 16-byte/row code write land in the pre-pass via DimCache; reps
    // time the integer XOR+popcount Hamming cut + exact rerank) and
    // the matryoshka d/4-prefix retrieve-and-refine (prefix index
    // write in the pre-pass; reps time the quarter-width stage-1 scan
    // + broadcast rerank) — each with its recall certification
    "sim_binary_topk", "sim_binary_recall",
    "sim_matryoshka_topk", "sim_matryoshka_recall",
    // round-19: the PQ/ADC recall certification — the last tier of the
    // ANN matrix (per-query ADC tables broadcast as one 8-row frame;
    // the same two-map-pass + 8-query-window shape as the other rows)
    // — and its retrieve-and-refine twin (ADC-50 → exact-L2 rerank),
    // which together price the 32× tier's raw vs refined recall
    "sim_pq_recall", "sim_pq_rerank_recall",
    // round-20 (r19 verdict task 5): the IVF,SQ8 two-stage
    // retrieve-and-refine — the gate row existed since r19 but had no
    // wall record. The pruned byte scan + TakeOrdered(50) stage rides
    // the same DimCache'd index as sim_ivfsq8_topk; reps add the
    // 50-row broadcast-semi refine read + exact rerank on top, so the
    // declared envelope is sim_ivfsq8_topk + a small broadcast-join
    // constant.
    "sim_ivfsq8_rerank",
    // round-9: incremental near-dedup against the persisted LSH index
    // (index build lands in the warmup pre-pass via DimCache — the
    // write-once/query-many contract — so reps time the steady-state
    // delta-proportional cost a daily ingest actually pays)
    "dedup_incremental_lsh",
    // round-9: CDC upsert — the broadcast-anti-join snapshot refresh
    // (matched rows replaced, inserts appended, base never shuffled)
    "merge_upsert",
    // round-9: batched k-NN retrieval (query set broadcast as literals,
    // one corpus scan, bounded TopKAgg exchange) and the leakage-safe
    // split (LSH pairs → pointer-doubling components → hash split —
    // the full anti-contamination path a training run pays)
    "sim_knn_join", "split_leakage_safe",
    // round-9: exact substring-span dedup (Lee et al. ExactSubstr,
    // distributed: one window-hash count shuffle + broadcast flag join
    // + per-doc island merge — linear in corpus tokens, no pair join)
    "dedup_substring_spans",
    // round-9: fixed-point PageRank over the customer-supplier graph
    // (5 Pregel iterations; edge exchange built once and Reused 26x
    // across the loop — the iterative-numeric-graph family)
    "graph_pagerank",
    // round-9: fixed-point power-iteration top PC over embeddings (5
    // corpus scans, d-row partial-sum exchanges — the spectral member
    // of the iterative family) and the KMV distinct sketch (the
    // oracled approx-distinct: distinct int64 shuffle + bounded
    // TakeOrdered k-smallest)
    "emb_pca_power", "sketch_kmv_distinct",
    // round-10: the curation additions — CMS (fixed 4096-cell sketch
    // state, the wide-domain frequency path), DSIR importance weights
    // (1024-row broadcast model + one linear scoring pass), temperature
    // mixture report (one lang-collapsed aggregate), and CDC chunk
    // dedup (one window exchange + one ordered-fold aggregate)
    "sketch_cms_topk", "dsir_importance", "mix_temperature",
    "chunk_cdc_dedup",
    // round-10: the seven NDS-H ports not yet in the headline — full
    // 22-query NDS-H bench coverage so a regression in any port is
    // driver-visible, not just gate-correct
    "ndsh_q7", "ndsh_q8", "ndsh_q13", "ndsh_q15", "ndsh_q17",
    "ndsh_q19", "ndsh_q22",
    // round-10 late additions: the retrieval pair (inverted-index build
    // — the classic (tok, doc_id) index shuffle — and BM25's broadcast
    // term-model scoring + TakeOrdered ranking), the SRP-LSH recall
    // audit (corpus×|Q| map-side scoring, the ANN self-certification
    // pass), and cohort retention (two user-keyed aggregates sharing a
    // partitioning + a broadcast ratio join)
    "index_postings", "text_bm25_topk", "sim_lsh_recall",
    "cohort_retention",
    // round-10 late additions (cont.): grouped integer OLS (two linear
    // scans + 3-row broadcast model) and daily linear interpolation
    // (one user-day aggregate + one user-partitioned window sort)
    "reg_ols_group", "resample_interpolate",
    // round-10 fourth wave: SCD2 history (WindowGroupLimit map-side
    // top-1 + one key-partitioned interval exchange — the
    // log-to-dimension compaction) and degree-oriented triangle count
    // (compact-forward wedge join over the quarter-windowed co-purchase
    // graph — out-degree bounded O(sqrt m), the skew-survival property)
    "scd2_history", "graph_triangles",
    // round-11: the BPE trainer's oracled distributed core (one
    // map-side-combined word aggregate + bounded pair explosion +
    // TakeOrdered) — benched so the trainer path's cost stays visible
    "text_bpe_pair_stats",
    // round-11 retrieval additions: hybrid RRF fusion (two corpus-scan
    // arms + bounded fuse) and the real header-parse stage (map-side
    // byte walk). sim_mmr_rerank is deliberately NOT here: its bounded
    // greedy result is DimCache'd (the whole answer, not an index), so
    // reps would time a LocalRelation scan — a meaningless number.
    "retrieval_rrf_fusion", "multimodal_headers",
    // round-14: the six queries rewired onto the GlobalOrder grouped
    // prefix scan in r13 (range-partitioned scan + broadcast offsets
    // replacing bounded-key Windows) — benched so the new shape's
    // runtime is tracked round-over-round
    "agg_weighted_median", "win_rank_family", "sample_balanced_labels",
    "mix_token_budget", "qcut_bins", "clean_winsorize")

  /** The pinned round-over-round comparison basis: the 69-query set the
    * r15 column was measured on (headline grew 63→69 at r14, then 70 at
    * r17 with the additive `scan_bloom_pruned`). The require below is a
    * tripwire: a future headline addition must ALSO be excluded here
    * (keeping the basis fixed) or the bench fails at startup — the
    * comparison basis can never drift silently. The bench headline
    * reports `shared_set_total` summed over exactly these queries.
    */
  val sharedSet69: Set[String] =
    (headline.toSet - "scan_bloom_pruned" - "sim_sq8_topk"
      - "sim_sq8_recall" - "sim_ivfsq8_topk" - "sim_ivfsq8_recall"
      - "sim_ivf_recall" - "sim_binary_topk" - "sim_binary_recall"
      - "sim_matryoshka_topk" - "sim_matryoshka_recall" - "sim_pq_recall"
      - "sim_pq_rerank_recall" - "sim_ivfsq8_rerank")
  require(sharedSet69.size == 69, s"pinned shared set drifted: ${sharedSet69.size}")

  /** The four NDS-H flagship walls carried on the FINAL line — a FIXED
    * set so the line's size never grows with the headline (the full
    * per-query map lives on the earlier telemetry line).
    */
  val flagships: Seq[String] = Seq("ndsh_q1", "ndsh_q5", "ndsh_q6", "ndsh_q9")

  /** Growth-proof final-line renderer (r20, verdict task 1). BENCH_r17
    * and BENCH_r19 both came back `parsed: null` for the same mechanism:
    * the final stdout line carried EVERY per-query wall, so each
    * headline addition grew it until it outran the driver's 2,000-byte
    * tail-capture window (2,036 B at 81 queries in r19). The final line
    * is now a FIXED-field record whose byte size is independent of
    * headline growth: totals, the four flagship walls, the calibration
    * bracket, the contention verdict (verdict task 2), and the pinned
    * shared-set basis. Full per-query walls/gc/heap move to the earlier
    * telemetry line — greppable, sacrificial under tail truncation.
    * The <1,900 B contract is enforced twice: the require here (trips
    * in every local run and spec) and BenchEmissionSpec's worst-case
    * render.
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
        "would outrun the driver's 2,000-byte tail capture (r17/r19 failure mode)")
    line
  }

  /** Byte budget of the final line's `failed` names. */
  private val failedBudget = 240

  private def heapUsedMb: Long = {
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024)
  }

  private def gcMillis: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime)
      .sum
  }

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
    // Local-iteration hook: SPARK_GRAFT_BENCH_ONLY=q1,q2 measures just
    // those queries under the identical group harness. The driver leaves
    // it unset, so official BENCH_r{N} numbers always cover the full set.
    val selected = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .map(only => headline.filter(only.contains))
      .getOrElse(headline)
    val spark = Harness.session()

    val failed = scala.collection.mutable.LinkedHashSet[String]()
    def run(name: String): Double =
      try Harness.timed(name)(SparkEntry.queries(name)(spark, sfDir)).secs
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        failed += name
        -1.0
      }

    // Drop caches and give the ContextCleaner a GC to ride: dead
    // broadcasts/accumulators are weak-ref-triggered, and nothing else
    // collects the old-gen during a bench run.
    def groupCleanup(): Unit = {
      spark.catalog.clearCache()
      System.gc()
      Thread.sleep(200) // let the cleaner thread drain its queue
    }

    // Box-speed calibration (r15, after two drift adjudications had to
    // infer host contention from uniformity arguments): a fixed
    // pure-CPU workload — single-threaded and all-cores — measured
    // before any Spark work. The numbers depend only on the host CPU
    // share this guest actually gets, so a future round-over-round
    // query drift arrives with direct evidence: calibration moved with
    // it ⇒ box context; calibration flat ⇒ code/plan regression.
    //
    // r20 addition — the MEMORY-BANDWIDTH arm: the r19→r20 drift
    // adjudication found the whole string/alloc-heavy family elevated
    // 1.1–1.5× (text_bpe_portable 0.375→0.46, text_bpe_pair_stats
    // 0.19→0.29, text_wordpiece 0.21→0.26) at FLAT cpu calibration —
    // the register-arithmetic spin loop never leaves L1, so it cannot
    // see a host-level memory-path slowdown that hits exactly the
    // allocation/shuffle-bound rows. A fixed 256 MiB shared read-only
    // array streamed by 1 and by all threads measures what that loop
    // is blind to; reported as aggregate GB/s next to the cpu pair.
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
    // r17 (verdict task 2): the r16 drift adjudication could not tell
    // whether the box slowed DURING the sweep because the probe ran only
    // once, before any Spark work. Sample the identical probe before AND
    // after the sweep: a post-sweep tax above the pre-sweep tax is the
    // direct signature of contention arriving mid-run — the failure mode
    // the single-sample instrument missed in r16.
    // the 256 MiB array is allocated per call and released right after,
    // so it never sits in the old-gen while a query group is measured
    def calibrateBw(): (Double, Double) = {
      val a = new Array[Long](32 * 1024 * 1024) // 256 MiB of longs
      var i = 0
      while (i < a.length) { a(i) = i.toLong * 0x9E3779B97F4A7C15L; i += 1 }
      memBwGbps(1, a) // warm (page-in + JIT)
      val r = (memBwGbps(1, a), memBwGbps(Runtime.getRuntime.availableProcessors(), a))
      r
    }
    val (calSingle, calAll) = calibrate()
    val (bwSingle, bwAll) = calibrateBw()
    System.err.println(
      f"[bench] cpu-calibration(pre) single=$calSingle%.3fs allcores=$calAll%.3fs " +
        f"membw single=$bwSingle%.1fGB/s allcores=$bwAll%.1fGB/s " +
        f"(fixed 2e8-iter integer-mix loop + 256MiB stream; compare across rounds)")

    // One full pre-pass so global one-time costs — JVM/codegen caches,
    // parquet footer reads, DimCache'd vocab/dims dimensions — land
    // before ANY group is measured, keeping group order irrelevant.
    selected.foreach(run)
    groupCleanup()

    // Per-query median of five, measured inside the query's own group:
    // warmup, then five timed runs back to back on a just-cleaned heap.
    // Median-of-5 is robust to one-sided GC outliers; the group shape
    // keeps cross-query heap pollution out of the number entirely.
    val reps = 5
    // Per-GROUP membw stamp (r22, verdict task 2): the endpoint-only
    // calibration bracket cannot see minute-scale bandwidth episodes
    // INSIDE the sweep, so both r20 and r21 adjudications had to argue
    // per-query drift from forensics. A light all-cores stream probe
    // (64 MiB/thread, ~10 ms clean / ~100 ms during an episode) sampled
    // right after each group's timed reps stamps the conditions that
    // group actually measured under; `clean` derives from the absolute
    // quiet-box baseline (~200 GB/s all-cores, SCALING.md) so episode
    // readings can be discarded mechanically. Probe cost sits between
    // groups — never inside any query's number; the array is allocated
    // per call and released before the next group's warmup GC.
    val groupBwCleanGbps = 140.0 // 0.7 × the ~200 GB/s quiet-box baseline
    def groupBwGbps(): Double = {
      // Same 256 MiB footprint as the endpoint calibration: a smaller
      // array partially fits in L3, which made the reading
      // cache-sensitive to whatever the group left resident (93–100
      // GB/s right after array-heavy groups on a verified-clean box).
      val a = new Array[Long](32 * 1024 * 1024)
      var i = 0
      while (i < a.length) { a(i) = i.toLong * 0x9E3779B97F4A7C15L; i += 1 }
      memBwGbps(Runtime.getRuntime.availableProcessors(), a)
    }
    // Per-query ORGANIC gc/heap deltas (r17, mirroring the r16
    // AmplifiedBench telemetry): gc_ms spans only the five timed reps —
    // after the group warmup, before groupCleanup's deliberate
    // System.gc() pauses — so a per-query drift adjudication can read
    // "GC pressure during this group's measurement" straight off
    // BENCH_r{N}.json instead of re-running the query in a fresh JVM.
    val results = selected.map { n =>
      run(n) // group-local warmup (C2 finishes mid-flight compiles)
      val gc0 = gcMillis
      val ts = Seq.fill(reps)(run(n))
      val gcDelta = gcMillis - gc0
      val heap = heapUsedMb
      val med = if (ts.exists(_ < 0)) -1.0 else ts.sorted.apply(reps / 2)
      // Probe AFTER groupCleanup's GC: sampled directly against the
      // group's just-freed heap the probe reads the JVM's own reclaim
      // aftermath (58 GB/s right after an allocation-heavy group on a
      // verified-clean box), not host conditions — the thing the stamp
      // exists to measure.
      groupCleanup()
      val bw = groupBwGbps()
      System.err.println(
        f"[bench] $n%-22s median=$med%7.3fs heap=$heap%5dMB " +
          f"gc_delta=$gcDelta%5dms gc_cum=${gcMillis}%6dms codecache=${codeCacheMb}%4dMB " +
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
    // Round-over-round comparison basis: the pinned 69-query set's
    // total, machine-readable so the trajectory stops recomputing it
    // from prose (r17 verdict task 5).
    val sharedMeasured = results
      .collect { case (k, v, _, _, _) if sharedSet69.contains(k) && v >= 0 => v }
    val sharedTotal = sharedMeasured.sum
    // Contamination self-labeling (r20, verdict task 2): the r19 driver
    // record read 42.1 s where the identical tree's quiet-box run read
    // 35.95 s, and the calibration pair already flagged it (post-single
    // 1.6× pre) — but the record didn't ACT on its own signal, so the
    // builder's corroborating run was needed to interpret it. Now: if
    // either calibration arm degraded >1.25× across the sweep, the
    // record stamps `"contended": true`, and after a settle pause a
    // third calibration probe plus ONE back-to-back pass over the
    // shared set (single rep each — every query is JIT-warm from the
    // sweep) lands in `shared_set_retry_total`, so the official record
    // carries its own post-settle tiebreaker instead of borrowing one.
    // SYMMETRIC imbalance (r20, second iteration): the first full r20
    // run degraded post-vs-pre and was stamped; the very next run had
    // the mirror image — contention PRESENT at the pre probe (all-cores
    // 1.78 s, membw 16 GB/s) that cleared by the post probe — and a
    // one-directional check called it clean. Contention at EITHER end
    // of the bracket means part of the measurement window was dirty,
    // so the stamp fires on imbalance in either direction. (A box that
    // is equally slow at both ends is invisible to any relative pair —
    // that case is caught round-over-round against the absolute
    // cal_membw baseline recorded in SCALING.md, ~200 GB/s all-cores.)
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
      groupCleanup()
      retryTotal = selected.filter(sharedSet69.contains)
        .map(run).filter(_ >= 0).sum
      System.err.println(f"[bench] shared-set settle retry total=$retryTotal%.3fs")
    }
    val qs = results
      .map { case (k, v, _, _, _) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val gcs = results
      .map { case (k, _, g, _, _) => "\"" + k + "\":" + g }
      .mkString("{", ",", "}")
    val heaps = results
      .map { case (k, _, _, h, _) => "\"" + k + "\":" + h }
      .mkString("{", ",", "}")
    // r22 (verdict task 2): per-group membw + a mechanical clean flag on
    // the sacrificial telemetry line (additions-only; the byte-bounded
    // final line is unchanged).
    val bws = results
      .map { case (k, _, _, _, b) => "\"" + k + "\":" + f"$b%.1f" }
      .mkString("{", ",", "}")
    val bwClean = results
      .map { case (k, _, _, _, b) =>
        "\"" + k + "\":" + (b >= groupBwCleanGbps) }
      .mkString("{", ",", "}")
    // Emission (r20, verdict task 1 — supersedes the r18 two-line
    // split, which still let the final line GROW with the headline and
    // regrew the parsed:null failure at 81 queries): the full per-query
    // walls + gc/heap telemetry go FIRST on their own line (greppable,
    // sacrificial under the driver's 2,000-byte tail capture), and the
    // FINAL line is the fixed-field record rendered by `finalLine` —
    // its size is independent of headline growth and byte-asserted
    // <1,900 B. cal_single_s/cal_allcores_s keep their r15 meaning
    // (pre-sweep) so the round-over-round tax comparison stays one
    // column; cal_recheck_* (post-settle, only taken when contended)
    // rides the telemetry line.
    println(
      f"""{"telemetry":"per_query","walls":$qs,"gc_ms":$gcs,"heap_mb":$heaps,""" +
        f""""membw_group_gbps":$bws,"membw_group_clean":$bwClean,""" +
        f""""cal_recheck_single_s":${calRe._1}%.3f,"cal_recheck_allcores_s":${calRe._2}%.3f}""")
    println(finalLine(total, results.map(r => r._1 -> r._2).toMap,
      (calSingle, calAll), (calSingle2, calAll2),
      (bwSingle, bwAll), (bwSingle2, bwAll2), contended, sharedTotal,
      sharedMeasured.size, retryTotal, failed.toSeq, sfDir))
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
