package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-up evidence harness: runs a selected query set at 1× and at an
  * N×-amplified copy of the same scale factor, reporting per-query wall
  * seconds and the scaling ratio (reference benches SF ∈ {0.01, 0.1, 1},
  * `cpp/benchmarks/ndsh/q01.cpp:182`; /root/testdata is read-only with
  * no sf1 directory, so the 10× set is built here from sf0.1 — the
  * honest equivalent).
  *
  * Amplification is FK-CONSISTENT key-shifted replication (the
  * ScaleProbe pattern promoted to whole-dataset scope): copy `i` of
  * every SF-scaled table shifts each key that references another
  * SF-scaled table by `i × (max(key) + 1)` — so copy i's orders join
  * copy i's customers and nobody else's, and per-copy join/group
  * cardinalities match a real larger SF. Bounded dimensions (nation,
  * region) are NOT replicated, exactly as TPC-H holds them constant
  * across SF. Document texts are salted per replica (realistic-growth
  * axis: shingles differ across replicas, so LSH bucket occupancy grows
  * the way a real corpus grows — the identical-replica worst case is
  * ScaleProbe's separate axis). Embedding vectors are kept identical
  * (payload, not key) — ANN timing depends on corpus size, not vector
  * novelty.
  *
  * Expected law: wall(N×) ≤ ~N × wall(1×) for every query (shuffles and
  * scans are linear; broadcast sides are the UNREPLICATED dims or
  * bounded artifacts). A query scaling ≫N× is a scale bug — that is
  * the regression this harness exists to catch before a real cluster
  * does.
  *
  * Usage: runMain graft.AmplifiedBench [sfDir] [factor] [reps]
  * Output: one JSON line per (query, factor); any row whose ratio
  * exceeds the adjudication threshold gets a SECOND line at the end of
  * the run (`"adjudication_deferred":true`) carrying the fresh-JVM
  * child's own base/amp/ratio, measured after the sweep drained.
  */
object AmplifiedBench {

  /** NDS-H 22 + the six r13 grouped-scan rewires + the five most
    * expensive driver-bench entries + the round-14 pandas-API shapes
    * (fine-grained-key windows, GlobalOrder stride/ngroup, one-scan
    * searchsorted).
    */
  val selection: Seq[String] =
    (1 to 22).map(i => s"ndsh_q$i") ++ Seq(
      "agg_weighted_median", "win_rank_family", "sample_balanced_labels",
      "mix_token_budget", "qcut_bins", "clean_winsorize",
      "graph_pagerank", "join_skew_salted", "dedup_substring_spans",
      "retrieval_rrf_fusion", "dedup_ngram_jaccard",
      "win_pct_change", "win_rank_ties", "win_cumprod",
      "sort_searchsorted", "slice_stride", "group_head_tail",
      "decontaminate_bloom", "reshape_hconcat", "emb_gram_matrix",
      // r15: the heavy retrieval/sketch/graph rows the r14 sweep lacked
      "text_bm25_topk", "index_postings", "sketch_cms_topk",
      "emb_pca_power", "graph_triangles",
      // r18: the new SQ8 byte-code ANN — bounds are d min/max pairs
      // (scale-free dimension, DimCache'd in the warmup with the codes
      // write), so the timed reps measure the map-only byte-scan top-k;
      // expect ~linear-or-below in corpus size
      "sim_sq8_topk",
      // r19: the SQ8 recall certification — two broadcast-query map
      // passes (raw corpus + byte index) + per-query top-10 windows;
      // expect ~linear in corpus size with the same fixed-overhead
      // amortization as the other ANN rows
      "sim_sq8_recall",
      // r19: the IVF,SQ8 composed read path — cell-partitioned byte
      // codes (index write DimCache'd in the warmup), probe =
      // partition-pruned scan of 2/8 cells; expect sublinear (the
      // pruned fraction is constant, per-cell population grows
      // linearly) with byte-scan fixed-overhead amortization
      "sim_ivfsq8_topk",
      // r19: the 1-bit binary index read path — thresholds + 16-byte
      // codes write DimCache'd in the warmup; timed reps measure the
      // integer XOR+popcount Hamming cut + 64-candidate exact rerank;
      // expect ~linear-or-below (two-long scan, fixed-overhead heavy)
      "sim_binary_topk",
      // r19: the matryoshka d/4-prefix retrieve-and-refine — prefix
      // index write in the warmup; timed reps measure the
      // quarter-width stage-1 scan + broadcast rerank; expect ~linear
      // in corpus with a 4× smaller byte base than the raw scan
      "sim_matryoshka_topk",
      // r20 (r19 verdict task 5): the IVF,SQ8 two-stage
      // retrieve-and-refine — stage 1 is sim_ivfsq8_topk's
      // partition-pruned byte scan (expect its sublinear curve), stage
      // 2 a 50-row broadcast-semi refine read whose cost is the raw
      // scan of the candidate rows — so expect ~sim_ivfsq8_topk plus a
      // near-constant rerank term
      "sim_ivfsq8_rerank",
      // r15: streaming-gate replays — the state-store-bound trio. Each
      // gate query stages its replay dir ONCE per (JVM, dataset dir)
      // via DimCache (r15 change), so the warmup pays the staging write
      // and the timed reps measure the AvailableNow replay itself:
      // source scan → stateful operator (state store) → memory sink.
      "stream_near_dedup", "stream_postings", "stream_kmv_window",
      // r16: the arrival-order-independent windowed OHLC face
      "stream_ohlc",
      // r17: the bloom point-lookup. Rows MATERIALIZED stay ~one row
      // group at any corpus size; what grows is the per-row-group
      // metadata work (footer entries + one bloom check each), which is
      // linear in group count — and the demo layout's fixed 64 KB
      // groups make group count itself linear in corpus size, so the
      // measured 10× ratio is ~2.9 (sublinear), not flat. Production
      // 128 MB groups grow ~2000× slower, pushing the same curve toward
      // flat. A ratio approaching 10 would mean the bloom stopped
      // pruning and DATA reads went linear — the regression this row
      // exists to catch.
      "scan_bloom_pruned")

  /** Writes the factor-amplified dataset as `{table}.parquet` under a
    * temp dir honoring the same directory contract as /root/testdata,
    * so every registered query runs on it unchanged.
    */
  def buildAmplified(spark: SparkSession, sfDir: String, f: Int): String = {
    val out = System.getProperty("java.io.tmpdir") + s"/graft_amp_${f}x"
    // Reuse hook for the fresh-JVM adjudication child (r17): the child
    // re-measures ONE query on the identical amplified dataset the sweep
    // just used — rebuilding it would both waste minutes and break
    // "same input, fresh heap" as the only changed variable.
    val marker = java.nio.file.Paths.get(out, "_SUCCESS_GRAFT")
    if (sys.env.contains("SPARK_GRAFT_AMP_REUSE") &&
        java.nio.file.Files.exists(marker) &&
        new String(java.nio.file.Files.readAllBytes(marker), "UTF-8") == sfDir) {
      System.err.println(s"[amp] reusing existing ${f}x dataset at $out")
      return out
    }
    def shiftOf(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1L

    val cust = Tables.customer(spark, sfDir)
    val ord = Tables.orders(spark, sfDir)
    val sup = Tables.supplier(spark, sfDir)
    val prt = Tables.part(spark, sfDir)
    val cShift = shiftOf(cust, "c_custkey")
    val oShift = shiftOf(ord, "o_orderkey")
    val sShift = shiftOf(sup, "s_suppkey")
    val pShift = shiftOf(prt, "p_partkey")

    /** Replicate with each (column → per-copy shift step) applied. */
    def amp(df: DataFrame, shifts: Map[String, Long],
            saltText: Boolean = false): DataFrame =
      (0 until f).map { i =>
        val shifted = df.columns.foldLeft(df) { (d, c) =>
          shifts.get(c) match {
            case Some(step) =>
              d.withColumn(c, col(c) + lit(i.toLong * step))
            case None if saltText && c == "text" && i > 0 =>
              d.withColumn(c, expr(
                s"concat_ws(' ', transform(split(text, ' '), t -> concat(t, '_r$i')))"))
            case None => d
          }
        }
        shifted
      }.reduce(_ unionByName _)

    def write(name: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")

    // bounded dims: constant across SF, exactly like TPC-H
    write("nation", Tables.nation(spark, sfDir))
    write("region", Tables.region(spark, sfDir))
    write("customer", amp(cust, Map("c_custkey" -> cShift)))
    write("supplier", amp(sup, Map("s_suppkey" -> sShift)))
    write("part", amp(prt, Map("p_partkey" -> pShift)))
    write("orders",
      amp(ord, Map("o_orderkey" -> oShift, "o_custkey" -> cShift)))
    write("lineitem", amp(Tables.lineitem(spark, sfDir), Map(
      "l_orderkey" -> oShift, "l_partkey" -> pShift, "l_suppkey" -> sShift)))
    val ev = Tables.events(spark, sfDir)
    write("events", amp(ev, Map(
      "event_id" -> shiftOf(ev, "event_id"),
      "user_id" -> cShift))) // user_id joins c_custkey — same step
    val docs = Tables.documents(spark, sfDir)
    write("documents",
      amp(docs, Map("doc_id" -> shiftOf(docs, "doc_id")), saltText = true))
    val emb = Tables.embeddings(spark, sfDir)
    write("embeddings", amp(emb, Map("vec_id" -> shiftOf(emb, "vec_id"))))
    // completeness marker for the reuse hook (parquet's own _SUCCESS is
    // per-table; this one certifies the whole directory)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(out, "_SUCCESS_GRAFT"),
      sfDir.getBytes("UTF-8"))
    out
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(10)
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    val spark = Harness.session()

    val (ampDir, built) = Harness.measure("amplify")(buildAmplified(spark, sfDir, factor))
    System.err.println(
      f"[amp] built ${factor}x dataset at $ampDir in ${built.secs}%.1fs")

    def run(name: String, dir: String): Double =
      try Harness.timed(name)(SparkEntry.queries(name)(spark, dir)).secs
      catch { case e: Throwable =>
        System.err.println(s"[amp] $name failed on $dir: ${e.getMessage}")
        -1.0
      }

    // Bench.scala's group harness shape: per-(query, dir) warmup then
    // timed reps with a cache-clear + GC between groups, so broadcasts
    // from the 10x group never sit on the heap during the 1x group.
    def cleanup(): Unit = {
      // Each stream_* rep registers a fresh memory-sink temp view
      // (gate_*_N) holding its full replay result on the driver heap;
      // drop them here so a 10x group's ~(reps+1) sinks are reclaimable
      // before the next group runs (clearCache alone leaves the views
      // — and their rows — referenced for the whole session).
      spark.catalog.listTables().collect()
        .filter(t => t.isTemporary && t.name.startsWith("gate_"))
        .foreach(t => spark.catalog.dropTempView(t.name))
      spark.catalog.clearCache(); System.gc(); Thread.sleep(200)
    }
    // cleanup() runs OUTSIDE the caller's gc_ms sampling span: its two
    // forced System.gc() full collections are deliberate harness pauses,
    // not the organic GC pressure the telemetry column exists to expose.
    def medianSecs(name: String, dir: String): Double = {
      run(name, dir)
      val ts = Seq.fill(reps)(run(name, dir))
      if (ts.exists(_ < 0)) -1.0 else ts.sorted.apply(reps / 2)
    }

    // Local-iteration filter, same contract as Verify's SPARK_GRAFT_ONLY.
    val only = sys.env.get("SPARK_GRAFT_AMP_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // Per-row heap/GC telemetry (r16): the 50-query r16 sweep measured
    // sketch_cms_topk at 13.5x while a fresh JVM measures the same
    // query at 1.2x in harness order — late-sweep GC pressure, not the
    // plan. These columns make that adjudication a lookup instead of a
    // re-run: a high ratio WITH a gc jump is sweep context; without, code.
    def gcMs(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    }
    // Machine-enforced adjudication (r17 task 3, DEFERRED in r19 —
    // verdict task 1): any sweep row whose ratio exceeds the threshold
    // re-runs in a fresh child JVM on the identical amplified dataset
    // (SPARK_GRAFT_AMP_REUSE). In r17–r18 the child launched INSIDE the
    // sweep, so it competed with the parent's hot heap and 32 busy
    // threads — join_skew_salted's r18 child read 8.66 where a
    // standalone run read 4.72, and a hand run was needed to settle it.
    // Now adjudication queues during the sweep and the children run
    // only AFTER the sweep fully drains: temp views dropped, cache
    // cleared, the parent's SparkSession STOPPED, heap GC'd, and a
    // settle pause — the parent is an idle waiter while each child
    // measures. The child re-measures BASE and AMP itself, so its ratio
    // is internally consistent (same JVM, same dataset, fresh heap).
    val adjThreshold = sys.env.get("SPARK_GRAFT_AMP_ADJ_THRESHOLD")
      .map(_.toDouble).getOrElse(3.0)
    val settleMs = sys.env.get("SPARK_GRAFT_AMP_SETTLE_MS")
      .map(_.toLong).getOrElse(8000L)
    val noAdj = sys.env.contains("SPARK_GRAFT_AMP_NO_ADJ")
    // child row: (base_secs, amp_secs, ratio) parsed from its one data line
    def freshJvmRun(query: String): Option[(Double, Double, Double)] = {
      import scala.jdk.CollectionConverters._
      val javaBin = System.getProperty("java.home") + "/bin/java"
      val jvmFlags = java.lang.management.ManagementFactory
        .getRuntimeMXBean.getInputArguments.asScala
        .filter(a => a.startsWith("--add-opens") ||
          a.startsWith("--add-exports") || a.startsWith("-Xmx") ||
          a.startsWith("-XX:") || a.startsWith("-Dspark."))
      val cmd = (Seq(javaBin) ++ jvmFlags ++ Seq(
        "-cp", System.getProperty("java.class.path"),
        "graft.AmplifiedBench", sfDir, factor.toString, reps.toString)).asJava
      val pb = new ProcessBuilder(cmd)
      pb.environment().put("SPARK_GRAFT_AMP_ONLY", query)
      pb.environment().put("SPARK_GRAFT_AMP_REUSE", "1")
      pb.environment().put("SPARK_GRAFT_AMP_NO_ADJ", "1")
      pb.environment().put("SPARK_GRAFT_CPUS", Harness.cpus.toString)
      pb.redirectErrorStream(false)
      pb.redirectError(ProcessBuilder.Redirect.INHERIT)
      val p = pb.start()
      val outLines = scala.io.Source.fromInputStream(p.getInputStream)
        .getLines().toList
      p.waitFor()
      // the child prints exactly one data row for the selected query
      outLines.find(_.contains(s""""query":"$query"""")).flatMap { line =>
        def num(key: String): Option[Double] =
          (s""""$key":([-0-9.]+)""").r.findFirstMatchIn(line)
            .map(_.group(1).toDouble)
        for (b <- num("base_secs"); a <- num("amp_secs"); r <- num("ratio"))
          yield (b, a, r)
      }
    }
    // Inclusion-rule header (r20, r19 verdict task 7): the sweep covers
    // a SELECTION, not the full bench headline — until now the rule
    // lived in code comments, so a reader of the artifact alone could
    // mistake partial coverage for full. The first output line names
    // the rule and lists the headline queries NOT swept, computed at
    // runtime so it can never drift from the actual sets.
    if (only.isEmpty) {
      val excluded = Bench.headline.filterNot(selection.contains)
      println(
        s"""{"meta":"selection_rule","swept":${selection.size},""" +
          s""""headline_excluded_n":${excluded.size},""" +
          s""""rule":"sweep = NDS-H 22 + grouped-scan rewires + heaviest driver-bench rows + pandas-API shapes + ANN index read paths + state-store streaming replays; excluded headline families: recall-certification rows (8-query broadcast windows, work bounded by the fixed query set), rows with their own ScaleProbe axis (pack_sequences, tfidf, incremental LSH), light fixed-overhead-dominated scan/agg/join rows, and DimCache'd bounded-result rows",""" +
          s""""headline_excluded":[${excluded.map("\"" + _ + "\"").mkString(",")}]}""")
    }
    val pending = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    val rows = selection.filter(n => only.forall(_.contains(n))).map { n =>
      val gc0 = gcMs()
      val base = medianSecs(n, sfDir)
      val gcBase = gcMs() - gc0
      cleanup()
      val gc1 = gcMs()
      val amp = medianSecs(n, ampDir)
      val gcAmp = gcMs() - gc1
      cleanup()
      val ratio = if (base > 0 && amp > 0) amp / base else -1.0
      val rt = Runtime.getRuntime
      val heapMb = (rt.totalMemory - rt.freeMemory) / 1048576
      // gc_base_ms/gc_amp_ms split (r17 ADVICE): a base-side GC spike
      // DEFLATES the ratio, an amp-side spike inflates it — one summed
      // column could not say which group the pressure hit.
      if (!noAdj && ratio > adjThreshold) {
        System.err.println(
          f"[amp] $n sweep ratio $ratio%.2f > $adjThreshold%.1f — " +
            "queued for post-drain fresh-JVM adjudication")
        pending += ((n, ratio))
      }
      println(f"""{"query":"$n","base_secs":$base%.3f,"amp_secs":$amp%.3f,"factor":$factor,"ratio":$ratio%.2f,"gc_base_ms":$gcBase,"gc_amp_ms":$gcAmp,"heap_mb":$heapMb}""")
      (n, base, amp, ratio)
    }
    val worst = rows.filter(_._4 > 0).sortBy(-_._4).take(5)
    System.err.println("[amp] worst ratios: " + worst.map { case (n, _, _, r) =>
      f"$n=$r%.1f" }.mkString(", "))
    if (pending.nonEmpty) {
      // drain: the children must see an idle box, not the sweep's tail
      cleanup()
      spark.stop()
      System.gc()
      System.err.println(
        s"[amp] sweep drained; settling ${settleMs}ms before " +
          s"${pending.size} adjudication child(ren)")
      Thread.sleep(settleMs)
      pending.foreach { case (n, sweepRatio) =>
        freshJvmRun(n) match {
          case Some((b, a, fr)) =>
            // fr < 0 means the child ran but its query FAILED — that
            // must not read as exoneration (r17 ADVICE): a failed
            // re-run proves nothing about the sweep reading.
            val verdict =
              if (fr < 0) "child_failed"
              else if (fr <= adjThreshold) "sweep_context"
              else "code"
            println(
              f"""{"query":"$n","adjudication_deferred":true,"sweep_ratio":$sweepRatio%.2f,"fresh_base_secs":$b%.3f,"fresh_amp_secs":$a%.3f,"fresh_ratio":$fr%.2f,"adjudication":"$verdict"}""")
          case None =>
            println(
              f"""{"query":"$n","adjudication_deferred":true,"sweep_ratio":$sweepRatio%.2f,"fresh_ratio":-1,"adjudication":"child_failed"}""")
        }
      }
    } else spark.stop()
  }
}
