package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The scale sweep: runs the [[Tag.Sweep]] rows at 1× and at an
  * N×-amplified copy of the same scale factor, reporting per-query wall
  * seconds and the scaling ratio (reference benches SF ∈ {0.01, 0.1, 1},
  * `cpp/benchmarks/ndsh/q01.cpp:182`; /root/testdata is read-only with
  * no sf1 directory, so the 10× set is built here from sf0.1 — the
  * honest equivalent).
  *
  * Amplification is FK-CONSISTENT key-shifted replication: copy `i` of
  * every SF-scaled table shifts each key that references another
  * SF-scaled table by `i × (max(key) + 1)` — so copy i's orders join
  * copy i's customers and nobody else's, and per-copy join/group
  * cardinalities match a real larger SF. Bounded dimensions (nation,
  * region) are NOT replicated, exactly as TPC-H holds them constant
  * across SF. Document texts are salted per replica (shingles differ
  * across replicas, so LSH bucket occupancy grows the way a real corpus
  * grows; the identical-replica laws are specs, see `replicate`).
  * Embedding vectors are kept identical (payload, not key) — ANN timing
  * depends on corpus size, not vector novelty.
  *
  * Expected law: wall(N×) ≤ ~N × wall(1×) for every query (shuffles and
  * scans are linear; broadcast sides are the UNREPLICATED dims or
  * bounded artifacts). A query scaling ≫N× is a scale bug — that is
  * the regression this harness exists to catch before a real cluster
  * does.
  *
  * Usage: runMain graft.AmplifiedBench [sfDir] [factor] [reps] [q1,q2,...]
  * (the last argument restricts the sweep to those rows).
  * Output: one JSON line per (query, factor); any row whose ratio
  * exceeds [[AdjudicationRatio]] gets a SECOND line at the end of the
  * run (`"adjudication_deferred":true`) carrying the fresh-JVM child's
  * own base/amp/ratio, measured after the sweep drained.
  */
object AmplifiedBench {

  /** A sweep row whose ratio exceeds this re-runs in a fresh JVM after
    * the sweep has drained.
    */
  private val AdjudicationRatio = 3.0

  /** Idle pause between the drained sweep and the first child. */
  private val SettleMs = 8000L

  /** The per-copy step of a key column: `max(key) + 1`, so shifted
    * copies occupy disjoint id ranges.
    */
  private[graft] def keyStep(df: DataFrame, key: String): Long =
    df.agg(max(col(key))).head().getLong(0) + 1L

  /** `f` copies of `df`, unioned. Copy `i` moves each column in `shifts`
    * by `i × step`; with `salt`, copy `i > 0` also suffixes every token
    * of `text` with `_r<i>`, so no shingle is shared across copies.
    * Copy 0 is `df` itself. Without `salt` every document of copy `i`
    * is an exact duplicate of its copy-0 original — the input of the
    * replication-invariance specs.
    */
  private[graft] def replicate(df: DataFrame, f: Int, shifts: Map[String, Long],
      salt: Boolean = false): DataFrame =
    (0 until f).map { i =>
      df.select(df.columns.toSeq.map { c =>
        shifts.get(c) match {
          case Some(step) => (col(c) + lit(i * step)).as(c)
          case None if salt && c == "text" && i > 0 => expr(
            s"concat_ws(' ', transform(split(text, ' '), t -> concat(t, '_r$i')))").as(c)
          case None => col(c)
        }
      }: _*)
    }.reduce(_ unionByName _)

  /** Writes the factor-amplified dataset as `{table}.parquet` under this
    * JVM's artifact dir `amp<f>x`, with the input dir's layout, so every
    * registered query runs on it unchanged.
    */
  private def buildAmplified(spark: SparkSession, sfDir: String, f: Int): String = {
    val out = DimCache.artifactPath(s"amp${f}x", sfDir)
    val cust = Tables.customer(spark, sfDir)
    val ord = Tables.orders(spark, sfDir)
    val sup = Tables.supplier(spark, sfDir)
    val prt = Tables.part(spark, sfDir)
    val cShift = keyStep(cust, "c_custkey")
    val oShift = keyStep(ord, "o_orderkey")
    val sShift = keyStep(sup, "s_suppkey")
    val pShift = keyStep(prt, "p_partkey")

    def write(name: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")

    // bounded dims: constant across SF, exactly like TPC-H
    write("nation", Tables.nation(spark, sfDir))
    write("region", Tables.region(spark, sfDir))
    write("customer", replicate(cust, f, Map("c_custkey" -> cShift)))
    write("supplier", replicate(sup, f, Map("s_suppkey" -> sShift)))
    write("part", replicate(prt, f, Map("p_partkey" -> pShift)))
    write("orders",
      replicate(ord, f, Map("o_orderkey" -> oShift, "o_custkey" -> cShift)))
    write("lineitem", replicate(Tables.lineitem(spark, sfDir), f, Map(
      "l_orderkey" -> oShift, "l_partkey" -> pShift, "l_suppkey" -> sShift)))
    val ev = Tables.events(spark, sfDir)
    write("events", replicate(ev, f, Map(
      "event_id" -> keyStep(ev, "event_id"),
      "user_id" -> cShift))) // user_id joins c_custkey — same step
    val docs = Tables.documents(spark, sfDir)
    write("documents",
      replicate(docs, f, Map("doc_id" -> keyStep(docs, "doc_id")), salt = true))
    val emb = Tables.embeddings(spark, sfDir)
    write("embeddings", replicate(emb, f, Map("vec_id" -> keyStep(emb, "vec_id"))))
    out
  }

  /** A fresh-JVM adjudication child is launched with this as its fifth
    * argument and the parent's amplified dataset dir as its sixth: it
    * reuses that dataset and never adjudicates.
    */
  private val ChildFlag = "--adjudication-child"

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(10)
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    val only = args.lift(3)
    val selected = SparkEntry.restrict(SparkEntry.tagged(Tag.Sweep), only)
    val child = args.lift(4).contains(ChildFlag)
    val spark = Harness.session()

    // The child re-measures one query on the identical dataset the sweep
    // just used: rebuilding it would waste minutes and break "same input,
    // fresh heap" as the only changed variable.
    val ampDir =
      if (child) args(5)
      else {
        val (dir, built) = Harness.measure("amplify")(buildAmplified(spark, sfDir, factor))
        System.err.println(
          f"[amp] built ${factor}x dataset at $dir in ${built.secs}%.1fs")
        dir
      }

    def run(name: String, dir: String): Double =
      try Harness.timed(name)(SparkEntry.queries(name)(spark, dir)).secs
      catch { case e: Throwable =>
        System.err.println(s"[amp] $name failed on $dir: ${e.getMessage}")
        -1.0
      }

    // Bench's group shape: per-(query, dir) warmup then timed reps, with
    // a Harness.settle between groups so broadcasts from the Nx group
    // never sit on the heap during the 1x group. The settle runs OUTSIDE
    // the gc_ms sampling spans: its forced System.gc() is a deliberate
    // harness pause, not the organic GC pressure the column exposes.
    def medianSecs(name: String, dir: String): Double = {
      run(name, dir)
      val ts = Seq.fill(reps)(run(name, dir))
      if (ts.exists(_ < 0)) -1.0 else ts.sorted.apply(reps / 2)
    }

    // Adjudication: any sweep row whose ratio exceeds AdjudicationRatio
    // re-runs in a fresh child JVM on the identical amplified dataset.
    // A child launched INSIDE the sweep competed with the parent's hot
    // heap and busy threads (join_skew_salted read 8.66 there where a
    // standalone run read 4.72), so adjudication queues during the sweep
    // and the children run only AFTER the sweep fully drains: cache
    // cleared, the parent's SparkSession STOPPED, heap GC'd, and a pause
    // — the parent is an idle waiter while each child measures. The
    // child re-measures BASE and AMP itself, so its
    // ratio is internally consistent (same JVM, same dataset, fresh heap).
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
        "graft.AmplifiedBench", sfDir, factor.toString, reps.toString,
        query, ChildFlag, ampDir)).asJava
      val pb = new ProcessBuilder(cmd)
      pb.environment().put("SPARK_GRAFT_CPUS", Harness.cpus.toString)
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
    // The sweep covers the Sweep rows, not the whole headline, so the
    // first output line names the rule and lists the headline rows NOT
    // swept.
    if (only.isEmpty) {
      val excluded = Bench.headline.filterNot(selected.contains)
      println(
        s"""{"meta":"selection_rule","swept":${selected.size},""" +
          s""""headline_excluded_n":${excluded.size},""" +
          s""""rule":"sweep = ${Tag.Sweep.rule}",""" +
          s""""headline_excluded":[${excluded.map("\"" + _ + "\"").mkString(",")}]}""")
    }
    val pending = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    // Per-row heap/GC telemetry: a high ratio WITH a gc jump is sweep
    // context (late-sweep GC pressure), without one it is the plan. The
    // gc_base_ms/gc_amp_ms split says which side the pressure hit: a
    // base-side spike deflates the ratio, an amp-side spike inflates it.
    val rows = selected.map { n =>
      val gc0 = Harness.gcMs
      val base = medianSecs(n, sfDir)
      val gcBase = Harness.gcMs - gc0
      Harness.settle(spark)
      val gc1 = Harness.gcMs
      val amp = medianSecs(n, ampDir)
      val gcAmp = Harness.gcMs - gc1
      Harness.settle(spark)
      val ratio = if (base > 0 && amp > 0) amp / base else -1.0
      val heapMb = Harness.heapUsedMb
      if (!child && ratio > AdjudicationRatio) {
        System.err.println(
          f"[amp] $n sweep ratio $ratio%.2f > $AdjudicationRatio%.1f — " +
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
      Harness.settle(spark)
      spark.stop()
      System.gc()
      System.err.println(
        s"[amp] sweep drained; settling ${SettleMs}ms before " +
          s"${pending.size} adjudication child(ren)")
      Thread.sleep(SettleMs)
      pending.foreach { case (n, sweepRatio) =>
        freshJvmRun(n) match {
          case Some((b, a, fr)) =>
            // fr < 0 means the child ran but its query FAILED — that
            // must not read as exoneration: a failed re-run proves
            // nothing about the sweep reading.
            val verdict =
              if (fr < 0) "child_failed"
              else if (fr <= AdjudicationRatio) "sweep_context"
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
